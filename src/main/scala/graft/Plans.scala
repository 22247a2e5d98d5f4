package graft

import java.nio.file.{Files, Paths}

/** Plan auditor: dumps the formatted physical plan of every registered
  * query (`runMain graft.Plans <sfDir> <outFile>`) so plan quality —
  * pushdown, pruning, join strategies, top-k, codegen spans — can be
  * reviewed offline. Assertions on the load-bearing properties live in
  * PlanSpec; the narrative audit is PLANS.md.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val spark = Session.local()
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"\n━━━━━ $name ━━━━━\n")
      try sb.append(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"plans written to $out")
    spark.stop()
  }
}
