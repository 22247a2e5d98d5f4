package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Dev-only streaming dissector: runs one registered STREAMING query and
  * prints every micro-batch's progress-duration breakdown (addBatch,
  * walCommit, stateStore commit times, rows) — attributes a streaming
  * row's wall to batch COUNT vs per-batch work (r17 VERDICT ask #5).
  * Each run also prints its Janino compile count: a repeat run of the
  * same op should compile nothing (see graft.streaming.Streams).
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.StreamTrace <query> [n]"
  */
object StreamTrace {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: StreamTrace <query> [n]"))
    val n = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val progressLines =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          val dur = p.durationMs
          def d(k: String): Long =
            Option(dur.get(k)).map(_.longValue).getOrElse(-1L)
          val st = p.stateOperators.map(so =>
            s"rowsTotal=${so.numRowsTotal} commitMs=${so.commitTimeMs} " +
              s"mem=${so.memoryUsedBytes}").mkString(" | ")
          progressLines.add(
            f"batch ${p.batchId}%2d rows=${p.numInputRows}%6d " +
              f"triggerMs=${d("triggerExecution")}%5d addBatch=${d("addBatch")}%5d " +
              f"walCommit=${d("walCommit")}%4d offsets=${d("latestOffset")}%4d " +
              f"commitOffsets=${d("commitOffsets")}%4d qPlanning=${d("queryPlanning")}%4d  $st")
        }
      })
    spark.range(1000000).selectExpr("sum(id)").collect()
    (1 to n).foreach { run =>
      progressLines.clear()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.collect()
      val t2 = System.nanoTime()
      OperatorCaches.release()
      Thread.sleep(500) // listener bus drain
      println(f"=== run $run: construct(+stream) ${(t1 - t0) / 1e9}%.2fs " +
        f"drain ${(t2 - t1) / 1e9}%.2fs " +
        s"compiles ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0}")
      progressLines.forEach(l => println(l))
    }
    spark.stop()
  }
}
