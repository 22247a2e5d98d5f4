package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Local-disk streaming and writes must not start a process per file.
  * Stock Hadoop without libhadoop forks `chmod` on every create/mkdir and
  * `readlink` on every FileContext rename (see graft.fs); this records
  * every process the JVM starts (JFR `jdk.ProcessStart`) around a
  * stateful AvailableNow op and a parquet write, and fails on any of the
  * per-file shell helpers. Spark's own `rm -rf` temp cleanup is allowed. */
class ForkGuardSpec extends SparkTestBase {

  private val perFileHelpers = Set("chmod", "readlink", "ls", "stat")

  private def recordProcessStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val out = Files.createTempFile("process-starts", ".jfr")
      rec.dump(out)
      try RecordingFile.readAllEvents(out).asScala.toSeq.map(_.getString("command"))
      finally Files.delete(out)
    } finally rec.close()
  }

  private def executable(command: String): String =
    command.trim.split("\\s+").head.split('/').last

  test("a stateful streaming op and a parquet write start no per-file process") {
    val out = Files.createTempDirectory("fork-guard").resolve("t.parquet").toString
    val commands = recordProcessStarts {
      // control: the recording does see a process this JVM starts
      new ProcessBuilder("true").start().waitFor()
      SparkEntry.queries("q91_interval_join_stream")(spark, sfDir).collect()
      spark.range(1000).selectExpr("id", "id % 7 AS k")
        .write.mode("overwrite").partitionBy("k").parquet(out)
    }
    assert(commands.map(executable).contains("true"), commands)
    val forked = commands.filter(c => perFileHelpers(executable(c)))
    assert(forked.isEmpty,
      s"${forked.size} per-file process starts, e.g. ${forked.take(5).mkString("; ")}")
  }
}
