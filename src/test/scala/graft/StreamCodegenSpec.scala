package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{EventsStream, Streams}

/** Engine streams start through graft.streaming.Streams, which keeps a
  * repeat run of an op on the executor's default class loader, so the
  * codegen cache (keyed by class loader and source) serves it without a
  * single Janino compile, and sizes its state to Streams.StatePartitions.
  * A bare `start()` of the same plan recompiles on every run. */
class StreamCodegenSpec extends SparkTestBase {

  test("a repeat run of a registered stream op compiles nothing and keeps state to one wave") {
    def q91(): Unit =
      SparkEntry.queries("q91_interval_join_stream")(spark, sfDir).collect()
    traceStreams(q91())
    val (compiles, progress) = traceStreams(q91())
    assert(compiles == 0, s"the second run compiled $compiles classes")
    val stateOps = progress.flatMap(_.stateOperators)
    assert(stateOps.nonEmpty, "q91 reported no state operator")
    assert(stateOps.forall(_.numShufflePartitions == Streams.StatePartitions),
      stateOps.map(_.numShufflePartitions))
  }

  test("control: a bare start() of the same plan recompiles on every run") {
    val sink = "stream_codegen_control_sink"
    def bare(): Unit = {
      spark.catalog.dropTempView(sink)
      val ev = EventsStream.readEventsTable(spark, s"$sfDir/events.parquet")
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("user_id").as("e_user"),
          col("ts").as("e_ts"))
        .withWatermark("e_ts", "1 hour")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      errors.join(clicks,
          col("e_user") === col("c_user") &&
            col("c_ts") <= col("e_ts") &&
            col("c_ts") >= col("e_ts") - expr("INTERVAL 10 MINUTES"))
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      spark.table(sink).orderBy(col("e_id"), col("c_id")).collect()
    }
    bare()
    val (compiles, _) = traceStreams(bare())
    assert(compiles > 0, "a bare start() reused the previous run's classes")
  }

  test("every registered stream op leaves the caller's session conf as it found it") {
    // each key starts from a value the ops' own settings differ from, so
    // a leak shows: a width no engine stream uses (StatePartitions),
    // isolation and no-data batches the other way round from what Streams
    // scopes for most ops, and nanosAsLong explicitly off (the events
    // readers used to turn it on; the NTZ fixture gives no cause to)
    val start = Seq(
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.artifact.isolation.enabled" -> "true",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "false")
    val keys = start.map(_._1)
    // the 14 streaming ops, plus q111's batch frame stream
    val ops = SparkEntry.queries.keys.filter(_.contains("stream")).toSeq.sorted
    ScopedConf.withConfs(spark, start: _*) {
      ops.foreach { q =>
        val before = keys.map(spark.conf.getOption)
        SparkEntry.queries(q)(spark, sfDir)
        assert(keys.map(spark.conf.getOption) == before, q)
      }
    }
  }
}
