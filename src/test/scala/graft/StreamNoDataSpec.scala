package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{EventsStream, Streams}

/** A no-data micro-batch runs after the watermark moves and only evicts
  * state, so graft.streaming.Streams keeps it only for plans whose output
  * can change from that eviction (Streams.keepsNoDataBatches). */
class StreamNoDataSpec extends SparkTestBase {
  import spark.implicits._

  private def events: DataFrame =
    EventsStream.readEventsTable(spark, s"$sfDir/events.parquet")

  private def errorsClicks: (DataFrame, DataFrame) = {
    val ev = events
    (ev.where(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour"),
     ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour"))
  }

  private def streamJoin(joinType: String): DataFrame = {
    val (errors, clicks) = errorsClicks
    errors.join(clicks,
      col("e_user") === col("c_user") &&
        col("c_ts").between(col("e_ts") - expr("INTERVAL 10 MINUTES"), col("e_ts")),
      joinType)
  }

  test("joins: only a stream-stream join other than inner keeps no-data batches") {
    assert(!Streams.keepsNoDataBatches(streamJoin("inner"), "append"))
    assert(Streams.keepsNoDataBatches(streamJoin("left_outer"), "append"))
    // an outer join against a static side holds no state to evict
    val dim = Tables.customer(spark, sfDir).select(col("c_custkey"))
    val streamStatic = events.join(dim, col("user_id") === col("c_custkey"), "left_outer")
    assert(!Streams.keepsNoDataBatches(streamStatic, "append"))
  }

  test("aggregates keep no-data batches in append mode only") {
    val hourly = EventsStream.hourlyCounts(events)
    assert(Streams.keepsNoDataBatches(hourly, "append"))
    assert(!Streams.keepsNoDataBatches(hourly, "complete"))
    assert(!Streams.keepsNoDataBatches(hourly, "update"))
    val sessions = events.withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .count()
    assert(Streams.keepsNoDataBatches(sessions, "append"))
  }

  test("dedup runs none; a stateful function keeps them") {
    assert(!Streams.keepsNoDataBatches(EventsStream.dedupEvents(events), "append"))
    val evts = events
      .select(col("event_id"), unix_micros(col("ts")).as("ts"), col("user_id"))
      .as[EventsStream.Evt]
    assert(Streams.keepsNoDataBatches(EventsStream.sessionize(evts).toDF(), "append"))
  }

  test("q91 (inner join) runs one data batch and no no-data batch") {
    val (_, progress) = traceStreams(
      SparkEntry.queries("q91_interval_join_stream")(spark, sfDir).collect())
    assert(progress.size == 1, progress.map(_.numInputRows))
    assert(progress.forall(_.numInputRows > 0), progress.map(_.numInputRows))
  }

  test("q161 (left outer join) still runs its eviction batch and emits unmatched errors") {
    var rows = Array.empty[org.apache.spark.sql.Row]
    val (_, progress) = traceStreams {
      rows = SparkEntry.queries("q161_stream_outer")(spark, sfDir).collect()
    }
    assert(progress.exists(_.numInputRows == 0), progress.map(_.numInputRows))
    assert(rows.exists(r => r.isNullAt(r.fieldIndex("c_id"))),
      "no null-extended error reached the sink")
  }
}
