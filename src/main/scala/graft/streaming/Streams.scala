package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, FlatMapGroupsWithState, Join, TransformWithState}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one way an engine op runs a streaming query: `Trigger.AvailableNow`
  * to the end of its input, then block until the query terminates.
  *
  * `start()` clones the session, and the clone copies the session conf at
  * that moment, so three settings are scoped around `start()` alone and
  * the caller's session keeps its own values for the rest of the op:
  *
  *  - `spark.sql.artifact.isolation.enabled=false`. With isolation on, each
  *    clone's jobs run under a new executor class loader, and the codegen
  *    cache is keyed by (class loader, source): every run of an op then
  *    recompiled its plan (a repeat run of q91 in the test session
  *    compiled 21 classes) and ran the new classes cold. Off, the clone's
  *    jobs share the executor's default loader and a repeat run compiles
  *    nothing (StreamCodegenSpec). Engine streams add no session
  *    artifacts, so sharing that loader hides nothing from them; the limit
  *    is the other way round: artifacts a session added (Spark Connect
  *    `addArtifact`) are not visible inside engine streams.
  *  - [[StatePartitions]] shuffle partitions, which size the stream's state.
  *  - `spark.sql.streaming.noDataMicroBatches.enabled`, decided from the
  *    analyzed plan by [[keepsNoDataBatches]]. A no-data batch runs after
  *    the watermark moves and exists only to evict state; it can change
  *    the answer only where eviction emits rows. Where it cannot, it is
  *    pure cost: q91's inner join spent 0.6-0.7 s of trigger time per
  *    run on an empty batch (graft.StreamTrace, sf0.01, 4 cores), and
  *    dropping it took q91's run from a median of 1.60 to 1.08 s with the
  *    same drained rows. The setting is set either way, so an op's answer
  *    never depends on the caller's value.
  */
object Streams {

  /** `spark.sql.shuffle.partitions` for every engine stream — the knob that
    * sizes STREAMING STATE, not just shuffle width. A stateful streaming
    * query creates one state store per shuffle partition per stateful
    * operator (a stream-stream join keeps FOUR per partition:
    * keyToNumValues + keyWithIndexToValue on each side), and every store
    * pays a checkpoint commit per micro-batch however little data it
    * holds. So the right size tracks per-trigger volume, not CPU count,
    * and one task wave on the 4-core bench host beats two.
    * graft.StreamTrace on q91 at 4 cores, 8 → 4 partitions, median of six
    * warm runs (two JVMs, isolation off in both): at sf0.01 the run took
    * 1.76 → 1.53 s, the 20k-row batch's trigger 997 → 841 ms and the
    * no-data batch's 586 → 495 ms, with summed state-store commitTimeMs
    * 293 → 173 ms and 157 → 80 ms; at sf0.1 the run took 2.16 → 2.03 s,
    * the 200k-row batch 1193 → 1134 ms and the no-data batch 668 → 655 ms
    * (within noise), with commits 306 → 149 ms and 172 → 104 ms.
    * On a real cluster you raise the count with throughput and switch the
    * provider to RocksDB once state outgrows the heap. The count never
    * changes results — only where keys land. A checkpointed query keeps
    * the count it started with. */
  val StatePartitions = 4

  /** True when `df`, written in output `mode`, holds a node whose output
    * can change from a watermark advance alone, so a no-data batch may
    * emit rows:
    *  - a stream-stream join other than `Inner` (an outer join emits its
    *    null-extended rows when their state is evicted — q161);
    *  - a streaming `Aggregate` in append mode (a window, `session_window`
    *    included, is emitted once the watermark passes its end);
    *  - `FlatMapGroupsWithState` or `TransformWithState` (timers and
    *    timeouts fire on the watermark).
    * Everything else emits on data alone: an inner join, deduplication,
    * stream-static joins, stateless plans, and aggregates in complete or
    * update mode, whose no-data batch only drops state. */
  def keepsNoDataBatches(df: DataFrame, mode: String): Boolean = {
    val append = mode.equalsIgnoreCase("append")
    df.queryExecution.analyzed.exists {
      case j: Join => j.joinType != Inner && j.left.isStreaming && j.right.isStreaming
      case a: Aggregate => append && a.isStreaming
      case _: FlatMapGroupsWithState | _: TransformWithState => true
      case _ => false
    }
  }

  /** Start `df` in output `mode` on the sink `sink` sets up, as an
    * AvailableNow query, and wait for it to finish. */
  def run(df: DataFrame, mode: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val query = graft.ScopedConf.withConfs(df.sparkSession,
        "spark.sql.artifact.isolation.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> StatePartitions.toString,
        "spark.sql.streaming.noDataMicroBatches.enabled" ->
          keepsNoDataBatches(df, mode).toString) {
      sink(df.writeStream.outputMode(mode)).trigger(Trigger.AvailableNow()).start()
    }
    query.awaitTermination()
  }

  /** [[run]] `df` into the memory sink `name` in output `mode` and return
    * the sink's table. */
  def toMemory(s: SparkSession, name: String, df: DataFrame, mode: String): DataFrame = {
    s.catalog.dropTempView(name)
    run(df, mode)(_.format("memory").queryName(name))
    s.table(name)
  }
}
