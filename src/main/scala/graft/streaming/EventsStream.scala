package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming slice — the reference's open "real-time data
  * processing" TODO (README.md:114) realized on the `events` table:
  * directory parquet source → watermark → tumbling-window aggregation, and
  * a stateful gap sessionizer (mapGroupsWithState).
  *
  * Scale notes: the windowed agg is partial-aggregated before the state
  * store; state is keyed by (window, event_type) / user_id so it shards
  * across executors; the watermark bounds state size.
  */
object EventsStream {

  /** Stream read schema for the events parquet, parameterized on the
    * fixture's ACTUAL ts encoding (the generator has shipped
    * TIMESTAMP(NANOS) and TIMESTAMP_NTZ-µs across rounds — see
    * graft.Tables.events). */
  private def rawSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** Streams the events table at `tablePath` WHATEVER its physical
    * layout: a directory of part files (what Spark itself writes; every
    * production layout) streams directly; a single file (the driver's
    * test fixtures) streams its parent narrowed by `pathGlobFilter` to
    * the leaf name, because the file-stream source requires a directory
    * basePath. Dispatching on the ACTUAL layout closes a silent-zero
    * defect: the previous always-glob-the-parent form matched no files
    * once the table became a directory of part-*.parquet — the 100×
    * rehearsal caught q155 streaming 0 rows on the replicated fixture
    * while every sf0.01 check stayed green on the single-file layout. */
  def readEventsTable(spark: SparkSession, tablePath: String): DataFrame = {
    // Layout probe through the Hadoop filesystem of the path's scheme —
    // java.io.File.isFile is always false for hdfs:///s3:// URIs, which
    // would silently send a single-object table down the directory branch
    // on exactly the filesystems a 1000-executor deployment reads.
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val isFile = scala.util.Try(fs.getFileStatus(p).isFile).getOrElse(false)
    if (isFile) readEvents(spark, p.getParent.toString, Some(p.getName))
    else readEvents(spark, tablePath)
  }

  /** Directory form of the events stream (see [[readEventsTable]], which
    * callers should prefer — it handles both physical layouts).
    *
    * The file-stream source needs an explicit schema, so the `ts` type is
    * read from one footer on the driver first (graft.Tables.eventsTsType,
    * no Spark job), then the stream gets the same normalization as
    * graft.Tables.events: whatever the parquet encoding, the stream
    * carries µs TimestampType and every downstream watermark/window sees
    * identical instants (session tz is UTC, so the NTZ cast is
    * wall-clock-exact).
    */
  def readEvents(spark: SparkSession, dir: String,
      globFilter: Option[String] = None): DataFrame = {
    val reader = spark.readStream
      .schema(rawSchema(graft.Tables.eventsTsType(spark, dir, globFilter)))
    globFilter.foreach(g => reader.option("pathGlobFilter", g))
    graft.Tables.microsTs(reader.parquet(dir))
  }

  /** Tumbling 1-hour windowed rollup with a 2-hour watermark — the
    * streaming form of batch q24 (graft.ops.Events). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100)) / 100.0).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup: drop replayed events by id within the
    * watermark horizon — the streaming face of the dedup operator family.
    * MUST be dropDuplicatesWithinWatermark: plain dropDuplicates on a key
    * that excludes the event-time column never evicts its state (the
    * watermark bounds nothing), so the id set grows forever on an
    * unbounded stream. */
  def dedupEvents(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CONTENT dedup — the ingestion gate of a training-data
    * pipeline: documents arriving on a stream are dropped if their text
    * digest was already seen inside the watermark horizon. Only the text
    * digest enters the dedup state, never the text — keyed on
    * unhex(sha2(text)), a 32-byte binary, so state is ~32B of key ×
    * docs-per-horizon regardless of document length (the hex string form
    * would double that to 64 chars). (Cross-horizon exact dedup belongs
    * to the batch pass, Dedup.exactDedupIds; near-dup stays batch-only by
    * design — MinHash/SRP banding needs corpus-wide joins.)
    */
  def dedupDocsByContent(docs: DataFrame, tsCol: String, textCol: String,
      watermarkDelay: String = "1 hour"): DataFrame = {
    // collision-safe internal name: a caller's own "_fp" column must
    // survive the round trip untouched
    val fp = "_graft_stream_fp"
    docs.withColumn(fp, unhex(sha2(col(textCol), 256)))
      .withWatermark(tsCol, watermarkDelay)
      // WithinWatermark, for the same reason as dedupEvents: a digest-only
      // key under plain dropDuplicates is never evicted
      .dropDuplicatesWithinWatermark(fp)
      .drop(fp)
  }

  // ── q62: the streaming face of batch q24 AS A REGISTERED QUERY — a real
  //        file-stream over events.parquet, bounded by Trigger.AvailableNow,
  //        complete-mode aggregation into a memory sink, identical rollup
  //        formula to q24 (exact-cents sums), so the SAME DuckDB oracle
  //        verifies a plan whose source is a streaming relation. The stream
  //        executes eagerly inside the builder (a streaming Dataset cannot
  //        be returned to a batch driver); the returned DataFrame reads the
  //        sink table. Complete mode (not append): at end-of-input the
  //        final watermark would withhold the trailing window in append
  //        mode, silently dropping the last hour.
  def q62(s: SparkSession, dir: String): DataFrame = {
    val agg = readEventsTable(s, s"$dir/events.parquet")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(graft.Fns.cents(col("value"))) / 100.0).as("sum_value"),
        (sum(graft.Fns.cents(col("value"))) / count(lit(1)) / 100.0).as("avg_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"), col("avg_value"))
    Streams.toMemory(s, "q62_events_hourly_stream_sink", agg, "complete")
      .orderBy(col("hour_start"), col("event_type"))
  }

  // ── q71: the streaming face of batch q43 — gap-based session windows as
  //        a STREAMING aggregation (session_window merges per-key state
  //        across micro-batches), bounded by Trigger.AvailableNow into a
  //        memory sink, verified by the same gap-walk oracle SQL as q43.
  //        Complete mode for the same end-of-input reason as q62: append
  //        would withhold every session inside the final watermark.
  def q71(s: SparkSession, dir: String): DataFrame = {
    val agg = readEventsTable(s, s"$dir/events.parquet")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end_w"), col("n_events"))
    Streams.toMemory(s, "q71_sessions_stream_sink", agg, "complete")
      .orderBy(col("user_id"), col("session_start"))
  }

  // ── q81: the streaming face of batch q78 — SLIDING windows as a
  //        streaming aggregation (each event feeds 4 overlapping window
  //        states), AvailableNow into a memory sink, verified by q78's
  //        unchanged hop-expansion oracle. Complete mode for the same
  //        end-of-input reason as q62.
  def q81(s: SparkSession, dir: String): DataFrame = {
    val agg = readEventsTable(s, s"$dir/events.parquet")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(graft.Fns.cents(col("value"))) / 100.0).as("total_value"))
      .select(col("window.start").as("win_start"), col("n_events"),
        col("total_value"))
    Streams.toMemory(s, "q81_hopping_stream_sink", agg, "complete")
      .orderBy(col("win_start"))
  }

  /** Errors joined (`joinType`) to the same user's clicks within the
    * preceding 10 minutes (inclusive), both sides watermarked so the join
    * state is bounded by the time-range condition — q91 and q161. */
  private def errorClicks(s: SparkSession, dir: String, joinType: String,
      sink: String): DataFrame = {
    val ev = readEventsTable(s, s"$dir/events.parquet")
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id").as("e_user"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = errors.join(clicks,
      col("e_user") === col("c_user") &&
        col("c_ts") <= col("e_ts") &&
        col("c_ts") >= col("e_ts") - expr("INTERVAL 10 MINUTES"),
      joinType)
    Streams.toMemory(s, sink, joined, "append")
      .select(col("e_id"), col("e_user"), col("e_ts"), col("c_id"), col("c_ts"))
      .orderBy(col("e_id"), col("c_id"))
  }

  // ── q91: STREAM-STREAM interval join — the production stream-stream
  //        shape. Inner joins emit on match in append mode; AvailableNow
  //        drains the file source, so the output set is deterministic and
  //        a batch interval-join SQL oracles it exactly.
  def q91(s: SparkSession, dir: String): DataFrame =
    errorClicks(s, dir, "inner", "q91_interval_join_stream_sink")

  // ── q161: STREAM-STREAM LEFT OUTER interval join — q91's inner form
  //        emits only matches; the outer form must ALSO emit each
  //        unmatched error once its join state is evicted (no click can
  //        still arrive). Emission is watermark-gated, so the registered
  //        result is: all matches + the null-extended errors whose event
  //        time fell below the FINAL watermark (global max e_ts − 1h with
  //        AvailableNow draining the file source — deterministic). The
  //        oracle encodes exactly that semantics in batch SQL: a LEFT
  //        JOIN whose null-extended rows are kept only below the final
  //        watermark — so the driver hash pins Spark's outer-emission
  //        rule, not just the match set.
  def q161(s: SparkSession, dir: String): DataFrame =
    errorClicks(s, dir, "left_outer", "q161_stream_outer_sink")

  val q161Sql: String =
    """WITH errors AS (
      |  SELECT event_id AS e_id, user_id AS e_user, ts AS e_ts
      |  FROM events WHERE event_type = 'error'),
      |clicks AS (
      |  SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
      |  FROM events WHERE event_type = 'click'),
      |wm AS (SELECT least((SELECT max(e_ts) FROM errors),
      |               (SELECT max(c_ts) FROM clicks)) - INTERVAL 1 HOUR
      |          AS final_wm),
      |j AS (
      |  SELECT e.e_id, e.e_user, e.e_ts, c.c_id, c.c_ts
      |  FROM errors e LEFT JOIN clicks c
      |    ON c.c_user = e.e_user AND c.c_ts <= e.e_ts
      |   AND epoch_us(e.e_ts) - epoch_us(c.c_ts) <= 600000000)
      |SELECT j.e_id, j.e_user, j.e_ts, j.c_id, j.c_ts
      |FROM j, wm
      |WHERE j.c_id IS NOT NULL OR j.e_ts < wm.final_wm
      |ORDER BY e_id, c_id""".stripMargin

  val q91Sql: String =
    """SELECT e.event_id AS e_id, e.user_id AS e_user, e.ts AS e_ts,
      |  c.event_id AS c_id, c.ts AS c_ts
      |FROM events e JOIN events c
      |  ON c.user_id = e.user_id AND c.event_type = 'click'
      | AND c.ts <= e.ts AND epoch_us(e.ts) - epoch_us(c.ts) <= 600000000
      |WHERE e.event_type = 'error'
      |ORDER BY e_id, c_id""".stripMargin

  // ── q113: streaming CONTENT dedup as a registered query — the ingestion
  //        gate of a training-data pipeline run as a real file-stream.
  //        Fixture: every third document is replayed 30 minutes later
  //        under a fresh doc_id (a re-ingested shard); dedupDocsByContent
  //        drops the replays from digest state inside the 1-hour
  //        watermark horizon. The output projects the DIGEST of the
  //        surviving text (identical across a dup group), so the result
  //        set is deterministic whatever arrival order the file source
  //        picks, and the batch oracle is DISTINCT sha256(text).
  def q113(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("timestamp_micros(doc_id * 1000000)").as("ts"), col("text"))
    val replays = base.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("ts"), col("text"))
    val fixDir =
      graft.Fixtures.path("docstream", dir)(base.unionByName(replays))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    // watermark horizon must cover the WHOLE fixture ts span (doc_id
    // seconds → days at bench SF): the global-DISTINCT oracle is only
    // equivalent while no duplicate pair straddles an evicted horizon,
    // and AvailableNow is free to split the input into several
    // micro-batches (maxFilesPerTrigger, future read-limit defaults) —
    // with the production 1h default, clone texts >1h apart would then
    // emit twice. Digest-only state keeps the wide horizon cheap.
    val deduped = dedupDocsByContent(
      s.readStream.schema(schema).parquet(fixDir), "ts", "text",
      watermarkDelay = "30 days")
      .select(sha2(col("text"), 256).as("fp"))
    Streams.toMemory(s, "q113_dedup_stream_sink", deduped, "append")
      .orderBy(col("fp"))
  }

  val q113Sql: String =
    "SELECT DISTINCT sha256(text) AS fp FROM documents ORDER BY fp"

  // ── q136: streaming ingest → content-dedup → sliding-window chunker —
  //        the composed training-data ingest topology as ONE stream: the
  //        q113 replay fixture flows through digest-state dedup, and each
  //        SURVIVING document is chunked (64-token windows, stride 48,
  //        q130's exact rule) in the same micro-batch. The chunk stage is
  //        STATELESS (pure projection + explode after the dedup operator),
  //        so the pipeline's only state stays the bounded digest store —
  //        chunking at ingest adds zero state at any scale. Output keys by
  //        text digest (identical across a dup group), so the result is
  //        arrival-order-invariant and the batch oracle is the chunker
  //        over DISTINCT text.
  def q136(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("timestamp_micros(doc_id * 1000000)").as("ts"), col("text"))
    val replays = base.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("ts"), col("text"))
    val fixDir =
      graft.Fixtures.path("docstream", dir)(base.unionByName(replays))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    val deduped = dedupDocsByContent(
      s.readStream.schema(schema).parquet(fixDir), "ts", "text",
      watermarkDelay = "30 days")
    val toks = graft.ops.TextQueries.tokens(col("text"))
    val chunks = deduped
      .select(sha2(col("text"), 256).as("fp"), toks.as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), expr("(n_tokens + 47) DIV 48 - 1"))))
      .select(col("fp"), col("chunk_idx"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("chunk_idx") * 48 + 1).cast("int"), lit(64))))
          .as("chunk_md5"))
    Streams.toMemory(s, "q136_stream_chunks_sink", chunks, "append")
      .orderBy(col("fp"), col("chunk_idx"))
  }

  val q136Sql: String =
    """WITH u AS (SELECT DISTINCT text FROM documents),
      |t AS (SELECT sha256(text) AS fp, regexp_extract_all(text, '\S+') AS toks,
      |             len(regexp_extract_all(text, '\S+')) AS n_tokens
      |      FROM u),
      |c AS (SELECT fp, toks, n_tokens,
      |             unnest(range(0, (n_tokens + 47) // 48)) AS chunk_idx
      |      FROM t WHERE n_tokens > 0)
      |SELECT fp, chunk_idx,
      |  md5(array_to_string(toks[(chunk_idx*48 + 1)::INT:(chunk_idx*48 + 64)::INT], ' ')) AS chunk_md5
      |FROM c ORDER BY fp, chunk_idx""".stripMargin

  // ── q126: STREAM-STATIC enrichment join — the standard "enrich a live
  //         event stream against a slowly-changing dimension" pattern:
  //         the events file-stream joins the static customer table
  //         (broadcast — the static side is planned per micro-batch, no
  //         stream state at all, unlike q91's stream-stream join), then
  //         rolls up 1-hour windows per market segment with the exact-
  //         cents q24 money discipline. Complete mode + AvailableNow for
  //         the same end-of-input reasons as q62; the same join+rollup in
  //         batch SQL oracles it exactly.
  def q126(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = readEventsTable(s, s"$dir/events.parquet")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        (sum(graft.Fns.cents(col("value"))) / 100.0).as("sum_value"))
      .select(col("window.start").as("hour_start"),
        col("c_mktsegment").as("segment"), col("n_events"),
        col("sum_value"))
    Streams.toMemory(s, "q126_stream_enrich_sink", agg, "complete")
      .orderBy(col("hour_start"), col("segment"))
  }

  val q126Sql: String =
    """SELECT date_trunc('hour', ts) AS hour_start,
      |  c_mktsegment AS segment, count(*) AS n_events,
      |  sum(round("value" * 100)) / 100.0 AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2 ORDER BY hour_start, segment""".stripMargin

  // ── q146: streaming quality gate with DUAL side-output sinks — the
  //         accept/quarantine split every ingest pipeline needs: one
  //         foreachBatch handoff writes BOTH parquet sinks per
  //         micro-batch (a streaming sink can't fork; foreachBatch is
  //         the supported dual-write), idempotent via batchId-keyed
  //         directories + overwrite (a replayed batch rewrites its own
  //         dirs — exactly-once at the file level). Gate = the shared
  //         quality logit with the q145 'lo' cut (only lo quarantines).
  //         The registered result reads BOTH sinks back keyed by text
  //         digest, so it is arrival-order- and batching-invariant; the
  //         oracle is the same gate over DISTINCT text in batch SQL.
  def q146(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("timestamp_micros(doc_id * 1000000)").as("ts"), col("text"))
    val replays = base.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("ts"), col("text"))
    val fixDir =
      graft.Fixtures.path("docstream", dir)(base.unionByName(replays))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    // stable per-input path, wiped per run (the Fixtures.path discipline)
    // — repeated bench/test invocations must not accumulate temp dirs
    val outRoot = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_qgate_out_" +
        java.lang.Integer.toHexString(dir.hashCode)).getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outRoot))
    val gated = s.readStream.schema(schema).parquet(fixDir)
      .select(sha2(col("text"), 256).as("fp"),
        when(graft.ops.TextQueries.qualityLogit(col("text")) >= 21200L,
          "accept").otherwise("quarantine").as("verdict"))
    writeViaForeachBatch(gated, "q146_stream_gate") { (batch, id) =>
      val b = batch.persist()
      try {
        b.filter(col("verdict") === "accept").select("fp")
          .write.mode("overwrite").parquet(s"$outRoot/accept/b$id")
        b.filter(col("verdict") === "quarantine").select("fp")
          .write.mode("overwrite").parquet(s"$outRoot/quarantine/b$id")
      } finally b.unpersist()
    }
    def side(name: String): DataFrame = {
      val subs = Option(new java.io.File(s"$outRoot/$name").listFiles())
        .map(_.filter(_.isDirectory).map(_.getAbsolutePath).toIndexedSeq)
        .getOrElse(IndexedSeq.empty)
      if (subs.isEmpty)
        s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          StructType(Seq(StructField("fp", StringType))))
      else s.read.parquet(subs: _*)
    }
    side("accept").select(col("fp"), lit("accept").as("verdict"))
      .unionByName(
        side("quarantine").select(col("fp"), lit("quarantine").as("verdict")))
      .distinct()
      .orderBy(col("verdict"), col("fp"))
  }

  val q146Sql: String =
    """WITH u AS (SELECT DISTINCT text FROM documents)
      |SELECT sha256(text) AS fp,
      |  CASE WHEN 20000 + 15*len(regexp_extract_all(text, '\S+'))
      |            + 400*len(regexp_extract_all(text, '\b(the|a|of|and|to|in)\b'))
      |            - 250*len(regexp_extract_all(text, '[.,!?;:]'))
      |            - 120*len(regexp_extract_all(text, '[0-9]'))
      |            - 600*len(regexp_extract_all(text, '\b[A-Z]{2,}\b')) >= 21200
      |       THEN 'accept' ELSE 'quarantine' END AS verdict
      |FROM u ORDER BY verdict, fp""".stripMargin

  // ── q155: streaming SKETCH rollup — distinct users per (day, type)
  //         estimated by HLL registers maintained as STREAMING STATE:
  //         each micro-batch max-merges its rows' (bucket, rank) into the
  //         per-(window, type, bucket) register, so state per group is a
  //         fixed ≤4096 rows regardless of how many events the day saw —
  //         the streaming face of q152's batch rollup, and the
  //         bounded-state alternative to exact streaming count-distinct
  //         (whose state grows with cardinality). max-merge is
  //         order-independent, so the end-of-stream registers equal the
  //         batch single-pass sketch bit-for-bit (StreamingSpec pins it);
  //         registers are graft.ops.Rhll rows, so the DuckDB oracle
  //         replays the estimate hash-exactly.
  def q155(s: SparkSession, dir: String): DataFrame = {
    val h = xxhash64(col("user_id"))
    val agg = readEventsTable(s, s"$dir/events.parquet")
      // NULL user_id: xxhash64(NULL)=seed would sketch a phantom distinct
      // the oracle's hash-key equi-join never sees (q152's parity guard)
      .filter(col("user_id").isNotNull)
      .select(col("ts"), col("event_type"),
        graft.ops.Rhll.bucket(h).as("bucket"),
        graft.ops.Rhll.rank(h).as("r0"))
      .groupBy(window(col("ts"), "1 day"), col("event_type"), col("bucket"))
      .agg(max(col("r0")).as("r"))
      .select(col("window.start").cast("date").as("day"), col("event_type"),
        col("bucket"), col("r"))
    // finishing estimate over the end-of-stream registers (batch side —
    // the sink IS the sketch; the estimate is a report over it)
    graft.ops.Rhll.estimate(
        Streams.toMemory(s, "q155_stream_hll_sink", agg, "complete"),
        Seq("day", "event_type"), 52, "est_users")
      .orderBy(col("day"), col("event_type"))
  }

  val q155Sql: String = {
    val hash = graft.sql.Xxh64Sql.longHashCtes(
      "SELECT DISTINCT user_id AS k FROM events")
    val sketch = graft.sql.HllSql.sketchCtes("dh",
      "SELECT CAST(e.ts AS DATE) AS day, e.event_type, xl5.ux AS u " +
        "FROM events e JOIN xl5 ON e.user_id = xl5.k",
      Seq("day", "event_type"), 52, "est_users")
    s"""WITH $hash,
       |${graft.sql.HllSql.lcCte},
       |$sketch
       |SELECT day, event_type, est_users FROM dh
       |ORDER BY day, event_type""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q161_stream_outer" -> q161,
    "q155_stream_hll" -> q155,
    "q146_stream_gate" -> q146,
    "q126_stream_enrich" -> q126,
    "q62_events_hourly_stream" -> q62,
    "q71_sessions_stream" -> q71,
    "q81_hopping_stream" -> q81,
    "q91_interval_join_stream" -> q91,
    "q113_dedup_stream" -> q113,
    "q136_stream_chunks" -> q136)

  /** Identical rollups to batch q24/q43/q78 → identical oracle SQL. */
  val oracle: Map[String, String] = Map(
    "q161_stream_outer" -> q161Sql,
    "q155_stream_hll" -> q155Sql,
    "q146_stream_gate" -> q146Sql,
    "q126_stream_enrich" -> q126Sql,
    "q62_events_hourly_stream" -> graft.ops.Events.q24Sql,
    "q71_sessions_stream" -> graft.ops.Windows.q43Sql,
    "q81_hopping_stream" -> graft.ops.Events.q78Sql,
    "q91_interval_join_stream" -> q91Sql,
    "q113_dedup_stream" -> q113Sql,
    "q136_stream_chunks" -> q136Sql)

  /** foreachBatch sink: per-micro-batch handoff to an arbitrary batch
    * writer (idempotent by batchId — the reference's "write stage output
    * to the warehouse" boundary, streaming edition), run to the end of
    * `df`'s input through [[Streams.run]]. */
  def writeViaForeachBatch(df: DataFrame, queryName: String)(
      writer: (DataFrame, Long) => Unit): Unit =
    Streams.run(df, "append")(_.queryName(queryName).foreachBatch(writer))

  final case class Evt(event_id: Long, ts: Long, user_id: Long)
  final case class SessionState(startUs: Long, lastUs: Long, nEvents: Int)
  final case class ClosedSession(user_id: Long, session_start_us: Long,
      n_events: Int, duration_us: Long)

  /** Stateful gap sessionizer (30-min inactivity): emits CLOSED sessions;
    * the open tail session stays in state. Events within a micro-batch are
    * buffered and sorted per key (the iterator order is not guaranteed).
    * Streaming counterpart of batch q23 (graft.ops.Windows) — equivalence
    * asserted in StreamingSpec.
    */
  def sessionize(events: Dataset[Evt], gapMinutes: Int = 30)(
      implicit enc: org.apache.spark.sql.Encoder[ClosedSession],
      senc: org.apache.spark.sql.Encoder[SessionState])
      : Dataset[ClosedSession] = {
    val gapUs = gapMinutes.toLong * 60 * 1000000
    events.groupByKey(_.user_id)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Evt], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts, e.event_id))
          var cur = state.getOption
          val closed = Seq.newBuilder[ClosedSession]
          sorted.foreach { e =>
            cur match {
              case Some(ss) if e.ts - ss.lastUs <= gapUs =>
                cur = Some(ss.copy(lastUs = e.ts, nEvents = ss.nEvents + 1))
              case Some(ss) =>
                closed += ClosedSession(userId, ss.startUs, ss.nEvents,
                  ss.lastUs - ss.startUs)
                cur = Some(SessionState(e.ts, e.ts, 1))
              case None =>
                cur = Some(SessionState(e.ts, e.ts, 1))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }
}
