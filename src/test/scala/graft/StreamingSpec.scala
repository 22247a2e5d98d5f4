package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventsStream

/** Streaming ≡ batch equivalence on the events fixture: the Structured
  * Streaming slices must produce the same rollups as their batch
  * counterparts (q24 / q23) once all input is processed. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  // The events table must stream from BOTH physical layouts: the driver's
  // single-file fixture AND a Spark-written directory of part files (every
  // production layout). The always-glob-the-parent form silently matched
  // zero files on the directory layout — caught by the 100x rehearsal
  // (q155 streamed 0 rows); this pins the dispatch in readEventsTable.
  test("event streams read both physical layouts identically") {
    val tmp = java.nio.file.Files.createTempDirectory("evdir").toString
    Tables.events(spark, sfDir).write.mode("overwrite")
      .parquet(s"$tmp/events.parquet") // directory-of-part-files layout
    val viaDir = EventsStream.q62(spark, tmp).collect().map(_.toSeq).toSeq
    val viaFile = EventsStream.q62(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(viaDir.nonEmpty, "directory layout streamed zero rows")
    assert(viaDir == viaFile, "layouts must produce identical rollups")
  }

  private def eventsDir: String = {
    // stream source dir containing just the events parquet
    val tmp = java.nio.file.Files.createTempDirectory("events_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      tmp.resolve("events.parquet"))
    tmp.toString
  }

  test("streaming hourly counts equal the batch rollup") {
    val q = EventsStream.hourlyCounts(EventsStream.readEvents(spark, eventsDir))
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("hourly")
      .select("hour_start", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("streaming dedup drops replayed events within the watermark") {
    // duplicate the source file → every event arrives twice
    val tmp = java.nio.file.Files.createTempDirectory("events_dup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), tmp.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), tmp.resolve("b.parquet"))
    val q = EventsStream.dedupEvents(EventsStream.readEvents(spark, tmp.toString))
      .select("event_id")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("dedup_out").count()
    val distinctIds = Tables.events(spark, sfDir).select("event_id").distinct().count()
    assert(n == distinctIds, s"expected $distinctIds unique events, got $n")
  }

  test("streaming content dedup drops identical texts, keeps distinct ones") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("id", "text")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(col("id") * 1000000))
    val q = EventsStream.dedupDocsByContent(docs, "ts", "text")
      .select("id")
      .writeStream.format("memory").queryName("content_dedup_out")
      .outputMode("append").start()
    try {
      input.addData((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"))
      q.processAllAvailable()
      input.addData((4L, "gamma"), (5L, "delta"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("content_dedup_out").collect().map(_.getLong(0)).toSet
    // 2 dups of "alpha beta"→keep one; "gamma" replay in-horizon dropped
    assert(kept.intersect(Set(1L, 2L)).size == 1)
    assert(kept.contains(3L) != kept.contains(4L))
    assert(kept.contains(5L))
  }

  test("foreachBatch sink hands each micro-batch to the batch writer") {
    val got = new java.util.concurrent.atomic.AtomicLong(0)
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    EventsStream.writeViaForeachBatch(
      EventsStream.readEvents(spark, eventsDir), "fb_out") { (batch, _) =>
      batches.incrementAndGet()
      got.addAndGet(batch.count())
    }
    assert(batches.get() >= 1)
    assert(got.get() == Tables.events(spark, sfDir).count())
  }

  test("streaming sessionizer closes batch-q23 sessions minus the open tail") {
    val src = EventsStream.readEvents(spark, eventsDir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts"), col("user_id"))
      .as[EventsStream.Evt]
    val q = EventsStream.sessionize(src).writeStream
      .format("memory").queryName("sessions").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val closedPerUser = spark.table("sessions")
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchPerUser = graft.ops.Windows.q23(spark, sfDir)
      .groupBy("user_id").agg(max(col("session_id")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batchPerUser.nonEmpty)
    batchPerUser.foreach { case (u, n) =>
      // all events arrive in one micro-batch → every session except the
      // still-open tail must have been emitted as closed
      assert(closedPerUser.getOrElse(u, 0L) == n - 1,
        s"user $u: closed=${closedPerUser.getOrElse(u, 0L)} batch=$n")
    }
  }

  test("checkpointed restart: each input file processed exactly once") {
    // the operational exactly-once contract at scale: a restarted job must
    // neither reprocess committed files nor miss ones added while down —
    // all state lives in the checkpoint + the sink's transaction log
    val root = java.nio.file.Files.createTempDirectory("graft-eo")
    val (in, out, ck) = (s"$root/in", s"$root/out", s"$root/ck")
    import org.apache.spark.sql.streaming.Trigger

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("id LONG")
        .parquet(in)
        .writeStream.format("parquet")
        .option("checkpointLocation", ck)
        .option("path", out)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }

    spark.range(0, 100).toDF("id").write.mode("append").parquet(in)
    runOnce()
    spark.range(100, 200).toDF("id").write.mode("append").parquet(in)
    runOnce()

    val got = spark.read.parquet(out).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 200L), {
      val dupes = got.groupBy(identity).filter(_._2.length > 1).keys
      val missing = (0L until 200L).filterNot(got.toSet)
      s"dupes=${dupes.take(5).toList} missing=${missing.take(5).toList}"
    })
  }

  test("q113: streaming content dedup collapses the replayed documents") {
    val out = EventsStream.q113(spark, sfDir).collect().map(_.getString(0))
    val nDistinct = graft.Tables.documents(spark, sfDir)
      .select("text").distinct().count()
    // complete (every distinct text survives) AND deduped (no digest twice
    // even though every third doc was replayed into the stream)
    assert(out.length == nDistinct)
    assert(out.distinct.length == out.length)
  }

  test("q126: stream-static enrichment equals the same join+rollup in batch") {
    val streamed = EventsStream.q126(spark, sfDir).collect().map(_.toSeq)
    val batch = graft.Tables.events(spark, sfDir)
      .join(graft.Tables.customer(spark, sfDir),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        (sum(graft.Fns.cents(col("value"))) / 100.0).as("sum_value"))
      .select(col("window.start").as("hour_start"),
        col("c_mktsegment").as("segment"), col("n_events"), col("sum_value"))
      .orderBy(col("hour_start"), col("segment"))
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("q136: stream dedup→chunk equals the batch chunker over distinct texts") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.EventsStream.q136(spark, sfDir)
      .collect().map(_.toSeq)
    val toks = graft.ops.TextQueries.tokens(col("text"))
    val batch = Tables.documents(spark, sfDir)
      .select(col("text")).distinct()
      .select(sha2(col("text"), 256).as("fp"), toks.as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), expr("(n_tokens + 47) DIV 48 - 1"))))
      .select(col("fp"), col("chunk_idx"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("chunk_idx") * 48 + 1).cast("int"), lit(64))))
          .as("chunk_md5"))
      .orderBy(col("fp"), col("chunk_idx"))
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("q161: outer join emits matches plus watermark-evicted unmatched errors only") {
    val out = graft.streaming.EventsStream.q161(spark, sfDir).collect()
    assert(out.nonEmpty)
    val matched = out.filter(!_.isNullAt(3))
    val unmatched = out.filter(_.isNullAt(3))
    // inner subset identical to q91
    val inner = graft.streaming.EventsStream.q91(spark, sfDir).collect()
    assert(matched.map(_.toSeq).toSeq == inner.map(_.toSeq).toSeq)
    // every null-extended error sits below the FINAL GLOBAL watermark:
    // with two watermarked inputs and multipleWatermarkPolicy=min the
    // global watermark is least(max error ts, max click ts) − 1h, not
    // max(error ts) − 1h — pin exactly that so a fixture whose clicks
    // end before its errors can't silently change semantics.
    val maxByType = Tables.events(spark, sfDir)
      .where(col("event_type").isin("error", "click"))
      .groupBy(col("event_type")).agg(max(col("ts")).as("mx"))
      .collect().map(r => r.getString(0) -> r.getTimestamp(1).getTime).toMap
    val finalWm =
      math.min(maxByType("error"), maxByType("click")) - 3600L * 1000
    unmatched.foreach { r =>
      assert(r.getTimestamp(2).getTime < finalWm,
        s"null-extended row above final watermark: $r")
    }
    assert(unmatched.nonEmpty, "fixture must exercise the outer emission")
  }

  test("q171: streaming perceptual dedup equals the batch distinct-hash set and screens re-encodes") {
    import org.apache.spark.sql.functions.countDistinct
    val streamed = graft.streaming.MediaStream.q171(spark, sfDir)
      .collect().map(_.getString(0)).toSeq
    // batch reference: decode the SAME variant universe and take the
    // distinct perceptual hash set
    val variants = graft.operators.Multimodal.pngVariantsTable(spark, sfDir)
    val batch = variants.select(col("doc_id"), col("payload"))
      .collect().map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
        f"${graft.operators.Multimodal.aHash64(img)}%016X"
      }.distinct.sorted.toSeq
    assert(streamed == batch)
    // the gate really screened something: the variant universe is larger
    // than the surviving hash set (every tEXt re-encode collapses)
    val universe = variants.count()
    assert(streamed.size < universe,
      s"no duplicates screened: ${streamed.size} of $universe")
  }

  test("q155: streaming HLL state equals the batch single-pass sketch estimate") {
    val streamed = graft.streaming.EventsStream.q155(spark, sfDir)
      .collect().map(_.toSeq)
    val h = xxhash64(col("user_id"))
    val batch = graft.ops.Rhll.estimate(
        Tables.events(spark, sfDir)
          .select(col("ts"), col("event_type"),
            graft.ops.Rhll.bucket(h).as("bucket"),
            graft.ops.Rhll.rank(h).as("r0"))
          .groupBy(window(col("ts"), "1 day"), col("event_type"), col("bucket"))
          .agg(max(col("r0")).as("r"))
          .select(col("window.start").cast("date").as("day"),
            col("event_type"), col("bucket"), col("r")),
        Seq("day", "event_type"), 52, "est_users")
      .orderBy(col("day"), col("event_type"))
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }
}
