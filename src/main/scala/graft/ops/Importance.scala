package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OperatorCaches.TrackedDataset
import graft.Tables._

/** Data-selection operators that WEIGHT documents instead of dropping
  * them — the importance-resampling / soft-dedup half of a curation stack
  * (the hard-filter half lives in Curation/TextQueries/Dedup):
  *
  *  - q172: DSIR-style importance resampling (Xie et al. 2023, "Data
  *    Selection for Language Models via Importance Resampling") — score
  *    every raw doc by the log-likelihood ratio of a target-domain
  *    unigram model vs the raw-corpus model, surface the top candidates.
  *    The registered query uses EXACT word features (SQL-replayable); the
  *    paper's hashed-feature variant is `dsirHashedScores` below with an
  *    equivalence pin in ImportanceSpec (on a vocab this size the hash is
  *    collision-free, so exact ≡ hashed — at a real corpus's vocab the
  *    bucket count bounds model state instead of the vocabulary).
  *  - q173: duplicate-discounted training weights — instead of dropping
  *    clones (q32/q59), keep every doc and weight it 1/multiplicity so a
  *    text repeated m times contributes one expected copy per epoch
  *    (the "soft dedup" used when provenance must be preserved). Reports
  *    the per-source effective-token budget that survives discounting.
  *
  * Float discipline (the q120 rules): every log is rounded to 1e-7
  * fixed-point BIGINT per vocabulary ENTRY, contributions are integer
  * tf × weight products summed as integers — order-independent and
  * engine-exact; the only doubles are final shared-form divisions.
  */
object Importance {

  /** See graft.ops.Scale.fanout (shared numbered-fanout helper). */
  private def fanout(df: DataFrame, key: String): DataFrame =
    Scale.fanout(df, key)

  /** (doc_id, lang, source, w) — one row per word token occurrence. */
  private def tokenStream(s: SparkSession, dir: String): DataFrame =
    fanout(documents(s, dir), "doc_id")
      .select(col("doc_id"), col("lang"), col("source"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
          .as("w"))

  /** Per-vocabulary-entry DSIR weight in 1e-7 fixed point:
    * ln p̂_target(w) − ln p̂_raw(w), both add-one smoothed over the SHARED
    * vocabulary V (so unseen-in-target words get a well-defined penalty).
    * `feature` maps the raw token column to the model's feature id —
    * identity for the exact model, a bucket hash for the DSIR one.
    *
    * Scale shape: one groupBy on the feature domain (model fit), a 1-row
    * broadcast of the totals — the model is never driver-side and never
    * wider than the feature domain (buckets bound it for the hashed
    * variant, the standard 100 TB configuration).
    */
  /** The ONE fixed-point weight formula (1e-7 units) behind the whole
    * family — q172/q177/q178/q180 and their four SQL oracles must change
    * together with this string. Expects columns (ct, cr, nt, nr, v).
    *
    * Token-regex carve-out (ADVICE r8): every `\S+` token count in this
    * family (and q28/q130/q149's convention it follows) pairs a Java
    * regex with a DuckDB-RE2 oracle. Java `\s` includes vertical tab
    * (\x0B); RE2's does not — so a \x0B-bearing document would count
    * differently on the two sides. The corpus contract for the whole
    * oracle suite is therefore "no \x0B in text" (true of the fixtures
    * and of normalizeText-cleaned corpora, which strip control chars);
    * new oracle-checked queries needing \x0B-robustness should use the
    * explicit class `[^\t\n\f\r ]+` on both sides instead. */
  private[graft] val WeightE7Expr: String =
    "CAST(round((ln((ct + 1.0) / (nt + v)) - " +
      "ln((cr + 1.0) / (nr + v))) * 10000000) AS BIGINT)"

  /** Smoothed target/raw counts per feature — the model-fit groupBy
    * shared by featureWeights (full model) and q177 (history/batch
    * partials; mergeable by plain integer sums). */
  private[graft] def featureCounts(toks: DataFrame, feature: Column,
      isTarget: Column): DataFrame =
    toks.select(feature.as("f"), isTarget.as("t"))
      .groupBy(col("f"))
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))

  /** Totals broadcast + weight projection over a counts frame. */
  private[graft] def weightsFromCounts(counts: DataFrame): DataFrame = {
    val totals = counts.agg(
      sum(col("ct")).as("nt"), sum(col("cr")).as("nr"),
      count(lit(1)).as("v"))
    counts.crossJoin(broadcast(totals))
      .select(col("f"), col("ct"), col("cr"),
        expr(WeightE7Expr).as("w_e7"))
  }

  private def featureWeights(toks: DataFrame, feature: Column,
      isTarget: Column): DataFrame =
    weightsFromCounts(featureCounts(toks, feature, isTarget))
      .select(col("f"), col("w_e7"))

  /** Per-doc DSIR score under `feature`: Σ_w tf·w_e7 (integer), plus the
    * length-normalized per-token score. Join shape: doc-term counts join
    * the weight table on the feature domain, then one doc_id groupBy —
    * all linear, no collect. */
  private def dsirScores(toks: DataFrame, feature: Column,
      isTarget: Column): DataFrame = {
    val docTf = toks.select(col("doc_id"), feature.as("f"))
      .groupBy(col("doc_id"), col("f"))
      .agg(count(lit(1)).as("tf"))
    docTf.join(featureWeights(toks, feature, isTarget), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("w_e7")).as("llr_e7"),
        sum(col("tf")).as("n_tokens"))
  }

  /** Exact-feature per-doc scores (doc_id, llr_e7, n_tokens) — the batch
    * reference ImportanceSpec checks the streaming gate against. */
  def dsirScoresExact(s: SparkSession, dir: String): DataFrame =
    dsirScores(tokenStream(s, dir), col("w"), col("lang") === "en")

  /** The hashed-feature DSIR model (the paper's actual construction):
    * features are xxhash64 buckets, so model size is `buckets` regardless
    * of vocabulary — the 100 TB path. ImportanceSpec pins top-k selection
    * ≡ the exact model on the fixture (collision-free at 2^16 buckets). */
  def dsirHashedScores(s: SparkSession, dir: String,
      buckets: Int = 1 << 16): DataFrame = {
    val toks = tokenStream(s, dir)
    dsirScores(toks, pmod(xxhash64(col("w")), lit(buckets.toLong)),
      col("lang") === "en")
  }

  // ── q172: DSIR importance resampling — target = English docs, raw = the
  //        whole corpus; rank every doc by the per-token target/raw
  //        log-likelihood ratio and surface the 25 strongest candidates
  //        (what the resampler would draw first). Exact word features so
  //        DuckDB replays the entire model; the hashed twin above is the
  //        bounded-state production form.
  def q172(s: SparkSession, dir: String): DataFrame =
    dsirScoresExact(s, dir)
      .join(documents(s, dir).select(col("doc_id"), col("lang"),
        col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("llr_e7"),
        (col("llr_e7").cast("double") / col("n_tokens") / lit(1e7))
          .as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(25)

  val q172Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, lang,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |dt AS (SELECT doc_id, w, count(*) AS tf FROM tk GROUP BY 1, 2),
      |vb AS (SELECT w,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
      |    count(*) AS cr
      |  FROM tk GROUP BY 1),
      |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
      |    CAST(sum(cr) AS BIGINT) AS nr, count(*) AS v FROM vb),
      |wt AS (SELECT w,
      |    CAST(round((ln((ct + 1.0) / (nt + v))
      |      - ln((cr + 1.0) / (nr + v))) * 10000000) AS BIGINT) AS w_e7
      |  FROM vb CROSS JOIN tot),
      |sc AS (SELECT dt.doc_id,
      |    CAST(sum(dt.tf * wt.w_e7) AS BIGINT) AS llr_e7,
      |    CAST(sum(dt.tf) AS BIGINT) AS n_tokens
      |  FROM dt JOIN wt USING (w) GROUP BY 1)
      |SELECT d.doc_id, d.lang, d.source, sc.n_tokens, sc.llr_e7,
      |  CAST(sc.llr_e7 AS DOUBLE) / sc.n_tokens / 10000000.0 AS dsir_score
      |FROM sc JOIN documents d USING (doc_id)
      |ORDER BY dsir_score DESC, doc_id LIMIT 25""".stripMargin

  // ── q173: duplicate-discounted training weights — each doc weighs
  //        1/m where m = multiplicity of its NORMALIZED text (q59's
  //        canonicalization), so every clone group contributes one
  //        expected document per epoch without dropping provenance.
  //        Per-source report: docs, docs inside clone groups, raw vs
  //        effective (discounted) token budget. Shuffles carry digests
  //        only (the Dedup convention) — text never moves twice.
  def q173(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("source"),
        sha2(graft.operators.Dedup.normalizeText(col("text")), 256)
          .as("fp"),
        element_at(org.apache.spark.sql.graft.TextStatsExpr.column(col("text")), 1).as("n_tokens"))
      .trackedPersist()
    val m = d.groupBy(col("fp")).agg(count(lit(1)).as("m"))
    d.join(m, Seq("fp"))
      .select(col("source"), col("n_tokens"), col("m"),
        expr("CAST(round(1000000.0 / m) AS BIGINT)").as("w_e6"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("m") > 1, 1L).otherwise(0L)).as("n_in_clone_groups"),
        sum(col("n_tokens")).as("raw_tokens"),
        sum(col("n_tokens") * col("w_e6")).as("eff_tokens_e6"))
      .select(col("source"), col("n_docs"), col("n_in_clone_groups"),
        col("raw_tokens"), col("eff_tokens_e6"),
        (col("eff_tokens_e6").cast("double") / lit(1e6)).as("eff_tokens"))
      .orderBy(col("source"))
  }

  val q173Sql: String =
    """WITH d AS (
      |  SELECT source,
      |    trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9\t\n\f\r ]', '', 'g'), '[\t\n\f\r ]+', ' ', 'g')) AS nrm,
      |    len(regexp_extract_all(text, '\S+')) AS n_tokens
      |  FROM documents),
      |m AS (SELECT nrm, count(*) AS m FROM d GROUP BY 1),
      |j AS (SELECT d.source, d.n_tokens, m.m,
      |    CAST(round(1000000.0 / m.m) AS BIGINT) AS w_e6
      |  FROM d JOIN m USING (nrm))
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_in_clone_groups,
      |  CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
      |  CAST(sum(n_tokens * w_e6) AS BIGINT) AS eff_tokens_e6,
      |  CAST(sum(n_tokens * w_e6) AS DOUBLE) / 1000000.0 AS eff_tokens
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  // ── q177: importance-model MAINTENANCE — the counts behind the DSIR
  //        weights are a mergeable sketch (plain integer sums), so the
  //        model updates incrementally: history counts live as a parquet
  //        artifact (docs with doc_id % 3 ≠ 0), the new batch
  //        (doc_id % 3 = 0) contributes only ITS token counts, and the
  //        merge is one full-outer sum — the corpus is never rescanned.
  //        Output is the full updated model (word, counts, weight); the
  //        oracle recomputes it FROM SCRATCH over the whole corpus, so
  //        the driver hash proves incremental ≡ full (the q127/q148
  //        maintenance discipline applied to a learned selection model).
  def q177(s: SparkSession, dir: String): DataFrame = {
    val counts = (df: DataFrame) =>
      featureCounts(df, col("w"), col("lang") === "en")
    val history = graft.Fixtures.path("dsirmodel", dir)(
      counts(tokenStream(s, dir).where(col("doc_id") % 3 =!= 0)))
    val merged = s.read.parquet(history)
      .unionByName(
        counts(tokenStream(s, dir).where(col("doc_id") % 3 === 0)))
      .groupBy(col("f"))
      .agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr"))
    weightsFromCounts(merged)
      .select(col("f").as("w"), col("ct"), col("cr"), col("w_e7"))
      .orderBy(col("w"))
  }

  val q177Sql: String =
    """WITH tk AS (
      |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
      |    AS w
      |  FROM documents),
      |vb AS (SELECT w,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
      |    count(*) AS cr
      |  FROM tk GROUP BY 1),
      |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
      |    CAST(sum(cr) AS BIGINT) AS nr, count(*) AS v FROM vb)
      |SELECT w, ct, cr,
      |  CAST(round((ln((ct + 1.0) / (nt + v))
      |    - ln((cr + 1.0) / (nr + v))) * 10000000) AS BIGINT) AS w_e7
      |FROM vb CROSS JOIN tot ORDER BY w""".stripMargin

  // ── q178: streaming DSIR gate — score documents at INGEST against a
  //        FROZEN importance model broadcast as one map row (the
  //        production deployment shape: the model is fit offline, the
  //        stream only reads it). The gate is STATELESS: tokens fold
  //        through the map with a codegen'd aggregate — no streaming
  //        aggregation, no state store; output keys by doc_id so the
  //        result is micro-batch-invariant. Model state is bounded by
  //        the OBSERVED feature set (≤ bucket count in the hashed
  //        production form; the registered query keeps exact words so
  //        DuckDB replays the scores bit-for-bit).
  def q178(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    // FROZEN for real: the 1-row model materializes eagerly BEFORE the
    // stream starts — without this the whole corpus-wide fit would
    // re-execute on every micro-batch of the stream-static join.
    val model = featureWeights(tokenStream(s, dir), col("w"),
      col("lang") === "en")
      .agg(map_from_entries(collect_list(struct(col("f"), col("w_e7"))))
        .as("m"))
      .localCheckpoint(true)
    val base = documents(s, dir)
      .select(col("doc_id"),
        expr("timestamp_micros(doc_id * 1000000)").as("ts"), col("text"))
    val fixDir = graft.Fixtures.path("docscore", dir)(base)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    val scored = s.readStream.schema(schema).parquet(fixDir)
      .withColumn("_k", lit(1))
      .join(model.withColumn("_k", lit(1)), Seq("_k"))
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("a"),
        col("m"))
      .select(col("doc_id"), size(col("a")).cast("long").as("n_tokens"),
        expr("aggregate(a, CAST(0 AS BIGINT), " +
          "(acc, x) -> acc + coalesce(m[x], CAST(0 AS BIGINT)))")
          .as("llr_e7"))
      .select(col("doc_id"), col("n_tokens"), col("llr_e7"),
        when(col("llr_e7") > 0, 1L).otherwise(0L).as("selected"))
    graft.streaming.Streams.toMemory(s, "q178_stream_dsir_sink", scored, "append")
      .orderBy(col("doc_id"))
  }

  val q178Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, lang,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |dt AS (SELECT doc_id, w, count(*) AS tf FROM tk GROUP BY 1, 2),
      |vb AS (SELECT w,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
      |    count(*) AS cr
      |  FROM tk GROUP BY 1),
      |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
      |    CAST(sum(cr) AS BIGINT) AS nr, count(*) AS v FROM vb),
      |wt AS (SELECT w,
      |    CAST(round((ln((ct + 1.0) / (nt + v))
      |      - ln((cr + 1.0) / (nr + v))) * 10000000) AS BIGINT) AS w_e7
      |  FROM vb CROSS JOIN tot),
      |sc AS (SELECT dt.doc_id,
      |    CAST(sum(dt.tf * wt.w_e7) AS BIGINT) AS llr_e7,
      |    CAST(sum(dt.tf) AS BIGINT) AS n_tokens
      |  FROM dt JOIN wt USING (w) GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(sc.n_tokens, 0) AS n_tokens,
      |  coalesce(sc.llr_e7, 0) AS llr_e7,
      |  CAST(CASE WHEN coalesce(sc.llr_e7, 0) > 0 THEN 1 ELSE 0 END
      |    AS BIGINT) AS selected
      |FROM documents d LEFT JOIN sc USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ── q180: SELECTION capstone — the per-doc sampling-weight card a
  //        training run actually consumes, composing the three
  //        independent signals this family provides: duplicate discount
  //        (q173's 1/multiplicity), hard quality bar (the shared
  //        fixed-point logit behind q133/q139/q149), and target-domain
  //        tilt (q172's DSIR LLR). A doc samples at weight 1/m iff it
  //        clears BOTH gates; everything else carries weight 0 but stays
  //        in the card (auditable, like q147's ledger). Every component
  //        is integer fixed-point, so the whole card hash-oracles.
  //        Scale shape: three independent linear relations (digest
  //        groupBy, narrow logit projection, token-domain model) joined
  //        back on doc_id — no new shuffle classes beyond its parts.
  def q180(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val base = docs.select(col("doc_id"), col("source"),
      sha2(graft.operators.Dedup.normalizeText(col("text")), 256).as("fp"),
      element_at(org.apache.spark.sql.graft.TextStatsExpr.column(col("text")), 1).as("n_tokens"),
      graft.ops.TextQueries.qualityLogit(col("text")).as("logit_1e4"))
    val m = base.groupBy(col("fp")).agg(count(lit(1)).as("m"))
    val dsir = dsirScoresExact(s, dir).select(col("doc_id"), col("llr_e7"))
    base.join(m, Seq("fp"))
      .join(dsir, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("m"),
        col("logit_1e4"), coalesce(col("llr_e7"), lit(0L)).as("llr_e7"))
      .withColumn("selected",
        when(col("logit_1e4") >= 20000L && col("llr_e7") > 0L, 1L)
          .otherwise(0L))
      .withColumn("weight_e6",
        when(col("selected") === 1L,
          expr("CAST(round(1000000.0 / m) AS BIGINT)")).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  val q180Sql: String =
    """WITH b AS (
      |  SELECT doc_id, source,
      |    trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9\t\n\f\r ]', '', 'g'), '[\t\n\f\r ]+', ' ', 'g')) AS nrm,
      |    len(regexp_extract_all(text, '\S+')) AS n_tokens,
      |    20000 + 15*len(regexp_extract_all(text, '\S+'))
      |      + 400*len(regexp_extract_all(text, '\b(the|a|of|and|to|in)\b'))
      |      - 250*len(regexp_extract_all(text, '[.,!?;:]'))
      |      - 120*len(regexp_extract_all(text, '[0-9]'))
      |      - 600*len(regexp_extract_all(text, '\b[A-Z]{2,}\b')) AS logit_1e4
      |  FROM documents),
      |mm AS (SELECT nrm, count(*) AS m FROM b GROUP BY 1),
      |tk AS (
      |  SELECT doc_id, lang,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |dt AS (SELECT doc_id, w, count(*) AS tf FROM tk GROUP BY 1, 2),
      |vb AS (SELECT w,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
      |    count(*) AS cr
      |  FROM tk GROUP BY 1),
      |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
      |    CAST(sum(cr) AS BIGINT) AS nr, count(*) AS v FROM vb),
      |wt AS (SELECT w,
      |    CAST(round((ln((ct + 1.0) / (nt + v))
      |      - ln((cr + 1.0) / (nr + v))) * 10000000) AS BIGINT) AS w_e7
      |  FROM vb CROSS JOIN tot),
      |sc AS (SELECT dt.doc_id,
      |    CAST(sum(dt.tf * wt.w_e7) AS BIGINT) AS llr_e7
      |  FROM dt JOIN wt USING (w) GROUP BY 1),
      |card AS (
      |  SELECT b.doc_id, b.source, b.n_tokens, mm.m, b.logit_1e4,
      |    coalesce(sc.llr_e7, 0) AS llr_e7
      |  FROM b JOIN mm USING (nrm) LEFT JOIN sc USING (doc_id))
      |SELECT doc_id, source, n_tokens, m, logit_1e4, llr_e7,
      |  CAST(CASE WHEN logit_1e4 >= 20000 AND llr_e7 > 0
      |    THEN 1 ELSE 0 END AS BIGINT) AS selected,
      |  CASE WHEN logit_1e4 >= 20000 AND llr_e7 > 0
      |    THEN CAST(round(1000000.0 / m) AS BIGINT)
      |    ELSE CAST(0 AS BIGINT) END AS weight_e6
      |FROM card ORDER BY doc_id""".stripMargin

  // ── q182: INCREMENTAL dup-discount maintenance — q173's weights
  //        updated by a batch without rescanning history text. State is
  //        the per-(source, group) integer partials — doc count + token
  //        sum keyed by the normalized-text digest — persisted as a
  //        parquet artifact for the history two-thirds; the batch third
  //        contributes one scan, the merge is pure integer sums, and the
  //        cross-source group multiplicity re-derives from the merged
  //        partials (docs in a group share its weight, so the rollup
  //        needs group-level sums only — per-doc rows never reload).
  //        Oracle: q173's SQL VERBATIM — the driver hash proves
  //        incremental ≡ full recompute (the q148/q177 discipline; the
  //        maintenance trio is now model + index + weights).
  def q182(s: SparkSession, dir: String): DataFrame = {
    val byGroup = (df: DataFrame) => df
      .select(col("source"),
        sha2(graft.operators.Dedup.normalizeText(col("text")), 256)
          .as("fp"),
        element_at(org.apache.spark.sql.graft.TextStatsExpr.column(col("text")), 1).as("n_tokens"))
      .groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("toks"))
    val docs = documents(s, dir)
    val hist = graft.Fixtures.path("dupstate", dir)(
      byGroup(docs.where(col("doc_id") % 3 =!= 0)))
    val merged = s.read.parquet(hist)
      .unionByName(byGroup(docs.where(col("doc_id") % 3 === 0)))
      .groupBy(col("source"), col("fp"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("toks")).as("toks"))
      .trackedPersist()
    val m = merged.groupBy(col("fp")).agg(sum(col("n_docs")).as("m"))
    merged.join(m, Seq("fp"))
      .select(col("source"), col("n_docs"), col("toks"), col("m"),
        expr("CAST(round(1000000.0 / m) AS BIGINT)").as("w_e6"))
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(when(col("m") > 1, col("n_docs")).otherwise(0L))
          .as("n_in_clone_groups"),
        sum(col("toks")).as("raw_tokens"),
        sum(col("toks") * col("w_e6")).as("eff_tokens_e6"))
      .select(col("source"), col("n_docs"), col("n_in_clone_groups"),
        col("raw_tokens"), col("eff_tokens_e6"),
        (col("eff_tokens_e6").cast("double") / lit(1e6)).as("eff_tokens"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q172_dsir_select" -> q172,
    "q173_dup_discount" -> q173,
    "q177_model_maintain" -> q177,
    "q178_stream_dsir" -> q178,
    "q180_selection_build" -> q180,
    "q182_dup_discount_delta" -> q182)

  val oracle: Map[String, String] = Map(
    "q172_dsir_select" -> q172Sql,
    "q173_dup_discount" -> q173Sql,
    "q177_model_maintain" -> q177Sql,
    "q178_stream_dsir" -> q178Sql,
    "q180_selection_build" -> q180Sql,
    "q182_dup_discount_delta" -> q173Sql)
}
