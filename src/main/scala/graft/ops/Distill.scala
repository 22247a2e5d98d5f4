package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OperatorCaches.TrackedDataset
import graft.Tables._

/** Model-in-the-loop curation (round 14): distill the q149 Gopher hard-rule
  * battery into a TRAINED linear quality classifier, entirely inside the
  * engine, with every training step hash-exact against DuckDB — the
  * fixed-point-Lloyd's discipline (Similarity.twinLloydCentroids) applied
  * to gradient descent. Production pipelines run learned quality filters
  * (fasttext-style) distilled from rules or LM judgments; the blocker for
  * a reproducible engine is that float SGD is order-dependent. This module
  * shows the deterministic construction:
  *
  *   - features: 32 hashed-token buckets (production xxhash64, replayed by
  *     Xxh64Sql) as integer per-mille frequencies, plus 6 rule-margin
  *     "violation" features (0 when the q149 rule passes, 500+magnitude
  *     when it fails — the jump keeps any violation visible to integer
  *     gradients; magnitudes just over a threshold would otherwise floor
  *     away), plus a constant bias of 1000;
  *   - model: integer weights (milli-units), margin num = Σ w·x, hard
  *     sigmoid p = clamp(500 + num/4000, 0, 1000) in milli-probability —
  *     exp() is NOT bit-portable across engines, a piecewise-linear
  *     sigmoid in integer arithmetic is;
  *   - training: full-batch gradient descent, Iters=4 unrolled steps,
  *     g_j = Σ_docs (p − 1000·y)·x_j exact integer sums (order-independent
  *     by commutativity), update w ← w − g/(n·LrDen). The two divisions
  *     with signed numerators (sigmoid margin, weight update) use
  *     TRUNCATING division deliberately: Spark's DIV, Scala's Long `/`
  *     and DuckDB's integer `//` all truncate toward zero (DuckDB floors
  *     only for DOUBLE `//` — verified on negatives; the repo's usual
  *     shift-non-negative idiom is for sites that need true floor);
  *   - label: y = the q149 `kept` conjunction — distillation of a rule the
  *     engine already computes, so the oracle needs no external labels.
  *
  * Scale contract (the twinLloydCentroids shape): training runs on the
  * TrainCap=4096 lowest doc_ids — bounded, so the 4 gradient passes cost
  * O(TrainCap) regardless of corpus size — and per-iteration driver state
  * is one 39-long integer vector (a 39-row collect). Inference
  * (q195–q198) is ONE map-side corpus pass: the BucketCountsExpr kernel
  * computes each row's hashed-token counts in place and the margin is a
  * literal-weight expression over them — no explode, no join, no
  * exchange before the final rollup. No floats exist anywhere in train
  * or inference, so both are bit-reproducible under any partitioning.
  *
  * Honesty note: the feature set includes the rule's own signal margins,
  * so the distillation CAN recover the label rule (it reaches full
  * agreement on the fixtures); the point of the queries is the
  * deterministic trainable-mechanism, not generalization power.
  */
object Distill {

  val HashBuckets = 32
  /** 32 token buckets + 6 violation features + bias. */
  val NumFeatures: Int = HashBuckets + 7
  val TrainCap = 4096
  val Iters = 4
  /** Update divisor: w ← w − g/(n·LrDen); 1/LrDen of the mean
    * micro-gradient per step. 500 converges to full fixture agreement in
    * 4 iterations with |w| staying ~1e3 (margins ≤ ~4e7 — far inside
    * int64 for any corpus). */
  val LrDen = 500L

  // ── per-doc metrics + label (the q149 rule) — all six counts from the
  //    fused single-scan TextStatsExpr kernel instead of six separate
  //    regexp_count traversals (the 100×-rehearsal floor of every
  //    quality-rule carrier; fixture-identical, and \b follows the
  //    ORACLE's RE2 semantics — see the kernel's scaladoc) ──────────────
  private def withMetrics(d: DataFrame): DataFrame = d
    .withColumn("_ts",
      org.apache.spark.sql.graft.TextStatsExpr.column(col("text")))
    .select(
      col("doc_id"), col("source"), col("n_chars"), col("text"),
      element_at(col("_ts"), 1).as("n_words"),
      element_at(col("_ts"), 2).as("n_nonspace"),
      element_at(col("_ts"), 3).as("n_sym"),
      element_at(col("_ts"), 4).as("n_digit"),
      element_at(col("_ts"), 5).as("n_caps"),
      element_at(col("_ts"), 6).as("n_stop"))

  private def withLabel(m: DataFrame): DataFrame = {
    val mwl = expr("n_nonspace * 100 DIV greatest(n_words, 1)")
    val kept = col("n_words") >= 50L && col("n_words") <= 100000L &&
      mwl >= 300L && mwl <= 1000L &&
      col("n_sym") * 10L <= col("n_words") &&
      col("n_digit") * 5L <= col("n_chars") &&
      col("n_caps") * 10L <= col("n_words") &&
      col("n_stop") >= 2L
    m.withColumn("y", when(kept, 1L).otherwise(0L))
  }

  /** Violation jump: 0 when the rule passes, 500 + min(magnitude, 500)
    * when it fails. */
  private def viol(m: Column): Column =
    when(m > 0L, lit(500L) + least(m, lit(500L))).otherwise(lit(0L))

  /** The six rule-violation magnitudes over a metrics frame, in feature
    * order (shared by the training long form and the fused inference
    * margin). */
  private def violMags: Seq[Column] = {
    val mwl = expr("n_nonspace * 100 DIV greatest(n_words, 1)")
    Seq(
      greatest(lit(50L) - col("n_words"), lit(0L)) +
        greatest(col("n_words") - lit(100000L), lit(0L)),
      greatest(lit(300L) - mwl, lit(0L)) + greatest(mwl - lit(1000L), lit(0L)),
      greatest(col("n_sym") * 10L - col("n_words"), lit(0L)),
      greatest(col("n_digit") * 5L - col("n_chars"), lit(0L)),
      greatest(col("n_caps") * 10L - col("n_words"), lit(0L)),
      greatest(lit(2L) - col("n_stop"), lit(0L)) * 500L)
  }

  /** Long-form integer features (doc_id, j, x) over a metrics+label frame:
    * j ∈ [0,32) hashed-token per-mille counts, j ∈ [32,38) rule-violation
    * jumps, j = 38 bias 1000. Rows with x = 0 in the token block are
    * simply absent (join semantics supply the zero). */
  private def featsLong(met: DataFrame): DataFrame = {
    val fh = met
      .select(col("doc_id"), col("n_words"),
        explode(TextQueries.tokens(col("text"))).as("t"))
      .select(col("doc_id"), col("n_words"),
        pmod(xxhash64(col("t")), lit(HashBuckets.toLong)).as("j"))
      .groupBy(col("doc_id"), col("n_words"), col("j"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("j"),
        expr("c * 1000 DIV greatest(n_words, 1)").as("x"))
    val fe = met.select(col("doc_id"), explode(array(
      violMags.zipWithIndex.map { case (m, i) =>
        struct(lit((HashBuckets + i).toLong).as("j"), viol(m).as("x"))
      } :+ struct(lit((NumFeatures - 1).toLong).as("j"), lit(1000L).as("x")): _*))
      .as("f"))
      .select(col("doc_id"), col("f.j").as("j"), col("f.x").as("x"))
    fh.union(fe)
  }

  /** Hard sigmoid over a column named `num`, in milli-probability.
    * num DIV 4000 truncates toward zero — exactly what DuckDB's integer
    * `//` does, so the engines agree on negative margins too. */
  private val pCol: Column =
    greatest(lit(0L), least(lit(1000L),
      lit(500L) + expr("num DIV 4000")))

  /** Training-set boundary: max doc_id among the TrainCap lowest (None on
    * an empty corpus). `doc_id <= bound` rather than a LIMIT keeps the
    * subset well-defined in both engines. */
  private def trainBound(s: SparkSession, dir: String): Option[Long] = {
    val r = documents(s, dir).select(col("doc_id"))
      .orderBy(col("doc_id")).limit(TrainCap)
      .agg(max(col("doc_id"))).collect()
    if (r.isEmpty || r(0).isNullAt(0)) None else Some(r(0).getLong(0))
  }

  /** Trained weights as a PERSISTED parquet artifact (the q128/q187/q189
    * persisted-index convention: train ONCE per corpus, write
    * (feature_id, weight), every consumer SCANS the artifact — at 100 TB
    * the training job is scheduled, the inference queries must not pay
    * it, and a corpus-dir rewrite invalidates via the artifact lifecycle
    * instead of a JVM-memory TrieMap, closing the r14 ADVICE staleness
    * nit). 39 rows, so consumers collect it to literals in one bounded
    * read. */
  private[graft] def weightsPath(s: SparkSession, dir: String): String =
    graft.Fixtures.path("lrweights", dir) {
      import s.implicits._
      trainWeightsFresh(s, dir).zipWithIndex
        .map { case (wj, j) => (j.toLong, wj) }.toDF("feature_id", "weight")
    }

  private[graft] def trainWeights(s: SparkSession, dir: String): IndexedSeq[Long] =
    s.read.parquet(weightsPath(s, dir)).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .sortBy(_._1).map(_._2).toIndexedSeq

  /** The Iters unrolled full-batch GD steps over a long-form feature /
    * label pair; one 39-row collect per step. Shared by the from-scratch
    * train and the q200 incremental-featurization twin — ONE definition
    * of the optimizer, so the twins can only diverge in how the features
    * were produced (which is exactly what q200's hash proves). */
  private def gdSteps(s: SparkSession, flIn: DataFrame,
      labIn: DataFrame): IndexedSeq[Long] = {
    import graft.OperatorCaches.TrackedDataset
    // Pivot the long form to ONE dense row per doc (x0..x38) joined with
    // its label, cached once; each GD step is then a single join-free
    // aggregation pass — literal-weight margin → error → 39 partial-agg
    // gradient sums — instead of two joins over the long form, a per-doc
    // shuffle, and an error-frame broadcast per step (guide §2.3/§2.4:
    // 4 steps × 2 shuffles collapsed to zero mid-step exchanges). The
    // gradients sum the same integer multiset (absent long-form rows
    // contribute the dense zeros), so every weight stays bit-identical
    // to the long-form join formulation the oracle replays.
    val xCols = (0 until NumFeatures).map(j =>
      sum(when(col("j") === j.toLong, col("x")).otherwise(0L)).as(s"x$j"))
    val dense = flIn.groupBy(col("doc_id")).agg(xCols.head, xCols.tail: _*)
      .join(labIn, "doc_id")
      .trackedPersist()
    // n is the LABEL count by the oracle's definition. Both current
    // callers satisfy |dense| = |lab| (featsLong emits a bias row for
    // every doc, and features/labels come from the same frame), but a
    // future caller building flIn and labIn from different frames would
    // silently shift every weight if n were derived from dense — so count
    // labIn itself (small; one cheap job — r17 ADVICE #2). The first GD
    // step materializes the dense cache exactly as dense.count() did.
    val n = math.max(labIn.count(), 1L)
    var w = IndexedSeq.fill(NumFeatures)(0L)
    for (_ <- 0 until Iters) {
      val num = (0 until NumFeatures)
        .map(j => lit(w(j)) * col(s"x$j")).reduce(_ + _)
      val g = dense
        .withColumn("num", num)
        .withColumn("e", pCol - lit(1000L) * col("y"))
        .agg(coalesce(sum(col("e") * col("x0")), lit(0L)),
          (1 until NumFeatures).map(j =>
            coalesce(sum(col("e") * col(s"x$j")), lit(0L))): _*)
        .collect()(0)
      // Scala Long `/` truncates toward zero = DuckDB integer `//`
      w = w.indices.map(j => w(j) - g.getLong(j) / (n * LrDen))
    }
    w
  }

  /** The TrainCap-bounded training frame (metrics + label, lowest
    * doc_ids), or None on an empty corpus. */
  private def trainFrame(s: SparkSession, dir: String): Option[DataFrame] =
    trainBound(s, dir).map(bound =>
      withLabel(withMetrics(documents(s, dir)))
        .filter(col("doc_id") <= bound))

  private def trainWeightsFresh(s: SparkSession, dir: String): IndexedSeq[Long] =
    trainFrame(s, dir) match {
      case None => IndexedSeq.fill(NumFeatures)(0L)
      case Some(tr) =>
        gdSteps(s, featsLong(tr), tr.select(col("doc_id"), col("y")))
    }

  // ── q194: the trained weight vector — 39 (feature_id, weight) rows,
  //         hash-exact: the oracle replays tokenize → hash → featurize →
  //         4 gradient steps in pure SQL and must land on the SAME
  //         integers. This is the "training is reproducible" proof. ─────
  def q194(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainWeights(s, dir).zipWithIndex
      .map { case (wj, j) => (j.toLong, wj) }
      .toDF("feature_id", "weight")
      .orderBy(col("feature_id"))
  }

  /** Full-corpus scoring with the trained weights: (doc_id, source, y,
    * num) — ONE map-side pass, no exchange at all. Bucket counts come
    * from the fused BucketCountsExpr kernel and the margin is assembled
    * as a literal-weight expression over them (weights are driver values
    * after training), so nothing explodes and nothing joins — the
    * first-cut long-form join shuffled ~tokens rows per document twice
    * and cost 55s/query at the 100× rehearsal; this is the q193
    * "row-local computation belongs in an Expression" lesson. Zero-weight
    * buckets emit no term. Bit-identical to the long form: the per-bucket
    * per-mille floor (c·1000 DIV n_words) is applied per bucket exactly
    * as the oracle's long-form replay does. */
  private def scoredDocs(s: SparkSession, dir: String): DataFrame =
    scoredFrom(documents(s, dir), trainWeights(s, dir))

  /** The same fused map-side scoring over ANY documents-shaped frame
    * (batch or stream — every expression is stateless and row-local, so
    * the plan is streaming-legal with no state store). */
  private[graft] def scoredFrom(docs: DataFrame, w: IndexedSeq[Long]): DataFrame = {
    val met = withLabel(withMetrics(docs))
      .withColumn("cnts", org.apache.spark.sql.graft.BucketCountsExpr
        .column(TextQueries.tokens(col("text")), HashBuckets))
    val tokTerms = (0 until HashBuckets).filter(j => w(j) != 0L).map(j =>
      s"(${w(j)}L * ((element_at(cnts, ${j + 1}) * 1000L) DIV greatest(n_words, 1L)))")
    val tokNum =
      if (tokTerms.isEmpty) lit(0L) else expr(tokTerms.mkString(" + "))
    val violNum = violMags.zipWithIndex.map { case (m, i) =>
      lit(w(HashBuckets + i)) * viol(m)
    }.reduce(_ + _)
    val num = tokNum + violNum + lit(w(NumFeatures - 1) * 1000L)
    met.select(col("doc_id"), col("source"), col("y"), num.as("num"))
  }

  // ── q199: the persisted-weights artifact SCANNED — the q166/q187/q189
  //         persistence-lossless face: q194 returns the driver-held
  //         vector, q199 returns the parquet artifact every inference
  //         query actually reads. Oracle = q194Sql VERBATIM; a green
  //         hash proves the write → scan cycle loses nothing and the
  //         deployed artifact IS the trained model. ────────────────────
  def q199(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(weightsPath(s, dir)).orderBy(col("feature_id"))

  // ── q200: classifier MAINTENANCE twin — the q177 discipline applied
  //         to the learned filter. Featurization (tokenize → hash →
  //         bucket → per-mille) is the corpus-scale cost of training;
  //         the long-form feature rows are a mergeable relation, so the
  //         maintenance path persists the HISTORY batch's features as a
  //         parquet artifact (train docs with doc_id % 3 ≠ 0),
  //         featurizes only the NEW batch (doc_id % 3 = 0), unions, and
  //         replays the same Iters GD steps — the corpus is never
  //         re-featurized. The oracle retrains FROM SCRATCH over the
  //         whole corpus (q194Sql verbatim), so the driver hash proves
  //         incremental-featurization ≡ full-retrain exactly (full-batch
  //         GD is a pure function of the merged feature relation). ─────
  def q200(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = trainFrame(s, dir) match {
      case None => IndexedSeq.fill(NumFeatures)(0L)
      case Some(tr) =>
        val hist = tr.filter(col("doc_id") % 3 =!= 0)
        val delta = tr.filter(col("doc_id") % 3 === 0)
        val flHist = graft.Fixtures.path("lrfeats_hist", dir)(featsLong(hist))
        val labHist = graft.Fixtures.path("lrlab_hist", dir)(
          hist.select(col("doc_id"), col("y")))
        gdSteps(s,
          s.read.parquet(flHist).unionByName(featsLong(delta)),
          s.read.parquet(labHist)
            .unionByName(delta.select(col("doc_id"), col("y"))))
    }
    w.zipWithIndex.map { case (wj, j) => (j.toLong, wj) }
      .toDF("feature_id", "weight").orderBy(col("feature_id"))
  }

  // ── q195: apply the trained filter to the FULL corpus — per-source
  //         confusion vs the rule label (pred = margin ≥ 0 ⇔ p ≥ 500).
  //         One map-side corpus pass (fused kernel + literal weights),
  //         per-source rollup: the inference face at the 100 TB shape. ──
  def q195(s: SparkSession, dir: String): DataFrame =
    scoredDocs(s, dir)
      .select(col("source"), col("y"), (col("num") >= 0L).as("pred"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("pred"), 1)).as("n_pred_keep"),
        count(when(col("y") === 1L, 1)).as("n_label_keep"),
        count(when(col("pred") === (col("y") === 1L), 1)).as("n_agree"))
      .orderBy(col("source"))

  // ── q196: calibration table — per p-decile (hard-sigmoid milli-prob,
  //         100-wide bins), documents / rule-keeps / summed predicted
  //         probability. The readout a filter owner checks before
  //         trusting a threshold: does predicted keep-probability track
  //         the actual keep rate per bin. Same one-pass inference leg,
  //         11-row output. ────────────────────────────────────────────
  def q196(s: SparkSession, dir: String): DataFrame =
    scoredDocs(s, dir)
      .withColumn("p", pCol)
      .withColumn("bin", expr("p DIV 100"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("y") === 1L, 1)).as("n_label_keep"),
        sum(col("p")).as("sum_p"))
      .orderBy(col("bin"))

  // ── q197: disagreement mining — the 50 highest-|margin| documents
  //         where the classifier contradicts the rule label, ties to the
  //         lowest doc_id: the exact docs an active-learning loop sends
  //         for relabeling (high-confidence mistakes first). TopK shape:
  //         TakeOrderedAndProject over the scored stream, never a global
  //         sort. ───────────────────────────────────────────────────────
  def q197(s: SparkSession, dir: String): DataFrame =
    scoredDocs(s, dir)
      .filter((col("num") >= 0L) =!= (col("y") === 1L))
      .select(col("doc_id"), col("source"), col("y"), col("num").as("margin"))
      .orderBy(abs(col("margin")).desc, col("doc_id"))
      .limit(50)

  // ── q198: threshold tuning curve — keep rate and rule agreement at
  //         margin thresholds τ (the q190/q191/q192 tuning-curve
  //         discipline applied to the filter's one deployment knob).
  //         One scored pass + a broadcast 5-row τ sweep. ───────────────
  private val SweepTaus = Seq(-8000L, -4000L, 0L, 4000L, 8000L)

  def q198(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val taus = SweepTaus.toDF("tau")
    scoredDocs(s, dir)
      .crossJoin(broadcast(taus))
      .select(col("tau"), col("y"), (col("num") >= col("tau")).as("pred"))
      .groupBy(col("tau"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("pred"), 1)).as("n_pred_keep"),
        count(when(col("pred") === (col("y") === 1L), 1)).as("n_agree"))
      .orderBy(col("tau"))
  }

  // ── q201: the DEPLOYMENT shape — the trained filter as a STREAMING
  //         ingest gate (the q146/q178 discipline). Weights are frozen
  //         BEFORE the stream starts (a bounded artifact read collapses
  //         them to driver literals — stronger than a stream-static
  //         join: the model physically cannot re-fit per micro-batch),
  //         scoring is the same fused stateless kernel pass, so the
  //         result is micro-batch-invariant with no state store; the
  //         sink is a checkpointed PARQUET sink (the deployment sink —
  //         scored rows never funnel through driver memory; r15 ADVICE
  //         replaced the harness-only memory sink) and the post-stream
  //         rollup is the batch q195 form over the sink files, oracle
  //         q195Sql VERBATIM — a green hash proves gate ≡ batch filter. ─
  def q201(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val w = trainWeights(s, dir) // frozen: read + collected pre-stream
    val fixDir = graft.Fixtures.path("docsgate", dir)(
      documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // per-PID scratch root (Fixtures lifecycle prunes it at exit); the
    // checkpoint makes reruns in one JVM incremental no-ops — the input
    // fixture is written once, so the committed sink is already complete.
    // freshScratch (not scratch): the first touch per JVM deletes any
    // tree a dead same-PID JVM left behind — a stale checkpoint+sink
    // would otherwise append this JVM's batch onto the dead JVM's
    // committed rows and double-count every source (r16 ADVICE)
    val sinkRoot = graft.Fixtures.freshScratch(
      s"graft_gatesink_${graft.Fixtures.dirKey(dir)}" +
        s"_p${java.lang.ProcessHandle.current.pid}")
    val scored = scoredFrom(
      s.readStream.schema(schema).parquet(fixDir), w)
      .select(col("doc_id"), col("source"), col("y"),
        (col("num") >= 0L).as("pred"))
    graft.streaming.Streams.run(scored, "append")(_.format("parquet")
      .option("checkpointLocation", s"$sinkRoot/ck")
      .option("path", s"$sinkRoot/out"))
    s.read.parquet(s"$sinkRoot/out")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("pred"), 1)).as("n_pred_keep"),
        count(when(col("y") === 1L, 1)).as("n_label_keep"),
        count(when(col("pred") === (col("y") === 1L), 1)).as("n_agree"))
      .orderBy(col("source"))
  }

  // ── DuckDB replay ────────────────────────────────────────────────────

  /** Shared CTE chain: xxh hashes for the corpus vocabulary, metrics,
    * label, long-form features, train boundary, and the Iters unrolled
    * gradient steps ending in `w$Iters(j, w)`. */
  private def trainCtesSql: String = {
    val xxh = graft.sql.Xxh64Sql.tokenHashCtes(
      "SELECT DISTINCT unnest(regexp_extract_all(text, '\\S+')) AS t FROM documents")
    val steps = (1 to Iters).map { k =>
      s"""num$k AS (
         |  SELECT f.doc_id, sum(f.x * w.w) AS num
         |  FROM fl f JOIN w${k - 1} w USING (j)
         |  WHERE f.doc_id <= (SELECT b FROM bnd)
         |  GROUP BY f.doc_id),
         |e$k AS (
         |  SELECT n.doc_id,
         |    greatest(0, least(1000, 500 + n.num // 4000)) - 1000 * l.y AS e
         |  FROM num$k n JOIN lab l USING (doc_id)),
         |g$k AS (
         |  SELECT f.j, sum(e.e * f.x) AS g
         |  FROM fl f JOIN e$k e USING (doc_id) GROUP BY f.j),
         |w$k AS (
         |  SELECT s.j,
         |    w.w - coalesce(g.g, 0) // ((SELECT n FROM ntr) * $LrDen) AS w
         |  FROM spine s JOIN w${k - 1} w USING (j)
         |  LEFT JOIN g$k g USING (j))""".stripMargin
    }.mkString(",\n")
    s"""$xxh,
       |met AS (
       |  SELECT doc_id, source, n_chars,
       |    len(regexp_extract_all(text, '\\S+')) AS n_words,
       |    len(regexp_extract_all(text, '\\S')) AS n_nonspace,
       |    len(regexp_extract_all(text, '[#@%^*_~|]')) AS n_sym,
       |    len(regexp_extract_all(text, '[0-9]')) AS n_digit,
       |    len(regexp_extract_all(text, '\\b[A-Z]{2,}\\b')) AS n_caps,
       |    len(regexp_extract_all(text, '\\b(the|a|of|and|to|in)\\b')) AS n_stop
       |  FROM documents),
       |lab AS (
       |  SELECT doc_id, source,
       |    CASE WHEN (n_words BETWEEN 50 AND 100000)
       |      AND (n_nonspace * 100 // greatest(n_words, 1) BETWEEN 300 AND 1000)
       |      AND (n_sym * 10 <= n_words) AND (n_digit * 5 <= n_chars)
       |      AND (n_caps * 10 <= n_words) AND (n_stop >= 2)
       |    THEN 1 ELSE 0 END AS y
       |  FROM met),
       |toksall AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS t
       |  FROM documents),
       |tb AS (
       |  SELECT tk.doc_id,
       |    CAST(((xxh.hs % $HashBuckets) + $HashBuckets) % $HashBuckets
       |      AS BIGINT) AS j
       |  FROM toksall tk JOIN xxh USING (t)),
       |cnt AS (SELECT doc_id, j, count(*) AS c FROM tb GROUP BY doc_id, j),
       |fh AS (
       |  SELECT c.doc_id, c.j, c.c * 1000 // greatest(m.n_words, 1) AS x
       |  FROM cnt c JOIN met m USING (doc_id)),
       |vm AS (
       |  SELECT doc_id,
       |    greatest(50 - n_words, 0) + greatest(n_words - 100000, 0) AS m0,
       |    greatest(300 - (n_nonspace * 100 // greatest(n_words, 1)), 0)
       |      + greatest((n_nonspace * 100 // greatest(n_words, 1)) - 1000, 0) AS m1,
       |    greatest(n_sym * 10 - n_words, 0) AS m2,
       |    greatest(n_digit * 5 - n_chars, 0) AS m3,
       |    greatest(n_caps * 10 - n_words, 0) AS m4,
       |    greatest(2 - n_stop, 0) * 500 AS m5
       |  FROM met),
       |fe AS (
       |${(0 until 6).map(i =>
         s"  SELECT doc_id, CAST(${HashBuckets + i} AS BIGINT) AS j," +
           s" CASE WHEN m$i > 0 THEN 500 + least(m$i, 500) ELSE 0 END AS x FROM vm")
         .mkString("\n  UNION ALL\n")}
       |  UNION ALL
       |  SELECT doc_id, CAST(${NumFeatures - 1} AS BIGINT) AS j, 1000 AS x FROM vm),
       |fl AS (SELECT * FROM fh UNION ALL SELECT * FROM fe),
       |bnd AS (
       |  SELECT max(doc_id) AS b
       |  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT $TrainCap)),
       |ntr AS (
       |  SELECT greatest(count(*), 1) AS n FROM documents
       |  WHERE doc_id <= (SELECT b FROM bnd)),
       |spine AS (SELECT CAST(unnest(range($NumFeatures)) AS BIGINT) AS j),
       |w0 AS (SELECT j, CAST(0 AS BIGINT) AS w FROM spine),
       |$steps""".stripMargin
  }

  /** Training chain + full-corpus scores: `sl(doc_id, source, y, num)`. */
  private def scoreCtesSql: String =
    s"""$trainCtesSql,
       |sc AS (
       |  SELECT f.doc_id, sum(f.x * w.w) AS num
       |  FROM fl f JOIN w$Iters w USING (j) GROUP BY f.doc_id),
       |sl AS (
       |  SELECT l.doc_id, l.source, l.y, s.num
       |  FROM lab l JOIN sc s USING (doc_id))""".stripMargin

  lazy val q194Sql: String =
    s"""WITH $trainCtesSql
       |SELECT j AS feature_id, CAST(w AS BIGINT) AS weight
       |FROM w$Iters ORDER BY feature_id""".stripMargin

  lazy val q195Sql: String =
    s"""WITH $scoreCtesSql
       |SELECT source, count(*) AS n_docs,
       |  count(*) FILTER (WHERE num >= 0) AS n_pred_keep,
       |  count(*) FILTER (WHERE y = 1) AS n_label_keep,
       |  count(*) FILTER (WHERE (num >= 0) = (y = 1)) AS n_agree
       |FROM sl GROUP BY source ORDER BY source""".stripMargin

  lazy val q196Sql: String =
    s"""WITH $scoreCtesSql,
       |pb AS (
       |  SELECT y, greatest(0, least(1000, 500 + num // 4000)) AS p
       |  FROM sl)
       |SELECT CAST(p // 100 AS BIGINT) AS bin, count(*) AS n_docs,
       |  count(*) FILTER (WHERE y = 1) AS n_label_keep,
       |  CAST(sum(p) AS BIGINT) AS sum_p
       |FROM pb GROUP BY bin ORDER BY bin""".stripMargin

  lazy val q197Sql: String =
    s"""WITH $scoreCtesSql
       |SELECT doc_id, source, CAST(y AS BIGINT) AS y,
       |  CAST(num AS BIGINT) AS margin
       |FROM sl WHERE (num >= 0) != (y = 1)
       |ORDER BY abs(num) DESC, doc_id LIMIT 50""".stripMargin

  lazy val q198Sql: String =
    s"""WITH $scoreCtesSql,
       |taus AS (SELECT CAST(unnest([${SweepTaus.mkString(",")}]) AS BIGINT) AS tau)
       |SELECT t.tau, count(*) AS n_docs,
       |  count(*) FILTER (WHERE num >= t.tau) AS n_pred_keep,
       |  count(*) FILTER (WHERE (num >= t.tau) = (y = 1)) AS n_agree
       |FROM sl, taus t GROUP BY t.tau ORDER BY t.tau""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q194_quality_lr_train" -> q194,
    "q195_quality_lr_filter" -> q195,
    "q196_lr_calibration" -> q196,
    "q197_lr_disagreement" -> q197,
    "q198_lr_threshold_sweep" -> q198,
    "q199_lr_weights_persisted" -> q199,
    "q200_lr_model_maintain" -> q200,
    "q201_stream_quality_gate" -> q201)

  val oracle: Map[String, String] = Map(
    "q194_quality_lr_train" -> q194Sql,
    "q195_quality_lr_filter" -> q195Sql,
    "q196_lr_calibration" -> q196Sql,
    "q197_lr_disagreement" -> q197Sql,
    "q198_lr_threshold_sweep" -> q198Sql,
    // persistence-lossless + maintenance twins: full-retrain oracle
    "q199_lr_weights_persisted" -> q194Sql,
    "q200_lr_model_maintain" -> q194Sql,
    // stream gate ≡ batch filter
    "q201_stream_quality_gate" -> q195Sql)
}
