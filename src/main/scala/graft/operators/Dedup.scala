package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OperatorCaches.TrackedDataset
import graft.Tables._
import graft.ops.TextQueries.tokens

/** Deduplication operators for the `documents` corpus (north-star
  * LLM-data-pipeline surface): exact (hash groupBy), token-set Jaccard
  * (pairwise, blocked), MinHash+LSH (the 100 TB path), SimHash.
  *
  * Scale design: exact dedup shuffles a 32-byte digest, never the text;
  * MinHash turns the O(n²) similarity join into band-bucket equi-joins
  * (shuffle on band hash — skew-safe because bucket sizes are bounded by
  * the band collision probability); pairwise Jaccard exists as the
  * correctness oracle for the approximate paths and is explicitly blocked
  * (doc_id < 100) — it is NOT the scale path.
  */
object Dedup {

  /** Canonical text normalization for dedup: lowercase, strip everything
    * but [a-z0-9] and whitespace, collapse whitespace runs, trim.
    * Whitespace is the EXPLICIT class [\t\n\f\r ] rather than \s — Java's
    * \s includes vertical tab (\x0B), RE2's does not, so \s would silently
    * diverge from the DuckDB oracle on a \x0B-bearing document.
    * Normalizing BEFORE exact dedup catches the case/punctuation variants
    * that raw digests miss (the standard canonicalize→dedup order of a
    * pretraining pipeline). */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9\\t\\n\\f\\r ]", ""),
      "[\\t\\n\\f\\r ]+", " "))

  // ── exact dedup ────────────────────────────────────────────────────────

  /** Exact dedup keeping the lowest id per identical text — deterministic,
    * unlike dropDuplicates' arbitrary-row keep. Shuffles (digest, id) only.
    */
  def exactDedupIds(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    exactDedupIdsByDigest(
      docs.select(sha2(col(textCol), 256).as("fp"), col(idCol)), "fp", idCol)

  /** Same keep-min-id convention over an ALREADY-COMPUTED digest column —
    * for callers that stage the digest in a shared projection (q143). */
  def exactDedupIdsByDigest(docs: DataFrame, digestCol: String,
      idCol: String): DataFrame =
    docs.groupBy(col(digestCol))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)

  // q32: exact-dedup stats per source.
  def q32(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_unique"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_dupes"))
      .orderBy(col("source"))

  val q32Sql: String =
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT text) AS n_unique,
      |  count(*) - count(DISTINCT text) AS n_dupes
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // q59: dedup stats on NORMALIZED text vs raw — how many extra duplicates
  //      canonicalization exposes per source (norm_dupes ≥ raw_dupes
  //      always; the gap is the case/punctuation-variant population).
  def q59(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("source"), col("text"), normalizeText(col("text")).as("_norm"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        (count(lit(1)) - countDistinct(col("text"))).as("raw_dupes"),
        (count(lit(1)) - countDistinct(col("_norm"))).as("norm_dupes"))
      .orderBy(col("source"))

  val q59Sql: String =
    """SELECT source, count(*) AS n_docs,
      |  count(*) - count(DISTINCT text) AS raw_dupes,
      |  count(*) - count(DISTINCT trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9\t\n\f\r ]', '', 'g'), '[\t\n\f\r ]+', ' ', 'g'))) AS norm_dupes
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ── token-set Jaccard (exact pairwise; the oracle for MinHash) ─────────

  /** n-token shingles of a text column (n = 1 → plain tokens). Texts with
    * fewer than n tokens contribute one whole-text shingle. Real corpora
    * want n ≥ 3 (unigram sets saturate on small vocabularies — almost
    * every pair looks similar); the fixture queries use n = 1 because the
    * synthetic corpus has a ~40-word vocabulary and its true duplicates
    * are token-set duplicates. */
  def shingles(c: Column, n: Int): Column = shinglesFromTokens(tokens(c), n)

  /** Shingle windows over an ALREADY-MATERIALIZED token array column.
    * Callers on hot paths must stage the token array as a real column
    * first — passing a computed expression here makes the lambda re-derive
    * it once per window (the nested-HOF O(n²) trap; see
    * winnowingFingerprints). */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    if (n <= 1) toks
    else when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Distinct (id, shingle) pairs; token array staged before windowing. */
  private[graft] def distinctTokens(docs: DataFrame, textCol: String,
      idCol: String, gram: Int = 1): DataFrame =
    // per-row-distinct generator (r17): same (doc_id, shingle) rows as
    // the former explode + relational distinct — the dedup happens in
    // the kernel, so the distinct's full string-keyed exchange is gone
    docs.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.graft.WordNGrams.distinctColumn(col(textCol), gram)
        .as("t"))

  /** DIGEST-EARLY shingle windows: xxhash64 each window of an
    * ALREADY-STAGED token-HASH array (array<long>, one xxhash64 per
    * token) — no shingle string is ever built. The string form
    * materializes an array of n-gram strings per row, explodes string
    * rows, and shuffles/distincts/joins on string keys; on the contended
    * driver box that transient-string churn carried 26-39s of task GC in
    * q54/q144 (r12 verdict ask #2). Here the window digest is
    * xxhash64(slice(th, i+1, n)) — an 8-byte join key computed from
    * primitive arrays; shingle equality becomes digest equality (same
    * 64-bit-collision tolerance the MinHash/winnowing families already
    * accept, so Jaccard counts still match the string-shingled oracle).
    * Texts with fewer than n tokens contribute one whole-array digest,
    * mirroring shinglesFromTokens' whole-text shingle. `th` must be a
    * real column (the shinglesFromTokens staging contract — a computed
    * expression re-derives per window). */
  def hashedShinglesFromTokens(th: Column, n: Int): Column =
    if (n <= 1) th
    else when(size(th) < n, array(xxhash64(th)))
      .otherwise(transform(
        sequence(lit(0), size(th) - n),
        i => xxhash64(slice(th, i + 1, lit(n)))))

  /** Distinct (id, shingle-digest) pairs — the digest-early counterpart
    * of distinctTokens for consumers that only ever JOIN/COUNT shingles
    * (the Jaccard-pair core). Consumers that hash the shingle STRING
    * downstream (MinHash signatures, sha-digest decontamination) must
    * stay on distinctTokens: their outputs depend on the string bytes.
    *
    * r17: one fused generator pass (HashedNGrams) — bit-exact with the
    * former transform/slice HOF staging (see the kernel's scaladoc), and
    * per-doc-distinct by construction, so the relational `.distinct()`
    * exchange this used to need is GONE (guide §2.4). */
  private[graft] def distinctHashedShingles(docs: DataFrame, textCol: String,
      idCol: String, gram: Int = 1): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.graft.HashedNGrams.column(col(textCol), gram)
        .as("t"))

  /** Exact shingle-set Jaccard over all pairs sharing ≥1 shingle. With
    * gram=1 (token sets) this is O(pairs) on a saturating vocabulary —
    * bounded blocks / oracle use only. With gram ≥ 3 the shared-shingle
    * equi-join is selective (few docs share a given trigram unless they
    * genuinely overlap), which is why real pipelines shingle before
    * pairing — q54 runs it UNBLOCKED over the corpus.
    *
    * Exact-dup robustness (the SRP 50× lesson applied to text): identical
    * texts share EVERY shingle, so k clones put k² rows per shingle into
    * the join. Identical texts therefore collapse to a min-id
    * representative first; the shingle join runs on unique texts, and
    * group pairs re-expand afterwards. Exactness is preserved, not
    * approximated: members have literally the rep's shingle set, so every
    * expanded pair's (shared, jaccard) equals its pairwise value —
    * intra-group pairs are (n, 1.0), inter-group pairs copy the rep-pair
    * numbers. Collapse is a no-op on a dup-free corpus.
    */
  /** Digest-collapse of identical texts: one row per unique text with its
    * min-id rep, full member list, the rep's text payload, and (when
    * `flag` is given) whether any member satisfies the flag — the shared
    * first stage of jaccardPairs and the ledger queries (q147/q148).
    * min_by(text, doc_id) recovers the rep's text without a join back to
    * docs — self-evidently deterministic and identical in shape to the
    * oracle SQL's min_by (any member's text would do: all values in a
    * sha256 group are identical). Persisted: every caller fans it into
    * multiple consumers. */
  def textGroups(docs: DataFrame, textCol: String, idCol: String,
      flag: Option[Column] = None): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("_text"),
        sha2(col(textCol), 256).as("_fp"),
        flag.getOrElse(lit(false)).as("_flag"))
      .groupBy(col("_fp"))
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("members"),
        max(col("_flag")).as("has_flag"),
        min_by(col("_text"), col("doc_id")).as("_text"))
      .trackedPersist()

  // ── audit-scale gates ───────────────────────────────────────────────
  // The exact all-pairs/full-vocabulary legs (q54's unblocked Jaccard,
  // q179's truth leg, q72's exact-overlap columns) are documented
  // audit-only forms: on a 100 TB corpus they must FAIL FAST with a
  // pointer to the banded production path, not silently run quadratic
  // (r13 verdict ask #4). The caps are deliberate tripwires, not safety
  // proofs — raise the conf knowingly to run a bigger audit.

  /** Pairwise-exact gate: unique-rep count cap for the all-pairs truth
    * legs. Default 1M (the 100× rehearsal runs at ~5k reps — the clone
    * replication collapses; a real 100 TB corpus has billions). */
  private[graft] val MaxRepsConf = "spark.graft.audit.maxReps"
  private[graft] val MaxRepsDefault = 1000000L

  /** Linear-but-exact gate: row cap for a full-vocabulary exact relation
    * (q72's distinct (source, shingle) set). */
  private[graft] val MaxExactRowsConf = "spark.graft.audit.maxExactRows"
  private[graft] val MaxExactRowsDefault = 50000000L

  /** Fail fast when an audit-only exact leg is pointed at a corpus above
    * its cap. Counts at most cap+1 rows of the FIRST column only — the
    * non-terminal Limit plans a single-partition shuffle, so counting a
    * wide relation (text payloads, member arrays) through it costs real
    * wall time (measured ~1s on q54's groups frame); a narrow column
    * keeps the gate at scheduling noise. PASSED gates memoize per JVM on
    * the canonical plan: the gate is a misuse TRIPWIRE, not a
    * per-invocation recount — bench/rehearsal loops re-invoke the same
    * query dozens of times per session and must not pay the bounded
    * count (2 extra jobs) every time. Data growing under an identical
    * plan within one driver session won't re-trip; a new session (or a
    * changed cap) re-checks. */
  private val auditGatePassed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Long)]()

  private[graft] def requireAuditScale(rel: DataFrame, what: String,
      confKey: String, default: Long, production: String,
      exactRel: Option[DataFrame] = None): Unit = {
    val cap = rel.sparkSession.conf.getOption(confKey)
      .map(_.toLong).getOrElse(default)
    val key = (rel.queryExecution.analyzed.semanticHash(), cap)
    if (auditGatePassed.contains(key)) return
    // cap+1 beyond Int.MaxValue can't be expressed as a limit — a
    // truncated limit would SATURATE below the cap and silently pass any
    // corpus (disabling the gate exactly when the user raised it for a
    // huge deliberate audit). Fall back to a full count there: at caps
    // that size the user has already accepted a corpus-scale pass.
    def bounded(df: DataFrame): Long = {
      val narrow = df.select(col(df.columns.head))
      if (cap >= Int.MaxValue.toLong - 1) narrow.count()
      else narrow.limit((cap + 1).toInt).count()
    }
    // two-stage: the cheap over-approximation (raw input rows ≥ unique
    // reps) passes without ever building the exact relation; only a
    // corpus ABOVE the cheap bound pays the exact count — so a
    // clone-heavy corpus whose reps fit (the rehearsal regime) is not
    // falsely refused, while a genuine 100 TB misuse still fails after
    // one bounded count of each relation
    val n = bounded(rel) match {
      case under if under <= cap => under
      case _ => exactRel.map(bounded).getOrElse(cap + 1)
    }
    require(n <= cap,
      s"$what is an audit-only exact form and was given > $cap rows " +
        s"(conf $confKey). At this scale use the production path " +
        s"($production), or raise $confKey deliberately for a larger audit.")
    auditGatePassed.add(key): Unit
  }

  def jaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      gram: Int = 1): DataFrame = {
    // two-stage gate: the RAW input id column (|docs| ≥ |unique reps|)
    // passes without paying the sha-groupBy collapse; only an over-bound
    // corpus pays the exact rep count before the verdict — so a
    // clone-heavy >cap corpus whose reps fit still runs
    val groups = textGroups(docs, textCol, idCol)
    requireAuditScale(docs.select(col(idCol)),
      "jaccardPairs (exact shingle Jaccard)",
      MaxRepsConf, MaxRepsDefault,
      "Dedup.minhashDedupIds / repJaccardEdges banded candidates",
      exactRel = Some(groups.select(col("rep"))))
    jaccardPairsUngated(groups, gram)
  }

  /** jaccardPairs over an ALREADY-BUILT textGroups frame — lets ledger
    * callers pay the scan+digest collapse once and reuse it for exact-rep
    * derivation. toks is persisted (self-join x/y + sizes consumers) —
    * the same structural guarantee as winnowingShaPairs, instead of
    * best-effort exchange reuse (see that function's comment for the
    * observed failure mode). */
  def jaccardPairsFromGroups(groups: DataFrame, gram: Int): DataFrame = {
    requireAuditScale(groups.select(col("rep")),
      "jaccardPairs (exact shingle Jaccard)",
      MaxRepsConf, MaxRepsDefault,
      "Dedup.minhashDedupIds / repJaccardEdges banded candidates")
    jaccardPairsUngated(groups, gram)
  }

  private def jaccardPairsUngated(groups: DataFrame, gram: Int): DataFrame = {
    val (repPairs, sizes) = repPairStats(groups, gram)
    expandGroupPairs(repPairs, groups, sizes)
  }

  /** Rep-level Jaccard pair statistics (no member expansion): the shared
    * shingle-join + count core of jaccardPairsFromGroups. Returns
    * (pairs with shared/n_a/n_b/jaccard, per-rep sizes). */
  private[graft] def repPairStats(groups: DataFrame,
      gram: Int): (DataFrame, DataFrame) = {
    val repDocs = groups.select(col("rep").as("doc_id"), col("_text"))
    // digest-early: the pair core only joins/counts shingles, so the
    // 8-byte window digests replace string shingles end-to-end (persist,
    // shuffle, self-join, distinct all carry longs)
    val toks = distinctHashedShingles(repDocs, "_text", "doc_id", gram)
      .trackedPersist()
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val repPairs = toks.as("x")
      .join(toks.as("y"),
        col("x.t") === col("y.t") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("shared") / (col("n_a") + col("n_b") - col("shared")))
    (repPairs, sizes)
  }

  /** Rep-level Jaccard EDGES at a threshold — the contracted-graph input
    * for clustering (Clusters.contractedDupClusters). Never expands to
    * members: clone cliques are implied by the groups frame itself. */
  def repJaccardEdges(groups: DataFrame, gram: Int,
      threshold: Double): DataFrame = {
    val (repPairs, _) = repPairStats(groups, gram)
    repPairs.filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Rep-level Jaccard EDGES restricted to pairs where at least one side
    * holds a flagged member (textGroups' has_flag) — the incremental-
    * maintenance shape (q148): only flag-touching pairs are new work, a
    * prior run already contracted the rest. Same shingle staging, shared
    * counts, and shared/(n_a+n_b-shared) formula as jaccardPairsFromGroups
    * — one definition of the mechanism, side-predicate aside. Returns
    * (id_a, id_b) of rep pairs with jaccard ≥ threshold. */
  def crossJaccardEdges(groups: DataFrame, gram: Int,
      threshold: Double): DataFrame = {
    // fused HashedNGrams staging (bit-exact, per-doc-distinct by
    // construction — has_flag is a per-doc constant, so the relational
    // distinct this replaced was equivalent to the generator's dedup)
    val toksAll = groups.select(col("rep").as("doc_id"), col("has_flag"),
        org.apache.spark.sql.graft.HashedNGrams.column(col("_text"), gram)
          .as("t"))
      .trackedPersist()
    val sizes = toksAll.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    toksAll.filter(col("has_flag")).as("x")
      .join(toksAll.as("y"),
        col("x.t") === col("y.t") && col("x.doc_id") =!= col("y.doc_id") &&
          (!col("y.has_flag") || col("x.doc_id") < col("y.doc_id")))
      .groupBy(
        least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .filter(col("shared") / (col("n_a") + col("n_b") - col("shared")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Expansion for jaccardPairs: intra-group pairs carry (shared = group
    * set size, jaccard = 1.0) — exact for identical texts. */
  private def expandGroupPairs(repPairs: DataFrame, groups: DataFrame,
      sizes: DataFrame): DataFrame = {
    val inter = GroupExpand.expandInter(repPairs, groups, Seq("shared", "jaccard"))
    val intra = GroupExpand.intraPairs(groups)
      .join(sizes.select(col("doc_id").as("rep"), col("n")), "rep")
      .select(col("id_a"), col("id_b"),
        col("n").as("shared"), lit(1.0).as("jaccard"))
    inter.unionByName(intra)
  }

  // q33: exact Jaccard near-dup pairs on a bounded block (doc_id < 100).
  def q33(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(documents(s, dir).filter(col("doc_id") < 100), "text", "doc_id")
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a"), col("id_b"), col("shared"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  val q33Sql: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, t FROM (
      |    SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t
      |    FROM documents WHERE doc_id < 100)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
      |pairs AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared
      |  FROM toks x JOIN toks y ON x.t = y.t AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, shared,
      |  shared / (sa.n + sb.n - shared) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON id_a = sa.doc_id
      |JOIN sizes sb ON id_b = sb.doc_id
      |WHERE shared / (sa.n + sb.n - shared) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  // q54: trigram-shingle Jaccard near-dup pairs over the FULL corpus — no
  //      block key needed: 3-gram shingles are selective (unigram sets
  //      saturate on this vocabulary; trigrams only collide on real
  //      overlap), so the shared-shingle equi-join stays near-linear.
  def q54(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(documents(s, dir), "text", "doc_id", gram = 3)
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), col("shared"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  val q54Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, t FROM (
      |    SELECT doc_id,
      |      unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |        ELSE [array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2], ' ')
      |              for i in range(1, len(toks) - 1)]
      |      END) AS t
      |    FROM tok)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared
      |  FROM sh x JOIN sh y ON x.t = y.t AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, shared,
      |  shared / (sa.n + sb.n - shared) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON id_a = sa.doc_id
      |JOIN sizes sb ON id_b = sb.doc_id
      |WHERE shared / (sa.n + sb.n - shared) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  // ── MinHash + LSH (the scale path) ─────────────────────────────────────

  /** Mersenne prime 2^31-1; keeps a*h+b within Long without overflow. */
  private val P = 2147483647L
  private val NumHashes = 64
  private val BandRows = 4

  /** Deterministic permutation coefficients (fixed seed — signatures are
    * reproducible across runs and clusters). */
  private val coeffs: Array[(Long, Long)] = {
    val rng = new scala.util.Random(20240812L)
    Array.fill(NumHashes) {
      val a = 1L + math.floorMod(rng.nextLong(), P - 1)
      val b = math.floorMod(rng.nextLong(), P)
      (a, b)
    }
  }

  /** Per-doc MinHash signature: one hash-agg pass, 64 `min` aggregates over
    * permuted token hashes (no per-permutation explode). Output:
    * (doc_id, m0..m63, sig array<long>).
    */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      gram: Int = 1): DataFrame = {
    // NO relational distinct before the 64-min-agg (r17, guide §2.3/§2.4):
    // at gram=1 (every production caller) the staged hash depends only on
    // xxhash64(token), which is exactly what the fused HashedNGrams
    // generator emits PER-DOC-DISTINCT — so the former distinct's full
    // string-keyed shuffle disappears while the 64-min agg still sees one
    // row per distinct (doc, token), and the exchange carries 64 longs
    // per doc instead of every distinct token string. Signatures are
    // bit-identical (HashedNGramsSpec pins the digest parity). gram > 1
    // keeps the string staging: its hash digests the shingle STRING, which
    // the window-fold digests deliberately do not reproduce.
    val toks =
      if (gram <= 1)
        docs.select(col(idCol).as("doc_id"),
          org.apache.spark.sql.graft.HashedNGrams.column(col(textCol), 1).as("t"))
      else
        distinctTokens(docs, textCol, idCol, gram)
          .select(col("doc_id"), xxhash64(col("t")).as("t"))
    BandedLsh.signatures(toks, minhashScheme(BandRows))
      .withColumn("sig", array((0 until NumHashes).map(i => col(s"m$i")): _*))
  }

  /** The xxhash64 MinHash scheme at `rows` rows per band. */
  private[graft] def minhashScheme(rows: Int): SignatureScheme =
    BandedLsh.xxhash(coeffs, P, rows)

  /** LSH candidate pairs: 16 bands × 4 rows; docs sharing any band bucket
    * become candidates; est_jaccard = matching-component fraction of the
    * full signatures. The band join shuffles only (band, hash, id).
    *
    * Identical signatures collapse behind a min-id representative before
    * the band join (they'd collide in every band — k clones → k²·bands
    * joined rows); member pairs re-expand afterwards with est_jaccard
    * copied (identical signatures ⇒ the per-pair estimate is the same
    * value, 1.0 intra-group). No-op on a signature-distinct corpus.
    */
  def minhashCandidates(docs: DataFrame, textCol: String, idCol: String,
      gram: Int = 1): DataFrame = {
    val (groups, repPairs) =
      minhashRepPairs(docs, textCol, idCol, gram, BandRows)
    expandCandidates(repPairs, groups)
  }

  /** Rep-level (id_a, id_b, est_jaccard) back to member pairs: inter-group
    * pairs copy the estimate, intra-group pairs are 1.0. */
  private def expandCandidates(repPairs: DataFrame, groups: DataFrame): DataFrame =
    GroupExpand.expandInter(repPairs, groups, Seq("est_jaccard"))
      .unionByName(GroupExpand.intraPairs(groups)
        .select(col("id_a"), col("id_b"), lit(1.0).as("est_jaccard")))

  /** Signature GROUPS plus REPRESENTATIVE-level candidate pairs
    * (id_a < id_b, est_jaccard) for one banding geometry — the shared
    * pre-expansion core of [[minhashCandidates]] (which re-expands to
    * member pairs, its output semantics) and [[minhashDedupIds]] (which
    * never needs member pairs at all — r15 VERDICT).
    *
    * The group KEY is the signature, so reps need no join back to sigs:
    * component i is sig[i]. `groups` is persisted: every downstream
    * relation (repSigs → buckets x/y + sa + sb, expansion, intra) is a
    * cheap projection of it, so one materialization runs the 64-min-agg
    * signature pass exactly once (see winnowingShaPairs for rationale). */
  private[graft] def minhashRepPairs(docs: DataFrame, textCol: String,
      idCol: String, gram: Int, bandRows: Int): (DataFrame, DataFrame) = {
    val groups = minhashGroups(docs, textCol, idCol, gram).trackedPersist()
    (groups, repPairsFromGroups(groups, bandRows))
  }

  /** The band-join half of [[minhashRepPairs]] over PRE-BUILT signature
    * groups — factored out so a multi-geometry consumer (the q203
    * threshold sweep) pays the 64-min-agg signature pass once. */
  private[graft] def repPairsFromGroups(groups: DataFrame,
      bandRows: Int): DataFrame =
    repPairsWithSigs(groups, bandRows)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))

  /** [[repPairsFromGroups]] keeping BOTH reps' signature components
    * (xa0..xa63 / xb0..xb63) alongside est_jaccard. A consumer that needs
    * membership at a FINER band geometry (larger r, a multiple of this
    * join's bandRows) derives it from these columns by tuple equality —
    * band geometries nest (rows 0..15 equal ⇒ rows 0..7 and 8..15 equal),
    * so the finer pair set is a subset of this one and needs no second
    * band join (the q203 sweep rides on exactly that). */
  private[graft] def repPairsWithSigs(groups: DataFrame,
      bandRows: Int): DataFrame =
    BandedLsh.selfPairs(groups, minhashScheme(bandRows))

  /** Banding rows matched to a dedup threshold τ: the largest r (over the
    * fixed 64-hash signature) whose S-curve midpoint (1/b)^(1/r) stays
    * at-or-below τ. Recall at the midpoint itself is 1-(1-1/b)^b ≈ 63%
    * and climbs steeply above it — at τ=0.9 this picks r=8/b=8
    * (midpoint 0.771, recall 1-(1-0.9^8)^8 = 98.9% at exactly 0.9),
    * cutting the candidate graph by orders of magnitude vs the legacy
    * 16×4 geometry whose τ≈0.5 midpoint makes the graph near-complete on
    * a clone-heavy corpus (r15 VERDICT). τ ≤ 0.771 falls back to 16×4 —
    * the published q34/q106 oracle geometry. A side benefit at τ > 1-b/n
    * (0.875 for 8×8): any pair with est ≥ τ has < b mismatched
    * components, so some band matches EXACTLY — the xxhash64 bucket join
    * provably loses nothing to hash collisions at the drop threshold. */
  private[graft] def bandRowsFor(threshold: Double): Int =
    Seq(32, 16, 8).find { r =>
      math.pow(1.0 * r / NumHashes, 1.0 / r) <= threshold
    }.getOrElse(BandRows)

  /** MinHash-LSH dedup KEEP-set: drop every doc that is the higher-id
    * member of a candidate pair at-or-above `threshold` (keep-lowest-id
    * within clusters); returns the surviving ids as `idCol`.
    *
    * Computed entirely at the REPRESENTATIVE level — this never routes
    * through [[minhashCandidates]]' member-pair expansion, because on a
    * clone-heavy corpus Σk² intra-group pairs is exactly the blow-up the
    * signature-group collapse exists to avoid, and drop-ids need none of
    * it (r15 VERDICT):
    *   - a non-rep member always pairs at est 1.0 with its own smaller-id
    *     rep, so it drops whenever threshold ≤ 1.0;
    *   - a rep drops iff some ≥threshold band-paired partner GROUP has a
    *     smaller rep — a partner's members are all ≥ that partner's rep,
    *     so a larger-rep group can never supply the smaller side of a
    *     pair against this rep.
    * DedupSpec pins equality with the filter-the-candidates formulation.
    * Banding is τ-matched via [[bandRowsFor]]; the DuckDB oracle replays
    * the same geometry (q202Sql), so candidate gates AND estimates stay
    * bit-for-bit.
    *
    * RECALL SEMANTICS (the band join is an LSH prefilter, so recall at τ
    * is a property of the geometry, not of this function): a pair with
    * est ≥ τ is caught DETERMINISTICALLY only when τ > 1 - b/n — then it
    * has < b mismatched components, so pigeonhole forces one exactly-
    * matching band (0.875 for r=8/b=8, 0.75 for the legacy 4×16). For τ
    * between the geometry's S-curve midpoint and that bound the drop is
    * PROBABILISTIC: e.g. τ=0.8 under r=8/b=8 — a pair at est ∈ [0.8,
    * 0.875) can have up to 12 mismatches and, worst-placed, corrupt all 8
    * bands; expected recall is 1-(1-est^r)^b ≈ 77% at est exactly 0.8,
    * climbing to ~97% by 0.875 (the legacy 4-row bands caught every
    * est > 0.75 pair deterministically — at the price of a near-complete
    * candidate graph on a clone-heavy corpus). That trade is standard
    * MinHash-LSH practice and deliberate here; a caller needing
    * deterministic recall picks τ above the geometry's 1 - b/n bound, as
    * the production default 0.9 > 0.875 does. The q203 sweep's 0.8 leg
    * sits in the lossy band BY DESIGN — it reports each τ at the
    * geometry production would use, oracle replaying the same bands. */
  def minhashDedupIds(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double, gram: Int = 1): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1]: $threshold")
    val (groups, repPairs) =
      minhashRepPairs(docs, textCol, idCol, gram, bandRowsFor(threshold))
    val dropReps = repPairs.filter(col("est_jaccard") >= threshold)
      .select(col("id_b").as("drop_id"))
    // linear in members — one row per doc, never pairs; every non-rep
    // pairs at est 1.0 ≥ threshold with its own smaller-id rep (the
    // require above pins threshold ≤ 1.0, so this drop is unconditional)
    val nonReps =
      groups.select(col("rep"), explode(col("members")).as("drop_id"))
        .filter(col("drop_id") =!= col("rep")).select(col("drop_id"))
    val dropIds = dropReps.unionByName(nonReps).distinct()
    docs.join(dropIds, col(idCol) === col("drop_id"), "left_anti")
      .select(col(idCol))
  }

  // q34: MinHash-LSH candidate near-dup pairs (est_jaccard ≥ 0.5) on the
  //      same doc_id<100 block as q33, so approximate (q34) and exact
  //      (q33) are directly comparable. Oracle-green since round 9: the
  //      generated Xxh64Sql oracle replays xxhash64 + the seeded
  //      permutations in DuckDB bit-for-bit; recall vs the q33 exact
  //      oracle stays asserted in DedupSpec.
  def q34(s: SparkSession, dir: String): DataFrame =
    minhashCandidates(documents(s, dir).filter(col("doc_id") < 100),
        "text", "doc_id")
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** DuckDB oracle for the PRODUCTION xxhash64 MinHash (q34/q106) — the
    * generated-SQL replay of the exact seeded pipeline (see Xxh64Sql).
    * Candidates are gated on band-tuple equality (≡ the bucket-hash
    * equi-join modulo 64-bit collisions) and the estimate is k/64 —
    * binary-exact, no float-parity scheme needed. Converted from
    * rows-only in round 9. */
  private def minhashOracleSql(docSrc: String, pairCond: String,
      aCol: String, bCol: String): String =
    s"""WITH ${graft.sql.Xxh64Sql.minhashSigsCtes(docSrc, coeffs, P)},
       |xpairs AS (
       |  SELECT x.doc_id AS $aCol, y.doc_id AS $bCol,
       |    ${graft.sql.Xxh64Sql.estExpr("x", "y", NumHashes)} AS est_jaccard
       |  FROM xsigs x JOIN xsigs y
       |    ON $pairCond
       |   AND ${graft.sql.Xxh64Sql.bandMatch("x", "y", NumHashes, BandRows)})
       |SELECT * FROM xpairs WHERE est_jaccard >= 0.5
       |ORDER BY $aCol, $bCol""".stripMargin

  val q34Sql: String = minhashOracleSql(
    "SELECT doc_id, text FROM documents WHERE doc_id < 100",
    "x.doc_id < y.doc_id", "id_a", "id_b")

  /** q35 oracle: the production xxhash64 SimHash replayed in DuckDB —
    * occurrence-weighted bit sums over the Xxh64Sql token hashes (bit j
    * of the two's-complement hash = bit j of the unsigned form, so the
    * ±1 votes read straight off `ux`), final 64-bit assembly as a
    * HUGEINT sum of powers reinterpreted signed. Converted from
    * rows-only in round 9. */
  val q35Sql: String = {
    val bitSums = (0 until 64).map(j =>
      s"sum(CAST((ux >> $j) & 1 AS BIGINT) * 2 - 1) AS b$j")
      .mkString(",\n    ")
    val hashSum = (0 until 64).map(j =>
      s"CASE WHEN b$j > 0 THEN ${java.math.BigInteger.ONE.shiftLeft(j)}::HUGEINT ELSE 0::HUGEINT END")
      .mkString(" + ")
    s"""WITH ${graft.sql.Xxh64Sql.tokenHashCtes(
        "SELECT DISTINCT unnest(regexp_extract_all(text, '\\S+')) AS t FROM documents")},
       |occ AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS t
       |  FROM documents),
       |oh AS (SELECT occ.doc_id, xxh.ux FROM occ JOIN xxh USING (t)),
       |bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM oh GROUP BY doc_id),
       |asm AS (
       |  SELECT doc_id, ($hashSum) AS s
       |  FROM bits)
       |SELECT doc_id,
       |  CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
       |    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT)
       |    AS simhash
       |FROM asm ORDER BY doc_id""".stripMargin
  }

  /** q42 oracle: xxhash64 winnowing replayed in DuckDB — every 8-char
    * gram of every doc hashed via Xxh64Sql (distinct grams hashed once,
    * joined back by position), window-of-4 minima over the SIGNED
    * values (Spark's array_min on bigint), distinct fingerprints.
    * Docs shorter than one gram emit (0, NULL) on both sides. Converted
    * from rows-only in round 9. */
  val q42Sql: String =
    s"""WITH ${graft.sql.Xxh64Sql.tokenHashCtes(
        """SELECT DISTINCT g AS t FROM (
          |    SELECT substr(text, CAST(i AS INT), 8) AS g
          |    FROM (SELECT text,
          |      unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS i
          |    FROM documents))""".stripMargin)},
       |gr AS (
       |  SELECT doc_id, i, substr(text, CAST(i AS INT), 8) AS g
       |  FROM (SELECT doc_id, text,
       |    unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS i
       |  FROM documents)),
       |gh AS (SELECT gr.doc_id, gr.i, xxh.hs FROM gr JOIN xxh ON gr.g = xxh.t),
       |lst AS (SELECT doc_id, list(hs ORDER BY i) AS gl FROM gh GROUP BY doc_id),
       |fp AS (
       |  SELECT doc_id,
       |    CASE WHEN len(gl) < 4 THEN [list_min(gl)]
       |         ELSE list_distinct([list_min(gl[j:j+3])
       |                             FOR j IN range(1, len(gl) - 2)])
       |    END AS fps
       |  FROM lst)
       |SELECT d.doc_id,
       |  CAST(coalesce(len(fp.fps), 0) AS BIGINT) AS n_fp,
       |  list_min(fp.fps) AS min_fp
       |FROM documents d LEFT JOIN fp USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ── sha256 MinHash (cross-engine-reproducible variant) ─────────────────

  /** MinHash on SHA-256 instead of xxhash64: both Spark (`sha2(s,256)`) and
    * DuckDB (`sha256(s)`) emit the same lowercase hex, so the WHOLE
    * MinHash-LSH pipeline — signatures, band buckets, candidate pairs,
    * est_jaccard — is oracle-verifiable bit-for-bit (the q48 content-hash
    * pattern applied to dedup). Permutation i is the i-th 8-hex-char slice
    * of ONE digest — 8 independent 32-bit hash functions for ONE crypto
    * hash per token (the salted-prefix form paid 8× the sha cost, and sha
    * dominates the corpus-wide queries q103/q105); the min is
    * lexicographic over hex (uniform, order-preserving). 8 perms banded
    * 4×2. Still costlier per token than xxhash64 — the production path
    * stays q34; this is the hard-signal correctness twin.
    */
  def minhashShaSignatures(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    // no relational distinct before the 8 substring-mins (r17, guide
    // §2.3/§2.4): the per-row-distinct WordNGrams generator dedups tokens
    // in the kernel — sha2 still runs once per distinct (doc, token), but
    // the former distinct's full string-keyed shuffle is gone and only 8
    // hex slices per doc cross the exchange.
    BandedLsh.signatures(docs.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.graft.WordNGrams.distinctColumn(col(textCol), 1).as("t")),
      BandedLsh.Sha256)
  }

  /** Signature groups (sig, rep, members) of the sha256 signatures. */
  private[graft] def minhashShaGroups(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    BandedLsh.groups(minhashShaSignatures(docs, textCol, idCol), BandedLsh.Sha256.k)

  /** LSH candidates + est_jaccard from the sha256 signatures; same shape as
    * minhashCandidates (band equi-join, (band, bucket, id) shuffle only),
    * including the identical-signature collapse — the oracle (pairwise SQL)
    * confirms the expansion is exact, not approximate. */
  def minhashShaCandidates(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    // persisted for the same single-materialization guarantee as
    // minhashCandidates
    val groups = minhashShaGroups(docs, textCol, idCol).trackedPersist()
    expandCandidates(BandedLsh.selfPairs(groups, BandedLsh.Sha256), groups)
  }

  // q51: sha256-MinHash-LSH near-dup candidates (est_jaccard ≥ 0.5) on the
  //      q33/q34 block — the oracle-able twin of q34: DuckDB reproduces the
  //      full signature→band→candidate→estimate pipeline exactly
  //      (est_jaccard = k/8 is binary-exact, no float-parity scheme needed).
  def q51(s: SparkSession, dir: String): DataFrame =
    minhashShaCandidates(documents(s, dir).filter(col("doc_id") < 100),
        "text", "doc_id")
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("id_a"), col("id_b"))

  val q51Sql: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t
      |  FROM documents WHERE doc_id < 100),
      |sigs AS (
      |  SELECT doc_id,
      |    min(substring(sha256(t), 1, 8)) AS m0, min(substring(sha256(t), 9, 8)) AS m1,
      |    min(substring(sha256(t), 17, 8)) AS m2, min(substring(sha256(t), 25, 8)) AS m3,
      |    min(substring(sha256(t), 33, 8)) AS m4, min(substring(sha256(t), 41, 8)) AS m5,
      |    min(substring(sha256(t), 49, 8)) AS m6, min(substring(sha256(t), 57, 8)) AS m7
      |  FROM toks GROUP BY doc_id),
      |buckets AS (
      |  SELECT doc_id, 0 AS band, m0 || '|' || m1 AS bh FROM sigs
      |  UNION ALL SELECT doc_id, 1, m2 || '|' || m3 FROM sigs
      |  UNION ALL SELECT doc_id, 2, m4 || '|' || m5 FROM sigs
      |  UNION ALL SELECT doc_id, 3, m6 || '|' || m7 FROM sigs),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM buckets x JOIN buckets y
      |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)
      |SELECT id_a, id_b,
      |  ((sa.m0 = sb.m0)::INT + (sa.m1 = sb.m1)::INT + (sa.m2 = sb.m2)::INT +
      |   (sa.m3 = sb.m3)::INT + (sa.m4 = sb.m4)::INT + (sa.m5 = sb.m5)::INT +
      |   (sa.m6 = sb.m6)::INT + (sa.m7 = sb.m7)::INT) / 8.0 AS est_jaccard
      |FROM cand JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id
      |WHERE ((sa.m0 = sb.m0)::INT + (sa.m1 = sb.m1)::INT + (sa.m2 = sb.m2)::INT +
      |       (sa.m3 = sb.m3)::INT + (sa.m4 = sb.m4)::INT + (sa.m5 = sb.m5)::INT +
      |       (sa.m6 = sb.m6)::INT + (sa.m7 = sb.m7)::INT) / 8.0 >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  // ── incremental near-dup (continuous-crawl screening) ─────────────────

  /** Signature GROUPS (sig, rep, members) for one side of the incremental
    * screen — plain rows, so a production pipeline PERSISTS the history
    * side once per ingest (parquet) and every later batch screens against
    * the artifact without re-signing history (q106 does exactly that via
    * graft.Fixtures; q181 is the band-index sibling). */
  def minhashGroups(docs: DataFrame, textCol: String, idCol: String,
      gram: Int = 1): DataFrame =
    BandedLsh.groups(minhashSignatures(docs, textCol, idCol, gram), NumHashes)

  /** PRODUCTION form of the incremental screen: xxhash64 MinHash (q34's
    * 64-perm / 16-band geometry — better estimates and ~no crypto cost vs
    * the 8-slice sha twin, but not DuckDB-replayable). Same collapse →
    * band equi-join → expand shape as [[incrementalNearDupSha]]; recall
    * behavior is pinned against the sha twin in MergeScd2Spec.
    */
  def incrementalNearDup(history: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, gram: Int = 1): DataFrame =
    incrementalNearDupIndexed(
      minhashGroups(history, textCol, idCol, gram), batch, textCol, idCol,
      gram)

  /** The screen against a PRE-BUILT history group index (sig, rep,
    * members) — the artifact form of [[incrementalNearDup]]'s history
    * side; output is identical whether the index is derived inline or
    * read back from parquet (the oracle is side-independent). */
  def incrementalNearDupIndexed(histGroups: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, gram: Int = 1): DataFrame = {
    val hg = histGroups.trackedPersist()
    val bg = minhashGroups(batch, textCol, idCol, gram).trackedPersist()
    GroupExpand.expandCross(incrementalRepScreen(hg, bg), bg, hg)
  }

  /** The PRE-EXPANSION screen of [[incrementalNearDupIndexed]] (and, with
    * the sha256 scheme, of [[incrementalNearDupSha]]): rep-level band
    * equi-join + distinct + signature-match estimate over two group
    * frames (sig, rep, members). Factored out so the group-collapse
    * contract is machine-checkable (DedupSpec): on a clone-adversarial
    * corpus the screen's cardinality is bounded by groups², never
    * members² — any member blow-up (q106's 136M pairs at 100×) happens
    * strictly in the expansion, which is the fixture's semantics. */
  private[graft] def incrementalRepScreen(hg: DataFrame, bg: DataFrame,
      scheme: SignatureScheme = minhashScheme(BandRows)): DataFrame =
    BandedLsh.crossPairs(bg, hg, scheme)

  /** Rep-level cross candidates: identical signatures collapse to a
    * min-id rep PER SIDE before any pairing (the GroupExpand discipline),
    * so the band join and estimate run once per (new-group × hist-group),
    * not once per clone pair — the 50× rehearsal measured the uncollapsed
    * q103 at 105s/71.7M pairs vs 64.5s collapsed, same output. Returns
    * (repPairs(new_id, hist_id, est_jaccard), histGroups, batchGroups). */
  private def crossRepCandidates(history: DataFrame, batch: DataFrame,
      textCol: String, idCol: String): (DataFrame, DataFrame, DataFrame) = {
    val hg = minhashShaGroups(history, textCol, idCol).trackedPersist()
    val bg = minhashShaGroups(batch, textCol, idCol).trackedPersist()
    (incrementalRepScreen(hg, bg, BandedLsh.Sha256), hg, bg)
  }

  /** Screen a NEW batch against an existing corpus WITHOUT re-pairing the
    * corpus with itself: signatures for both sides, band buckets, and a
    * batch→history band equi-join only — shuffle volume is
    * O((batch + history) × bands) and the history×history quadrant never
    * pairs. At scale the history side is a maintained signature/band
    * index (written once per ingest, q82's digest-index pattern); here it
    * is derived inline. sha256 MinHash (q51's geometry) so DuckDB replays
    * candidates AND estimates bit-for-bit. Clone blow-up note: a real
    * pipeline runs exact dedup (q32/q82) on the batch first, so member
    * multiplicity is 1 by the time LSH pairing runs — the same reason
    * trainingPrep orders its stages that way.
    */
  def incrementalNearDupSha(history: DataFrame, batch: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val (repPairs, hg, bg) = crossRepCandidates(history, batch, textCol, idCol)
    GroupExpand.expandCross(repPairs, bg, hg)
  }

  /** Per-batch-doc leakage summary: for every batch doc with a near-dup
    * in history at ≥ threshold, its strongest estimate and the COUNT of
    * matching history docs — the audit shape. Aggregated at rep level
    * (count = Σ matched history group sizes, max over identical-estimate
    * members), then only the BATCH side expands: output is ≤ |batch|
    * rows no matter how clone-heavy the corpus. The full pair expansion
    * (incrementalNearDupSha's contract) measured 3.6 BILLION rows on the
    * 50× clone-heavy rehearsal for the q105 split — a pair list is a
    * dedup input, not an audit. */
  def crossLeakReport(history: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, threshold: Double): DataFrame = {
    val (repPairs, hg, bg) = crossRepCandidates(history, batch, textCol, idCol)
    repPairs.filter(col("est_jaccard") >= threshold)
      .join(hg.select(col("rep").as("hist_id"),
        size(col("members")).as("_nh")), "hist_id")
      .groupBy(col("new_id"))
      .agg(sum(col("_nh")).cast("long").as("n_train_matches"),
        max(col("est_jaccard")).as("max_est"))
      .join(bg.select(col("rep").as("new_id"), col("members").as("_ms")),
        "new_id")
      .select(explode(col("_ms")).as("val_id"),
        col("n_train_matches"), col("max_est"))
  }

  // q103: screen the doc_id ≥ 400 "incoming crawl" against the < 400
  //       history; emit every near-dup hit (est_jaccard ≥ 0.5).
  def q103(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    incrementalNearDupSha(
        d.filter(col("doc_id") < 400), d.filter(col("doc_id") >= 400),
        "text", "doc_id")
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("new_id"), col("hist_id"))
  }

  val q103Sql: String =
    """WITH htoks AS (
      |  SELECT DISTINCT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t
      |  FROM documents WHERE doc_id < 400),
      |btoks AS (
      |  SELECT DISTINCT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t
      |  FROM documents WHERE doc_id >= 400),
      |hsigs AS (
      |  SELECT doc_id,
      |    min(substring(sha256(t), 1, 8)) AS m0, min(substring(sha256(t), 9, 8)) AS m1,
      |    min(substring(sha256(t), 17, 8)) AS m2, min(substring(sha256(t), 25, 8)) AS m3,
      |    min(substring(sha256(t), 33, 8)) AS m4, min(substring(sha256(t), 41, 8)) AS m5,
      |    min(substring(sha256(t), 49, 8)) AS m6, min(substring(sha256(t), 57, 8)) AS m7
      |  FROM htoks GROUP BY doc_id),
      |bsigs AS (
      |  SELECT doc_id,
      |    min(substring(sha256(t), 1, 8)) AS m0, min(substring(sha256(t), 9, 8)) AS m1,
      |    min(substring(sha256(t), 17, 8)) AS m2, min(substring(sha256(t), 25, 8)) AS m3,
      |    min(substring(sha256(t), 33, 8)) AS m4, min(substring(sha256(t), 41, 8)) AS m5,
      |    min(substring(sha256(t), 49, 8)) AS m6, min(substring(sha256(t), 57, 8)) AS m7
      |  FROM btoks GROUP BY doc_id),
      |hbuckets AS (
      |  SELECT doc_id, 0 AS band, m0 || '|' || m1 AS bh FROM hsigs
      |  UNION ALL SELECT doc_id, 1, m2 || '|' || m3 FROM hsigs
      |  UNION ALL SELECT doc_id, 2, m4 || '|' || m5 FROM hsigs
      |  UNION ALL SELECT doc_id, 3, m6 || '|' || m7 FROM hsigs),
      |bbuckets AS (
      |  SELECT doc_id, 0 AS band, m0 || '|' || m1 AS bh FROM bsigs
      |  UNION ALL SELECT doc_id, 1, m2 || '|' || m3 FROM bsigs
      |  UNION ALL SELECT doc_id, 2, m4 || '|' || m5 FROM bsigs
      |  UNION ALL SELECT doc_id, 3, m6 || '|' || m7 FROM bsigs),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS hist_id
      |  FROM bbuckets x JOIN hbuckets y
      |    ON x.band = y.band AND x.bh = y.bh)
      |SELECT new_id, hist_id,
      |  ((sa.m0 = sb.m0)::INT + (sa.m1 = sb.m1)::INT + (sa.m2 = sb.m2)::INT +
      |   (sa.m3 = sb.m3)::INT + (sa.m4 = sb.m4)::INT + (sa.m5 = sb.m5)::INT +
      |   (sa.m6 = sb.m6)::INT + (sa.m7 = sb.m7)::INT) / 8.0 AS est_jaccard
      |FROM cand JOIN bsigs sa ON new_id = sa.doc_id
      |          JOIN hsigs sb ON hist_id = sb.doc_id
      |WHERE ((sa.m0 = sb.m0)::INT + (sa.m1 = sb.m1)::INT + (sa.m2 = sb.m2)::INT +
      |       (sa.m3 = sb.m3)::INT + (sa.m4 = sb.m4)::INT + (sa.m5 = sb.m5)::INT +
      |       (sa.m6 = sb.m6)::INT + (sa.m7 = sb.m7)::INT) / 8.0 >= 0.5
      |ORDER BY new_id, hist_id""".stripMargin

  // q106: the PRODUCTION incremental screen on q103's split (xxhash64,
  //       64 perms / 16 bands). Oracle-green since round 9: the DuckDB
  //       oracle replays the full seeded pipeline via Xxh64Sql (one sig
  //       chain over all docs — a signature is side-independent, so the
  //       cross split moves into the pair join predicate).
  def q106(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    // History is INDEXED ONCE: the signature groups persist as a parquet
    // artifact (the q148 ledger / q181 band-index discipline) and the
    // screen only READS it — production never re-signs yesterday's corpus
    // per batch. The oracle replays one side-independent signature chain,
    // so the hash is identical to the inline-derived form.
    val hist = s.read.parquet(graft.Fixtures.path("mh106hist", dir) {
      minhashGroups(d.filter(col("doc_id") < 400), "text", "doc_id")
    })
    incrementalNearDupIndexed(hist, d.filter(col("doc_id") >= 400),
        "text", "doc_id")
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("new_id"), col("hist_id"))
  }

  val q106Sql: String = minhashOracleSql(
    "SELECT doc_id, text FROM documents",
    "x.doc_id >= 400 AND y.doc_id < 400", "new_id", "hist_id")

  // ── q105: split-leakage audit — after the deterministic train/val/test
  //         assignment (q97's salted-hash split), screen the val shard
  //         against the train shard for near-duplicate contamination: a
  //         val doc whose near-twin sits in train leaks training signal
  //         into eval numbers. Pure composition: splitOf partitions, then
  //         the q103 batch→history machinery with val as the batch,
  //         aggregated to one row per leaked val doc (crossLeakReport).
  //         The whole pipeline (split hash + MinHash + bands) is sha256,
  //         so DuckDB replays it bit-for-bit.
  def q105(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .withColumn("split",
        graft.ops.Scale.splitOf(col("doc_id").cast("string")))
    crossLeakReport(
        d.filter(col("split") === "train"), d.filter(col("split") === "val"),
        "text", "doc_id", threshold = 0.5)
      .orderBy(col("val_id"))
  }

  val q105Sql: String =
    """WITH sp AS (
      |  SELECT doc_id, text,
      |    CASE WHEN substring(sha256('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
      |         WHEN substring(sha256('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents),
      |htoks AS (
      |  SELECT DISTINCT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t
      |  FROM sp WHERE split = 'train'),
      |btoks AS (
      |  SELECT DISTINCT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t
      |  FROM sp WHERE split = 'val'),
      |hsigs AS (
      |  SELECT doc_id,
      |    min(substring(sha256(t), 1, 8)) AS m0, min(substring(sha256(t), 9, 8)) AS m1,
      |    min(substring(sha256(t), 17, 8)) AS m2, min(substring(sha256(t), 25, 8)) AS m3,
      |    min(substring(sha256(t), 33, 8)) AS m4, min(substring(sha256(t), 41, 8)) AS m5,
      |    min(substring(sha256(t), 49, 8)) AS m6, min(substring(sha256(t), 57, 8)) AS m7
      |  FROM htoks GROUP BY doc_id),
      |bsigs AS (
      |  SELECT doc_id,
      |    min(substring(sha256(t), 1, 8)) AS m0, min(substring(sha256(t), 9, 8)) AS m1,
      |    min(substring(sha256(t), 17, 8)) AS m2, min(substring(sha256(t), 25, 8)) AS m3,
      |    min(substring(sha256(t), 33, 8)) AS m4, min(substring(sha256(t), 41, 8)) AS m5,
      |    min(substring(sha256(t), 49, 8)) AS m6, min(substring(sha256(t), 57, 8)) AS m7
      |  FROM btoks GROUP BY doc_id),
      |hbuckets AS (
      |  SELECT doc_id, 0 AS band, m0 || '|' || m1 AS bh FROM hsigs
      |  UNION ALL SELECT doc_id, 1, m2 || '|' || m3 FROM hsigs
      |  UNION ALL SELECT doc_id, 2, m4 || '|' || m5 FROM hsigs
      |  UNION ALL SELECT doc_id, 3, m6 || '|' || m7 FROM hsigs),
      |bbuckets AS (
      |  SELECT doc_id, 0 AS band, m0 || '|' || m1 AS bh FROM bsigs
      |  UNION ALL SELECT doc_id, 1, m2 || '|' || m3 FROM bsigs
      |  UNION ALL SELECT doc_id, 2, m4 || '|' || m5 FROM bsigs
      |  UNION ALL SELECT doc_id, 3, m6 || '|' || m7 FROM bsigs),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS val_id, y.doc_id AS train_id
      |  FROM bbuckets x JOIN hbuckets y
      |    ON x.band = y.band AND x.bh = y.bh),
      |pairs AS (
      |  SELECT val_id, train_id,
      |    ((sa.m0 = sb.m0)::INT + (sa.m1 = sb.m1)::INT + (sa.m2 = sb.m2)::INT +
      |     (sa.m3 = sb.m3)::INT + (sa.m4 = sb.m4)::INT + (sa.m5 = sb.m5)::INT +
      |     (sa.m6 = sb.m6)::INT + (sa.m7 = sb.m7)::INT) / 8.0 AS est_jaccard
      |  FROM cand JOIN bsigs sa ON val_id = sa.doc_id
      |            JOIN hsigs sb ON train_id = sb.doc_id)
      |SELECT val_id, count(*) AS n_train_matches, max(est_jaccard) AS max_est
      |FROM pairs WHERE est_jaccard >= 0.5
      |GROUP BY val_id ORDER BY val_id""".stripMargin

  // ── SimHash ────────────────────────────────────────────────────────────

  /** 64-bit SimHash per doc: sign of per-bit ±1 sums over token hashes,
    * one hash-agg pass with 64 sum aggregates.
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashBy(docs, textCol, idCol, t => xxhash64(t),
      (h, j) => shiftright(h, j).bitwiseAND(lit(1L)))

  /** The SimHash body: `bit(h, j)` is bit j (0/1) of the staged per-token
    * hash `h = tokenHash(t)`; every occurrence votes ±1 per bit. */
  private def simhashBy(docs: DataFrame, textCol: String, idCol: String,
      tokenHash: Column => Column, bit: (Column, Int) => Column): DataFrame = {
    val tok = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("t"))
      .withColumn("h", tokenHash(col("t")))
    val bitAggs = (0 until 64).map(j => sum(bit(col("h"), j) * 2 - 1).as(s"b$j"))
    val sums = tok.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
    val hash = (0 until 64)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("doc_id"), hash.as("simhash"))
  }

  /** Near-dup pairs by SimHash hamming distance ≤ maxDist, candidate-paired
    * on 16-bit chunks (pigeonhole: dist ≤ 3 ⇒ ≥1 of 4 chunks equal). */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3): DataFrame = {
    // persisted: the pigeonhole self-join reads the 64-sum-agg simhash
    // relation twice; one materialization, two cache scans
    val sh = simhash(docs, textCol, idCol)
      .trackedPersist()
    val chunks = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"),
          shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL)).as("v"))): _*))
        .as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.c").as("c"), col("ch.v").as("v"))
    chunks.as("x")
      .join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // q35: per-doc SimHash on the production xxhash64 — oracle-green since
  //      round 9 (q35Sql replays the hash via Xxh64Sql).
  def q35(s: SparkSession, dir: String): DataFrame =
    simhash(fanout(documents(s, dir), "doc_id"), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** SimHash on SHA-256 — the oracle-able twin of `simhash` (same 64
    * sum-aggregate shape): token bit j comes from hex nibble j/4 of the
    * digest (ascii-decoded — both engines agree on lowercase hex), so the
    * per-doc 64-bit hash is reproducible in DuckDB. Tokens are NOT
    * deduped, matching `simhash` (occurrence-weighted bit sums). */
  def simhashSha(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    def hexVal(h: Column, pos: Int): Column = {
      val a = ascii(substring(h, pos, 1))
      when(a <= 57, a - 48).otherwise(a - 87)
    }
    simhashBy(docs, textCol, idCol, sha2(_, 256),
      (h, j) => shiftright(hexVal(h, j / 4 + 1), 3 - j % 4).bitwiseAND(lit(1)))
  }

  // q56: sha256-SimHash per doc — the crypto-hash twin (kept: its hex
  //      bit decoding is the portable form external replayers use).
  def q56(s: SparkSession, dir: String): DataFrame =
    simhashSha(fanout(documents(s, dir), "doc_id"), "text", "doc_id")
      .orderBy(col("doc_id"))

  val q56Sql: String = {
    def hexv(pos: Int): String =
      s"(CASE WHEN ascii(substring(h, $pos, 1)) <= 57" +
        s" THEN ascii(substring(h, $pos, 1)) - 48" +
        s" ELSE ascii(substring(h, $pos, 1)) - 87 END)"
    val sums = (0 until 64)
      .map(j => s"sum((((${hexv(j / 4 + 1)} >> ${3 - j % 4}) & 1) * 2 - 1)) AS b$j")
      .mkString(",\n    ")
    // DuckDB checks overflow on BIGINT << 63; bit 63 is Long.MinValue
    val hash = (0 until 64)
      .map {
        case 63 => "(CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1)::BIGINT" +
          " ELSE 0::BIGINT END)"
        case j => s"(CASE WHEN b$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)"
      }
      .mkString(" | ")
    s"""WITH tok AS (
       |  SELECT doc_id, sha256(t) AS h FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS t
       |    FROM documents)),
       |sums AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM tok GROUP BY doc_id)
       |SELECT doc_id, $hash AS simhash FROM sums ORDER BY doc_id""".stripMargin
  }

  // ── winnowing (rolling-hash fingerprints) ──────────────────────────────

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03): hash
    * every k-char gram, take the minimum hash per sliding window of w
    * grams, dedupe — a position-robust fingerprint set whose size is
    * ~2/(w+1) of the text. Pure Catalyst (transform/sequence/slice over
    * substring hashes): no UDF, no shuffle until the final explode.
    */
  def winnowingFingerprints(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, w: Int = 4): DataFrame =
    // Row-local generator → fused codegen kernel (the q193 RepCovsExpr
    // rule): one pass, zero-copy gram hashing via char→byte offsets, a
    // monotonic-deque sliding min (O(n) vs the former staged-HOF
    // slice+array_min O(n·w) with an array copy per window). Bit-exact
    // with the HOF form it replaced — gram i is xxhash64(substr(text, i,
    // k)), short texts yield one whole-text-window min, dedup keeps
    // first occurrence — pinned by WinnowSpec's golden cross-check, so
    // the Xxh64Sql oracle (q42) replays unchanged.
    docs.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.graft.WinnowExpr.column(col(textCol), k, w)
        .as("fingerprints"))

  /** Fingerprint-overlap near-dup pairs: docs sharing ≥ minShared winnowed
    * fingerprints (equi-join on fingerprint → same scale shape as MinHash
    * bands). */
  def winnowingPairs(docs: DataFrame, textCol: String, idCol: String,
      minShared: Long = 3): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Persisted array form for the same reason as winnowingShaPairs: the
    // self-join consumes the fingerprint relation twice, and a cache (one
    // materialization, ~12% of text size) beats hoping for exchange reuse.
    val fpArr = winnowingFingerprints(docs, textCol, idCol, k = 8, w = 4)
      .trackedPersist()
    val fp = fpArr.select(col("doc_id"), explode(col("fingerprints")).as("fp"))
    fp.as("x").join(fp.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }

  /** See graft.ops.Scale.fanout (shared numbered-fanout helper). */
  private def fanout(df: DataFrame, key: String): DataFrame =
    graft.ops.Scale.fanout(df, key)

  // q42: winnowed fingerprint count + sample per doc on the production
  //      xxhash64 — oracle-green since round 9 (q42Sql hashes every
  //      8-char gram via Xxh64Sql). The corpus arrives as one parquet split;
  //      repartition first so the hash-heavy map runs on all cores (the
  //      general rule for compute-bound narrow stages over few splits).
  def q42(s: SparkSession, dir: String): DataFrame =
    winnowingFingerprints(fanout(documents(s, dir), "doc_id"),
        "text", "doc_id")
      .select(col("doc_id"), size(col("fingerprints")).cast("long").as("n_fp"),
        array_min(col("fingerprints")).as("min_fp"))
      .orderBy(col("doc_id"))

  /** Winnowing on SHA-256 gram hashes — the oracle-able twin of
    * winnowingFingerprints (same staging discipline, hex-string mins
    * instead of xxhash64): both engines agree on sha256 hex and on
    * lexicographic min, and the fingerprint SET is order-insensitive, so
    * per-doc (n_fp, min_fp) hash-match the DuckDB oracle. Production path
    * stays the xxhash64 version (8-byte longs, no crypto cost). */
  def winnowingFingerprintsSha(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    val nGrams = length(col(textCol)) - (k - 1)
    val grams = when(nGrams < 1, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), nGrams),
        i => sha2(col(textCol).substr(i, lit(k)), 256)))
    val staged = docs.select(col(idCol).as("doc_id"), grams.as("_grams"))
    val nG = size(col("_grams"))
    val nWin = greatest(nG - (w - 1), lit(0))
    val mins = when(nWin < 1, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nWin - 1),
        j => array_min(slice(col("_grams"), j + 1, lit(w)))))
    staged.select(col("doc_id"),
      when(nG === 0, array().cast("array<string>"))
        .otherwise(when(nWin === 0, array(array_min(col("_grams"))))
          .otherwise(array_distinct(mins))).as("fingerprints"))
  }

  // q53: sha256-winnowing fingerprint stats per doc — the crypto-hash
  //      twin of q42 (both oracle-green since round 9).
  // The array form is the right shape HERE: fingerprints never meet a
  // Generate (no inferred-filter inlining), the staged array is computed
  // once per row, and scalar size/array_min beat the row-based window
  // pipeline (measured 3.4s vs 4.9s at sf0.1). The row form exists for
  // consumers that must explode (q60).
  def q53(s: SparkSession, dir: String): DataFrame =
    winnowingFingerprintsSha(fanout(documents(s, dir), "doc_id"),
        "text", "doc_id")
      .select(col("doc_id"), size(col("fingerprints")).cast("long").as("n_fp"),
        array_min(col("fingerprints")).as("min_fp"))
      .orderBy(col("doc_id"))

  val q53Sql: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(text) >= 8
      |      THEN [sha256(substr(text, CAST(i AS INT), 8)) for i in range(1, len(text) - 6)]
      |      ELSE CAST([] AS VARCHAR[]) END AS grams
      |  FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    CASE WHEN len(grams) = 0 THEN CAST([] AS VARCHAR[])
      |         WHEN len(grams) < 4 THEN [list_min(grams)]
      |         ELSE list_distinct([list_min(grams[CAST(j AS INT):CAST(j AS INT)+3])
      |                             for j in range(1, len(grams) - 2)])
      |    END AS fps
      |  FROM g)
      |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, list_min(fps) AS min_fp
      |FROM f ORDER BY doc_id""".stripMargin

  // ── q60: winnowing near-dup PAIRS on the sha256 fingerprints — docs
  //        sharing ≥ minShared winnowed fingerprints (equi-join on
  //        fingerprint, same scale shape as MinHash bands), clone-collapsed
  //        like every pairing operator (identical texts → one rep, exact
  //        re-expansion; intra-group pairs share the rep's whole
  //        fingerprint set). Fully oracle-able: fingerprints are sha hex.
  //        Gram size is 16 chars (vs q53's 8): on a small-vocabulary
  //        corpus 8-char grams collide everywhere (10.3M pairs at sf0.1 —
  //        measured); ~2-word grams make the fingerprint join selective
  //        (703 pairs ≥5 shared at sf0.1). Same lesson as q54's trigram
  //        shingles: selectivity comes from gram WIDTH, not thresholds.
  def winnowingShaPairs(docs: DataFrame, textCol: String, idCol: String,
      minShared: Long = 5, k: Int = 16, w: Int = 8): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Both multi-consumer subtrees are persisted rather than left to
    // runtime exchange reuse: `groups` feeds three consumers (repDocs,
    // inter-expansion, intra-pairs) and the fingerprint relation three
    // more (self-join x/y + per-doc counts). AQE's ReusedExchange is
    // best-effort — when it misses (observed: 60s vs 8s for the same
    // query under a loaded driver), the sha-gram hashing and the
    // full-text shuffle re-run per consumer. A cache is the structural
    // guarantee: one materialization, every consumer reads blocks.
    // MEMORY_AND_DISK ≈ the footprint of one shuffle spill of the same
    // relation, so this holds at cluster scale too; CacheManager dedupes
    // by canonicalized plan, so repeated calls share one entry.
    // aqeRepartition=false on BOTH caches: their immediate map-side
    // consumers are the per-char gram-hash expansion (groups → 8-char
    // xxhash grams of every rep text) and the fingerprint explode — CPU
    // per cached BYTE is extreme, so advisory-byte coalescing would run
    // that expansion on 1-2 tasks (measured: q60 1.34 → 4.86s with the
    // default-true layout). The parallel pinned layout is right here.
    val groups = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("_text"),
        sha2(col(textCol), 256).as("_fp"))
      .groupBy(col("_fp"))
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("members"),
        min_by(col("_text"), col("doc_id")).as("_text"))
      .trackedPersist(aqeRepartition = false)
    val repDocs = groups.select(col("rep").as("doc_id"), col("_text"))
    // Array form (q53-measured faster than the row pipeline), computed
    // once behind the cache boundary. The boundary also retires the
    // InferFiltersFromGenerate trap for downstream explodes: the inferred
    // `size(fingerprints) > 0` filter now tests a cached column instead
    // of inlining the whole gram-hash expression.
    val fpArr = winnowingFingerprintsSha(repDocs, "_text", "doc_id", k, w)
      .trackedPersist(aqeRepartition = false)
    // array_distinct in the array form = the row form's distinct():
    // fingerprint sets are per-doc sets either way (spec-pinned).
    val fp = fpArr.select(col("doc_id"), explode(col("fingerprints")).as("w"))
    val nfp = fpArr.select(col("doc_id"),
      size(col("fingerprints")).cast("long").as("n_fp"))
    val repPairs = fp.as("x")
      .join(fp.as("y"),
        col("x.w") === col("y.w") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
    val inter = GroupExpand.expandInter(repPairs, groups, Seq("shared_fp"))
    val intra = GroupExpand.intraPairs(groups)
      .join(nfp.select(col("doc_id").as("rep"), col("n_fp")), "rep")
      .filter(col("n_fp") >= minShared)
      .select(col("id_a"), col("id_b"), col("n_fp").as("shared_fp"))
    inter.unionByName(intra)
  }

  /** (doc_id, fingerprint) ROWS via position-explode + window-min —
    * bit-identical fingerprint set to `explode(winnowingFingerprints*(...))`
    * but safe to consume downstream. Two traps this shape dodges:
    * (1) exploding the ARRAY form makes the optimizer infer `size(fps) > 0`
    * and push it to the scan with the whole nested fingerprint expression
    * substituted inline, where the interpreted window lambda re-evaluates
    * every gram hash per window (measured: 66s for 500 docs vs 0.5s here);
    * (2) exploding a pre-hashed GRAM array still inlines the full
    * `transform(sequence, i => hash(substr))` into that inferred filter, so
    * every gram is hashed twice — once for the filter, once for the
    * Generate. So: explode the positions `sequence(1, nGrams)` (the
    * inferred filter then inlines only cheap length arithmetic) and hash
    * `substr(text, pos, k)` per row AFTER the Generate — each gram hashed
    * exactly once, inside whole-stage codegen. Full windows only
    * (pos ≤ ng−w+1, 1-based); a shorter-than-one-window doc contributes its
    * global min at pos 1, matching the array form's fallback; empty docs
    * vanish, matching what explode does to empty arrays.
    */
  private def winnowingRows(docs: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int, gramHash: Column => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nGrams = length(col(textCol)) - (k - 1)
    val idx = when(nGrams < 1, array().cast("array<int>"))
      .otherwise(sequence(lit(1), nGrams))
    val g = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("_wtext"),
        explode(idx).as("pos"))
      .select(col("doc_id"), col("pos"),
        gramHash(col("_wtext").substr(col("pos"), lit(k))).as("g"))
    val winMin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    val perDoc = Window.partitionBy(col("doc_id"))
    g.withColumn("m", min(col("g")).over(winMin))
      .withColumn("ng", count(lit(1)).over(perDoc))
      .filter(col("pos") <= col("ng") - (w - 1) ||
        (col("ng") < w && col("pos") === 1))
      .select(col("doc_id"), col("m").as("w"))
      .distinct()
  }

  def winnowingFingerprintRowsSha(docs: DataFrame, textCol: String,
      idCol: String, k: Int, w: Int): DataFrame =
    winnowingRows(docs, textCol, idCol, k, w, s => sha2(s, 256))

  def q60(s: SparkSession, dir: String): DataFrame =
    winnowingShaPairs(documents(s, dir), "text", "doc_id")
      .orderBy(col("id_a"), col("id_b"))

  val q60Sql: String =
    """WITH reps AS (
      |  SELECT min(doc_id) AS doc_id, min_by(text, doc_id) AS text,
      |    count(*) AS n_members
      |  FROM documents GROUP BY sha256(text)),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(text) >= 16
      |      THEN [sha256(substr(text, CAST(i AS INT), 16)) for i in range(1, len(text) - 14)]
      |      ELSE CAST([] AS VARCHAR[]) END AS grams
      |  FROM reps),
      |f AS (
      |  SELECT doc_id,
      |    CASE WHEN len(grams) = 0 THEN CAST([] AS VARCHAR[])
      |         WHEN len(grams) < 8 THEN [list_min(grams)]
      |         ELSE list_distinct([list_min(grams[CAST(j AS INT):CAST(j AS INT)+7])
      |                             for j in range(1, len(grams) - 6)])
      |    END AS fps
      |  FROM g),
      |fp AS (SELECT DISTINCT doc_id, unnest(fps) AS w FROM f),
      |nfp AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id),
      |rep_pairs AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared_fp
      |  FROM fp x JOIN fp y ON x.w = y.w AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 5),
      |memb AS (
      |  SELECT r.doc_id AS rep, d.doc_id AS member
      |  FROM reps r JOIN documents d ON sha256(d.text) = sha256(r.text)),
      |inter AS (
      |  SELECT least(ma.member, mb.member) AS id_a,
      |    greatest(ma.member, mb.member) AS id_b, p.shared_fp
      |  FROM rep_pairs p
      |  JOIN memb ma ON ma.rep = p.id_a
      |  JOIN memb mb ON mb.rep = p.id_b),
      |intra AS (
      |  SELECT ma.member AS id_a, mb.member AS id_b, n.n_fp AS shared_fp
      |  FROM reps r
      |  JOIN nfp n ON n.doc_id = r.doc_id
      |  JOIN memb ma ON ma.rep = r.doc_id
      |  JOIN memb mb ON mb.rep = r.doc_id AND ma.member < mb.member
      |  WHERE r.n_members > 1 AND n.n_fp >= 5)
      |SELECT id_a, id_b, CAST(shared_fp AS BIGINT) AS shared_fp FROM
      |  (SELECT * FROM inter UNION ALL SELECT * FROM intra)
      |ORDER BY id_a, id_b""".stripMargin

  // ── benchmark decontamination ──────────────────────────────────────────

  /** Drop every corpus document sharing ≥1 word n-gram with an evaluation
    * set — the standard pretraining decontamination pass (remove benchmark
    * leakage before training). Scale shape: the eval side is benchmark-
    * sized (thousands of docs) so its distinct gram-hash set broadcasts;
    * the corpus side is one narrow gram-explode + the broadcast semi-join
    * + one anti-join — the corpus text never shuffles. Grams join as
    * sha256 hashes (narrow rows, oracle-identical in DuckDB); real
    * pipelines use ~13-gram windows (GPT-3/Gopher practice) — width is
    * the selectivity dial, exactly as with q54's shingles.
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, textCol: String,
      idCol: String, gramWords: Int = 13): DataFrame = {
    val evalGrams = distinctTokens(evalSet, textCol, idCol, gramWords)
      .select(sha2(col("t"), 256).as("g")).distinct()
    val contaminated = distinctTokens(corpus, textCol, idCol, gramWords)
      .select(col("doc_id"), sha2(col("t"), 256).as("g"))
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct()
    corpus.join(contaminated,
      corpus(idCol) === contaminated("doc_id"), "left_anti")
  }

  // q64: decontaminate the corpus against a held-out eval slice
  //      (doc_id % 97 = 0). Width 4 on this corpus: its vocabulary is so
  //      small that 13-grams never collide except exact copies (0 hits),
  //      while 4-grams catch real phrase overlap (8 docs at sf0.01, 727 at
  //      sf0.1) — the demonstrative width for the fixture, not the
  //      production default.
  def q64(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    decontaminate(docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), "text", "doc_id", gramWords = 4)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val q64Sql: String =
    """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
      |ev AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
      |evg AS (
      |  SELECT DISTINCT sha256(t) AS g FROM (
      |    SELECT unnest(CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
      |      ELSE [array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+3], ' ')
      |            for i in range(1, len(toks) - 2)] END) AS t
      |    FROM (SELECT regexp_extract_all(text, '\S+') AS toks FROM ev))),
      |cg AS (
      |  SELECT DISTINCT doc_id, sha256(t) AS g FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
      |      ELSE [array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+3], ' ')
      |            for i in range(1, len(toks) - 2)] END) AS t
      |    FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM corpus)))
      |SELECT doc_id, lang FROM corpus
      |WHERE doc_id NOT IN (SELECT DISTINCT cg.doc_id FROM cg JOIN evg USING (g))
      |ORDER BY doc_id""".stripMargin

  /** Dataset-level overlap: how much does source A's gram set overlap
    * source B's — the "is this crawl snapshot new data or a re-crawl"
    * question asked BEFORE doc-level dedup spends cluster time. Emits,
    * per source pair, the exact gram Jaccard (audit path: pairwise
    * distinct-gram join) AND a MinHash-sketch estimate (scale path: each
    * source's gram stream reduces to `numHashes` sha mins in ONE
    * aggregate — at 100 TB the sketch is the only side that runs; the
    * exact columns exist here so the oracle verifies both mechanisms and
    * the fixture measures the estimator's error). Source-pair cardinality
    * is sources², tiny by definition — the pair join is dataset-level,
    * never row-level.
    */
  def sourceOverlap(docs: DataFrame, textCol: String, srcCol: String,
      gram: Int = 3, numHashes: Int = 16): DataFrame = {
    val grams = docs
      .select(col(srcCol).as("src"), tokens(col(textCol)).as("_toks"))
      .select(col("src"), explode(shinglesFromTokens(col("_toks"), gram)).as("t"))
      .distinct()
      .trackedPersist()
    requireAuditScale(grams,
      "sourceOverlap's exact shared-shingle leg",
      MaxExactRowsConf, MaxExactRowsDefault,
      "the est_jaccard MinHash sketch columns alone")
    // sizes and all sketch components in ONE aggregate pass
    val aggs = count(lit(1)).as("n") +: (0 until numHashes).map(i =>
      min(sha2(concat(lit(s"$i:"), col("t")), 256)).as(s"m$i"))
    val sigs = grams.groupBy(col("src")).agg(aggs.head, aggs.tail: _*)
    val shared = grams.as("x").join(grams.as("y"),
        col("x.t") === col("y.t") && col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("src_a"), col("y.src").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    val sa = sigs.select(col("src").as("src_a") +: col("n").as("n_a") +:
      (0 until numHashes).map(i => col(s"m$i").as(s"a$i")): _*)
    val sb = sigs.select(col("src").as("src_b") +: col("n").as("n_b") +:
      (0 until numHashes).map(i => col(s"m$i").as(s"b$i")): _*)
    sa.join(sb, col("src_a") < col("src_b"))
      .join(shared, Seq("src_a", "src_b"), "left")
      .withColumn("shared", coalesce(col("shared"), lit(0L)))
      .withColumn("jaccard",
        col("shared") / (col("n_a") + col("n_b") - col("shared")))
      .withColumn("est_jaccard",
        (0 until numHashes).map(i =>
          when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
          / lit(numHashes.toDouble))
      .select("src_a", "src_b", "n_a", "n_b", "shared", "jaccard", "est_jaccard")
  }

  // q72: trigram overlap matrix over the corpus's 20 sources (190 pairs),
  //      exact + sketch columns both sha-oracle-verified.
  def q72(s: SparkSession, dir: String): DataFrame =
    sourceOverlap(documents(s, dir), "text", "source")
      .orderBy(col("src_a"), col("src_b"))

  val q72Sql: String = {
    val mins = (0 until 16)
      .map(i => s"min(sha256('$i:' || t)) AS m$i").mkString(",\n    ")
    val matches = (0 until 16)
      .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT source, regexp_extract_all(text, '\\S+') AS tk FROM documents),
       |sh AS (
       |  SELECT DISTINCT source, t FROM (
       |    SELECT source, unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
       |      ELSE [array_to_string(tk[CAST(i AS INT):CAST(i AS INT)+2], ' ')
       |            for i in range(1, len(tk) - 1)] END) AS t FROM toks)),
       |sigs AS (
       |  SELECT source, count(*) AS n,
       |    $mins
       |  FROM sh GROUP BY source),
       |sh2 AS (
       |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS shared
       |  FROM sh x JOIN sh y ON x.t = y.t AND x.source < y.source
       |  GROUP BY 1, 2)
       |SELECT sa.source AS src_a, sb.source AS src_b,
       |  sa.n AS n_a, sb.n AS n_b,
       |  CAST(coalesce(sh2.shared, 0) AS BIGINT) AS shared,
       |  coalesce(sh2.shared, 0) / (sa.n + sb.n - coalesce(sh2.shared, 0)) AS jaccard,
       |  ($matches) / 16.0 AS est_jaccard
       |FROM sigs sa JOIN sigs sb ON sa.source < sb.source
       |LEFT JOIN sh2 ON sh2.src_a = sa.source AND sh2.src_b = sb.source
       |ORDER BY src_a, src_b""".stripMargin
  }

  /** Bloom-filter decontamination — the 100 TB shape of `decontaminate`:
    * instead of broadcasting the eval set's exact gram-hash table into a
    * semi-join, compress it into a driver-built Bloom sketch (~1.2 bytes/
    * gram at 0.1% FPP) and gate the corpus gram stream with Spark's own
    * `BloomFilterMightContain` probe BEFORE any shuffle — corpus grams
    * that miss the sketch die in the scan stage's codegen'd filter.
    * One-sided error in the safe direction: a Bloom filter has NO false
    * negatives, so every genuinely contaminated doc is caught; false
    * positives over-drop clean docs. FP probability COMPOUNDS per doc —
    * a doc survives only if ALL its grams miss, so P(over-drop) ≈
    * grams_per_doc × fpp (measured: fpp=1e-3 at ~150 grams/doc
    * over-dropped 5% of a clean corpus). Size fpp ≈ target_overdrop ÷
    * grams_per_doc; the 1e-6 default costs ~29 bits/gram and keeps
    * per-doc over-drop ~1e-4 for kilotoken docs.
    */
  def bloomDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, gramWords: Int = 13,
      fpp: Double = 1e-6): DataFrame = {
    // eval side is benchmark-sized by definition: one count + one
    // driver-side sketch build over the distinct gram hashes. Distinct on
    // the GRAM (not (doc_id, gram)): a gram shared by k eval docs must
    // count once, or the sketch is sized k× too large at ~29 bits/gram.
    // Persisted so count() and the bloom aggregate share one scan.
    val evalHashes = evalSet
      .select(tokens(col(textCol)).as("_toks"))
      .select(explode(shinglesFromTokens(col("_toks"), gramWords)).as("t"))
      .select(xxhash64(col("t")).as("h")).distinct()
      .trackedPersist()
    try {
      val expected = evalHashes.count()
      // empty eval set → no contamination possible; also the bloom aggregate
      // yields a null sketch buffer over zero rows, so don't build one
      if (expected == 0) return corpus
      val sketch = evalHashes.stat.bloomFilter("h", expected, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      sketch.writeTo(bos)
      // corpus side: NO distinct before the probe (that would shuffle every
      // corpus gram — the exact thing this operator exists to avoid)
      val grams = corpus
        .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
        .select(col("doc_id"), explode(shinglesFromTokens(col("_toks"), gramWords)).as("t"))
      val contaminated = grams
        .filter(org.apache.spark.sql.graft.BloomMightContain.column(
          bos.toByteArray, xxhash64(col("t"))))
        .select(col("doc_id")).distinct()
      corpus.join(contaminated,
        corpus(idCol) === contaminated("doc_id"), "left_anti")
    } finally evalHashes.unpersist(blocking = false)
  }

  // q70: Bloom-sketch decontamination on the q64 slices — same eval/corpus
  //      split and gram width, the scale-path twin. Oracle-green since
  //      round 9: the V2 BloomFilter is replayed RELATIONALLY in DuckDB
  //      (BloomSql — Murmur3 hashLong pair, the hi·2³¹ + i·lo scatter,
  //      the optimal-geometry formulas, bit set = a distinct-position
  //      relation), so even the filter's false-positive over-drops are
  //      reproduced bit-for-bit. DedupSpec still pins the containment
  //      relationship to the exact q64 semantics.
  def q70(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    bloomDecontaminate(docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), "text", "doc_id", gramWords = 4)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** q70's oracle: the whole Bloom pipeline as one statement — gram
    * hashes via Xxh64Sql, the V2 filter via BloomSql, the bit array as a
    * distinct-position relation, mightContain as "all of the gram's
    * distinct positions present". */
  val q70Sql: String =
    s"""WITH xtok AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents),
       |dg AS (
       |  SELECT DISTINCT doc_id, t FROM (
       |    SELECT doc_id,
       |      unnest(CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
       |        ELSE [array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+3], ' ')
       |              FOR i IN range(1, len(toks) - 2)]
       |      END) AS t
       |    FROM xtok)),
       |${graft.sql.Xxh64Sql.tokenHashCtes("SELECT DISTINCT t FROM dg")},
       |dh AS (SELECT dg.doc_id, xxh.hs FROM dg JOIN xxh USING (t)),
       |egh AS (SELECT DISTINCT hs FROM dh WHERE doc_id % 97 = 0),
       |${graft.sql.BloomSql.geometryCte("SELECT count(*) AS n FROM egh", 1e-6)},
       |${graft.sql.BloomSql.murmurPairCtes("SELECT DISTINCT hs FROM dh")},
       |${graft.sql.BloomSql.positionsCte},
       |bits AS (SELECT DISTINCT p FROM pos JOIN egh USING (hs)),
       |gstat AS (
       |  SELECT pos.hs, count(DISTINCT pos.p) AS np, count(DISTINCT b.p) AS nhit
       |  FROM pos LEFT JOIN bits b ON b.p = pos.p GROUP BY pos.hs),
       |gramok AS (SELECT hs FROM gstat WHERE np = nhit),
       |contam AS (
       |  SELECT DISTINCT doc_id FROM dh JOIN gramok USING (hs)
       |  WHERE doc_id % 97 != 0)
       |SELECT doc_id, lang FROM documents
       |WHERE doc_id % 97 != 0
       |  AND doc_id NOT IN (SELECT doc_id FROM contam)
       |ORDER BY doc_id""".stripMargin

  // ── chunk-level (paragraph-style) exact dedup ──────────────────────────

  /** Sub-document exact dedup: split each doc into consecutive
    * `chunkTokens`-token chunks, drop every chunk whose content already
    * appeared earlier in the corpus (first occurrence by (doc_id, idx)
    * wins), and reassemble the surviving text per doc. This is the
    * paragraph-dedup pass real pretraining pipelines run between exact
    * doc-dedup and near-dup removal (boilerplate/header removal at scale);
    * the fixture corpus has no newlines, so chunk boundaries are token
    * windows rather than '\n\n' splits — the operator is the same.
    *
    * Scale shape: one narrow chunk-explode (positions exploded, chunk text
    * derived per row AFTER the Generate — the InferFiltersFromGenerate
    * discipline), one shuffle on the 32-byte chunk digest for the
    * first-occurrence window, one shuffle back on doc_id to reassemble.
    * Chunk text crosses the digest exchange (the winners' text is needed
    * for reassembly), matching the q57 dedup-aggregate trade.
    */
  def chunkDedup(docs: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val staged = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("_tk"))
    val n = size(col("_tk"))
    val nCh = ((n + (chunkTokens - 1)) / chunkTokens).cast("int")
    // guard: sequence(0, -1) DESCENDS for empty docs — fabricating chunks.
    // Empty docs emit a SENTINEL idx = -1 instead of no row at all: a
    // plain explode of an empty array deletes the doc from the output,
    // and a corpus rewritten through this operator would silently lose
    // every empty document (review finding, round 4).
    val idx = when(n === 0, array(lit(-1)))
      .otherwise(sequence(lit(0), nCh - 1))
    val rows = staged
      .select(col("doc_id"), col("_tk"), explode(idx).as("idx"))
      .select(col("doc_id"), col("idx"),
        when(col("idx") >= 0,
          array_join(slice(col("_tk"), col("idx") * chunkTokens + 1,
            lit(chunkTokens)), " ")).as("chunk"))
    // Sentinel rows get a per-doc partition key ("e:" prefix can't collide
    // with hex digests) so a corpus full of empty docs doesn't funnel into
    // one window partition.
    val firstSeen = Window.partitionBy(
        when(col("idx") < 0, concat(lit("e:"), col("doc_id")))
          .otherwise(sha2(col("chunk"), 256)))
      .orderBy(col("doc_id"), col("idx"))
    rows.withColumn("rn", row_number().over(firstSeen))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("idx") >= 0, 1L).otherwise(0L)).as("n_chunks"),
        sum(when(col("idx") >= 0 && col("rn") === 1, 1L).otherwise(0L))
          .as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("idx") >= 0 && col("rn") === 1,
            struct(col("idx"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("kept_text"))
  }

  // q69: chunk dedup over the corpus — 16-token chunks, first occurrence
  //      wins; per-doc survival stats + reassembled text, fully
  //      oracle-able (sha digests never surface; content equality is
  //      engine-neutral).
  def q69(s: SparkSession, dir: String): DataFrame =
    chunkDedup(documents(s, dir), "text", "doc_id")
      .orderBy(col("doc_id"))

  val q69Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents),
      |ch AS (
      |  SELECT doc_id, u.idx AS idx, u.chunk AS chunk FROM (
      |    SELECT doc_id, unnest([{'idx': i, 'chunk': array_to_string(tk[CAST(i*16+1 AS INT):CAST(i*16+16 AS INT)], ' ')}
      |      for i in range(0, CAST(ceil(len(tk)/16.0) AS INT))]) AS u
      |    FROM toks)),
      |ranked AS (
      |  SELECT doc_id, idx, chunk,
      |    row_number() OVER (PARTITION BY sha256(chunk) ORDER BY doc_id, idx) AS rn
      |  FROM ch),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_chunks,
      |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |    coalesce(string_agg(chunk, ' ' ORDER BY idx) FILTER (WHERE rn = 1), '') AS kept_text
      |  FROM ranked GROUP BY doc_id)
      |SELECT t.doc_id, coalesce(a.n_chunks, 0) AS n_chunks,
      |  coalesce(a.n_kept, 0) AS n_kept,
      |  coalesce(a.kept_text, '') AS kept_text
      |FROM toks t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin

  // ── q57: the whole training-data-prep pipeline in one declarative plan —
  //        quality filter → exact dedup (keep lowest id per digest) →
  //        trigram-Jaccard near-dup removal (drop the higher id of every
  //        ≥0.5 pair) → 25% content-hash sample. Every stage is the
  //        sha/integer-exact form, so the END-TO-END composition is
  //        oracle-verified, not just each stage in isolation. This is the
  //        "documents in → training set out" call a reference user would
  //        run; Catalyst fuses the stages into one job graph (no
  //        intermediate materialization).
  def trainingPrep(docs: DataFrame): DataFrame = {
    val quality = docs.filter(graft.ops.TextQueries.qualityScore >= 0.5)
    // Keep-lowest-id per digest as ONE min_by aggregate — same semantics
    // as exactDedupIds + semi join, one scan and one shuffle fewer.
    // Scale note: surviving text DOES cross this exchange (it must — the
    // output needs the rows), same total bytes as the semi-join form
    // whose corpus side also shuffles on the join key; the aggregation
    // state is one buffered row per distinct digest per partition. The
    // digest-only shuffle property documented on exactDedupIds applies to
    // computing keep-IDS, not to materializing the surviving rows.
    // Persisted: consumed by the jaccard drop subtree AND the closing
    // anti-join — one materialization of the quality + sha2-min_by
    // shuffle instead of two (the trainingPrepProd rationale, r15).
    val exact = quality
      .groupBy(sha2(col("text"), 256).as("_fp"))
      .agg(min_by(struct(quality.columns.map(col).toIndexedSeq: _*),
        col("doc_id")).as("_r"))
      .select(col("_r.*"))
      .trackedPersist()
    // `exact` holds exactly one row per distinct text by construction, so
    // textGroups(exact) — a SECOND full-text sha2 groupBy shuffle — can
    // only return singleton groups (rep = doc_id, members = [doc_id]).
    // Construct those directly and feed the pair core through
    // jaccardPairsFromGroups: bit-identical drops (intra-group pairs are
    // empty, inter expansion is the identity), one wide shuffle fewer.
    val groups = exact.select(col("doc_id").as("rep"),
      array(col("doc_id")).as("members"), lit(false).as("has_flag"),
      col("text").as("_text"))
    val drops = jaccardPairsFromGroups(groups, gram = 3)
      .filter(col("jaccard") >= 0.5)
      .select(col("id_b").as("doc_id")).distinct()
    exact.join(drops, Seq("doc_id"), "left_anti")
      .filter(substring(sha2(col("doc_id").cast("string"), 256), 1, 1) < "4")
  }

  def q57(s: SparkSession, dir: String): DataFrame =
    trainingPrep(documents(s, dir))
      .select(col("doc_id"), col("lang"),
        regexp_count(col("text"), lit("[^\\t\\n\\f\\r ]+")).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))

  /** The trainingPrep replay (quality → exact dedup → trigram-jaccard
    * near-dup drop → sha id filter) as a reusable CTE fragment ending in
    * `prepped` — shared by q57Sql and Pack.q108Sql so the two oracles
    * can never drift. */
  private[graft] val trainingPrepCtes: String =
    """quality AS (
      |  SELECT * FROM documents
      |  WHERE round((least(n_chars / 500.0, 1.0) * 0.5
      |       + least(len(regexp_extract_all(text, '\S+')) / 80.0, 1.0) * 0.3
      |       + least(len(regexp_extract_all(text, '\b(the|a|of|and)\b')) / 5.0, 1.0) * 0.2)
      |      * 10000) / 10000.0 >= 0.5),
      |keep_exact AS (
      |  SELECT min(doc_id) AS doc_id FROM quality GROUP BY sha256(text)),
      |exact AS (
      |  SELECT q.* FROM quality q WHERE q.doc_id IN (SELECT doc_id FROM keep_exact)),
      |tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM exact),
      |sh AS (
      |  SELECT DISTINCT doc_id, t FROM (
      |    SELECT doc_id,
      |      unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |        ELSE [array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2], ' ')
      |              for i in range(1, len(toks) - 1)]
      |      END) AS t
      |    FROM tok)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared
      |  FROM sh x JOIN sh y ON x.t = y.t AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |drops AS (
      |  SELECT DISTINCT id_b AS doc_id FROM pairs
      |  JOIN sizes sa ON id_a = sa.doc_id
      |  JOIN sizes sb ON id_b = sb.doc_id
      |  WHERE shared / (sa.n + sb.n - shared) >= 0.5),
      |prepped AS (
      |  SELECT * FROM exact
      |  WHERE doc_id NOT IN (SELECT doc_id FROM drops)
      |    AND substring(sha256(CAST(doc_id AS VARCHAR)), 1, 1) < '4')""".stripMargin

  val q57Sql: String =
    s"""WITH $trainingPrepCtes
      |SELECT doc_id, lang,
      |  len(regexp_extract_all(text, '\\S+')) AS n_tokens
      |FROM prepped
      |ORDER BY doc_id""".stripMargin

  // ── q202: the PRODUCTION form of the q57 composition — quality filter →
  //         exact dedup → **banded MinHash-LSH near-dup drop** → sample.
  //         q57's near-dup stage is the exact trigram-Jaccard all-pairs
  //         form, deliberately audit-gated at scale (requireAuditScale
  //         refuses it above the rep cap); this twin swaps that one stage
  //         for minhashDedupIds (signature → τ-matched band-bucket
  //         equi-join at r=8/b=8 → REP-LEVEL est-threshold drop, never a
  //         member-pair expansion; default ProdNearDupThreshold 0.9 =
  //         near-verbatim — the q108 leakThreshold rationale: the
  //         synthetic corpus is deliberately clone-heavy on unigram
  //         vocabulary, so 0.5 empties it outright),
  //         so EVERY stage is the 100 TB path — no all-pairs anywhere,
  //         shuffles carry digests/signatures. Oracle: the shared
  //         quality/exact CTEs + the generated Xxh64Sql minhash replay
  //         over `exact`, bit-for-bit (the q34 discipline), so the
  //         whole production composition is hash-verified end-to-end. ──
  /** The production near-dup drop threshold — ONE constant shared by
    * [[trainingPrepProd]]'s default, the banding geometry choice, and the
    * literal interpolated into [[q202Sql]], so engine and oracle cannot
    * silently diverge if it is ever retuned (r15 ADVICE). */
  val ProdNearDupThreshold: Double = 0.9

  def trainingPrepProd(docs: DataFrame,
      threshold: Double = ProdNearDupThreshold): DataFrame = {
    val quality = docs.filter(graft.ops.TextQueries.qualityScore >= 0.5)
    // persisted: `exact` feeds the signature pass inside minhashDedupIds,
    // the drop anti-join, AND the closing semi-join — one materialization
    // instead of ≥3 recomputes of the quality + sha2-min_by shuffle
    // subtree (r15 VERDICT)
    val exact = quality
      .groupBy(sha2(col("text"), 256).as("_fp"))
      .agg(min_by(struct(quality.columns.map(col).toIndexedSeq: _*),
        col("doc_id")).as("_r"))
      .select(col("_r.*"))
      .trackedPersist()
    val keepIds = minhashDedupIds(exact, "text", "doc_id", threshold)
    exact.join(keepIds, Seq("doc_id"), "left_semi")
      .filter(substring(sha2(col("doc_id").cast("string"), 256), 1, 1) < "4")
  }

  def q202(s: SparkSession, dir: String): DataFrame =
    trainingPrepProd(documents(s, dir))
      .select(col("doc_id"), col("lang"),
        element_at(org.apache.spark.sql.graft.TextStatsExpr
          .column(col("text")), 1).as("n_tokens"))
      .orderBy(col("doc_id"))

  lazy val q202Sql: String =
    s"""WITH quality AS (
      |  SELECT * FROM documents
      |  WHERE round((least(n_chars / 500.0, 1.0) * 0.5
      |       + least(len(regexp_extract_all(text, '\\S+')) / 80.0, 1.0) * 0.3
      |       + least(len(regexp_extract_all(text, '\\b(the|a|of|and)\\b')) / 5.0, 1.0) * 0.2)
      |      * 10000) / 10000.0 >= 0.5),
      |keep_exact AS (
      |  SELECT min(doc_id) AS doc_id FROM quality GROUP BY sha256(text)),
      |exact AS (
      |  SELECT q.* FROM quality q WHERE q.doc_id IN (SELECT doc_id FROM keep_exact)),
      |${graft.sql.Xxh64Sql.minhashSigsCtes(
          "SELECT doc_id, text FROM exact", coeffs, P)},
      |xpairs AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b,
      |    ${graft.sql.Xxh64Sql.estExpr("x", "y", NumHashes)} AS est_jaccard
      |  FROM xsigs x JOIN xsigs y
      |    ON x.doc_id < y.doc_id
      |   AND ${graft.sql.Xxh64Sql.bandMatch("x", "y", NumHashes,
                bandRowsFor(ProdNearDupThreshold))}),
      |mdrops AS (
      |  SELECT DISTINCT id_b AS doc_id FROM xpairs
      |  WHERE est_jaccard >= $ProdNearDupThreshold),
      |prod AS (
      |  SELECT * FROM exact
      |  WHERE doc_id NOT IN (SELECT doc_id FROM mdrops)
      |    AND substring(sha256(CAST(doc_id AS VARCHAR)), 1, 1) < '4')
      |SELECT doc_id, lang,
      |  len(regexp_extract_all(text, '\\S+')) AS n_tokens
      |FROM prod ORDER BY doc_id""".stripMargin

  // ── q203: near-dup threshold TUNING CURVE — dedup keep/drop counts and
  //         candidate-graph size at each candidate τ, each τ run at ITS
  //         τ-matched banding geometry (bandRowsFor). The q190/q191/q198
  //         sweep discipline applied to dedup's one deployment knob: ONE
  //         signature pass, one rep-level band join per DISTINCT geometry
  //         (3 for the default grid), per-τ aggregates via a broadcast τ
  //         frame — never |τ| corpus passes. n_keep at each τ is exactly
  //         what minhashDedupIds(τ) keeps (DedupSpec pins it);
  //         n_band_pairs is the geometry's rep-level candidate-graph
  //         size — the selectivity the τ-matched banding buys, the
  //         number an operator owner reads before picking a production
  //         threshold. Oracle: xsigs → rep collapse (GROUP BY all 64
  //         components) → per-geometry pair CTEs with the exact band
  //         predicates, bit-for-bit (the q34/q202 discipline).
  //         Since r17 the sweep band-joins ONCE at the coarsest geometry
  //         and derives each finer geometry by TUPLE equality over the
  //         joined signature components (geometries nest: r | r' ⇒
  //         pairs(r') ⊆ pairs(r)), so every n_band_pairs/n_drop column is
  //         exactly the oracle's tuple-matched count — the r16 xxhash64
  //         bucket-collision caveat is gone (the only hash-bucket join
  //         left is the coarse candidate PREFILTER, whose false positives
  //         are removed by the tuple-match columns).
  //         Scale bound (the r=4 low-τ legs, characterized at 100×):
  //         join work is O(Σ bucket²) over rep band-buckets — the counts
  //         STREAM out of the band join (partial-agg immediately after,
  //         nothing materializes), so the only quadratic exposure is
  //         shuffle/probe volume, never memory. Recorded 100× wall:
  //         36.3s on the 500k-doc all-clones corpus (7.3× the sf0.1
  //         wall — reps stay constant there, the linear signature pass
  //         dominates). On a DIVERSE corpus reps grow with the data and
  //         the r=4 legs inherit the legacy geometry's near-complete
  //         graph by design — that selectivity IS the reported statistic.
  //         The sweep is a run-once tuning diagnostic (pick τ, then
  //         deploy minhashDedupIds at the chosen τ's geometry), not a
  //         per-batch production operator. ──────────────────────────────
  val SweepTausNearDup: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9, 0.95)

  def neardupThresholdSweep(docs: DataFrame, textCol: String, idCol: String,
      taus: Seq[Double] = SweepTausNearDup): DataFrame = {
    require(taus.nonEmpty && taus.forall(t => t > 0.0 && t <= 1.0),
      s"thresholds must be in (0,1]: $taus")
    val spark = docs.sparkSession
    import spark.implicits._
    // aqeRepartition=false: this cache feeds the r=4 band join — 16
    // exploded buckets per rep and ~10^5 joined signature pairs per
    // bucket-match, the most CPU per cached byte in the registry (72
    // task-s at sf0.1). Advisory-byte coalescing would run that map side
    // on 1-2 tasks (measured: q203 2.74 → 7.09s); the parallel pinned
    // layout is right here.
    val groups = minhashGroups(docs, textCol, idCol)
      .trackedPersist(aqeRepartition = false)
    // one broadcast totals row; n_total counts ALL docs (a tokenless doc
    // has no signature but is always kept), n_nonrep the sure clone drops
    val totals = docs.agg(count(lit(1)).as("n_total"))
      .crossJoin(groups.agg(coalesce(
        sum(size(col("members"))) - count(lit(1)), lit(0L)).as("n_nonrep")))
    // ONE band join at the COARSEST requested geometry (smallest r):
    // geometries nest (r' a multiple of r ⇒ an r'-row band is consecutive
    // aligned r-row bands, so a pair matching at r' also bucket-matches at
    // r), so every finer geometry's membership is a tuple-equality
    // expression over the already-joined signature components — no second
    // band join, distinct, or signature re-join per geometry (guide §2.4:
    // the r16 shape paid 3 band joins + 6 signature joins for the default
    // grid). Tuple equality also makes n_band_pairs EXACTLY the oracle's
    // tuple-matched count at every geometry, collision caveat closed.
    val geoms = taus.distinct.map(bandRowsFor).distinct
    val rmin = geoms.min
    require(geoms.forall(_ % rmin == 0),
      s"sweep geometries must nest (all multiples of $rmin): $geoms")
    def tupleMatch(r: Int): Column =
      (0 until NumHashes / r).map { bi =>
        (0 until r).map(j => col(s"xa${bi * r + j}") === col(s"xb${bi * r + j}"))
          .reduce(_ && _)
      }.reduce(_ || _)
    val pairs = geoms.foldLeft(repPairsWithSigs(groups, rmin)) {
      (df, r) => df.withColumn(s"_bm_$r", tupleMatch(r))
    }.select(col("id_b") +: col("est_jaccard") +:
      geoms.map(r => col(s"_bm_$r")): _*)
    val tausDf = taus.distinct.map(t => (t, bandRowsFor(t)))
      .toDF("tau", "band_rows")
    val matched = geoms.foldRight(lit(false): Column) { (r, acc) =>
      when(col("band_rows") === r, col(s"_bm_$r")).otherwise(acc)
    }
    val perGeom = pairs.crossJoin(broadcast(tausDf))
      .groupBy(col("tau"), col("band_rows"))
      .agg(sum(when(matched, 1L).otherwise(0L)).as("n_band_pairs"),
        count_distinct(when(matched && col("est_jaccard") >= col("tau"),
          col("id_b"))).as("n_drop_reps"))
    // spine: a geometry whose band join found nothing must still report
    // its τs (0 pairs, clone-only drops), so the per-geometry aggregates
    // LEFT-join onto the full τ grid
    val spine = taus.distinct.map(t => (t, bandRowsFor(t)))
      .toDF("tau", "band_rows")
    spine.join(perGeom, Seq("tau", "band_rows"), "left")
      .crossJoin(broadcast(totals))
      .select(col("tau"), col("band_rows"),
        coalesce(col("n_band_pairs"), lit(0L)).as("n_band_pairs"),
        (coalesce(col("n_drop_reps"), lit(0L)) + col("n_nonrep")).as("n_drop"),
        (col("n_total") - coalesce(col("n_drop_reps"), lit(0L)) -
          col("n_nonrep")).as("n_keep"))
      .orderBy(col("tau"))
  }

  def q203(s: SparkSession, dir: String): DataFrame =
    neardupThresholdSweep(documents(s, dir), "text", "doc_id")

  lazy val q203Sql: String = {
    val geoms = SweepTausNearDup.map(bandRowsFor).distinct.sorted
    val repCols = (0 until NumHashes).map(i => s"m$i").mkString(", ")
    val pairCtes = geoms.map { r =>
      s"""p$r AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b,
         |    ${graft.sql.Xxh64Sql.estExpr("x", "y", NumHashes)} AS est
         |  FROM xreps x JOIN xreps y
         |    ON x.doc_id < y.doc_id
         |   AND ${graft.sql.Xxh64Sql.bandMatch("x", "y", NumHashes, r)})""".stripMargin
    }.mkString(",\n")
    val legs = SweepTausNearDup.map { t =>
      val r = bandRowsFor(t)
      s"""  SELECT CAST($t AS DOUBLE) AS tau, CAST($r AS INT) AS band_rows,
         |    (SELECT count(*) FROM p$r) AS n_band_pairs,
         |    (SELECT count(DISTINCT id_b) FROM p$r WHERE est >= $t)
         |      AS n_drop_reps""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${graft.sql.Xxh64Sql.minhashSigsCtes(
          "SELECT doc_id, text FROM documents", coeffs, P)},
       |xreps AS (
       |  SELECT min(doc_id) AS doc_id, $repCols
       |  FROM xsigs GROUP BY $repCols),
       |$pairCtes,
       |tot AS (SELECT count(*) AS n FROM documents),
       |nonrep AS (
       |  SELECT (SELECT count(*) FROM xsigs) - (SELECT count(*) FROM xreps)
       |    AS n),
       |legs AS (
       |$legs)
       |SELECT tau, band_rows, n_band_pairs,
       |  n_drop_reps + (SELECT n FROM nonrep) AS n_drop,
       |  (SELECT n FROM tot) - n_drop_reps - (SELECT n FROM nonrep) AS n_keep
       |FROM legs ORDER BY tau""".stripMargin
  }

  // ── q58: stratified per-key sampling — exactly n docs PER LANGUAGE,
  //        membership ranked by content hash (deterministic, partition-
  //        independent — the q52 sampler stratified by group). Runs on the
  //        custom TopKPerKey operator: one hash-shuffle + bounded heap per
  //        key, no per-partition sort, no Window. The balance-by-group
  //        primitive of training-data curation (cap any one
  //        language/source/domain at n).
  def stratifiedSample(docs: DataFrame, keyCol: String, idCol: String,
      n: Int): DataFrame = {
    // internal ranking column: collision-resistant name, dropped before
    // returning — the helper's output schema is exactly the input schema
    // (callers needing the rank recompute sha2(id), e.g. q58's ORDER BY)
    val rank = "_graft_strat_rank"
    org.apache.spark.sql.graft.TopKPerKey.of(
        docs.withColumn(rank, sha2(col(idCol).cast("string"), 256)),
        keys = Seq(keyCol),
        orderBy = Seq(rank -> true, idCol -> true), k = n)
      .drop(rank)
  }

  def q58(s: SparkSession, dir: String): DataFrame =
    stratifiedSample(documents(s, dir), "lang", "doc_id", n = 20)
      .orderBy(col("lang"), sha2(col("doc_id").cast("string"), 256),
        col("doc_id"))
      .select(col("lang"), col("doc_id"))

  val q58Sql: String =
    """SELECT lang, doc_id FROM (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 20
      |ORDER BY lang, sha256(CAST(doc_id AS VARCHAR)), doc_id""".stripMargin

  // ── q66: per-key QUOTA sampling — domain mixing, the stage after
  //        stratification in training-data prep: each key (language /
  //        source / domain) is capped at its OWN target count, not one
  //        shared n. Scale shape: TopKPerKey does the heavy lifting with
  //        k = max(quota) (one hash-shuffle + bounded heap per key — the
  //        corpus never sorts), then the per-key trim runs as a window
  //        over the tiny bounded result (≤ keys × maxQuota rows). Keys
  //        missing from the map default to 0 (drop unlisted domains — the
  //        conservative mixing default).
  def quotaSample(docs: DataFrame, keyCol: String, idCol: String,
      quotas: Map[String, Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxQ = if (quotas.isEmpty) 0 else quotas.values.max
    if (maxQ <= 0) return docs.limit(0) // TopKPerKey requires k > 0
    val rank = "_graft_quota_rank"
    val rn = "_graft_quota_rn"
    val quota = quotas.foldLeft(lit(0)) { case (acc, (k, q)) =>
      when(col(keyCol) === k, lit(q)).otherwise(acc)
    }
    val capped = org.apache.spark.sql.graft.TopKPerKey.of(
      docs.withColumn(rank, sha2(col(idCol).cast("string"), 256)),
      keys = Seq(keyCol),
      orderBy = Seq(rank -> true, idCol -> true), k = maxQ)
    capped
      .withColumn(rn, row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col(rank), col(idCol))))
      .filter(col(rn) <= quota)
      .drop(rank, rn)
  }

  def q66(s: SparkSession, dir: String): DataFrame =
    quotaSample(documents(s, dir), "lang", "doc_id",
        Map("en" -> 30, "de" -> 10, "es" -> 5, "fr" -> 5))
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))

  val q66Sql: String =
    """SELECT lang, doc_id FROM (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 10
      |            WHEN 'es' THEN 5 WHEN 'fr' THEN 5 ELSE 0 END
      |ORDER BY lang, doc_id""".stripMargin

  /** Incremental dedup — the continuous-crawl shape: dedup only the NEW
    * batch against (a) itself and (b) the historical corpus's digest
    * index. History never rescans its text: at 100 TB the `hist` side is
    * a maintained bucketed digest table (32 bytes/doc), and the batch
    * anti-joins it on the digest — shuffle is batch-sized, not
    * corpus-sized. Within-batch first-occurrence wins via one min_by
    * aggregate (no window sort).
    */
  def incrementalDedup(batch: DataFrame, histDigests: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val winners = batch
      .withColumn("_d", sha2(col(textCol), 256))
      .groupBy(col("_d"))
      .agg(min(col(idCol)).as(idCol))
    winners.join(histDigests, Seq("_d"), "left_anti").drop("_d")
  }

  // q82: docs with doc_id ≡ 4 (mod 5) arrive as the new batch; the rest
  //      are history. Survivors = first-in-batch content not seen before.
  def q82(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val hist = docs.where(col("doc_id") % 5 =!= 4)
      .select(sha2(col("text"), 256).as("_d")).distinct()
    val batch = docs.where(col("doc_id") % 5 === 4)
    incrementalDedup(batch.select(col("doc_id"), col("text")), hist,
        "text", "doc_id")
      .join(batch.select(col("doc_id"), col("lang"), col("source")), Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  val q82Sql: String =
    """WITH d AS (SELECT doc_id, lang, source, sha256(text) AS _d FROM documents),
      |hist AS (SELECT DISTINCT _d FROM d WHERE doc_id % 5 != 4),
      |batch AS (SELECT * FROM d WHERE doc_id % 5 = 4),
      |win AS (SELECT _d, min(doc_id) AS doc_id FROM batch GROUP BY 1)
      |SELECT w.doc_id, b.lang, b.source
      |FROM win w JOIN batch b ON b.doc_id = w.doc_id
      |WHERE w._d NOT IN (SELECT _d FROM hist)
      |ORDER BY w.doc_id""".stripMargin

  /** Temperature-scaled sampling weights for the training mix
    * (w_i ∝ n_i^α, α < 1 upweights small sources — the multilingual /
    * multi-source balancing rule). Dataset-level: per-source token counts
    * reduce map-side; the normalizer is a ~20-row aggregate broadcast
    * back.
    *
    * Cross-engine exactness by construction (NOT by rounding): α = 3/4,
    * and n^0.75 = sqrt(n)·sqrt(sqrt(n)). IEEE-754 `sqrt` is exactly
    * rounded (unlike libm `pow`, whose last-ulp differs between Java's
    * Math.pow and DuckDB's libm — the r4 hash mismatch), so both engines
    * compute bit-identical doubles from the same integer token counts.
    * Each score is then quantized to an integer (×1e6, round) and the
    * normalizer is an INTEGER sum — order-free — so the final division
    * sees identical operands on both engines.
    */
  def q83(s: SparkSession, dir: String): DataFrame = {
    val t = documents(s, dir)
      .select(col("source"),
        regexp_count(col("text"), lit("[^\\t\\n\\f\\r ]+")).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
    val scored = t.withColumn("_s",
      round(sqrt(col("n_tokens")) * sqrt(sqrt(col("n_tokens"))) * 1000000)
        .cast("long"))
    val z = scored.agg(sum(col("_s")).as("_z"))
    scored.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"),
        (round(col("_s").cast("double") / col("_z").cast("double") * 1000000)
          / 1000000.0).as("weight"))
      .orderBy(col("source"))
  }

  val q83Sql: String =
    """WITH t AS (
      |  SELECT source, CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |s AS (
      |  SELECT source, n_tokens,
      |    CAST(round(sqrt(n_tokens) * sqrt(sqrt(n_tokens)) * 1000000) AS BIGINT) AS _s
      |  FROM t),
      |z AS (SELECT sum(_s) AS _z FROM s)
      |SELECT source, n_tokens,
      |  round(CAST(_s AS DOUBLE) / CAST(_z AS DOUBLE) * 1000000) / 1000000.0 AS weight
      |FROM s CROSS JOIN z ORDER BY source""".stripMargin

  // ── q114: duplicated-SUBSTRING span detection — the span-level exact
  //        dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
  //        Language Models Better"), re-expressed relationally instead of
  //        via a suffix array: a span is duplicated iff every K-token
  //        gram inside it occurs ≥2 times in the corpus, so (1) explode
  //        token POSITIONS and materialize each positional K-gram after
  //        the Generate (the winnowingRows lesson: grams computed before
  //        the explode get re-evaluated inside optimizer-inferred
  //        filters); (2) one groupBy(gram) keeps grams with count ≥ 2;
  //        (3) a join marks the duplicated positions; (4) gaps-and-islands
  //        (pos − row_number, partitioned BY DOC) merges adjacent
  //        positions into maximal spans. Output is integer-only → bit-
  //        exact oracle. Scale shape: the exchanges carry (gram hash-
  //        partitioned) and (doc_id, pos) — never the text; the island
  //        window is per-doc, so no single-partition WindowExec. At
  //        100 TB the gram column would be sha2(gram) to cap key width —
  //        kept as text here so the oracle groups on the identical key.
  val SpanGramK = 8

  def duplicatedSpans(docs: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nG = size(col("_toks")) - (k - 1)
    val grams = docs
      .select(col(idCol).as("doc_id"),
        expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")
          .as("_toks"))
      .select(col("doc_id"), col("_toks"),
        explode(when(nG < 1, array().cast("array<int>"))
          .otherwise(sequence(lit(1), nG))).as("pos"))
      .select(col("doc_id"), col("pos"),
        array_join(slice(col("_toks"), col("pos"), lit(k)), " ").as("gram"))
      .trackedPersist()
    val dup = grams.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select(col("gram"))
    val dupPos = grams.join(dup, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("bigint").as("span_start"),
        (max(col("pos")) + (k - 1)).cast("bigint").as("span_end"),
        count(lit(1)).as("n_grams"))
      .withColumn("n_tokens", col("span_end") - col("span_start") + 1)
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_tokens"), col("n_grams"))
  }

  def q114(s: SparkSession, dir: String): DataFrame =
    duplicatedSpans(fanout(documents(s, dir), "doc_id"), "text", "doc_id",
        SpanGramK)
      .orderBy(col("doc_id"), col("span_start"))

  // generate_series(1, 4096) is an oracle-only position bound (docs are
  // ≤ ~100 tokens at verify SF); the Spark side uses exact sequence().
  val q114Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(toks[i:i+${SpanGramK - 1}], ' ') AS gram
       |  FROM d CROSS JOIN generate_series(1, 4096) t(i)
       |  WHERE i <= len(toks) - ${SpanGramK - 1}),
       |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
       |p AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
       |isl AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM p)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pos) + ${SpanGramK - 1} AS BIGINT) AS span_end,
       |  CAST(max(pos) + ${SpanGramK - 1} - min(pos) + 1 AS BIGINT)
       |    AS n_tokens,
       |  count(*) AS n_grams
       |FROM isl GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin

  // ── q123: gram-level decontamination metric — for every TRAIN doc, the
  //         fraction of its distinct 5-token grams that appear anywhere in
  //         the TEST split (the "n-gram overlap with eval" check of
  //         GPT-3's appendix-C decontamination; q105's jaccard audit is
  //         doc-level, this is the gram-containment view that catches
  //         partial copies below the jaccard threshold). Scale shape: the
  //         eval gram set is small relative to the corpus → the hit test
  //         is an equi semi-join on the gram key (AQE broadcasts it when
  //         it fits); grams are deduped per doc BEFORE the join so clone-
  //         heavy docs don't multiply probe rows; top-20 is TakeOrdered.
  val ContamGramK = 5

  def q123(s: SparkSession, dir: String): DataFrame = {
    val toks = fanout(documents(s, dir), "doc_id")
      .select(col("doc_id"),
        graft.ops.Scale.splitOf(col("doc_id").cast("string")).as("split"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("a"))
      .where(col("split").isin("train", "test"))
    val n = size(col("a")) - (ContamGramK - 1)
    val grams = toks
      .select(col("doc_id"), col("split"), col("a"),
        explode(when(n < 1, array().cast("array<int>"))
          .otherwise(sequence(lit(1), n))).as("i"))
      .select(col("doc_id"), col("split"),
        array_join(slice(col("a"), col("i"), lit(ContamGramK)), " ").as("g"))
    val trainG = grams.where(col("split") === "train")
      .select(col("doc_id"), col("g")).distinct().trackedPersist()
    val evalG = grams.where(col("split") === "test").select(col("g")).distinct()
    val hits = trainG.join(evalG, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_cont"))
    trainG.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_cont"), lit(0L)).as("n_cont"))
      .select(col("doc_id"), col("n_grams"), col("n_cont"),
        (round(col("n_cont").cast("double") / col("n_grams") * 10000)
          / 10000.0).as("contam_frac"))
      .orderBy(col("contam_frac").desc, col("doc_id"))
      .limit(20)
  }

  val q123Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN substring(sha256('split:' || CAST(doc_id AS VARCHAR)),
       |        1, 2) < 'cc' THEN 'train'
       |      WHEN substring(sha256('split:' || CAST(doc_id AS VARCHAR)),
       |        1, 2) < 'e6' THEN 'val'
       |      ELSE 'test' END AS split,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS a
       |  FROM documents),
       |g0 AS (
       |  SELECT doc_id, split, a,
       |    unnest(generate_series(1, len(a) - ${ContamGramK - 1})) AS i
       |  FROM d WHERE split IN ('train', 'test')),
       |g AS (
       |  SELECT DISTINCT doc_id, split,
       |    array_to_string(a[i:i+${ContamGramK - 1}], ' ') AS g
       |  FROM g0),
       |ev AS (SELECT DISTINCT g FROM g WHERE split = 'test'),
       |tr AS (SELECT doc_id, g FROM g WHERE split = 'train'),
       |hit AS (SELECT tr.doc_id, count(*) AS n_cont
       |  FROM tr JOIN ev USING (g) GROUP BY 1),
       |tot AS (SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY 1)
       |SELECT tot.doc_id, n_grams, coalesce(n_cont, 0) AS n_cont,
       |  round(CAST(coalesce(n_cont, 0) AS DOUBLE) / n_grams * 10000)
       |    / 10000.0 AS contam_frac
       |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
       |ORDER BY contam_frac DESC, tot.doc_id LIMIT 20""".stripMargin

  // ── q124: segment-level dedup stats — split every doc into consecutive
  //         ${SegLen}-token segments and report, per source, how many
  //         segment occurrences are duplicated across ≥2 distinct docs
  //         (the RefinedWeb/C4 line-dedup primitive re-expressed over
  //         token segments, since the synthetic corpus has no newlines;
  //         the chars_dup column is exactly what a removal pass would
  //         delete). Scale shape: one segment-digest-keyed groupBy builds
  //         the dup set (partial agg absorbs clone skew), the flag-back is
  //         an equi join on the segment key (AQE picks broadcast vs
  //         shuffle), per-source rollup is a small agg.
  val SegLen = 10

  def q124(s: SparkSession, dir: String): DataFrame = {
    val segs = fanout(documents(s, dir), "doc_id")
      .select(col("source"), col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("a"))
      .select(col("source"), col("doc_id"), col("a"),
        explode(when(size(col("a")) < 1, array().cast("array<int>"))
          .otherwise(expr(s"sequence(0, (size(a) - 1) div $SegLen)")))
          .as("k"))
      .select(col("source"), col("doc_id"),
        array_join(slice(col("a"), col("k") * SegLen + 1, lit(SegLen)), " ")
          .as("seg"))
      .trackedPersist()
    val dup = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("_nd"))
      .where(col("_nd") >= 2)
      .select(col("seg"), lit(1).as("_dup"))
    segs.join(dup, Seq("seg"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_segments"),
        count(col("_dup")).as("n_dup_segments"),
        sum(when(col("_dup").isNotNull, length(col("seg")))
          .otherwise(0)).as("n_chars_dup"))
      .select(col("source"), col("n_segments"), col("n_dup_segments"),
        col("n_chars_dup").cast("long").as("n_chars_dup"),
        (round(col("n_dup_segments").cast("double") / col("n_segments")
          * 10000) / 10000.0).as("dup_frac"))
      .orderBy(col("source"))
  }

  val q124Sql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS a
       |  FROM documents),
       |s0 AS (
       |  SELECT source, doc_id, a,
       |    unnest(generate_series(0, (len(a) - 1) // $SegLen)) AS k
       |  FROM d WHERE len(a) >= 1),
       |seg AS (
       |  SELECT source, doc_id,
       |    array_to_string(a[k * $SegLen + 1 : k * $SegLen + $SegLen], ' ')
       |      AS seg
       |  FROM s0),
       |dup AS (SELECT seg FROM (
       |  SELECT seg, count(DISTINCT doc_id) AS nd FROM seg GROUP BY 1)
       |  WHERE nd >= 2)
       |SELECT t.source, count(*) AS n_segments,
       |  count(u.seg) AS n_dup_segments,
       |  CAST(sum(CASE WHEN u.seg IS NOT NULL THEN len(t.seg) ELSE 0 END)
       |    AS BIGINT) AS n_chars_dup,
       |  round(CAST(count(u.seg) AS DOUBLE) / count(*) * 10000) / 10000.0
       |    AS dup_frac
       |FROM seg t LEFT JOIN dup u ON t.seg = u.seg
       |GROUP BY t.source ORDER BY t.source""".stripMargin

  // ── q144: per-doc n-gram novelty histogram — the memorization-risk
  //         audit (Lee et al. 2022's doc-level view): for every doc, the
  //         fraction of its DISTINCT 8-gram shingles that also occur in
  //         at least one other doc, bucketed ×10 into an 11-bin corpus
  //         histogram (bucket 0 = fully novel, 10 = fully duplicated).
  //         q114/q124 localize duplicated spans; this rolls the same
  //         evidence up to "how much of each document is boilerplate",
  //         the number a filtering threshold is set against. Shuffle
  //         carries 8-byte xxhash64 window digests only (never gram
  //         text — digest-early: no shingle string or md5 hex string is
  //         ever built, the r12 GC-pressure fix); the per-doc fraction
  //         is pure integer arithmetic (dup*10 DIV tot) so no float
  //         crosses an aggregate. The oracle md5s its string grams —
  //         both sides only test gram EQUALITY, so the engines agree
  //         modulo 64-bit collisions, the MinHash family's tolerance.
  //         At 100 TB: two digest shuffles + an 11-row-out groupBy —
  //         the q32 shape twice.
  def q144(s: SparkSession, dir: String): DataFrame = {
    // n_tokens deliberately re-counts text with regexp_count rather than
    // size(_th): CollapseProject inlines _th into every consumer, and
    // a second _th reference beside the generator re-tokenizes per
    // shingle row (measured 65s vs 22s at 50×) — one extra flat regexp
    // pass per doc is the cheap side of that trade.
    // fused HashedNGrams staging: per-doc-distinct digests by
    // construction (n_tokens is a per-doc constant), so the relational
    // distinct AND the _th CollapseProject re-tokenization hazard the
    // note above described are both gone — the generator takes text
    // directly.
    val g = fanout(documents(s, dir), "doc_id")
      .select(col("doc_id"),
        regexp_count(col("text"), lit("[^\\t\\n\\f\\r ]+")).cast("long").as("n_tokens"),
        org.apache.spark.sql.graft.HashedNGrams.column(col("text"), 8).as("g"))
    val gd = g.groupBy(col("g")).agg(count(lit(1)).as("ndocs"))
    g.join(gd, Seq("g"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("tot"),
        count(when(col("ndocs") >= 2, 1)).as("dup"))
      .select(col("n_tokens"), expr("dup * 10 DIV tot").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("bucket"))
  }

  val q144Sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks,
      |    len(regexp_extract_all(text, '\S+')) AS n_tokens
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, n_tokens, md5(s) AS g FROM (
      |    SELECT doc_id, n_tokens,
      |      unnest(CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
      |        ELSE [array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+7], ' ')
      |              for i in range(1, len(toks) - 6)] END) AS s
      |    FROM t)),
      |gd AS (SELECT g, count(*) AS ndocs FROM g GROUP BY g),
      |per AS (
      |  SELECT doc_id, any_value(n_tokens) AS n_tokens, count(*) AS tot,
      |    count(*) FILTER (WHERE ndocs >= 2) AS dup
      |  FROM g JOIN gd USING (g) GROUP BY doc_id)
      |SELECT dup * 10 // tot AS bucket, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      |FROM per GROUP BY bucket ORDER BY bucket""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q144_ngram_novelty" -> q144,
    "q123_contam_fraction" -> q123,
    "q124_segment_dedup" -> q124,
    "q114_dup_spans" -> q114,
    "q32_dedup_exact" -> q32,
    "q33_dedup_jaccard" -> q33,
    "q34_dedup_minhash" -> q34,
    "q35_simhash" -> q35,
    "q42_winnowing" -> q42,
    "q51_minhash_sha" -> q51,
    "q103_incremental_neardup" -> q103,
    "q105_split_leakage" -> q105,
    "q106_incremental_prod" -> q106,
    "q53_winnowing_sha" -> q53,
    "q54_trigram_jaccard" -> q54,
    "q56_simhash_sha" -> q56,
    "q57_training_prep" -> q57,
    "q202_training_prep_prod" -> q202,
    "q203_neardup_threshold_sweep" -> q203,
    "q58_stratified_sample" -> q58,
    "q59_norm_dedup" -> q59,
    "q60_winnowing_pairs" -> q60,
    "q64_decontaminate" -> q64,
    "q66_quota_sample" -> q66,
    "q69_chunk_dedup" -> q69,
    "q70_bloom_decontam" -> q70,
    "q72_source_overlap" -> q72,
    "q82_incremental_dedup" -> q82,
    "q83_mix_weights" -> q83)

  val oracle: Map[String, String] = Map(
    "q144_ngram_novelty" -> q144Sql,
    "q123_contam_fraction" -> q123Sql,
    "q124_segment_dedup" -> q124Sql,
    "q114_dup_spans" -> q114Sql,
    "q57_training_prep" -> q57Sql,
    "q202_training_prep_prod" -> q202Sql,
    "q203_neardup_threshold_sweep" -> q203Sql,
    "q58_stratified_sample" -> q58Sql,
    "q59_norm_dedup" -> q59Sql,
    "q60_winnowing_pairs" -> q60Sql,
    "q32_dedup_exact" -> q32Sql,
    "q33_dedup_jaccard" -> q33Sql,
    "q34_dedup_minhash" -> q34Sql,
    "q35_simhash" -> q35Sql,
    "q70_bloom_decontam" -> q70Sql,
    "q42_winnowing" -> q42Sql,
    "q106_incremental_prod" -> q106Sql,
    "q51_minhash_sha" -> q51Sql,
    "q103_incremental_neardup" -> q103Sql,
    "q105_split_leakage" -> q105Sql,
    "q53_winnowing_sha" -> q53Sql,
    "q54_trigram_jaccard" -> q54Sql,
    "q56_simhash_sha" -> q56Sql,
    "q64_decontaminate" -> q64Sql,
    "q66_quota_sample" -> q66Sql,
    "q69_chunk_dedup" -> q69Sql,
    "q72_source_overlap" -> q72Sql,
    "q82_incremental_dedup" -> q82Sql,
    "q83_mix_weights" -> q83Sql)
}
