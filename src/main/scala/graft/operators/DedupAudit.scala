package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OperatorCaches.TrackedDataset
import graft.Tables._

/** Near-dup OPERATING-POINT audit — the measurement companion of the
  * q174 banding planner: the planner PREDICTS what a banding geometry
  * catches, this operator MEASURES it on the corpus. Candidate pairs
  * from a DuckDB-replayable MinHash banding (q51's 8-slice sha-256
  * signature, 4 bands × 2 rows, here over the same trigram shingles the
  * truth uses) are scored against exact trigram-Jaccard ground truth,
  * and precision / recall / predicted-catch land side by side per
  * threshold — the recall@10-style honesty of q158 applied to dedup.
  *
  * Contraction discipline: everything runs on UNIQUE texts (textGroups
  * reps) — clone multiplicities would inflate both sets quadratically
  * and say nothing about the banding. Exact all-pairs truth is the
  * documented audit-only side (the q72/q54 family); the candidate side
  * is the production-shaped banded equi-join.
  */
object DedupAudit {

  // ── q179: LSH dedup audit — per threshold τ: |truth|, |candidates|,
  //        true positives, precision, recall, and the q174-style
  //        analytic prediction for this geometry (b=4, r=2) at s=τ.
  def q179(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the exact all-pairs truth leg below is the documented audit-only
    // side — fail fast above the rep cap instead of running quadratic.
    // Two-stage: the raw doc_id column (≥ unique reps) passes cheaply;
    // only an over-bound corpus pays the exact rep count.
    val groups = Dedup.textGroups(documents(s, dir), "text", "doc_id")
    Dedup.requireAuditScale(documents(s, dir).select(col("doc_id")),
      "q179's exact trigram-Jaccard truth leg",
      Dedup.MaxRepsConf, Dedup.MaxRepsDefault,
      "the banded candidate leg / q174's analytic planner",
      exactRel = Some(groups.select(col("rep"))))
    // ONE shingle relation feeds both sides (persisted: truth self-join
    // x/y + sizes + the signature aggregate all read it) — the audit's
    // candidate and truth legs must share a feature space anyway, so
    // sharing the physical stage is free correctness AND one less
    // regexp+explode pass over the rep texts
    val toks = Dedup.distinctTokens(
      groups.select(col("rep").as("doc_id"), col("_text").as("text")),
      "text", "doc_id", 3)
      .trackedPersist()
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // the truth self-join shuffles 8-byte xxhash64 digests, not shingle
    // strings (the q54 digest-early discipline applied to the audit's
    // truth leg — same 64-bit-collision tolerance); toks itself stays the
    // shared STRING relation because the sha-signature leg below digests
    // the string bytes
    val toksH = toks.select(col("doc_id"), xxhash64(col("t")).as("th"))
    val truth = toksH.as("x")
      .join(toksH.as("y"),
        col("x.th") === col("y.th") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("shared") / (col("n_a") + col("n_b") - col("shared")))
          .as("jaccard"))
    // minhashShaSignatures' aggregate over the shared shingle relation
    val buckets = BandedLsh.buckets(
      BandedLsh.signatures(toks, BandedLsh.Sha256), BandedLsh.Sha256)
    val cand = BandedLsh.bandJoin(buckets, buckets, "id_a", "id_b", ordered = true)
    val ann = truth
      .join(cand.withColumn("is_cand", lit(1L)), Seq("id_a", "id_b"),
        "full_outer")
      .select(coalesce(col("jaccard"), lit(0.0)).as("jacc"),
        coalesce(col("is_cand"), lit(0L)).as("is_cand"))
    val taus = Seq(0.3, 0.5, 0.7).toDF("tau")
    ann.crossJoin(broadcast(taus))
      .groupBy(col("tau"))
      .agg(
        sum(when(col("jacc") >= col("tau"), 1L).otherwise(0L)).as("n_truth"),
        sum(col("is_cand")).as("n_cand"),
        sum(when(col("jacc") >= col("tau") && col("is_cand") === 1L, 1L)
          .otherwise(0L)).as("tp"))
      .select(col("tau"), col("n_truth"), col("n_cand"), col("tp"),
        when(col("n_cand") > 0, col("tp").cast("double") / col("n_cand"))
          .as("prec"),
        when(col("n_truth") > 0, col("tp").cast("double") / col("n_truth"))
          .as("recall"),
        expr("round((1.0 - pow(1.0 - pow(tau, 2), 4)) * 10000) / 10000.0")
          .as("pred_catch"))
      .orderBy(col("tau"))
  }

  val q179Sql: String =
    """WITH d AS (SELECT text, min(doc_id) AS doc_id FROM documents
      |  GROUP BY text),
      |tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM d),
      |sh AS (
      |  SELECT DISTINCT doc_id, t FROM (
      |    SELECT doc_id,
      |      unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |        ELSE [array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2], ' ')
      |              for i in range(1, len(toks) - 1)]
      |      END) AS t
      |    FROM tok)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |tp0 AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared
      |  FROM sh x JOIN sh y ON x.t = y.t AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |tj AS (
      |  SELECT id_a, id_b, shared / (sa.n + sb.n - shared) AS jacc
      |  FROM tp0
      |  JOIN sizes sa ON id_a = sa.doc_id
      |  JOIN sizes sb ON id_b = sb.doc_id),
      |sigs AS (
      |  SELECT doc_id,
      |    min(substring(sha256(t), 1, 8)) AS m0, min(substring(sha256(t), 9, 8)) AS m1,
      |    min(substring(sha256(t), 17, 8)) AS m2, min(substring(sha256(t), 25, 8)) AS m3,
      |    min(substring(sha256(t), 33, 8)) AS m4, min(substring(sha256(t), 41, 8)) AS m5,
      |    min(substring(sha256(t), 49, 8)) AS m6, min(substring(sha256(t), 57, 8)) AS m7
      |  FROM sh GROUP BY doc_id),
      |buckets AS (
      |  SELECT doc_id, 0 AS band, m0 || '|' || m1 AS bh FROM sigs
      |  UNION ALL SELECT doc_id, 1, m2 || '|' || m3 FROM sigs
      |  UNION ALL SELECT doc_id, 2, m4 || '|' || m5 FROM sigs
      |  UNION ALL SELECT doc_id, 3, m6 || '|' || m7 FROM sigs),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM buckets x JOIN buckets y
      |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
      |ann AS (
      |  SELECT coalesce(tj.jacc, 0.0) AS jacc,
      |    CASE WHEN cand.id_a IS NULL THEN 0 ELSE 1 END AS is_cand
      |  FROM tj FULL OUTER JOIN cand USING (id_a, id_b)),
      |tt AS (SELECT unnest([0.3, 0.5, 0.7]) AS tau),
      |agg AS (
      |  SELECT tau,
      |    CAST(sum(CASE WHEN jacc >= tau THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_truth,
      |    CAST(sum(is_cand) AS BIGINT) AS n_cand,
      |    CAST(sum(CASE WHEN jacc >= tau AND is_cand = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS tp
      |  FROM ann CROSS JOIN tt GROUP BY tau)
      |SELECT tau, n_truth, n_cand, tp,
      |  CASE WHEN n_cand > 0 THEN CAST(tp AS DOUBLE) / n_cand END AS prec,
      |  CASE WHEN n_truth > 0 THEN CAST(tp AS DOUBLE) / n_truth END AS recall,
      |  round((1.0 - pow(1.0 - pow(tau, 2), 4)) * 10000) / 10000.0
      |    AS pred_catch
      |FROM agg ORDER BY tau""".stripMargin

  /** (doc_id, band, bh) band-bucket rows of the q51 sha geometry — the
    * physical content of an LSH INDEX over `docs`. q179's candidate leg
    * uses the same builder, so the two stay one geometry by construction. */
  private def bandRows(docs: DataFrame): DataFrame =
    BandedLsh.buckets(Dedup.minhashShaSignatures(docs, "text", "doc_id"),
      BandedLsh.Sha256)

  // ── q181: LSH band-index MAINTENANCE — the index q106's incremental
  //        screen presupposes, maintained instead of rebuilt: history
  //        band rows live as a parquet artifact (docs with doc_id % 3
  //        ≠ 0, built once), a new batch (doc_id % 3 = 0) contributes
  //        only ITS signature scan, and the updated index is the plain
  //        union — signatures are per-doc, so maintenance needs no
  //        merge logic at all (the cheapest possible incremental
  //        contract, worth PROVING rather than assuming). The oracle
  //        recomputes every band row from scratch over the whole
  //        corpus, so the driver hash proves incremental ≡ full — the
  //        q177/q148 discipline applied to the dedup index itself.
  def q181(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val hist = graft.Fixtures.path("bandindex", dir)(
      bandRows(docs.where(col("doc_id") % 3 =!= 0)))
    s.read.parquet(hist)
      .unionByName(bandRows(docs.where(col("doc_id") % 3 === 0)))
      .orderBy(col("doc_id"), col("band"))
  }

  val q181Sql: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t
      |  FROM documents),
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
      |  UNION ALL SELECT doc_id, 3, m6 || '|' || m7 FROM sigs)
      |SELECT doc_id, band, bh FROM buckets ORDER BY doc_id, band""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q179_lsh_audit" -> q179,
    "q181_band_index_maintain" -> q181)

  val oracle: Map[String, String] = Map(
    "q179_lsh_audit" -> q179Sql,
    "q181_band_index_maintain" -> q181Sql)
}
