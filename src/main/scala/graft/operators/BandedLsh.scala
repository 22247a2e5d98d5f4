package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A MinHash signature scheme: everything hash-specific about a banded-LSH
  * pipeline. `tokenHash` stages one hash per (doc, token) row,
  * `component(h, i)` is the value whose per-doc min is signature component
  * i (of `k`), and `bandKey(rows, band)` turns one band's `rows`
  * consecutive components into its bucket key. The xxhash64 production
  * form and the sha256 oracle twin are two values of this type; the
  * relational steps around them are [[BandedLsh]]'s one body. */
private[graft] final case class SignatureScheme(k: Int, rows: Int,
    tokenHash: Column => Column, component: (Column, Int) => Column,
    bandKey: (Seq[Column], Int) => Column) {
  def bands: Int = k / rows
}

/** The banded-LSH core under every MinHash and SRP path: signature
  * aggregate → identical-signature collapse (sig, rep, members) → band
  * buckets (doc_id, band, bh) → band equi-join + distinct → flat k-term
  * est_jaccard. Each step is a plan-building function, so a caller's plan
  * is the one its inlined copy used to build. */
private[graft] object BandedLsh {

  /** xxhash64 MinHash: component i is the seeded permutation
    * (a_i·h + b_i) mod p of the token digest (already reduced mod p);
    * band b's key is xxhash64(its components :+ b). */
  def xxhash(coeffs: Array[(Long, Long)], p: Long, rows: Int): SignatureScheme =
    SignatureScheme(coeffs.length, rows, pmod(_, lit(p)),
      (h, i) => pmod(h * coeffs(i)._1 + coeffs(i)._2, lit(p)),
      (band, b) => xxhash64(band :+ lit(b): _*))

  /** sha256 MinHash (DuckDB-replayable): component i is the i-th 8-hex-char
    * slice of ONE digest per token (min is lexicographic over hex); 4 bands
    * × 2 rows keyed `m(2b) || '|' || m(2b+1)`. */
  val Sha256: SignatureScheme = SignatureScheme(8, 2, sha2(_, 256),
    (d, i) => substring(d, 1 + 8 * i, 8),
    (band, _) => concat(band.flatMap(m => Seq(lit("|"), m)).tail: _*))

  /** (doc_id, m0..m{k-1}) from (doc_id, t) token rows: the token hash is
    * staged once per row, then one hash-agg pass of k `min`s. */
  def signatures(toks: DataFrame, s: SignatureScheme): DataFrame = {
    val aggs = (0 until s.k).map(i => min(s.component(col("_h"), i)).as(s"m$i"))
    toks.withColumn("_h", s.tokenHash(col("t")))
      .groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Identical signatures collapse to (sig, rep, members) with the min id
    * as rep — k clones would otherwise collide in every band. */
  def groups(sigs: DataFrame, k: Int): DataFrame =
    sigs.groupBy(array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("members"))

  /** (doc_id, band, bh) bucket rows of a (doc_id, m0..) signature frame. */
  def buckets(sigs: DataFrame, s: SignatureScheme): DataFrame = {
    val bandCols = (0 until s.bands).map { b =>
      struct(lit(b).as("band"),
        s.bandKey((0 until s.rows).map(j => col(s"m${b * s.rows + j}")), b).as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** The band equi-join: distinct (a, b) id pairs whose bucket rows
    * (doc_id, band, bh) share a bucket. `ordered` keeps x.doc_id < y.doc_id
    * — the self-pair form; a batch×history join pairs every side. */
  def bandJoin(x: DataFrame, y: DataFrame, a: String, b: String,
      ordered: Boolean): DataFrame = {
    val on = col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
    x.as("x").join(y.as("y"), if (ordered) on && col("x.doc_id") < col("y.doc_id") else on)
      .select(col("x.doc_id").as(a), col("y.doc_id").as(b))
      .distinct()
  }

  /** Rep-level candidate pairs of two group frames (sig, rep, members):
    * band join, then est_jaccard as a flat k-term match count over the
    * joined components (xa0.. / xb0.. kept for callers that test finer
    * band geometries). The group key is the signature, so a rep's
    * components are sig[i], with no join back to the signatures. The flat
    * sum codegens; the zip_with/aggregate HOF form it replaced evaluated
    * interpreted and allocated a k-array per pair, the dominant cost of
    * q203's r=4 leg (~10^5 rep pairs per 5k docs). */
  private def pairs(x: DataFrame, y: DataFrame, s: SignatureScheme, a: String,
      b: String, ordered: Boolean): DataFrame = {
    def reps(g: DataFrame, id: String, p: String): DataFrame =
      g.select(col("rep").as(id) +: (0 until s.k).map(i => col("sig")(i).as(s"$p$i")): _*)
    def bucketsOf(g: DataFrame): DataFrame = buckets(reps(g, "doc_id", "m"), s)
    val bx = bucketsOf(x)
    val matches = (0 until s.k)
      .map(i => when(col(s"xa$i") === col(s"xb$i"), 1).otherwise(0)).reduce(_ + _)
    bandJoin(bx, if (ordered) bx else bucketsOf(y), a, b, ordered)
      .join(reps(x, a, "xa"), a).join(reps(y, b, "xb"), b)
      .withColumn("est_jaccard", matches / lit(s.k.toDouble))
  }

  /** Self pairs (id_a < id_b) of one group frame, components kept. */
  def selfPairs(groups: DataFrame, s: SignatureScheme): DataFrame =
    pairs(groups, groups, s, "id_a", "id_b", ordered = true)

  /** Batch×history pairs (new_id, hist_id, est_jaccard): the history×history
    * quadrant never pairs. */
  def crossPairs(batch: DataFrame, hist: DataFrame, s: SignatureScheme): DataFrame =
    pairs(batch, hist, s, "new_id", "hist_id", ordered = false)
      .select(col("new_id"), col("hist_id"), col("est_jaccard"))
}
