package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared machinery for the collapse-then-expand pattern used by every
  * clone-robust pairing operator (Dedup.jaccardPairs, minhashCandidates,
  * minhashShaCandidates, incrementalNearDupIndexed, incrementalNearDupSha,
  * winnowingShaPairs, Similarity.srpCandidatePairs): identical
  * texts/signatures collapse to a min-id representative with a `members`
  * list before the expensive pairing join, and these helpers re-expand the
  * representative-level result to the full member-pair set afterwards.
  * Exact, not approximate — members are indistinguishable from their rep
  * by construction, so the payload (jaccard, est_jaccard, …) copies
  * verbatim and intra-group pairs are complete (member↔member included;
  * dropping them was a real bug a review pass caught).
  */
private[operators] object GroupExpand {

  /** Re-expand representative-level pairs (id_a, id_b, payload…) to all
    * member pairs of the two groups, payload copied verbatim. Groups are
    * disjoint, so no pair is emitted twice; ids normalize to id_a < id_b. */
  def expandInter(repPairs: DataFrame, groups: DataFrame,
      payload: Seq[String]): DataFrame = {
    val pay: Seq[Column] = payload.map(col)
    repPairs
      .join(groups.select(col("rep").as("id_a"), col("members").as("_ms_a")), "id_a")
      .join(groups.select(col("rep").as("id_b"), col("members").as("_ms_b")), "id_b")
      .select(pay :+ explode(col("_ms_a")).as("a") :+ col("_ms_b"): _*)
      .select(pay :+ col("a") :+ explode(col("_ms_b")).as("b"): _*)
      .select(least(col("a"), col("b")).as("id_a") +:
        greatest(col("a"), col("b")).as("id_b") +: pay: _*)
  }

  /** Re-expand batch×history rep pairs (new_id, hist_id, est_jaccard) to
    * every member pair. Each side's groups are disjoint, so every member
    * pair appears exactly once; the estimate copies verbatim (members are
    * signature-identical to their rep by construction). */
  def expandCross(repPairs: DataFrame, batchGroups: DataFrame,
      histGroups: DataFrame): DataFrame =
    repPairs
      .join(batchGroups.select(col("rep").as("new_id"), col("members").as("_ms_n")),
        "new_id")
      .join(histGroups.select(col("rep").as("hist_id"), col("members").as("_ms_h")),
        "hist_id")
      .select(col("est_jaccard"), explode(col("_ms_n")).as("new_id"), col("_ms_h"))
      .select(col("est_jaccard"), col("new_id"), explode(col("_ms_h")).as("hist_id"))
      .select(col("new_id"), col("hist_id"), col("est_jaccard"))

  /** ALL (a < b) member pairs within each multi-member group, with the
    * group's rep retained for payload joins. */
  def intraPairs(groups: DataFrame): DataFrame =
    groups.filter(size(col("members")) > 1)
      .select(col("rep"), explode(col("members")).as("a"), col("members"))
      .select(col("rep"), col("a"), explode(col("members")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("rep"), col("a").as("id_a"), col("b").as("id_b"))
}
