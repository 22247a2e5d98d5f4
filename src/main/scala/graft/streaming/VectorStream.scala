package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Fns._

/** Streaming over the EMBEDDING modality — the one stream the events/media
  * pipelines don't cover: vectors arriving on a file stream are screened
  * against a broadcast eval/reference set at INGEST time (the streaming
  * face of q134's batch embedding decontamination — catch an eval-set
  * near-duplicate BEFORE it lands in a training shard, not in a later
  * batch audit).
  *
  * Scale notes: the gate is STATELESS — the reference set is a static
  * 1-row aggregate the planner re-broadcasts per micro-batch, the
  * per-vector max-cosine is a codegen'd higher-order fold, and no
  * streaming state store exists at all (nothing to checkpoint, nothing to
  * evict). The reference side is an eval benchmark (10³–10⁵ vectors), so
  * `collect_list` into one broadcast row is bounded by contract — the
  * corpus side only ever streams. The output keys by vec_id, so the
  * result set is arrival-order-invariant and the batch oracle is the
  * same screen as one SQL join.
  */
object VectorStream {

  /** Reference screen as a static 1-row array-of-structs aggregate:
    * (eid, ev float[]) for every eval vector. */
  private[graft] def evalSet(s: SparkSession, dir: String): DataFrame =
    graft.Tables.embeddings(s, dir)
      .where(col("vec_id") % 50 === 0)
      .agg(collect_list(struct(col("vec_id").as("eid"),
        col("embedding").as("ev"))).as("evals"))
      // eager 1-row materialization: the reference set is built ONCE,
      // not re-scanned per micro-batch of the stream-static join
      .localCheckpoint(true)

  /** The gate itself (stream- or batch-composable): max cosine of each
    * incoming vector against the reference set, quarantine flag at the
    * duplicate bar. Cosines are computed in double (float32 cast first —
    * the Similarity rule) and rounded 1e-4 BEFORE the max, so the
    * per-vector verdict is bit-stable across engines and batch/stream. */
  def screen(vectors: DataFrame, evals: DataFrame): DataFrame =
    vectors.withColumn("_k", lit(1))
      .join(evals.withColumn("_k", lit(1)), Seq("_k"))
      .select(col("vec_id"),
        array_max(transform(col("evals"), e =>
          round4(graft.functions.CosineSim.cosineSim(
            col("embedding").cast("array<double>"),
            e("ev").cast("array<double>"))))).as("max_cos"))
      .select(col("vec_id"), col("max_cos"),
        when(col("max_cos") >= 0.9999, 1L).otherwise(0L).as("quarantined"))

  // ── q175: streaming embedding decontamination gate — the full
  //        embeddings corpus arrives as a parquet file stream (ts derived
  //        from vec_id like the q113 doc stream) and every vector is
  //        scored against the broadcast eval subset (vec_id % 50 = 0).
  //        Eval members themselves flow through the stream, so the
  //        quarantine rows are non-trivially populated (self-cosine = 1);
  //        everything else carries its honest max_cos. AvailableNow may
  //        split the input into any number of micro-batches — the gate is
  //        stateless, so the result is the batch screen regardless.
  def q175(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr("timestamp_micros(vec_id * 1000000)").as("ts"),
        col("embedding"))
    val fixDir = graft.Fixtures.path("vecstream", dir)(base)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("ts", TimestampType),
      StructField("embedding", ArrayType(FloatType))))
    val gated = screen(
      s.readStream.schema(schema).parquet(fixDir), evalSet(s, dir))
    Streams.toMemory(s, "q175_stream_decontam_sink", gated, "append")
      .orderBy(col("vec_id"))
  }

  // LEFT JOIN (not CROSS) so the empty-reference edge agrees with the
  // Spark gate: an empty eval set must pass every vector with NULL
  // max_cos / quarantined=0 on BOTH sides (a CROSS JOIN against an empty
  // ev would emit zero rows while the gate emits all — ADVICE r8).
  val q175Sql: String =
    """WITH ev AS (
      |  SELECT embedding::DOUBLE[] AS evv FROM embeddings
      |  WHERE vec_id % 50 = 0),
      |sc AS (
      |  SELECT e.vec_id,
      |    max(round(list_cosine_similarity(e.embedding::DOUBLE[], ev.evv)
      |      * 10000) / 10000.0) AS max_cos
      |  FROM embeddings e LEFT JOIN ev ON TRUE GROUP BY e.vec_id)
      |SELECT vec_id, max_cos,
      |  CAST(CASE WHEN max_cos >= 0.9999 THEN 1 ELSE 0 END AS BIGINT)
      |    AS quarantined
      |FROM sc ORDER BY vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q175_stream_decontam" -> q175)

  val oracle: Map[String, String] = Map(
    "q175_stream_decontam" -> q175Sql)
}
