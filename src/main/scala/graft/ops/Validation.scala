package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Data-quality gates V1–V6 (SURVEY.md §2.9) — the reference's runtime
  * validation functions (data_ingestion/ingest.py:63-114,254-288;
  * data_processing/process.py:78-123) with the same accept/reject
  * semantics, but single-pass distributed checks instead of eager scans.
  */
object Validation {

  final case class Result(passed: Boolean, errors: Seq[String]) {
    def ++(other: Result): Result =
      Result(passed && other.passed, errors ++ other.errors)
  }
  val ok: Result = Result(passed = true, Nil)
  private def fail(msg: String) = Result(passed = false, Seq(msg))

  /** V1: required columns present (schema-level, no job launched). */
  def requireColumns(df: DataFrame, required: Seq[String]): Result = {
    val missing = required.filterNot(df.columns.contains)
    if (missing.isEmpty) ok
    else fail(s"missing required columns: ${missing.mkString(", ")}")
  }

  /** V2: no nulls in critical columns — ONE agg pass for all columns
    * (not a filter per column). */
  def noNulls(df: DataFrame, cols: Seq[String]): Result = {
    if (cols.isEmpty) return ok
    val counts = df.select(cols.map(c => nullCount(c).as(c)): _*).head()
    nullsVerdict(cols.zipWithIndex.map { case (c, i) => c -> counts.getLong(i) })
  }

  /** The V2 aggregate for one column: its null count. */
  def nullCount(c: String): Column = count(when(col(c).isNull, 1))

  /** V2 verdict on (column, null count) pairs — shared by [[noNulls]] and
    * gates that count nulls inside a larger aggregate. */
  def nullsVerdict(counts: Seq[(String, Long)]): Result = {
    val bad = counts.collect { case (c, n) if n > 0 => s"$c ($n nulls)" }
    if (bad.isEmpty) ok else fail(s"nulls in critical columns: ${bad.mkString(", ")}")
  }

  /** V3: dtype equality (schema-level). */
  def dtypeCheck(df: DataFrame, expected: Map[String, DataType]): Result = {
    val bad = expected.toSeq.sortBy(_._1).flatMap { case (c, t) =>
      df.schema.find(_.name == c) match {
        case None => Some(s"$c missing")
        case Some(f) if f.dataType != t => Some(s"$c is ${f.dataType.simpleString}, expected ${t.simpleString}")
        case _ => None
      }
    }
    if (bad.isEmpty) ok else fail(s"dtype mismatches: ${bad.mkString(", ")}")
  }

  /** V4: numeric range check (single min/max agg). */
  def rangeCheck(df: DataFrame, column: String, lo: Double, hi: Double): Result = {
    val r = df.agg(min(col(column)).cast("double"),
      max(col(column)).cast("double")).head()
    if (r.isNullAt(0)) ok // all-null column: nothing out of range
    else {
      val (mn, mx) = (r.getDouble(0), r.getDouble(1))
      if (mn >= lo && mx <= hi) ok
      else fail(f"$column out of range [$lo, $hi]: observed [$mn, $mx]")
    }
  }

  /** V5: JSON structural validation — corrupt records under Spark's
    * PERMISSIVE mode land in _corrupt_record. */
  def jsonStructure(df: DataFrame): Result = {
    if (!df.columns.contains("_corrupt_record")) ok
    else if (df.columns.sameElements(Array("_corrupt_record")))
      // schema collapsed to the corrupt column alone: no record parsed
      fail("no valid JSON records (whole input corrupt)")
    else {
      // Spark disallows raw-file queries touching only _corrupt_record;
      // cache the parsed result before probing it.
      val cached = df.cache()
      try {
        cached.count() // materialize all columns; a corrupt-record-only scan is disallowed
        val n = cached.filter(col("_corrupt_record").isNotNull).count()
        if (n == 0) ok else fail(s"$n corrupt JSON records")
      } finally cached.unpersist()
    }
  }

  /** F6/V6: non-empty input gate. */
  def notEmpty(df: DataFrame): Result =
    if (df.isEmpty) emptyInput else ok

  /** V6 verdict on an input seen to hold no rows. */
  val emptyInput: Result = fail("empty input")

  /** The reference's processed-data gate (process.py:78-123): required
    * columns, critical nulls, flag ranges — combined verdict. */
  def validateProcessed(df: DataFrame, required: Seq[String],
      critical: Seq[String], flagCols: Seq[String]): Result = {
    val structural = requireColumns(df, required)
    if (!structural.passed) structural // fail fast before launching jobs
    else structural ++ notEmpty(df) ++ noNulls(df, critical) ++
      flagCols.map(rangeCheck(df, _, 0.0, 1.0)).foldLeft(ok)(_ ++ _)
  }
}
