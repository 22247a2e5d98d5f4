package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Cleaning, Validation}

/** End-to-end batch pipeline — the reference's 6-task Airflow DAG
  * (dags/flight_data_pipeline.py:271-328, SURVEY.md §3.1) as one
  * SparkSession program:
  *
  *   ingest → process → load (temp view) → [performance ∥ routes] → api
  *
  * Differences by design (SURVEY.md §4): stages 1–2 are one lazy narrow
  * plan (the reference writes CSV between every stage); the "load to
  * Postgres" boundary becomes a cached temp view (or `.write.jdbc` against
  * a real warehouse); the two analytic queries run in-engine instead of
  * being shipped to Postgres; the 4a∥4b∥5 fan-out and the processed-data
  * gate are ONE grouping-sets aggregate over the cached upstream.
  */
object Pipeline {

  /** `flights` is the cached processed table; the three metric frames are
    * local relations, read back with no Spark job. */
  final case class Outputs(
      flights: DataFrame,
      performanceMetrics: DataFrame,
      routeAnalysis: DataFrame,
      apiMetrics: DataFrame)

  private def pct(part: Column, total: Column): Column =
    when(total =!= 0, round(part / total * 100 * 100) / 100.0)

  /** The measures of every grain — the reference's CTE query
    * (dags/flight_data_pipeline.py:136-158): totals, avg delays rounded,
    * delayed/on-time conditional counts, the on-time share and the X15
    * threshold label. `flight_status` is never null, so the on-time count
    * is also the routes query's `total - delayed`. */
  private val measures = {
    val total = count(lit(1))
    val ontime = count(when(col("flight_status") === "On Time", 1))
    val share = pct(ontime, total)
    Seq(
      total.as("total_flights"),
      (round(avg(col("departure_delay")) * 100) / 100.0).as("avg_departure_delay"),
      (round(avg(col("arrival_delay")) * 100) / 100.0).as("avg_arrival_delay"),
      count(when(col("flight_status") === "Delayed", 1)).as("delayed_flights"),
      ontime.as("ontime_flights"),
      share.as("ontime_percentage"),
      when(share > 80, "Good").otherwise("Needs Improvement").as("status"))
  }

  /** V2 columns of the processed-data gate (process.py:78-123). */
  private val critical = Seq("flight_date", "airline", "origin", "destination")

  private val keys = Seq("airline", "origin", "destination")
  // grouping_id over `keys`: one bit per key left out, first key highest
  private val (perAirline, perRoute, overall) = (3L, 4L, 7L)

  /** Run the full DAG on a raw (87-column-style) flight frame. One
    * aggregate computes the per-airline, per-route and overall rows plus
    * the gate's counts; its result is bounded by the domain (carriers +
    * routes + 1 rows), so it is sorted on one partition and collected once.
    * Throws IllegalArgumentException when a gate fails. */
  def run(spark: SparkSession, raw: DataFrame,
      delayThreshold: Double = 15.0): Outputs = {
    // V1 file-content gate BEFORE any transform (ingest.py:63-114 order)
    val rawCheck = Validation.requireColumns(raw,
      Cleaning.flightColumnMapping.map(_._1))
    require(rawCheck.passed, s"ingest validation failed: ${rawCheck.errors.mkString("; ")}")
    val flights = Cleaning.ingestAndProcess(raw, delayThreshold).cache()
    flights.createOrReplaceTempView("flights")
    val grains = flights
      .groupingSets(Seq(Seq(col("airline")), Seq(col("origin"), col("destination")), Nil),
        keys.map(col): _*)
      .agg(grouping_id().as("_gid"),
        measures ++ critical.map(c => Validation.nullCount(c).as(s"_null_$c")): _*)
      .coalesce(1)
      .orderBy(col("_gid") +: desc("total_flights") +: keys.map(col): _*)
    val rows = grains.collect().groupBy(_.getAs[Long]("_gid"))

    // V6 (non-empty) + V2 (critical nulls) from the overall row
    val v = rows.get(overall).fold(Validation.emptyInput)(all =>
      Validation.nullsVerdict(critical.map(c => c -> all.head.getAs[Long](s"_null_$c"))))
    // a failed gate returns no Outputs, so nothing else could release the cache
    if (!v.passed) flights.unpersist()
    require(v.passed, s"validation failed: ${v.errors.mkString("; ")}")

    // one grain's rows as a local relation of aggregate columns, renamed
    // to `as` where given
    def local(gid: Long, cols: Seq[String], as: Seq[StructField] = Nil): DataFrame =
      spark.createDataFrame(rows(gid).toSeq.map(r => Row.fromSeq(cols.map(r.getAs[Any](_)))).asJava,
        StructType(if (as.isEmpty) cols.map(grains.schema(_)) else as))
    val perf = local(perAirline, Seq("airline", "total_flights", "avg_departure_delay",
      "avg_arrival_delay", "delayed_flights", "ontime_flights", "ontime_percentage"))
    val routes = local(perRoute, Seq("origin", "destination", "total_flights",
      "avg_departure_delay", "delayed_flights", "ontime_percentage"))
    // the overall row as the reference's second-level sum (A5): nullable
    // counts, + the X15 threshold label
    val api = local(overall, Seq("total_flights", "delayed_flights", "ontime_flights",
      "ontime_percentage", "status"), Seq(
      StructField("total_flights", LongType), StructField("total_delayed_flights", LongType),
      StructField("total_ontime_flights", LongType),
      StructField("overall_ontime_percentage", DoubleType),
      StructField("status", StringType, nullable = false)))
    Outputs(flights, perf, routes, api)
  }
}
