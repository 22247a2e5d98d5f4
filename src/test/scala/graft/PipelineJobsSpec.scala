package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._

import graft.model.Schemas
import graft.pipeline.Pipeline
import graft.sources.Sources

/** One load of the flights DAG (BTS-shaped CSV → `Pipeline.run` → the
  * three metric collects → `Sources.writeJsonSingle`) runs a bounded number
  * of Spark jobs, and its outputs keep their schemas and row orders. */
class PipelineJobsSpec extends SparkTestBase {

  // the 13 typed BTS columns the engine reads, padded to 87 with strings
  private val schema = StructType(Schemas.rawFlightSchema.fields ++
    (1 to 74).map(i => StructField(f"PAD_$i%02d", StringType)))

  // FL_DATE, carrier, number, origin, dest, crs_dep, dep, crs_arr, arr
  private val rows = Seq(
    ("1/2/2024 12:00:00 AM", "UA", 300, "SFO", "ORD", 600, "600.0", 1200, "1150.0"),
    ("1/2/2024 12:00:00 AM", "UA", 301, "ORD", "SFO", 1300, "1400.0", 1600, "1700.0"),
    ("1/1/2024 12:00:00 AM", "AA", 100, "jfk", "LAX", 900, "930.0", 1200, "1216.0"),
    ("1/1/2024 12:00:00 AM", "AA", 101, "JFK", "LAX", 1000, "1005.0", 1300, "1304.0"),
    ("1/3/2024 12:00:00 AM", "DL", 200, "ATL", "JFK", 800, "", 1100, ""),
    ("1/3/2024 12:00:00 AM", "DL", 201, "JFK", "lax", 700, "720.0", 1000, "1030.0"),
    ("1/4/2024 12:00:00 AM", "B6", 400, "BOS", "JFK", 900, "910.0", 1000, "1001.0"),
    ("1/5/2024 12:00:00 AM", "WN", 500, "LAX", "SFO", 800, "801.0", 900, "902.0"),
    ("1/5/2024 12:00:00 AM", "WN", 501, "LAX", "SFO", 800, "802.0", 900, "900.0"),
    ("1/6/2024 12:00:00 AM", "WN", 502, "SFO", "LAX", 1000, "1030.0", 1100, "1100.0"))

  private lazy val csv: String = {
    val dir = Files.createTempDirectory("pipeline_jobs")
    val lines = schema.fieldNames.mkString(",") +: rows.map { r =>
      (r.productIterator.map(_.toString).toSeq ++ Seq.fill(4 + 74)("")).mkString(",")
    }
    Files.write(dir.resolve("flights_2024_01.csv"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)).toString
  }

  private def shape(df: DataFrame): Seq[(String, DataType, Boolean)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))

  test("one load runs at most 6 jobs; outputs keep schemas, values and row order") {
    val outPath = s"${Files.createTempDirectory("pipeline_json")}/flight_metrics"
    var out: Pipeline.Outputs = null
    var got: (Array[Row], Array[Row], Array[Row]) = null
    val jobs = jobsOf {
      out = Pipeline.run(spark, Sources.readCsv(spark, csv, schema))
      got = (out.performanceMetrics.collect(), out.routeAnalysis.collect(),
        out.apiMetrics.collect())
      Sources.writeJsonSingle(out.performanceMetrics, outPath)
    }
    try {
      info(s"$jobs Spark jobs for one load")
      assert(jobs <= 6, s"$jobs Spark jobs for one load")
      val (perf, routes, api) = got
      // bare local relations: no projection left for each action to optimize
      Seq(out.performanceMetrics, out.routeAnalysis, out.apiMetrics).foreach(df =>
        assert(df.queryExecution.logical.isInstanceOf[LocalRelation], df.queryExecution.logical))

      assert(shape(out.performanceMetrics) == Seq(
        ("airline", StringType, true),
        ("total_flights", LongType, false),
        ("avg_departure_delay", DoubleType, true),
        ("avg_arrival_delay", DoubleType, true),
        ("delayed_flights", LongType, false),
        ("ontime_flights", LongType, false),
        ("ontime_percentage", DoubleType, true)))
      assert(perf.toSeq.map(_.toSeq) == Seq(
        Seq("WN", 3L, 11.0, 0.67, 1L, 2L, 66.67),
        Seq("AA", 2L, 17.5, 10.0, 1L, 1L, 50.0),
        Seq("DL", 2L, 20.0, 30.0, 1L, 1L, 50.0),
        Seq("UA", 2L, 50.0, 25.0, 1L, 1L, 50.0),
        Seq("B6", 1L, 10.0, 1.0, 0L, 1L, 100.0)))

      assert(shape(out.routeAnalysis) == Seq(
        ("origin", StringType, true),
        ("destination", StringType, true),
        ("total_flights", LongType, false),
        ("avg_departure_delay", DoubleType, true),
        ("delayed_flights", LongType, false),
        ("ontime_percentage", DoubleType, true)))
      assert(routes.toSeq.map(_.toSeq) == Seq(
        Seq("JFK", "LAX", 3L, 18.33, 2L, 33.33),
        Seq("LAX", "SFO", 2L, 1.5, 0L, 100.0),
        Seq("ATL", "JFK", 1L, null, 0L, 100.0),
        Seq("BOS", "JFK", 1L, 10.0, 0L, 100.0),
        Seq("ORD", "SFO", 1L, 100.0, 1L, 0.0),
        Seq("SFO", "LAX", 1L, 30.0, 1L, 0.0),
        Seq("SFO", "ORD", 1L, 0.0, 0L, 100.0)))

      assert(shape(out.apiMetrics) == Seq(
        ("total_flights", LongType, true),
        ("total_delayed_flights", LongType, true),
        ("total_ontime_flights", LongType, true),
        ("overall_ontime_percentage", DoubleType, true),
        ("status", StringType, false)))
      assert(api.toSeq.map(_.toSeq) == Seq(Seq(10L, 4L, 6L, 60.0, "Needs Improvement")))

      val written = new java.io.File(outPath).listFiles().toSeq
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      assert(written.size == 1, written)
      assert(Files.readAllLines(written.head.toPath).asScala.toSeq == Seq(
        """{"airline":"WN","total_flights":3,"avg_departure_delay":11.0,"avg_arrival_delay":0.67,"delayed_flights":1,"ontime_flights":2,"ontime_percentage":66.67}""",
        """{"airline":"AA","total_flights":2,"avg_departure_delay":17.5,"avg_arrival_delay":10.0,"delayed_flights":1,"ontime_flights":1,"ontime_percentage":50.0}""",
        """{"airline":"DL","total_flights":2,"avg_departure_delay":20.0,"avg_arrival_delay":30.0,"delayed_flights":1,"ontime_flights":1,"ontime_percentage":50.0}""",
        """{"airline":"UA","total_flights":2,"avg_departure_delay":50.0,"avg_arrival_delay":25.0,"delayed_flights":1,"ontime_flights":1,"ontime_percentage":50.0}""",
        """{"airline":"B6","total_flights":1,"avg_departure_delay":10.0,"avg_arrival_delay":1.0,"delayed_flights":0,"ontime_flights":1,"ontime_percentage":100.0}"""))
    } finally out.flights.unpersist(blocking = true)
  }

  test("the gate still rejects empty input and nulls in critical columns") {
    val raw = Sources.readCsv(spark, csv, schema)
    val empty = intercept[IllegalArgumentException] {
      Pipeline.run(spark, raw.limit(0))
    }
    assert(empty.getMessage.endsWith("validation failed: empty input"), empty.getMessage)
    val nullRaw = raw.withColumn("OP_CARRIER",
      org.apache.spark.sql.functions.expr("nullif(OP_CARRIER, 'UA')"))
    val nulls = intercept[IllegalArgumentException] {
      Pipeline.run(spark, nullRaw)
    }
    assert(nulls.getMessage.endsWith(
      "validation failed: nulls in critical columns: airline (2 nulls)"), nulls.getMessage)
    // the rejected load's cached `flights` is released before the throw
    assert(graft.ops.Cleaning.ingestAndProcess(nullRaw).storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
  }
}
