package graft

import graft.pipeline.Pipeline

/** End-to-end DAG parity on a synthesized raw flight frame (semantics of
  * dags/flight_data_pipeline.py; expectations hand-computed). */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val raw = Seq(
    // FL_DATE, carrier, fl_num, origin, dest, crs_dep, dep, crs_arr, arr
    ("2024-01-01", "AA", 100, "jfk", "lax", "0900", "0930.0", "1200", "1216.0"),
    ("2024-01-01", "AA", 101, "JFK", "SFO", "1000", "1005.0", "1300", "1304.0"),
    ("2024-01-02", "DL", 200, "dtw", "jfk", "0800", null, "1100", null))
    .toDF("FL_DATE", "OP_CARRIER", "OP_CARRIER_FL_NUM", "ORIGIN", "DEST",
      "CRS_DEP_TIME", "DEP_TIME", "CRS_ARR_TIME", "ARR_TIME")

  test("full DAG run: ingest→process→metrics with hand-computed values") {
    val out = Pipeline.run(spark, raw)

    val flights = out.flights.collect()
    assert(flights.length == 3)
    assert(out.flights.columns.contains("flight_status"))
    assert(out.flights.select("origin").collect().map(_.getString(0)).toSet ==
      Set("JFK", "DTW"))

    val perf = out.performanceMetrics.collect()
      .map(r => r.getString(0) -> r).toMap
    // AA: 2 flights, delays 30 and 5 → avg 17.5, 1 delayed, pct 50
    assert(perf("AA").getLong(1) == 2)
    assert(perf("AA").getDouble(2) == 17.5)
    assert(perf("AA").getLong(4) == 1)
    assert(perf("AA").getDouble(6) == 50.0)
    // DL: null delays → null avg, status falls back to On Time → pct 100
    assert(perf("DL").getLong(1) == 1)
    assert(perf("DL").isNullAt(2))
    assert(perf("DL").getDouble(6) == 100.0)

    val api = out.apiMetrics.head()
    assert(api.getLong(0) == 3)       // total flights
    assert(api.getLong(1) == 1)       // delayed
    assert(api.getDouble(3) == 66.67) // 2/3 on time, round2
    assert(api.getString(4) == "Needs Improvement")

    val routes = out.routeAnalysis.collect()
    assert(routes.length == 3) // three distinct uppercase routes
  }

  test("golden: reference flight_data.csv through the DAG matches flight_metrics.json") {
    // The reference's checked-in artifacts: data/raw/flight_data.csv (2,000
    // rows, sampling.py seed-42) and data/processed/flight_metrics.json.
    // The json was generated from a 7× replication of the same sample —
    // every count is exactly 7× the csv's (14000 = 7×2000, WN 2828 = 7×404,
    // …) and every rate matches the csv exactly — so the golden compare is
    // counts ÷ 7 and rates verbatim. avg_*_delay is NaN in the json for
    // most airlines (an artifact of the reference's Postgres loader, not of
    // its transform semantics); the finite ones (DL, B6) are asserted.
    import org.apache.spark.sql.functions._
    val rawPath = "/root/reference/data/raw/flight_data.csv"
    val goldPath = "/root/reference/data/processed/flight_metrics.json"
    val missing = Seq(rawPath, goldPath).filterNot(new java.io.File(_).exists())
    assume(missing.isEmpty, s"reference files missing: ${missing.mkString(", ")}; " +
      "reference parity with the golden flight_metrics.json was NOT checked")

    val raw = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(rawPath)
    val out = Pipeline.run(spark, raw)

    val golden = spark.read.option("multiLine", "true").json(goldPath)
    val overall = golden.select("total_flights", "total_delayed_flights",
      "overall_ontime_percentage").head()
    val api = out.apiMetrics.head()
    assert(api.getLong(0) * 7 == overall.getLong(0), "total_flights")
    assert(api.getLong(1) * 7 == overall.getLong(1), "total_delayed_flights")
    assert(api.getDouble(3) == overall.getDouble(2), "overall_ontime_percentage")

    val goldAirlines = golden
      .select(explode(col("airlines")).as("a")).select("a.*")
      .collect().map(r => r.getAs[String]("airline") -> r).toMap
    val perf = out.performanceMetrics.collect()
      .map(r => r.getString(0) -> r).toMap
    assert(perf.keySet == goldAirlines.keySet, "airline sets differ")
    goldAirlines.foreach { case (airline, g) =>
      val p = perf(airline)
      assert(p.getLong(1) * 7 == g.getAs[Long]("total_flights"), s"$airline total")
      assert(p.getLong(4) * 7 == g.getAs[Long]("delayed_flights"), s"$airline delayed")
      assert(p.getLong(5) * 7 == g.getAs[Long]("ontime_flights"), s"$airline ontime")
      assert(p.getDouble(6) == g.getAs[Double]("ontime_percentage"), s"$airline pct")
      val gDep = g.getAs[Double]("avg_departure_delay")
      if (!gDep.isNaN)
        assert(p.getDouble(2) == gDep, s"$airline avg_departure_delay")
      val gArr = g.getAs[Double]("avg_arrival_delay")
      if (!gArr.isNaN)
        assert(p.getDouble(3) == gArr, s"$airline avg_arrival_delay")
    }
  }

  test("validation gate rejects a frame missing required columns") {
    val bad = Seq(("x")).toDF("whatever")
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, bad.withColumnRenamed("whatever", "FL_DATE"))
    }
  }
}
