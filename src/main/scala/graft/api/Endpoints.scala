package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Fns._
import graft.ops.Paging
import graft.ops.Paging.Cursor

/** API-parity facade — the reference's three Flask endpoints
  * (api/app.py, contract in api/static/swagger.json) as engine calls over
  * a registered `flights`-shaped view. Auth/rate-limiting are deployment
  * concerns and out of engine scope (SURVEY.md §3.2 step 1); everything
  * analytic is here, as ONE logical plan per endpoint.
  *
  * Column mapping onto the fixture domain (FIXTURES.md §B): callers pass
  * any DataFrame with (dateCol, keyCol, originCol, destCol, …); the
  * endpoint logic is schema-parameterized the way the reference's is
  * hard-coded.
  */
object Endpoints {

  final case class FlightsParams(
      startDate: Option[String] = None,
      endDate: Option[String] = None,
      origin: Option[String] = None,
      destination: Option[String] = None,
      cursor: Option[String] = None,
      limit: Int = 100)

  final case class FlightsResponse(
      flights: Array[org.apache.spark.sql.Row],
      totalCount: Long,
      pageCount: Int,
      nextCursor: Option[String])

  /** GET /api/flights (api/app.py:60-181): date-range + equality filters,
    * keyset cursor, sorted page, total count. */
  def flights(df: DataFrame, dateCol: String, keyCol: String,
      originCol: String, destCol: String, p: FlightsParams): FlightsResponse = {
    var d = df
    p.startDate.foreach(s => d = d.filter(col(dateCol) >= to_timestamp(lit(s))))
    p.endDate.foreach(s => d = d.filter(col(dateCol) <= to_timestamp(lit(s))))
    // F2: equality on upper-cased param (api/app.py:141-144)
    p.origin.foreach(o => d = d.filter(col(originCol) === o.toUpperCase))
    p.destination.foreach(o => d = d.filter(col(destCol) === o.toUpperCase))
    val cur = p.cursor.flatMap(Paging.decodeCursor)
    val page = Paging.page(d, dateCol, keyCol, cur, p.limit)
    FlightsResponse(page.rows, page.total, page.rows.length, page.nextCursor)
  }

  /** GET /api/metrics (api/app.py:183-289): one wide single-pass
    * aggregate. Callers serving metrics + topRoutes together should cache
    * the filtered frame themselves (and unpersist) — the engine never
    * leaks a cache from a single endpoint call. */
  def metrics(df: DataFrame, dateCol: String, delayCol: String,
      originCol: String, destCol: String, delayThreshold: Double): DataFrame =
    df.agg(
      count(lit(1)).as("total_flights"),
      (round(count(when(col(delayCol) > delayThreshold, 1)) / count(lit(1)) * 100 * 100) / 100.0)
        .as("delay_rate"),
      (sum(round(col(delayCol) * 100)) / count(lit(1)) / 100.0).as("avg_delay"),
      max(col(delayCol)).as("max_delay"),
      min(col(dateCol)).as("first_date"),
      max(col(dateCol)).as("last_date"))

  /** Top routes fragment of /api/metrics (api/app.py:246-248): X16 route
    * key + A6 group + O3 top-5. */
  def topRoutes(df: DataFrame, originCol: String, destCol: String, k: Int = 5): DataFrame =
    df.groupBy(concat_ws("-", col(originCol), col(destCol)).as("route"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("route"))
      .limit(k)

  /** GET /api/airports (api/app.py:291-332): distinct union of both code
    * columns, sorted. The distinct codes are bounded by the airport-code
    * domain, so they are sorted on one partition (no range-sampling job). */
  def airports(df: DataFrame, originCol: String, destCol: String): DataFrame =
    df.select(col(originCol).as("airport"))
      .union(df.select(col(destCol).as("airport")))
      .distinct()
      .coalesce(1)
      .orderBy(col("airport"))
}
