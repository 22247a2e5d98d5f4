package e2ebench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Endpoints
import graft.api.Endpoints.FlightsParams
import graft.ops.Paging
import graft.pipeline.Pipeline
import graft.sources.Sources

/** The reference's own path as a closed loop with one client: per pass,
  * load one monthly file (`Sources.readCsv` → `Pipeline.run` → collect the
  * three outputs → `Sources.writeJsonSingle`), then serve a seeded request
  * mix from the cached view, then unpersist it. Every output and response
  * is checked against the benchmark's own computation from the generated
  * rows, outside the timers. */
final class FlightsApi(spark: SparkSession, o: Main.Opts, rec: Record) {
  import FlightsApi._

  private val tr = new Tracer(spark)
  private val sp = tr.spans
  private val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var okCount = 0
  private val reqLayer = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val expected = mutable.Map.empty[String, Expected]

  def run(setupDone: Double => Unit): Unit = {
    val dir = s"${o.work}/flights"
    // inputs and the answers they should produce, both outside setup_s
    val (files, genS) = Clock.time {
      val fs = Gen.Flights.write(o.seed, dir, Files, Rows)
      fs.foreach { case (path, flights) => expected(path) = new Expected(flights) }
      fs
    }
    rec.metric("bench.gen_s", genS, "s")
    rec.metric("sources.input_mb",
      files.map(f => new File(f._1).length).sum / files.size / 1048576.0, "MB")
    val r = new SplittableRandom(o.seed * 31 + 7)
    val (warm, warmS) = Clock.time {
      // one pass with each request shape once compiles the request paths;
      // the load path (CSV parse of 87 columns, cache build) keeps getting
      // faster for several more loads, so every file is loaded twice more
      Seq(Clock.time(pass(files(0), r, timed = false, Mix.distinct))._2) ++
        (files ++ files).map(f => Clock.time(release(load(f, timed = false)._1))._2)
    }
    rec.metric("setup.warm_s", warmS, "s")
    rec.stamp("warm_passes", warm.map(w => f"$w%.2f").mkString(" "))
    setupDone(genS)

    Jvm.resetHeapPeak()
    val loads = mutable.ArrayBuffer.empty[Double]
    // (traced, load wall + request walls) per pass, for the overhead ratio
    val measured = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val passLayers = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
    val meter = new PassMeter(tr)
    val t0 = Clock.now
    var p = 0
    var reqWall = 0.0
    while (p < MinPasses || Clock.now - t0 < o.seconds) {
      // traced runs alternate untraced and traced passes (overhead ratio)
      val traced = o.trace && p % 2 == 1
      tr.attach(traced)
      if (traced) meter.start()
      val reqMs0 = lat.values.map(_.sum).sum
      val (dag, rw, meta) = pass(files(p % files.size), r, timed = true)
      loads += dag
      measured += ((traced, dag + (lat.values.map(_.sum).sum - reqMs0) / 1e3))
      reqWall += rw
      if (traced) passLayers += (meter.stop(o.cpus) ++= meta)
      p += 1
    }
    tr.attach(false)

    val walls = loads.toSeq
    val kindMedians = Kinds.map(k => Stats.median(lat.getOrElse(k, Nil)))
    rec.metric("cycle_s", Stats.median(walls) + kindMedians.sum / 1e3, "s")
    // flights_api's own end-to-end figures, kept in the record
    rec.metric("pipeline.dag_s", Stats.median(walls), "s")
    rec.metric("api.rps", okCount / reqWall, "1/s")
    rec.detailJson("kind_p50_ms", Kinds.zip(kindMedians).map { case (k, v) =>
      s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}"))
    rec.stamp("passes", p.toString)
    rec.stamp("load_walls", walls.map(w => f"$w%.3f").mkString(" "))
    rec.stamp("requests_per_pass", Mix.size.toString)
    rec.stamp("rows_per_file", Rows.toString)
    if (o.trace) {
      Kinds.foreach { k =>
        rec.metric(s"api.${k}_p50_ms", Stats.median(lat.getOrElse(k, Nil)), "ms")
        rec.metric(s"api.fail.$k", rec.failCount(k).toDouble, "count")
      }
      val rl = reqLayer.toSeq
      def mean(k: String): Double = if (rl.isEmpty) 0.0 else rl.map(_.getOrElse(k, 0.0)).sum / rl.size
      rec.metric("api.jobs_per_req", mean("jobs"), "count")
      rec.metric("api.tasks_per_req", mean("tasks"), "count")
      rec.metric("api.plan_ms", Stats.median(rl.filter(_.contains("plan_ms")).map(_("plan_ms"))), "ms")
      rec.metric("api.nojob_ms", Stats.median(rl.map(_.getOrElse("nojob_ms", 0.0))), "ms")
      Layers.fromPasses(rec, passLayers.toSeq)
      rec.metric("trace.overhead_ratio", Stats.median(measured.filter(_._1).map(_._2)) /
        Stats.median(measured.filterNot(_._1).map(_._2)), "ratio")
      val cov = Layers.coverage(sp, Seq("load"))
      rec.metric("trace.span_coverage", cov.values.minOption.getOrElse(0.0), "ratio")
      rec.detailJson("span_coverage", cov.map { case (k, v) =>
        s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}"))
      rec.detailJson("spans", sp.json)
      rec.metric("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB")
      rec.metric("caches.retained_mb", Jvm.storageMb(spark), "MB")
    }
    rec.metric("error_rate", rec.failed.toDouble / rec.attempted, "ratio")
  }

  /** One load, its request mix, and the release of the served frame;
    * returns the load wall, the request wall and per-stage times. */
  private def pass(file: (String, IndexedSeq[Gen.Flight]), r: SplittableRandom,
      timed: Boolean, mix: Seq[(String, String)] = Mix): (Double, Double, Map[String, Double]) = {
    val (out, dag, meta) = load(file, timed)
    val exp = expected(file._1)
    val (_, reqWall) = Clock.time {
      Gen.shuffle(mix, r).foreach { case (kind, shape) =>
        request(out.flights, exp, kind, exp.request(kind, shape, r), timed)
      }
    }
    if (tr.on) meta("caches.peak_mb") = Jvm.storageMb(spark)
    val relS = release(out)
    meta("pipeline.release_s") = relS
    meta("caches.release_s") = relS
    (dag, reqWall, meta.toMap)
  }

  /** `Sources.readCsv` → `Pipeline.run` → the three collects →
    * `Sources.writeJsonSingle`, timed; checked outside the timer. */
  private def load(file: (String, IndexedSeq[Gen.Flight]), timed: Boolean)
      : (Pipeline.Outputs, Double, mutable.Map[String, Double]) = {
    val path = file._1
    val exp = expected(path)
    val outPath = s"${o.work}/out/flight_metrics"
    val meta = mutable.Map.empty[String, Double]
    var out: Pipeline.Outputs = null
    var got: (Array[Row], Array[Row], Array[Row]) = null
    val (_, dag) = Clock.time(sp("load") {
      val (o1, runS) = Clock.time(sp("run") {
        Pipeline.run(spark, Sources.readCsv(spark, path, Gen.Flights.schema))
      })
      out = o1
      val (g, fanS) = Clock.time(sp("fanout") {
        (out.performanceMetrics.collect(), out.routeAnalysis.collect(), out.apiMetrics.collect())
      })
      got = g
      val (_, writeS) = Clock.time(sp("write")(Sources.writeJsonSingle(out.performanceMetrics, outPath)))
      meta("pipeline.run_s") = runS; meta("pipeline.fanout_s") = fanS; meta("sources.write_s") = writeS
    })
    if (timed) checkLoad(exp, got, outPath)
    (out, dag, meta)
  }

  /** Unpersists the frame `Pipeline.run` cached; returns seconds. */
  private def release(out: Pipeline.Outputs): Double =
    Clock.time(sp("release")(out.flights.unpersist(blocking = true)))._2

  private def checkLoad(exp: Expected, got: (Array[Row], Array[Row], Array[Row]),
      outPath: String): Unit = {
    val (perf, routes, api) = got
    def verdict(kind: String, err: Option[String]): Unit =
      err.fold(rec.ok())(e => rec.fail(kind, e, expected = false))
    verdict("load.performance", diff(perf.toSeq.map(key), exp.perf))
    verdict("load.routes", diff(routes.toSeq.map(key), exp.routes))
    verdict("load.api_metrics", diff(api.toSeq.map(key), Seq(exp.api)))
    val written = Option(new File(outPath).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    val lines = written.flatMap(f =>
      java.nio.file.Files.readAllLines(f.toPath, java.nio.charset.StandardCharsets.UTF_8).asScala)
    val carriersInOrder = lines.map(l => "\"airline\":\"([^\"]*)\"".r.findFirstMatchIn(l).map(_.group(1)).orNull)
    verdict("load.json_write",
      if (carriersInOrder == exp.perf.map(_.head)) None
      else Some(s"wrong_document ${written.size} files ${lines.size} lines"))
  }

  private def request(served: DataFrame, exp: Expected, kind: String, req: Req,
      timed: Boolean): Unit = {
    val before = if (tr.on) tr.snap() else Map.empty[String, Double]
    val ms0 = System.currentTimeMillis()
    var planMs = -1.0
    val t = Clock.now
    val res: Either[Throwable, Any] = try Right(sp("request")(kind match {
      case "airports" =>
        val df = Endpoints.airports(served, "origin", "destination")
        planMs = force(df)
        df.collect()
      case "metrics" =>
        val v = req.range.fold(served) { case (a, b) =>
          served.filter(col("flight_date") >= to_timestamp(lit(a)) &&
            col("flight_date") <= to_timestamp(lit(b)))
        }
        val m = Endpoints.metrics(v, "flight_date", "departure_delay", "origin", "destination", 15.0)
        val top = Endpoints.topRoutes(v, "origin", "destination")
        planMs = force(m) + force(top)
        (m.collect(), top.collect())
      case _ =>
        Endpoints.flights(served, "flight_date", "flight_number", "origin", "destination",
          FlightsParams(startDate = req.range.map(_._1), endDate = req.range.map(_._2),
            origin = req.origin, destination = req.dest, cursor = req.cursor, limit = PageSize))
    })) catch { case NonFatal(e) => Left(e) }
    val ms = (Clock.now - t) * 1e3
    if (!timed) return
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    if (tr.on) {
      val after = tr.snap()
      val busy = tr.exec.busyMs(ms0, System.currentTimeMillis())
      reqLayer += (Map(
        "jobs" -> (after.getOrElse("exec.jobs", 0.0) - before.getOrElse("exec.jobs", 0.0)),
        "tasks" -> (after.getOrElse("exec.tasks", 0.0) - before.getOrElse("exec.tasks", 0.0)),
        "nojob_ms" -> math.max(0.0, ms - busy)) ++
        (if (planMs >= 0) Map("plan_ms" -> planMs) else Map.empty))
    }
    val err = res match {
      case Left(e) => Some(cause(e))
      case Right(v) =>
        try exp.check(kind, req, v) catch { case NonFatal(e) => Some("check:" + cause(e)) }
    }
    err match {
      case None =>
        rec.ok()
        okCount += 1
      case Some(c) => rec.fail(kind, c, expected = knownBroken(kind, req, c))
    }
  }

  /** Forces the physical plan of an endpoint's DataFrame; returns ms. */
  private def force(df: DataFrame): Double =
    sp("plan")(Clock.time(df.queryExecution.executedPlan)._2 * 1e3)
}

object FlightsApi {
  val Files = 3
  val Rows = 100000
  val PageSize = 100
  /** At least this many timed passes, so that the count, and with it the
    * weight of the first timed pass in each median, rarely varies. */
  val MinPasses = 4
  val Kinds = Seq("page_first", "page_next", "page_dated", "metrics", "airports")
  /** One pass's requests as (kind, shape). The same multiset every pass,
    * so each kind's median compares like with like across seeds; the seed
    * sets the order and the parameters (airports, dates, cursor positions). */
  val Mix: Seq[(String, String)] =
    Seq("page_first", "page_next").flatMap(k =>
      Seq("all", "all", "origin", "origin", "dest", "dest").map(k -> _)) ++
      Seq.fill(4)("page_dated" -> "range") ++
      Seq("range", "range", "all", "all").map("metrics" -> _) ++
      Seq.fill(4)("airports" -> "all")
  private val CastInvalid = "exception:SparkDateTimeException[CAST_INVALID_INPUT]"

  /** The failures this tree is known to give, by kind and cause.
    * `Pipeline.run` serves `flight_date` as the raw `M/d/yyyy hh:mm:ss a`
    * string and `flight_number` as INT: a full first page (every one in
    * the mix) throws when `Paging` reads the INT key as a Long for its next
    * cursor; cursor and date filters cast the string and throw; `metrics`
    * without a range takes the string maximum as `last_date`. They are
    * still counted as failures; any other failure makes the run
    * incorrect. */
  def knownBroken(kind: String, q: Req, cause: String): Boolean = kind match {
    case "page_first" => cause == "exception:ClassCastException"
    case "page_next" | "page_dated" => cause == CastInvalid
    case "metrics" => cause == (if (q.range.isDefined) CastInvalid else "wrong_value last_date")
    case _ => false
  }

  final case class Req(origin: Option[String] = None, dest: Option[String] = None,
      range: Option[(String, String)] = None, cursor: Option[String] = None,
      after: Option[(String, Long)] = None)

  def cause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val cls = e match {
      case s: SparkThrowable if s.getCondition != null => s"[${s.getCondition}]"
      case _ => ""
    }
    s"exception:${e.getClass.getSimpleName}$cls" +
      (if (root ne e) s" caused by ${root.getClass.getSimpleName}" else "")
  }

  private def round2(x: Double): Double = spRound(x * 100) / 100.0
  /** Spark's `round(x, 0)` on a double: HALF_UP on its decimal form. */
  private def spRound(x: Double): Double =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def pct(part: Long, total: Long): Double =
    spRound(part.toDouble / total.toDouble * 100 * 100) / 100.0

  private def num(v: Any): Any = v match {
    case null => null
    case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    case n: java.lang.Number => n.longValue
    case x => x
  }
  private def key(r: Row): Seq[Any] = r.toSeq.map(num)

  def diff(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] =
    if (got == want) None
    else if (got.size != want.size) Some(s"wrong_rows got ${got.size} want ${want.size}")
    else {
      val i = got.indices.find(i => got(i) != want(i)).get
      Some(s"wrong_value row $i")
    }

  /** A date as the API returns it, as ISO `yyyy-MM-dd`. */
  def isoOf(v: Any): Option[String] = v match {
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case t: java.sql.Timestamp => Some(t.toLocalDateTime.toLocalDate.toString)
    case s: String =>
      val m = "(\\d{1,2})/(\\d{1,2})/(\\d{4}).*".r
      s match {
        case m(mo, d, y) => Some(f"${y.toInt}%04d-${mo.toInt}%02d-${d.toInt}%02d")
        case _ if s.matches("\\d{4}-\\d{2}-\\d{2}.*") => Some(s.take(10))
        case _ => None
      }
    case _ => None
  }

  /** What every output and response should be, from the generated rows. */
  final class Expected(flights: IndexedSeq[Gen.Flight]) {
    private val sorted = flights.sortBy(f => (f.iso, f.key))
    private val days = flights.map(_.iso).distinct.sorted
    private val origins = flights.groupBy(_.origin).toSeq.sortBy(-_._2.size).map(_._1)

    val perf: Seq[Seq[Any]] = flights.groupBy(_.airline).toSeq.map { case (a, fs) =>
      val n = fs.size.toLong
      val dd = fs.flatMap(_.depDelay); val ad = fs.flatMap(_.arrDelay)
      val delayed = fs.count(_.delayed).toLong
      Seq[Any](a, n, avg2(dd), avg2(ad), delayed, n - delayed, pct(n - delayed, n))
    }.sortBy(s => (-s(1).asInstanceOf[Long], s.head.asInstanceOf[String])).map(_.map(num))

    val routes: Seq[Seq[Any]] = flights.groupBy(f => (f.origin, f.dest)).toSeq.map {
      case ((a, b), fs) =>
        val n = fs.size.toLong
        val delayed = fs.count(_.delayed).toLong
        Seq[Any](a, b, n, avg2(fs.flatMap(_.depDelay)), delayed, pct(n - delayed, n))
    }.sortBy(s => (-s(2).asInstanceOf[Long], s(0).asInstanceOf[String], s(1).asInstanceOf[String]))
      .map(_.map(num))

    val api: Seq[Any] = {
      val n = flights.size.toLong
      val delayed = flights.count(_.delayed).toLong
      val on = pct(n - delayed, n)
      Seq[Any](n, delayed, n - delayed, on, if (on > 80) "Good" else "Needs Improvement").map(num)
    }

    private def avg2(xs: Seq[Double]): Any =
      if (xs.isEmpty) null else round2(xs.sum / xs.size)

    private def pickAirport(r: SplittableRandom): String =
      origins(r.nextInt(math.min(40, origins.size)))
    private def pickRange(r: SplittableRandom): (String, String) = {
      val a = r.nextInt(days.size)
      val b = math.min(days.size - 1, a + r.nextInt(10))
      (days(a), days(b))
    }
    private def filtered(q: Req): IndexedSeq[Gen.Flight] = sorted.filter(f =>
      q.origin.forall(_ == f.origin) && q.dest.forall(_ == f.dest) &&
        q.range.forall { case (a, b) => f.iso >= a && f.iso <= b })

    def request(kind: String, shape: String, r: SplittableRandom): Req = {
      val base = shape match {
        case "origin" => Req(origin = Some(pickAirport(r)))
        case "dest" => Req(dest = Some(pickAirport(r)))
        case "range" => Req(range = Some(pickRange(r)))
        case _ => Req()
      }
      if (kind != "page_next") base
      else {
        val rows = filtered(base)
        val at = rows(r.nextInt(math.max(1, rows.size - 1)))
        // the cursor a page ending at `at` carries once flight_date is a DATE
        base.copy(cursor = Some(Paging.encodeCursor(Paging.Cursor(at.iso, at.key))),
          after = Some((at.iso, at.key)))
      }
    }

    def check(kind: String, q: Req, v: Any): Option[String] = kind match {
      case "airports" =>
        val got = v.asInstanceOf[Array[Row]].toSeq.map(_.getString(0))
        val want = flights.flatMap(f => Seq(f.origin, f.dest)).distinct.sorted
        if (got == want) None else Some(s"wrong_rows got ${got.size} want ${want.size}")
      case "metrics" =>
        val (m, top) = v.asInstanceOf[(Array[Row], Array[Row])]
        val fs = filtered(q.copy(origin = None, dest = None))
        val n = fs.size.toLong
        val dd = fs.flatMap(_.depDelay)
        val wantM = Seq[Any](n, pct(dd.count(_ > 15.0).toLong, n),
          dd.map(d => spRound(d * 100)).sum / n / 100.0,
          if (dd.isEmpty) null else dd.max, fs.head.iso, fs.last.iso)
        val row = m.head
        val gotM = Seq[Any](row.getLong(0), row.get(1), row.get(2), row.get(3),
          isoOf(row.get(4)).orNull, isoOf(row.get(5)).orNull)
        val names = Seq("total_flights", "delay_rate", "avg_delay", "max_delay", "first_date", "last_date")
        val bad = names.indices.filter(i => num(gotM(i)) != num(wantM(i)))
        val wantTop = fs.groupBy(f => s"${f.origin}-${f.dest}").toSeq
          .map { case (k, g) => (k, g.size.toLong) }.sortBy(t => (-t._2, t._1)).take(5)
        val gotTop = top.toSeq.map(r => (r.getString(0), r.getLong(1)))
        if (bad.nonEmpty) Some("wrong_value " + bad.map(names).mkString(","))
        else if (gotTop != wantTop) Some("wrong_top_routes")
        else None
      case _ =>
        val resp = v.asInstanceOf[Endpoints.FlightsResponse]
        val base = filtered(q)
        val after = q.after.fold(base)(a => base.filter(f => Ordering[(String, Long)].gt((f.iso, f.key), a)))
        val want = after.take(PageSize).map(f => (f.iso, f.key))
        val got = resp.flights.toSeq.map(r =>
          (isoOf(r.getAs[Any]("flight_date")).orNull, r.getAs[Number]("flight_number").longValue))
        if (resp.totalCount != base.size) Some("wrong_total")
        else if (got == want) None
        else if (got.sorted == want.sorted) Some("wrong_order")
        else if (got != got.sorted) Some("wrong_rows, not in date order")
        else Some("wrong_rows")
    }
  }
}
