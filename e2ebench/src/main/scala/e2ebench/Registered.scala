package e2ebench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{OperatorCaches, SparkEntry}

/** Repeated passes over registered `SparkEntry.queries` ops, each pass in
  * its own seeded order. An op is constructed (`fn(spark, dir)`, eager
  * fits and streaming runs included), planned, and drained the way
  * `graft.Bench.drain` does it; the drained (rows, xor-xxhash64) is then
  * compared with the digest pinned for the generated tables, outside the
  * op's timer, and the op's caches are released. */
final class Registered(spark: SparkSession, o: Main.Opts, rec: Record) {
  import Registered._

  private val tr = new Tracer(spark)
  private val sp = tr.spans
  private val pins: Map[String, (Long, Long)] = readPins(o.pins)

  def run(setupDone: Double => Unit): Unit = {
    val dir = s"${o.work}/tables"
    val (_, genS) = Clock.time(Gen.Tables.write(spark, dir))
    rec.metric("bench.gen_s", genS, "s")
    val fns = StreamOps.map(q => q -> SparkEntry.queries(q))
    val r = new SplittableRandom(o.seed)
    def order(): Seq[(String, (SparkSession, String) => DataFrame)] = Gen.shuffle(fns, r)

    val (warmWalls, warmS) = Clock.time {
      Seq.fill(WarmPasses)(Clock.time(order().foreach { case (q, fn) => runOp(q, fn, dir) })._2)
    }
    rec.metric("setup.warm_s", warmS, "s")
    rec.stamp("warm_passes", warmWalls.map(w => f"$w%.2f").mkString(" "))
    setupDone(genS)

    Jvm.resetHeapPeak()
    val walls = mutable.Map.empty[String, mutable.ArrayBuffer[(Boolean, Double)]]
    val opLayers = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Double]]]
    val passLayers = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
    val meter = new PassMeter(tr)
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val t0 = Clock.now
    var p = 0
    while (p < MinPasses || Clock.now - t0 < o.seconds) {
      val traced = o.trace && p % 2 == 1
      tr.attach(traced)
      if (traced) meter.start()
      val passMeta = mutable.Map.empty[String, Double]
      val pt = Clock.now
      order().foreach { case (q, fn) =>
        val res = runOp(q, fn, dir)
        walls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ((traced, res.wall))
        res.err match {
          case Some(e) => rec.fail(q, e, expected = false)
          case None => pins.get(q) match {
            case Some(pin) if pin == res.digest => rec.ok()
            case Some(_) => rec.fail(q, s"digest_mismatch rows=${res.digest._1} xor=${res.digest._2}", expected = false)
            case None => rec.fail(q, s"no_pin rows=${res.digest._1} xor=${res.digest._2}", expected = false)
          }
        }
        if (traced) {
          opLayers.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += res.layers
          res.layers.foreach {
            case (k, v) if k.startsWith("pass.") =>
              val n = k.stripPrefix("pass."); passMeta(n) = passMeta.getOrElse(n, 0.0) + v
            case (k, v) if k.startsWith("peak.") =>
              val n = k.stripPrefix("peak."); passMeta(n) = math.max(passMeta.getOrElse(n, 0.0), v)
            case _ => ()
          }
        }
        digests(q) = res.digest
      }
      if (traced) passLayers += (meter.stop(o.cpus) ++= passMeta)
      passWalls += Clock.now - pt
      p += 1
    }
    tr.attach(false)

    def medianWall(q: String, f: ((Boolean, Double)) => Boolean): Double =
      Stats.median(walls(q).filter(f).map(_._2))
    rec.metric("cycle_s", StreamOps.map(q => medianWall(q, _ => true)).sum, "s")
    rec.stamp("passes", p.toString)
    rec.stamp("pass_walls", passWalls.map(w => f"$w%.3f").mkString(" "))
    rec.stamp("ops", StreamOps.mkString(","))
    rec.detailJson("digests", digests.map { case (q, (n, x)) =>
      s"${Json.str(q)}:[$n,$x]" }.mkString("{", ",", "}"))
    rec.detailJson("op_wall_s", StreamOps.map(q =>
      s"${Json.str(q)}:${Json.num(medianWall(q, _ => true))}").mkString("{", ",", "}"))
    if (o.trace) {
      Layers.fromPasses(rec, passLayers.toSeq)
      StreamOps.foreach { q =>
        val m = Stats.medianByKey(opLayers.getOrElse(q, Nil).toSeq)
        rec.metric(s"op.$q.wall_s", medianWall(q, _._1), "s")
        rec.metric(s"op.$q.construct_s", m.getOrElse("construct_s", 0.0), "s")
        rec.metric(s"op.$q.task_s", m.getOrElse("task_s", 0.0), "s")
      }
      rec.metric("trace.overhead_ratio",
        StreamOps.map(q => medianWall(q, _._1)).sum / StreamOps.map(q => medianWall(q, !_._1)).sum, "ratio")
      val cov = Layers.coverage(sp, StreamOps)
      rec.metric("trace.span_coverage", cov.values.minOption.getOrElse(0.0), "ratio")
      rec.detailJson("span_coverage", cov.map { case (k, v) =>
        s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}"))
      rec.detailJson("self_s", Layers.selfTime(sp, StreamOps).map { case (k, v) =>
        s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}"))
      rec.detailJson("spans", sp.json)
      rec.metric("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB")
      rec.metric("caches.retained_mb", Jvm.storageMb(spark), "MB")
    }
    rec.metric("error_rate", rec.failed.toDouble / rec.attempted, "ratio")
  }

  private val digests = mutable.LinkedHashMap.empty[String, (Long, Long)]

  /** Construct → plan → drain under one timer, then release the op's
    * caches outside it. */
  private def runOp(q: String, fn: (SparkSession, String) => DataFrame, dir: String): OpResult = {
    val before = if (tr.on) tr.snap() else Map.empty[String, Double]
    var construct, plan = 0.0
    var digest = (-1L, 0L)
    val t = Clock.now
    val err = try {
      sp(q) {
        val (df, c) = Clock.time(sp("construct")(fn(spark, dir)))
        construct = c
        val drained = df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("_h"))
          .agg(count(lit(1)), bit_xor(col("_h")))
        plan = sp("plan")(Clock.time(drained.queryExecution.executedPlan)._2)
        val row = sp("drain")(drained.collect()).head
        digest = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      }
      None
    } catch { case NonFatal(e) => Some(FlightsApi.cause(e)) }
    val wall = Clock.now - t
    val storage = if (tr.on) Jvm.storageMb(spark) else 0.0
    val (_, rel) = Clock.time(OperatorCaches.release(blocking = true))
    val layers = if (!tr.on) Map.empty[String, Double] else {
      val after = tr.snap()
      def d(k: String): Double = after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)
      val (stateRows, stateMb) = tr.stream.takeState()
      Map("construct_s" -> construct, "task_s" -> d("exec.task_s"),
        "pass.operators.construct_s" -> construct, "pass.exec.drain_s" -> (wall - construct - plan),
        "pass.caches.release_s" -> rel, "pass.streaming.state_rows" -> stateRows,
        "pass.streaming.state_mb" -> stateMb,
        "pass.streaming.lifecycle_s" -> (if (d("streaming.batches") > 0) wall - d("streaming.trigger_s") else 0.0),
        "peak.caches.peak_mb" -> storage)
    }
    OpResult(wall, digest, err, layers)
  }
}

object Registered {
  final case class OpResult(wall: Double, digest: (Long, Long), err: Option[String],
      layers: Map[String, Double])

  /** stream_replay's ops: the registered `AvailableNow` streaming ops
    * except q201, whose checkpointed sink makes every re-run in one JVM an
    * incremental no-op. */
  val StreamOps = Seq("q161_stream_outer", "q91_interval_join_stream",
    "q71_sessions_stream", "q155_stream_hll", "q178_stream_dsir",
    "q126_stream_enrich", "q113_dedup_stream")
  val MinPasses = 2
  /** Untimed whole passes before timing. The first pass of a JVM is about
    * twice as slow as the next (JIT, codegen cache, derived fixtures);
    * the next few still get faster by 5-10% each, but more warm passes do
    * not fit the run budget. */
  val WarmPasses = 1

  /** `op rows xor` per line. */
  def readPins(path: String): Map[String, (Long, Long)] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+")).map(a => a(0) -> ((a(1).toLong, a(2).toLong))).toMap
      finally src.close()
    }
  }
}
