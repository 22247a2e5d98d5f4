package e2ebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload in this JVM, measured for `--seconds`,
  * with every result checked outside the timers. Writes the run record
  * (metrics, failures by kind and cause, stamps, spans) as JSON to `--out`;
  * `run.py` selects the metrics it prints.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --out <file> --cpus <n> --commit <id>
  *             --pins <digest file>
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, out: String, cpus: Int, commit: String,
      pins: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m("out"),
      m("cpus").toInt, m.getOrElse("commit", "unknown"), m.getOrElse("pins", ""))
  }

  /** The session `graft.Bench` builds: same master, shuffle width, time
    * zone and codegen cache settings, with scratch space kept under the
    * run's work directory. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"e2ebench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val jvmUpS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val o = parse(args)
    val rec = new Record
    val (spark, sessionS) = Clock.time(session(o))
    rec.metric("setup.session_s", sessionS, "s")
    // Setup ends where the first timed op starts; the workload calls this.
    val setupDone: Double => Unit = genS =>
      rec.metric("setup_s", jvmUpS + (System.nanoTime() - t0) / 1e9 - genS, "s")
    val sf = o.workload match {
      case "flights_api" =>
        new FlightsApi(spark, o, rec).run(setupDone); "n/a"
      case "stream_replay" =>
        new Registered(spark, o, rec).run(setupDone)
        Gen.Tables.scaleName
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (o.trace) Layers.fillAbsent(rec)
    rec.stamp("workload", o.workload)
    rec.stamp("seed", o.seed.toString)
    rec.stamp("trace", o.trace.toString)
    rec.stamp("cpus", o.cpus.toString)
    rec.stamp("sf", sf)
    rec.stamp("commit", o.commit)
    rec.stamp("spark", spark.version)
    rec.stamp("java", System.getProperty("java.version"))
    rec.stamp("jvm_flags",
      String.join(" ", ManagementFactory.getRuntimeMXBean.getInputArguments)
        .split(' ').filterNot(_.startsWith("--add-opens"))
        .filterNot(_.endsWith("=ALL-UNNAMED")).mkString(" "))
    spark.stop()
    Files.write(Paths.get(o.out), rec.json.getBytes(StandardCharsets.UTF_8))
  }
}

object Clock {
  def time[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }
  def now: Double = System.nanoTime() / 1e9
}
