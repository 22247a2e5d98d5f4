package e2ebench

import scala.collection.mutable

/** The run record: metrics with units, ops attempted and failed (failures
  * keyed by op kind and cause), stamps, and per-op trace detail. */
final class Record {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val failures = mutable.TreeMap.empty[String, mutable.TreeMap[String, Int]]
  private val stamps = mutable.LinkedHashMap.empty[String, String]
  private val detail = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  /** True once an op fails in a way the benchmark does not list as a
    * known defect of this tree (see `FlightsApi.knownBroken`). */
  var unexpectedFailure = false

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def has(name: String): Boolean = metrics.contains(name)
  def stamp(k: String, v: String): Unit = stamps(k) = v
  /** Raw JSON fragment kept beside the metrics (spans, per-op coverage). */
  def detailJson(k: String, json: String): Unit = detail(k) = json

  def ok(): Unit = attempted += 1
  def fail(kind: String, cause: String, expected: Boolean): Unit = {
    attempted += 1
    failed += 1
    if (!expected) unexpectedFailure = true
    val c = cause.replaceAll("\\s+", " ").take(160)
    failures.getOrElseUpdate(kind, mutable.TreeMap.empty)
      .updateWith(c)(n => Some(n.getOrElse(0) + 1))
  }
  def failCount(kind: String): Int = failures.get(kind).fold(0)(_.values.sum)

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val fs = failures.map { case (k, m) =>
      Json.str(k) + ":" + m.map { case (c, n) => s"${Json.str(c)}:$n" }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val ss = stamps.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val ds = detail.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"correct":${!unexpectedFailure},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$ms,"failures":$fs,"stamp":$ss,"detail":$ds}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

object Stats {
  /** Median (mean of the middle two for an even count); 0 for no samples. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  /** Per key, the median over samples; keys absent from a sample count
    * as 0 in it. */
  def medianByKey(samples: Seq[collection.Map[String, Double]]): Map[String, Double] = {
    val keys = samples.flatMap(_.keys).distinct
    keys.map(k => k -> median(samples.map(_.getOrElse(k, 0.0)))).toMap
  }
}
