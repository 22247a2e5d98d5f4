package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.scalatest.funsuite.AnyFunSuite

/** One shared SparkSession for the whole forked test JVM. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with codegen fallback disabled: a generated-Java compile
    * error in a custom kernel then THROWS instead of silently degrading
    * the whole stage to the interpreted path (which would pass a
    * value-only assertion while killing the hot-path perf the kernel
    * exists for). */
  def strictCodegen[T](body: => T): T = {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  /** Runs `body` and returns the Janino compiles it caused plus the
    * progress of every streaming query it ran, all of them terminated. */
  def traceStreams(body: => Unit): (Long, Seq[StreamingQueryProgress]) = {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val started = new AtomicInteger()
    val terminated = new Semaphore(0)
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.release()
    }
    spark.streams.addListener(listener)
    try {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      // progress events precede their query's termination event on the bus
      assert(terminated.tryAcquire(started.get, 60, TimeUnit.SECONDS))
      (compiles, progress.asScala.toSeq)
    } finally spark.streams.removeListener(listener)
  }

  /** The number of Spark jobs `body` starts, counted on the listener bus
    * between two marker jobs (so late events of earlier work are not
    * counted, and every event of `body` has arrived). */
  def jobsOf(body: => Unit): Int = {
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def marker(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("jobs-start")
      body
      marker("jobs-end")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains("jobs-end") && System.nanoTime() < deadline) Thread.sleep(20)
      val seen = jobs.asScala.toSeq
      assert(seen.contains("jobs-end"), seen)
      seen.dropWhile(_ != "jobs-start").drop(1).takeWhile(_ != "jobs-end").size
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Collect nodes across AQE boundaries: AdaptiveSparkPlanExec and
    * QueryStageExec hide their subtrees from plain `collect`. */
  def deepCollect[T](p: org.apache.spark.sql.execution.SparkPlan)(
      f: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] =
    p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        deepCollect(a.executedPlan)(f)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        deepCollect(s.plan)(f) ++ f.lift(s).toSeq
      case n if f.isDefinedAt(n) => Seq(f(n))
    }.flatten
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
