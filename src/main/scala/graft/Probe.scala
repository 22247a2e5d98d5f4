package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Dev-only latency dissector: runs one registered query N times in one
  * session and splits each run's wall into construction (a streaming op
  * runs its stream here), analysis+optimization+physical planning of the
  * drain, and execution — a fixed driver-side cost (amortized at scale)
  * apart from real executor cost. Each run's first line also carries:
  *  - its Janino compiles (a repeat run of the same streaming op should
  *    compile nothing, see graft.streaming.Streams);
  *  - its Spark jobs, and those started before its first micro-batch (for
  *    a batch query: during construction; an events op should start none,
  *    its `ts` probe reads one footer on the driver);
  *  - its no-data micro-batches (0 input rows; only plans that emit on a
  *    watermark advance keep them, see Streams.keepsNoDataBatches);
  *  - executor task and CPU seconds (MetricsTap).
  * Then one line per Spark job (stages, tasks, call site, wall) and one
  * per micro-batch (progress durations). After run 1 it prints the query's
  * optimized and formatted plans.
  * Usage (fixture directory from SPARK_GRAFT_SF_DIR, default as in Bench):
  *   sbt "runMain graft.Probe q53_winnowing_sha 3"
  */
object Probe {
  /** One Spark job; times are the listener events' own (epoch ms). */
  final case class Job(id: Int, stages: Int, tasks: Int, site: String,
      startMs: Long, endMs: Long, streaming: Boolean)

  final case class Run(df: DataFrame, constructS: Double, planS: Double,
      executeS: Double, rows: Long, compiles: Long, jobs: Seq[Job],
      jobsBeforeFirstBatch: Int, batches: Seq[StreamingQueryProgress],
      exec: MetricsTap.Snap) {
    def noDataBatches: Int = batches.count(_.numInputRows == 0)
  }

  /** Runs `name` once on `spark` and drains it; its caches are released. */
  def run(spark: SparkSession, name: String, sfDir: String): Run = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentHashMap[Int, Job]()
    val jobTap = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // callSite.short is absent on SQL-execution jobs in Spark 4; fall
        // back to the job description / job group, then the first stage
        val p = Option(e.properties)
        def prop(k: String): Option[String] =
          p.flatMap(q => Option(q.getProperty(k))).filter(_.nonEmpty)
        val site = prop("callSite.short").orElse(prop("spark.job.description"))
          .orElse(prop("spark.jobGroup.id"))
          .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse("?"))
        jobs.put(e.jobId, Job(e.jobId, e.stageInfos.size,
          e.stageInfos.map(_.numTasks).sum, site, e.time, e.time,
          prop("sql.streaming.queryId").isDefined))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
    }
    val batches = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val progressTap = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = batches.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val execTap = new MetricsTap
    BusDrain.drain(sc) // earlier work's events stay out of this run
    sc.addSparkListener(jobTap)
    sc.addSparkListener(execTap)
    spark.streams.addListener(progressTap)
    try {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      val constructedAt = System.currentTimeMillis()
      val drained = Bench.hashed(df)
      drained.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val rows = drained.collect()(0).getLong(0)
      val t3 = System.nanoTime()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      // plans for the caller, fixed while this run's caches still exist
      df.queryExecution.executedPlan
      OperatorCaches.release()
      BusDrain.drain(sc)
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      val firstBatchAt = js.filter(_.streaming).map(_.startMs).minOption
        .getOrElse(constructedAt)
      Run(df, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, rows, compiles,
        js, js.count(j => !j.streaming && j.startMs < firstBatchAt),
        batches.asScala.toSeq, execTap.snapshot())
    } finally {
      sc.removeSparkListener(jobTap)
      sc.removeSparkListener(execTap)
      spark.streams.removeListener(progressTap)
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Probe <query> [n]"))
    val n = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    spark.range(1000000).selectExpr("sum(id)").collect()
    (1 to n).foreach { i =>
      val r = run(spark, name, sfDir)
      println(f"=== run $i: construct(+stream) ${r.constructS}%.2fs " +
        f"plan ${r.planS}%.2fs execute ${r.executeS}%.2fs compiles ${r.compiles} " +
        s"jobs ${r.jobs.size} jobs-before-first-batch ${r.jobsBeforeFirstBatch} " +
        s"no-data-batches ${r.noDataBatches} " +
        f"task-s ${r.exec.taskTimeMs / 1e3}%.2f cpu-s ${r.exec.cpuTimeNs / 1e9}%.2f " +
        s"rows ${r.rows}")
      r.jobs.foreach(j => println(f"job ${j.id}%4d ${(j.endMs - j.startMs) / 1e3}%7.3fs  " +
        f"stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.site.take(120)}"))
      r.batches.foreach { p =>
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(-1L)
        val st = p.stateOperators.map(so => s"rowsTotal=${so.numRowsTotal} " +
          s"commitMs=${so.commitTimeMs} mem=${so.memoryUsedBytes}").mkString(" | ")
        println(f"batch ${p.batchId}%2d rows=${p.numInputRows}%6d " +
          f"triggerMs=${d("triggerExecution")}%5d addBatch=${d("addBatch")}%5d " +
          f"walCommit=${d("walCommit")}%4d offsets=${d("latestOffset")}%4d " +
          f"commitOffsets=${d("commitOffsets")}%4d qPlanning=${d("queryPlanning")}%4d  $st")
      }
      if (i == 1) {
        println("== OPTIMIZED ==")
        println(r.df.queryExecution.optimizedPlan.toString)
        println("== FORMATTED ==")
        println(r.df.queryExecution.explainString(FormattedMode))
      }
    }
    spark.stop()
  }
}
