package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Dev-only streaming dissector: runs one registered STREAMING query and
  * prints every micro-batch's progress-duration breakdown (addBatch,
  * walCommit, stateStore commit times, rows) — attributes a streaming
  * row's wall to batch COUNT vs per-batch work (r17 VERDICT ask #5).
  * Each run also prints its Janino compile count (a repeat run of the
  * same op should compile nothing, see graft.streaming.Streams), the
  * Spark jobs it started before its first micro-batch (an events op
  * should start none: its `ts` probe reads one footer on the driver) and
  * its no-data batches (0 input rows; only plans that emit on a
  * watermark advance keep them, see Streams.keepsNoDataBatches).
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.StreamTrace <query> [n]"
  */
object StreamTrace {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: StreamTrace <query> [n]"))
    val n = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val progressLines =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val noDataBatches = new java.util.concurrent.atomic.AtomicInteger()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          if (p.numInputRows == 0) noDataBatches.incrementAndGet()
          val dur = p.durationMs
          def d(k: String): Long =
            Option(dur.get(k)).map(_.longValue).getOrElse(-1L)
          val st = p.stateOperators.map(so =>
            s"rowsTotal=${so.numRowsTotal} commitMs=${so.commitTimeMs} " +
              s"mem=${so.memoryUsedBytes}").mkString(" | ")
          progressLines.add(
            f"batch ${p.batchId}%2d rows=${p.numInputRows}%6d " +
              f"triggerMs=${d("triggerExecution")}%5d addBatch=${d("addBatch")}%5d " +
              f"walCommit=${d("walCommit")}%4d offsets=${d("latestOffset")}%4d " +
              f"commitOffsets=${d("commitOffsets")}%4d qPlanning=${d("queryPlanning")}%4d  $st")
        }
      })
    // (submission time, started by a stream's micro-batch)
    val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobStarts.add(e.time -> Option(e.properties)
          .exists(_.getProperty("sql.streaming.queryId") != null))
    })
    spark.range(1000000).selectExpr("sum(id)").collect()
    Thread.sleep(500) // listener bus drain
    (1 to n).foreach { run =>
      progressLines.clear()
      jobStarts.clear()
      noDataBatches.set(0)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      val constructedAt = System.currentTimeMillis()
      df.collect()
      val t2 = System.nanoTime()
      OperatorCaches.release()
      Thread.sleep(500) // listener bus drain
      val jobs = jobStarts.toArray(Array.empty[(Long, Boolean)]).toSeq
      val firstBatchAt = jobs.collect { case (t, true) => t }.minOption
        .getOrElse(constructedAt)
      val jobsBefore = jobs.count { case (t, stream) => !stream && t < firstBatchAt }
      println(f"=== run $run: construct(+stream) ${(t1 - t0) / 1e9}%.2fs " +
        f"drain ${(t2 - t1) / 1e9}%.2fs " +
        s"compiles ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0} " +
        s"jobs-before-first-batch $jobsBefore no-data-batches ${noDataBatches.get}")
      progressLines.forEach(l => println(l))
    }
    spark.stop()
  }
}
