package e2ebench

/** The per-layer metrics of a traced run: their catalogue, per-pass
  * medians, and span coverage. */
object Layers {
  private val perPass = Seq(
    "pipeline.run_s" -> "s", "pipeline.fanout_s" -> "s", "sources.write_s" -> "s",
    "pipeline.release_s" -> "s", "operators.construct_s" -> "s",
    "exec.drain_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_s" -> "s", "exec.cpu_s" -> "s",
    "exec.busy_share" -> "ratio", "exec.gc_s" -> "s", "exec.shuffle_read_mb" -> "MB",
    "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB", "exec.output_mb" -> "MB",
    "driver.nojob_s" -> "s", "catalyst.analysis_s" -> "s",
    "catalyst.optimizer_s" -> "s", "catalyst.planning_s" -> "s",
    "caches.release_s" -> "s", "streaming.batches" -> "count",
    "streaming.nodata_batches" -> "count", "streaming.input_rows" -> "count",
    "streaming.trigger_s" -> "s", "streaming.addbatch_s" -> "s",
    "streaming.query_planning_s" -> "s", "streaming.log_commit_s" -> "s",
    "streaming.state_commit_s" -> "s", "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MB", "streaming.lifecycle_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s")

  /** Every per-layer metric with its unit. A workload that does not reach
    * a layer reports 0 for it (no requests, no batches, no ops run). */
  val catalogue: Seq[(String, String)] = perPass ++ Seq(
    "caches.peak_mb" -> "MB", "caches.retained_mb" -> "MB",
    "pipeline.dag_s" -> "s", "sources.input_mb" -> "MB",
    "api.jobs_per_req" -> "count", "api.tasks_per_req" -> "count",
    "api.plan_ms" -> "ms", "api.nojob_ms" -> "ms", "api.rps" -> "1/s") ++
    FlightsApi.Kinds.flatMap(k => Seq(s"api.${k}_p50_ms" -> "ms", s"api.fail.$k" -> "count")) ++
    Seq("setup.session_s" -> "s", "setup.warm_s" -> "s", "bench.gen_s" -> "s",
      "jvm.heap_peak_mb" -> "MB", "trace.overhead_ratio" -> "ratio",
      "trace.span_coverage" -> "ratio", "error_rate" -> "ratio") ++
    Registered.StreamOps.flatMap(q =>
      Seq(s"op.$q.wall_s" -> "s", s"op.$q.construct_s" -> "s", s"op.$q.task_s" -> "s"))

  /** Medians over the traced passes of each per-pass layer metric. */
  def fromPasses(rec: Record, passes: Seq[collection.Map[String, Double]]): Unit = {
    val m = Stats.medianByKey(passes)
    perPass.foreach { case (k, u) => rec.metric(k, m.getOrElse(k, 0.0), u) }
    m.get("caches.peak_mb").foreach(v => rec.metric("caches.peak_mb", v, "MB"))
  }

  def fillAbsent(rec: Record): Unit =
    catalogue.foreach { case (k, u) => if (!rec.has(k)) rec.metric(k, 0.0, u) }

  /** Per root span name: (summed wall, wall covered by child spans,
    * number of spans). */
  private def rollup(sp: Spans, roots: Seq[String]): Map[String, (Double, Double, Int)] = {
    val childWall = sp.done.groupMapReduce(_._2)(s => s._5 - s._4)(_ + _)
    roots.flatMap { r =>
      val tops = sp.done.filter(s => s._2 == 0 && s._3 == r)
      if (tops.isEmpty) None
      else Some(r -> ((tops.map(s => s._5 - s._4).sum,
        tops.map(s => childWall.getOrElse(s._1, 0.0)).sum, tops.size)))
    }.toMap
  }

  /** Per root span name: the share of its wall covered by its children. */
  def coverage(sp: Spans, roots: Seq[String]): Map[String, Double] =
    rollup(sp, roots).map { case (r, (wall, kids, _)) => r -> kids / wall }

  /** Per root span name: mean wall not covered by its children. */
  def selfTime(sp: Spans, roots: Seq[String]): Map[String, Double] =
    rollup(sp, roots).map { case (r, (wall, kids, n)) => r -> (wall - kids) / n }
}
