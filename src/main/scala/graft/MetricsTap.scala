package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Task-metrics tap of Bench and Probe. Accumulates executor-side
  * counters so each bench entry can attribute its wall-clock to CPU vs
  * shuffle vs spill vs scheduling gap — rounds 2–5 of the driver record
  * carried 2–20× wall-clock inflation on a handful of queries that
  * standalone re-runs could not reproduce, and without these counters the
  * artifact could not name the mechanism. Snapshot before/after a query
  * (with a listener-bus drain) and subtract.
  */
final class MetricsTap extends SparkListener {
  private val taskTimeMs = new LongAdder // executorRunTime (ms, summed over tasks)
  private val cpuTimeNs = new LongAdder // executorCpuTime (ns)
  private val gcTimeMs = new LongAdder // jvmGCTime inside tasks (ms)
  private val shuffleReadB = new LongAdder
  private val shuffleWriteB = new LongAdder
  private val spillDiskB = new LongAdder
  private val spillMemB = new LongAdder
  private val inputB = new LongAdder
  private val nTasks = new LongAdder

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      taskTimeMs.add(m.executorRunTime)
      cpuTimeNs.add(m.executorCpuTime)
      gcTimeMs.add(m.jvmGCTime)
      shuffleReadB.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
      spillDiskB.add(m.diskBytesSpilled)
      spillMemB.add(m.memoryBytesSpilled)
      inputB.add(m.inputMetrics.bytesRead)
      nTasks.increment()
    }
  }

  /** Monotonic counter snapshot; diff two snapshots for a per-query view. */
  def snapshot(): MetricsTap.Snap = MetricsTap.Snap(
    taskTimeMs.sum(), cpuTimeNs.sum(), gcTimeMs.sum(), shuffleReadB.sum(),
    shuffleWriteB.sum(), spillDiskB.sum(), spillMemB.sum(), inputB.sum(),
    nTasks.sum())
}

object MetricsTap {
  final case class Snap(taskTimeMs: Long, cpuTimeNs: Long, gcTimeMs: Long,
      shuffleReadB: Long, shuffleWriteB: Long, spillDiskB: Long,
      spillMemB: Long, inputB: Long, nTasks: Long) {
    def -(o: Snap): Snap = Snap(taskTimeMs - o.taskTimeMs,
      cpuTimeNs - o.cpuTimeNs, gcTimeMs - o.gcTimeMs,
      shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
      spillDiskB - o.spillDiskB, spillMemB - o.spillMemB,
      inputB - o.inputB, nTasks - o.nTasks)

    /** Compact JSON object (seconds / MB, 3 decimals) for BENCH_FULL. */
    def json: String = {
      def mb(b: Long): String = f"${b / 1048576.0}%.3f"
      s"""{"task_sec":${f"${taskTimeMs / 1e3}%.3f"},""" +
        s""""cpu_sec":${f"${cpuTimeNs / 1e9}%.3f"},""" +
        s""""task_gc_sec":${f"${gcTimeMs / 1e3}%.3f"},""" +
        s""""shuffle_read_mb":${mb(shuffleReadB)},""" +
        s""""shuffle_write_mb":${mb(shuffleWriteB)},""" +
        s""""spill_disk_mb":${mb(spillDiskB)},""" +
        s""""spill_mem_mb":${mb(spillMemB)},""" +
        s""""input_mb":${mb(inputB)},"n_tasks":$nTasks}"""
    }
  }

  /** Whole-process CPU seconds (driver+executor threads; local mode = one
    * JVM, so this is total machine cost of the query window). */
  def processCpuSec(): Double = {
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val t = os.getProcessCpuTime
        if (t >= 0) t / 1e9 else -1.0
      case _ => -1.0
    }
  }

  /** JIT-health gauges. The r5 full-session inflation survived the 1g
    * code-cache bump, and a re-measure showed the inflation is EXECUTOR
    * CPU TIME on identical work (q60: 69.4 task-CPU-sec in the 135-query
    * session vs 10.2 standalone) — i.e. late-session queries run partially
    * interpreted/deoptimized, not contended. These gauges make that
    * mechanism visible per query in BENCH_FULL: cumulative JIT compile
    * time, code-heap occupancy (all CodeHeap pools), and live loaded-class
    * count (each codegen'd stage is a fresh class in a fresh classloader;
    * unloading needs a full GC).
    */
  final case class Jit(compileMs: Long, codeHeapUsedB: Long, loadedClasses: Long)

  def jitSnapshot(): Jit = {
    import scala.jdk.CollectionConverters._
    import java.lang.management.{ManagementFactory => mf}
    val compile = Option(mf.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(-1L)
    val codeHeap = mf.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum
    Jit(compile, codeHeap, mf.getClassLoadingMXBean.getLoadedClassCount.toLong)
  }
}
