package e2ebench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters fed by Spark's listener buses. Ops run one at a
  * time, so a window's share is the difference of two snapshots taken
  * after draining the bus — jobs started by an op's own thread pools
  * (q158's `Future` fits, Pack's writers) land in its window too, which
  * job-group properties would miss. */
final class Counters {
  private val c = new ConcurrentHashMap[String, DoubleAdder]()
  def add(k: String, v: Double): Unit =
    c.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def snap: Map[String, Double] = c.asScala.map { case (k, v) => k -> v.sum }.toMap
}

final class ExecTap(c: Counters) extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, Long]()
  /** (start, end) epoch-ms of finished jobs, for no-job time. */
  val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    starts.put(e.jobId, e.time)
    c.add("exec.jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach(s => intervals.add((s, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c.add("exec.stages", 1)
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    c.add("exec.tasks", 1)
    if (m != null) {
      c.add("exec.task_s", m.executorRunTime / 1e3)
      c.add("exec.cpu_s", m.executorCpuTime / 1e9)
      c.add("exec.gc_s", m.jvmGCTime / 1e3)
      c.add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      c.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      c.add("exec.spill_mb", m.diskBytesSpilled / 1048576.0)
      c.add("exec.output_mb", m.outputMetrics.bytesWritten / 1048576.0)
    }
  }
  /** Milliseconds of [a, b) during which at least one job ran. */
  def busyMs(a: Long, b: Long): Long = {
    val iv = intervals.asScala.iterator
      .map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var cur = a
    iv.foreach { case (s, e) =>
      val from = math.max(s, cur)
      if (e > from) { covered += e - from; cur = e }
    }
    covered
  }
}

/** Per-micro-batch progress of every streaming query. */
final class StreamTap(c: Counters) extends StreamingQueryListener {
  private val lastState = new ConcurrentHashMap[java.util.UUID, (Double, Double)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Double = Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue / 1e3)
    c.add("streaming.batches", 1)
    if (p.numInputRows == 0) c.add("streaming.nodata_batches", 1)
    c.add("streaming.input_rows", p.numInputRows.toDouble)
    c.add("streaming.trigger_s", d("triggerExecution"))
    c.add("streaming.addbatch_s", d("addBatch"))
    c.add("streaming.query_planning_s", d("queryPlanning"))
    c.add("streaming.log_commit_s", d("walCommit") + d("commitOffsets"))
    c.add("streaming.state_commit_s", p.stateOperators.map(_.commitTimeMs / 1e3).sum)
    lastState.put(p.id, (p.stateOperators.map(_.numRowsTotal.toDouble).sum,
      p.stateOperators.map(_.memoryUsedBytes / 1048576.0).sum))
  }
  /** State rows and MB held at the last batch of each query since the
    * previous call. */
  def takeState(): (Double, Double) = {
    val v = lastState.values.asScala.toSeq
    lastState.clear()
    (v.map(_._1).sum, v.map(_._2).sum)
  }
}

/** Catalyst phase times of every action, from its QueryPlanningTracker. */
final class PlanTap(c: Counters) extends QueryExecutionListener {
  private def add(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(k: String): Double = ph.get(k).fold(0.0)(_.durationMs / 1e3)
    c.add("catalyst.analysis_s", d("analysis"))
    c.add("catalyst.optimizer_s", d("optimization"))
    c.add("catalyst.planning_s", d("planning"))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
}

/** Spans at the benchmark's own call boundaries, kept in memory and
  * written with the record. Off in end-to-end runs: then `apply` only runs
  * its body. */
final class Spans {
  var on = false
  private val t0 = System.nanoTime()
  private val stack = mutable.Stack.empty[Int]
  /** (id, parent id or 0, name, start s, end s), times from the run's start. */
  val done = mutable.ArrayBuffer.empty[(Int, Int, String, Double, Double)]
  private var next = 0
  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      next += 1
      val id = next
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val s = System.nanoTime()
      try body
      finally {
        stack.pop()
        done += ((id, parent, name, (s - t0) / 1e9, (System.nanoTime() - t0) / 1e9))
      }
    }
  def json: String = done.map { case (id, p, n, s, e) =>
    s"[$id,$p,${Json.str(n)},${Json.num(s)},${Json.num(e)}]" }.mkString("[", ",", "]")
}

/** Everything the traced run attaches, switchable per pass so one run can
  * time traced and untraced passes of the same ops. */
final class Tracer(spark: SparkSession) {
  val counters = new Counters
  val exec = new ExecTap(counters)
  val stream = new StreamTap(counters)
  val plan = new PlanTap(counters)
  val spans = new Spans
  private var attached = false

  def attach(on: Boolean): Unit = if (on != attached) {
    if (on) {
      spark.sparkContext.addSparkListener(exec)
      spark.streams.addListener(stream)
      spark.listenerManager.register(plan)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(exec)
      spark.streams.removeListener(stream)
      spark.listenerManager.unregister(plan)
    }
    spans.on = on
    attached = on
  }
  def on: Boolean = attached

  def drain(): Unit = org.apache.spark.graft.BusDrain.drain(spark.sparkContext)

  /** Counter snapshot after draining the listener bus. */
  def snap(): Map[String, Double] = { if (attached) drain(); counters.snap }
}

object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def gcS: Double = gcs.map(_.getCollectionTime.max(0L)).sum / 1e3
  def jitS: Double =
    Option(ManagementFactory.getCompilationMXBean).fold(0.0)(_.getTotalCompilationTime / 1e3)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** MB held in Spark storage (cached blocks in memory and on disk). */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
}

/** Per-pass deltas of the layer counters, medians over passes later. */
final class PassMeter(tr: Tracer) {
  private var c0: Map[String, Double] = Map.empty
  private var gc0, jit0, w0 = 0.0
  private var ms0 = 0L
  def start(): Unit = {
    c0 = tr.snap(); gc0 = Jvm.gcS; jit0 = Jvm.jitS
    w0 = Clock.now; ms0 = System.currentTimeMillis()
  }
  /** Counter deltas of the pass plus exec/jvm derived values. */
  def stop(cpus: Int): mutable.Map[String, Double] = {
    val wall = Clock.now - w0
    val c1 = tr.snap()
    val m = mutable.Map.empty[String, Double]
    c1.foreach { case (k, v) => m(k) = v - c0.getOrElse(k, 0.0) }
    m("exec.busy_share") = m.getOrElse("exec.task_s", 0.0) / (wall * cpus)
    m("driver.nojob_s") =
      wall - tr.exec.busyMs(ms0, System.currentTimeMillis()) / 1e3
    m("jvm.gc_s") = Jvm.gcS - gc0
    m("jvm.jit_s") = Jvm.jitS - jit0
    m
  }
}
