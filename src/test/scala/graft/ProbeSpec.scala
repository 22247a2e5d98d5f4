package graft

/** `graft.Probe`'s per-run figures on the shared test session. */
class ProbeSpec extends SparkTestBase {

  test("a repeat run of q91 compiles nothing, starts no job before its batch and runs no empty batch") {
    Probe.run(spark, "q91_interval_join_stream", sfDir)
    val r = Probe.run(spark, "q91_interval_join_stream", sfDir)
    assert(r.compiles == 0)
    assert(r.jobsBeforeFirstBatch == 0, r.jobs)
    assert(r.noDataBatches == 0)
    assert(r.batches.nonEmpty && r.jobs.exists(_.streaming))
  }

  test("q161's outer join keeps its one no-data batch") {
    assert(Probe.run(spark, "q161_stream_outer", sfDir).noDataBatches == 1)
  }

  test("a batch query's job lines are every job of its run") {
    var r: Probe.Run = null
    val jobs = jobsOf { r = Probe.run(spark, "q34_dedup_minhash", sfDir) }
    assert(r.jobs.size == jobs, r.jobs)
    assert(jobs > 0 && r.jobs.forall(j => j.endMs >= j.startMs && !j.streaming))
    assert(r.exec.nTasks > 0 && r.exec.taskTimeMs >= 0)
  }
}
