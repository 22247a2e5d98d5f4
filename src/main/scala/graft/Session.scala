package graft

import org.apache.spark.sql.SparkSession

/** The one session every engine main runs on: the settings `graft.Bench`
  * times under, so a figure from any tool is measured under the same
  * master, shuffle width and codegen regime. */
object Session {
  /** Cores of the `local[n]` master and its shuffle width. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Generated-class REUSE across queries (the r8 driver-env fix): the
      // codegen cache returns the same compiled+JITted Class for an
      // identical generated source, but (a) the default 100-entry cache
      // evicts across 182 queries and (b) the per-plan codegenStageId in
      // the class NAME defeats equality for structurally identical stages
      // at different plan positions. A large cache + uniform class names
      // turn repeat shapes (documents scan→tokenize→agg etc.) into cache
      // hits that carry their JIT state — the timed run executes code C2
      // compiled earlier in the session instead of fresh interpreted
      // bytecode. This is the mechanism behind the driver-env 3-11×
      // task-CPU inflation on identical plans (BENCH_FULL r8: 340s of JIT
      // compile across the session; MetricsTap r5 forensics: late-session
      // queries run partially interpreted, not contended).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
