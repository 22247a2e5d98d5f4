package graft

import org.apache.hadoop.fs.{FileStatus, GlobFilter, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Parquet fixture loaders (TESTDATA.md). One parquet file per table under
  * `sfDir`. Schemas come from the parquet footers — deterministic,
  * driver-generated, so no inference ambiguity (SURVEY.md §1.3).
  *
  * At 100 TB these would be partitioned directories (partitioned by date
  * key); `spark.read.parquet(dir)` is unchanged, and every query below is
  * written so filters/projections push into the scan (checked via
  * `.explain("formatted")` — see PLANS.md).
  */
object Tables {
  /** Memoized per (session, path): re-opening the same immutable fixture
    * re-lists files and re-reads footers on every query (~0.4s × 50 in the
    * bench); reusing the analyzed scan relation is free and changes no
    * results. NOT a `.persist()` — scans still hit parquet, so bench
    * numbers keep honest scan cost.
    */
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Drop all memoized relations. MUST be called after rewriting any path
    * previously read through `table` in the same JVM — a memoized plan
    * pins the old file listing (stale rows / FileNotFound otherwise). */
  def invalidate(): Unit = memo.clear()

  /** Drop memoized relations under one path prefix — what a fixture
    * writer should call after rewriting that location (narrower and safer
    * than the global clear; other sessions' relations survive). */
  def invalidatePath(pathPrefix: String): Unit =
    memo.filterInPlace { case ((_, p), _) => !p.startsWith(pathPrefix) }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Opportunistic sweep: entries whose session has been stopped can
    // never be read again — dropping them keeps the memo from retaining
    // DataFrames + SparkSessions for the JVM lifetime when suites create
    // many short-lived sessions. O(entries), a few dozen at most.
    memo.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    memo.getOrElseUpdate((spark, s"$dir/$name.parquet"),
      spark.read.parquet(s"$dir/$name.parquet"))
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** events.ts normalization: the fixture generator has shipped this
    * column as TIMESTAMP(NANOS) (rounds 1–5) and as TIMESTAMP_NTZ micros
    * (round 6+), so the loader dispatches on the ACTUAL footer type
    * ([[eventsTsType]], then [[microsTs]]):
    *  - NANOS parquet (vectorized reader rejects it) → read as raw long
    *    nanos via the legacy conf, truncate to µs with exact integer
    *    division — the same ns→µs truncation DuckDB applies on scan;
    *  - TIMESTAMP_NTZ µs → cast to TimestampType. Every graft session
    *    pins spark.sql.session.timeZone=UTC, so the cast preserves the
    *    wall-clock instant exactly and unix_micros(ts) equals DuckDB's
    *    epoch_us over the same naive value;
    *  - TimestampType µs → pass through.
    * All three land on identical TimestampType values, so downstream
    * queries and oracles are encoding-independent.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    eventsTsType(s, s"$d/events.parquet") // a NANOS footer needs nanosAsLong to read
    microsTs(table(s, d, "events"))
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The type Spark infers for the events `ts` column under `path` (a
    * file, or a directory narrowed by `globFilter`), read on the driver
    * from ONE footer with no Spark job: `spark.read.parquet(dir).schema`
    * lists the files and then reads footers in a `parallelize`/`collect`
    * job, one per run of every events stream op. The footer goes through
    * Spark's own `ParquetFileFormat.readSchemaFromFooter` and
    * `ParquetToSparkSchemaConverter`, so the answer is the one inference
    * would give: `TIMESTAMP(NANOS)` → `LongType` (raw nanos), a
    * Spark-written footer → the schema Spark stored in it. The file is
    * the first by name in a depth-first walk that skips `_`/`.` entries
    * (`_SUCCESS`, `.crc`) and keeps only files `globFilter` accepts; with
    * no such file the stream is empty whatever the type, and the answer
    * is `TimestampType`.
    *
    * The legacy `TIMESTAMP(NANOS)` encoding is the one case that still
    * sets `spark.sql.legacy.parquet.nanosAsLong=true` on `s`, and leaves
    * it set: the scan reads the column under the session conf at
    * execution, after this returns, and rejects NANOS without it. Every
    * other encoding leaves the session conf as it found it. */
  private[graft] def eventsTsType(s: SparkSession, path: String,
      globFilter: Option[String] = None): DataType = {
    val hadoopConf = s.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    val glob = globFilter.map(new GlobFilter(_))
    def hidden(f: FileStatus): Boolean = {
      val n = f.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    def first(f: FileStatus): Option[FileStatus] =
      if (f.isFile) Option.when(glob.forall(_.accept(f.getPath)))(f)
      else fs.listStatus(f.getPath).filterNot(hidden)
        .sortBy(_.getPath.getName).iterator.flatMap(first).nextOption()
    val file = try first(fs.getFileStatus(root))
      catch { case _: java.io.FileNotFoundException => None }
    file.fold(TimestampType: DataType) { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hadoopConf),
        HadoopReadOptions.builder(hadoopConf)
          .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
      val footer = try reader.getFooter finally reader.close()
      val conf = s.sessionState.conf.clone()
      conf.setConfString(NanosAsLong, "true")
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, footer), new ParquetToSparkSchemaConverter(conf))
      val columns: GroupType = footer.getFileMetaData.getSchema
      columns.getType("ts").getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS =>
          s.conf.set(NanosAsLong, "true")
        case _ =>
      }
      schema("ts").dataType
    }
  }

  /** `df` with its `ts` column as µs TimestampType, whatever the column
    * holds: raw long nanos are truncated to µs, NTZ is cast under the
    * session time zone (see [[events]]). */
  private[graft] def microsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** Derived-fixture publisher for queries that exercise a REAL parquet scan
  * over generated payloads (PNG/WAV/frame-stream media, stream replay
  * inputs). One stable tmp path per (name, fixture dir); the build+write
  * runs only the FIRST time a pair is requested in this JVM — the builds
  * are deterministic functions of the fixture tables, so every later
  * invocation (bench runs each query at least twice, the rehearsal more)
  * skips a full corpus scan + encode + parquet overwrite and goes straight
  * to the scan. */
object Fixtures {
  private val written = java.util.concurrent.ConcurrentHashMap
    .newKeySet[String]()

  /** SHA-256-derived key for a fixture dir (collision-resistant, unlike
    * 32-bit hashCode): two distinct dirs must never share a tmp tree. */
  private[graft] def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(32)

  // ── per-PID scratch-tree lifecycle ────────────────────────────────────
  // PID-suffixed trees are written fresh by every JVM, so without cleanup
  // repeated bench/test runs accumulate unbounded parquet under
  // java.io.tmpdir (r13 ADVICE). Two mechanisms, both bounded:
  //  * a shutdown hook deletes every tree THIS JVM registered;
  //  * the first registration of the JVM prunes sibling `graft_*_p<pid>`
  //    trees whose owning PID is no longer alive (covers kill -9 /
  //    crashed JVMs whose hook never ran). Cross-JVM persisted caches
  //    (e.g. the ScaleRehearsal corpus at graft_sfx<N>) carry no _p<pid>
  //    suffix and are never touched.
  private val owned = java.util.concurrent.ConcurrentHashMap
    .newKeySet[String]()
  private val lifecycleArmed = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Recursive delete that NEVER follows symlinks: java.io.tmpdir is
    * world-writable, so a link planted inside a (possibly adversarial)
    * stale tree must be removed as a link, not traversed — listFiles on
    * a symlinked directory would return the TARGET's children and the
    * delete would escape the tree. */
  private def deleteRecursively(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(deleteRecursively)
    }
    f.delete(): Unit
  }

  private def pruneStaleTrees(tmp: java.io.File): Unit = {
    val stale = "^graft_.*_p([0-9]+)$".r
    val kids = tmp.listFiles()
    if (kids == null) return
    kids.foreach { f =>
      f.getName match {
        // toLongOption: a 20+-digit suffix (stray/adversarial entry)
        // must be skipped, not crash the first scratch() of the JVM
        case stale(pid) if f.isDirectory &&
            !java.nio.file.Files.isSymbolicLink(f.toPath) =>
          pid.toLongOption.foreach { p =>
            val alive = java.lang.ProcessHandle.of(p)
              .map[java.lang.Boolean](_.isAlive)
              .orElse(java.lang.Boolean.FALSE)
            // PID recycling can mark a dead owner's tree alive — that
            // tree just waits for the next prune, the pre-fix steady
            // state.
            if (!alive) deleteRecursively(f)
          }
        case _ => ()
      }
    }
  }

  /** Register a per-PID scratch tree under java.io.tmpdir: returns its
    * absolute path, arms the shutdown delete, and (once per JVM) prunes
    * stale sibling trees left by dead JVMs. `name` MUST carry the _p<pid>
    * suffix so the pruner can attribute it. */
  private[graft] def scratch(name: String): String = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    if (lifecycleArmed.compareAndSet(false, true)) {
      // hook FIRST: if the best-effort prune throws, this JVM's own
      // trees must still be cleaned at exit
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        owned.forEach(p => deleteRecursively(new java.io.File(p)))))
      try pruneStaleTrees(tmp)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    val p = new java.io.File(tmp, name).getAbsolutePath
    owned.add(p)
    p
  }

  /** [[scratch]] with a guaranteed-clean FIRST touch per JVM: deletes any
    * pre-existing tree at the path before handing it out. Closes the PID-
    * reuse hole (r16 ADVICE): a tree left by a dead JVM whose PID the
    * current JVM now holds looks alive to [[pruneStaleTrees]], and a
    * checkpointed sink built on top of it would append onto the dead
    * JVM's committed rows (double-counting) instead of starting fresh.
    * The name scheme stays `_p<pid>`-suffixed so the pruner still
    * attributes the tree. Memoized per (JVM, path): later touches in the
    * same JVM keep their checkpoint state — reruns stay incremental
    * no-ops, which is the property q201's sink relies on. */
  private val freshened = java.util.concurrent.ConcurrentHashMap
    .newKeySet[String]()
  private[graft] def freshScratch(name: String): String = {
    val p = scratch(name)
    if (freshened.add(p)) deleteRecursively(new java.io.File(p))
    p
  }

  /** Path to the written fixture; `build` evaluated at most once per JVM
    * per (name, dir). */
  def path(name: String, dir: String)(build: => DataFrame): String = {
    // The JVM PID is part of the path: each JVM unconditionally writes
    // the tree on first touch (the memo set is per-JVM), so without the
    // PID a concurrent bench + test run on the same fixture dir would
    // overwrite a parquet tree the other process is scanning mid-query.
    val pid = java.lang.ProcessHandle.current().pid()
    val p = scratch(s"graft_${name}_fixture_${dirKey(dir)}_p$pid")
    val key = s"$name|$dir"
    written.synchronized {
      if (!written.contains(key)) {
        build.write.mode("overwrite").parquet(p)
        written.add(key)
      }
    }
    p
  }
}
