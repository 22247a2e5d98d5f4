package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** Source/sink surface (SURVEY.md §2.1 S1–S9): CSV, JSON (incl. the
  * reference's nested weather document), directory/glob ingestion with
  * provenance, parquet (primary format), JDBC, and the alert hook.
  *
  * Engine rules: schemas are always explicit on the read path (the
  * reference re-infers on every read — SURVEY.md §1.3 maps that to
  * deterministic declared StructTypes); parquet is the at-rest format;
  * CSV/JSON are compatibility sources.
  */
object Sources {

  // ── S1: CSV scan — explicit schema, header row
  //        (data_ingestion/ingest.py:311). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .schema(schema)
      .csv(path)

  // ── S14: lenient CSV ingest — the malformed-row triage every bulk CSV
  //        load needs: PERMISSIVE parse with the raw offending line
  //        captured in `_corrupt` (schema must carry the column;
  //        enforced here), plus a splitter so good rows flow on and bad
  //        rows land in a quarantine audit instead of killing the job
  //        (FAILFAST) or vanishing silently (DROPMALFORMED). One scan;
  //        the split is two lazy filters over it.
  def readCsvLenient(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(schema.add("_corrupt", org.apache.spark.sql.types.StringType))
      .csv(path)

  /** (good rows without the audit column, quarantined rows with the raw
    * line in `_corrupt`). The parsed scan is persisted via OperatorCaches
    * — Spark refuses raw-CSV plans that reference only the corrupt-record
    * column (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and its documented answer
    * is cache-then-query; the graft cache contract (release() after
    * materializing) applies as with every pairing operator. One scan
    * feeds both sides. */
  def splitCorrupt(lenient: DataFrame): (DataFrame, DataFrame) = {
    val parsed = graft.OperatorCaches.track(lenient)
    (parsed.where(col("_corrupt").isNull).drop("_corrupt"),
      parsed.where(col("_corrupt").isNotNull))
  }

  // ── S15: XML scan/sink — Spark 4's built-in XML source (merged from
  //        spark-xml, SPARK-44265): explicit schema on the read path like
  //        every other source here; single-file sink is the same
  //        small-export funnel as writeCsvSingle.
  def readXml(spark: SparkSession, path: String, schema: StructType,
      rowTag: String): DataFrame =
    spark.read.option("rowTag", rowTag).schema(schema).xml(path)

  def writeXmlSingle(df: DataFrame, path: String, rowTag: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("rowTag", rowTag).xml(path)

  // ── S2: CSV sink. The reference writes ONE csv per stage
  //        (ingest.py:337); single-file output is a deliberate driver-side
  //        funnel — only for small exports, never for fact data (use
  //        writeParquet). */
  def writeCsvSingle(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  // ── S3: JSON scan — multiLine document or JSONL; corrupt records
  //        retained for the V5 gate (ingest.py:96-100). */
  def readJson(spark: SparkSession, path: String,
      schema: Option[StructType] = None, multiLine: Boolean = true): DataFrame = {
    val r = spark.read
      .option("multiLine", multiLine.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
    schema.fold(r)(r.schema).json(path)
  }

  /** Weather document → relational station rows — the reference ingested
    * this shape but never joined it (data/raw/weather_data.json,
    * ingest.py:144-152); explode makes it joinable on station id. */
  def explodeWeather(weather: DataFrame): DataFrame =
    weather.select(explode(col("stations")).as("s"))
      .select(col("s.id").as("station_id"),
        col("s.temperature").as("temperature"),
        col("s.conditions").as("conditions"))

  // ── S4: JSON sink (nested metric documents,
  //        dags/flight_data_pipeline.py:176-177). */
  def writeJsonSingle(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).json(path)

  /** Small aggregate → one nested JSON document column (metric-document
    * shape without leaving the engine). */
  def toJsonDocument(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("doc"))

  // ── S7: directory/glob source with per-row provenance — the SFTP
  //        "download dir then validate each file" flow (ingest.py:161-288)
  //        as a distributed scan; file-level validation becomes a groupBy
  //        on source_file. Streaming-ready: the same path works under
  //        readStream for continuous ingestion. */
  def readCsvDir(spark: SparkSession, glob: String, schema: StructType): DataFrame =
    readCsv(spark, glob, schema).withColumn("source_file", input_file_name())

  /** Per-file validation rollup (ingest.py:254-288 semantics): row count +
    * null violations per ingested file in one pass. */
  def perFileStats(df: DataFrame, criticalCols: Seq[String]): DataFrame =
    df.groupBy(col("source_file"))
      .agg(count(lit(1)).as("n_rows"),
        criticalCols.map(c => graft.ops.Validation.nullCount(c).as(s"null_$c")): _*)

  // ── S8: parquet — the primary at-rest format; partitioned layout is the
  //        100 TB default (partition pruning on the date key). */
  def writeParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  // ── S11: size-targeted parquet write + compaction — the small-files
  //        answer. A 100 TB table written by a wide shuffle (or a
  //        streaming sink) ends up as millions of KB-sized files; every
  //        downstream scan then pays a task per file and the name node /
  //        listing layer melts. Rewrite with an explicit file budget:
  //        rows-per-file from a sampled average row width, repartitioned
  //        to the resulting file count so each task writes ~one full
  //        file, and maxRecordsPerFile as the hard ceiling. Compaction of
  //        an existing directory is the same call with a read in front. */
  def writeSized(df: DataFrame, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sampleRows: Int = 10000): Long = {
    val sample = df.limit(sampleRows)
      .select(sum(length(to_json(struct(df.columns.map(col).toIndexedSeq: _*))))
        .cast("double").as("bytes"), count(lit(1)).as("n"))
      .collect()(0)
    val n = df.count()
    // JSON width over-estimates the encoded width (field names repeat per
    // row; parquet encodes + compresses columns) — treat it as a 4x-ish
    // upper bound so the file target lands under, not over.
    val avgRowBytes =
      if (sample.getLong(1) == 0L) 64.0
      else math.max(8.0, sample.getDouble(0) / sample.getLong(1) / 4.0)
    val rowsPerFile = math.max(1L, (targetFileBytes / avgRowBytes).toLong)
    val files = math.max(1L, (n + rowsPerFile - 1) / rowsPerFile)
    df.repartition(files.toInt)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", rowsPerFile)
      .parquet(path)
    files
  }

  /** Compact an existing parquet directory in place-adjacent form: read,
    * rewrite size-targeted to `outPath` (never the input path — a failed
    * overwrite-in-place destroys the only copy). Returns file count. */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    require(new java.io.File(inPath).getCanonicalPath !=
      new java.io.File(outPath).getCanonicalPath,
      "compactParquet refuses in-place rewrite: read and overwrite of the " +
        "same path races the scan against its own deletion")
    writeSized(spark.read.parquet(inPath), outPath, targetFileBytes)
  }

  // ── S16: schema-evolution read — a 100 TB table is written over months
  //        by pipeline versions whose schemas drift (new columns appear;
  //        old files lack them). `mergeSchema` unions the footer schemas
  //        across all files; rows from files missing a column surface it
  //        as NULL, so downstream queries see ONE stable wide schema. Off
  //        by default in Spark because footer-merging costs a pass over
  //        file metadata — turn it on per-read here, not globally.
  //        Incompatible type changes (int → string) still fail loudly,
  //        which is correct: silent coercion would corrupt aggregates.
  def readParquetEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  // ── S17: raw-media file ingestion via Spark's built-in `binaryFile`
  //        source — the front door for image/audio/video corpora that
  //        arrive as FILES (one object per image), before they are packed
  //        into the BinaryType parquet the multimodal operators consume
  //        (operators/Multimodal.scala). Each row carries (path,
  //        modificationTime, length, content); `pathGlobFilter` prunes by
  //        extension AT LISTING TIME so non-matching objects are never
  //        opened. At 100 TB the scan parallelizes per-file — pair it with
  //        writeSized to compact millions of small originals into
  //        scan-friendly parquet, after which every downstream decode is a
  //        columnar read, not an object-store GET per image.
  def readBinaryFiles(spark: SparkSession, dir: String,
      glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)

  /** S17 packing step: file scan → the (media_id, payload) BinaryType
    * parquet layout the decode operators expect; media_id is the file
    * name's numeric stem so re-ingestion is idempotent. */
  def packBinaryFiles(spark: SparkSession, dir: String, glob: String,
      outPath: String): Unit =
    writeParquet(
      readBinaryFiles(spark, dir, glob)
        .select(
          regexp_extract(col("path"), "(\\d+)\\.[A-Za-z0-9]+$", 1)
            .cast("long").as("media_id"),
          col("length"), col("content").as("payload")),
      outPath)

  // ── S13: bucketed parquet table — the join/agg keys are pre-shuffled ON
  //        DISK: every file belongs to hash(key) % n, so an equi-join of
  //        two tables bucketed the same way (or a groupBy on the bucket
  //        key) plans with ZERO exchange. At 100 TB this is the biggest
  //        single lever the engine has: the fact-table shuffle a key join
  //        would otherwise pay on every query is paid once, at write time.
  //        Repartitioning by the key before the write yields one file per
  //        bucket, which also lets the sorted-bucket metadata satisfy the
  //        SMJ sort requirement (BucketingSpec pins exchange-free +
  //        sort-free). */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
      keys: Seq[String]): Unit =
    df.repartition(numBuckets, keys.map(col).toIndexedSeq: _*)
      .write.format("parquet")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)

  // ── S10: ORC — the second columnar at-rest format (Hive-ecosystem
  //        interchange); same pushdown/pruning behavior as parquet via the
  //        built-in datasource, same partitioned-layout discipline. */
  def writeOrc(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  // ── S5/S6: JDBC sink/scan — the "load_to_postgres" boundary
  //        (dags/flight_data_pipeline.py:78-122) as batched df.write.jdbc
  //        instead of a row-tuple INSERT loop. No database exists in this
  //        container: wrappers carry the production batching config and are
  //        exercised only for argument plumbing. */
  /** `columnTypes` mirrors the reference's explicit DDL
    * (dags/flight_data_pipeline.py:81-96, VARCHAR(n)/FLOAT/...) — without
    * it Spark maps StringType to the database's widest type (CLOB on
    * Derby), which many engines can't group or index. */
  def writeJdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties, batchSize: Int = 10000,
      columnTypes: Option[String] = None): Unit = {
    props.setProperty("batchsize", batchSize.toString)
    val w = df.write.mode(SaveMode.Append)
    columnTypes.foreach(t => w.option("createTableColumnTypes", t))
    w.jdbc(url, table, props)
  }

  def readJdbc(spark: SparkSession, url: String, query: String,
      props: java.util.Properties): DataFrame =
    spark.read.jdbc(url, s"($query) AS q", props)

  // ── S9: alert hook — the reference emails on validation failure
  //        (ingest.py:34-61); engine-side this is a QueryExecutionListener
  //        invoking a callback on failed actions. */
  def registerAlertListener(spark: SparkSession)(
      alert: (String, Throwable) => Unit): QueryExecutionListener = {
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = ()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = alert(funcName, exception)
    }
    spark.listenerManager.register(l)
    l
  }
}
