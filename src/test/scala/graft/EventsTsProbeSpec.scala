package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

import graft.streaming.EventsStream

/** The events `ts` type is read from one footer on the driver
  * (Tables.eventsTsType). It must give the type the batch schema probe
  * `spark.read.parquet(dir).schema` gave on every layout, start no Spark
  * job, and set `nanosAsLong` only for a TIMESTAMP(NANOS) footer. */
class EventsTsProbeSpec extends SparkTestBase {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The probe `EventsStream.readEvents` ran before: a batch read's
    * inferred schema, `TimestampType` when there was nothing to infer. */
  private def batchProbe(dir: String, glob: Option[String]): DataType =
    ScopedConf.withConf(spark, NanosAsLong, "true") {
      val r = spark.read
      glob.foreach(g => r.option("pathGlobFilter", g))
      Try(r.parquet(dir).schema("ts").dataType).getOrElse(TimestampType)
    }

  /** The footer probe's type for `dir`, checked against [[batchProbe]]
    * and, with nanosAsLong explicitly off, that it left the key off. */
  private def probeLikeBatch(dir: String, glob: Option[String] = None): DataType =
    ScopedConf.withConf(spark, NanosAsLong, "false") {
      val t = Tables.eventsTsType(spark, dir, glob)
      assert(spark.conf.get(NanosAsLong) == "false", s"$dir set $NanosAsLong")
      assert(t == batchProbe(dir, glob), dir)
      t
    }

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def copyFixture(dir: String, name: String): Unit =
    Files.copy(Paths.get(s"$sfDir/events.parquet"), Paths.get(dir, name))

  test("a Spark-written directory with _SUCCESS and .crc siblings") {
    val dir = s"${tmpDir("ts_dir")}/events.parquet"
    Tables.events(spark, sfDir).write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assert(probeLikeBatch(dir) == TimestampType)
  }

  test("the single-file layout, narrowed by the glob filter") {
    val dir = tmpDir("ts_glob")
    copyFixture(dir, "events.parquet")
    // a sibling that sorts first and holds another ts type: the glob
    // filter, not the listing order, must pick the file
    val decoy = s"${tmpDir("ts_decoy")}/out"
    spark.range(1).select(col("id").as("event_id"), lit(1L).as("ts"))
      .coalesce(1).write.parquet(decoy)
    val part = new java.io.File(decoy).listFiles().filter(_.getName.startsWith("part-")).head
    Files.copy(part.toPath, Paths.get(dir, "aaa.parquet"))
    assert(probeLikeBatch(dir, Some("events.parquet")) == TimestampNTZType)
    // readEventsTable's own dispatch on the fixture file
    assert(EventsStream.readEventsTable(spark, s"$sfDir/events.parquet")
      .schema("ts").dataType == TimestampType)
  }

  test("an empty or missing directory gives TimestampType") {
    assert(probeLikeBatch(tmpDir("ts_empty")) == TimestampType)
    assert(probeLikeBatch(s"${tmpDir("ts_missing")}/none") == TimestampType)
  }

  test("an NTZ footer (the fixture) gives TimestampNTZType") {
    val dir = tmpDir("ts_ntz")
    copyFixture(dir, "part-0.parquet")
    assert(probeLikeBatch(dir) == TimestampNTZType)
  }

  test("raw long nanos written back by Spark give LongType and leave nanosAsLong alone") {
    // what EmptyInputSpec writes when the fixture is NANOS: a nanosAsLong
    // read written back, a plain INT64 column with no timestamp annotation
    val dir = s"${tmpDir("ts_raw")}/events.parquet"
    Tables.events(spark, sfDir).withColumn("ts", unix_micros(col("ts")) * 1000L)
      .limit(0).write.parquet(dir)
    assert(probeLikeBatch(dir) == LongType)
  }

  /** An events file whose `ts` is TIMESTAMP(NANOS), as a non-Spark writer
    * leaves it (Spark itself cannot write NANOS). */
  private def writeNanosEvents(file: String, tsNanos: Long): Unit = {
    val schema: MessageType = Types.buildMessage()
      .optional(INT64).named("event_id")
      .optional(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
      .optional(INT64).named("user_id")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .optional(DOUBLE).named("value")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val conf = spark.sessionState.newHadoopConf()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", tsNanos).append("user_id", 7L)
      .append("event_type", "click").append("value", 1.5).append("props", "{}"))
    finally w.close()
  }

  test("a TIMESTAMP(NANOS) footer gives LongType, sets nanosAsLong, and streams µs instants") {
    val dir = tmpDir("ts_nanos")
    val nanos = 1700000000123456789L
    writeNanosEvents(s"$dir/events.parquet", nanos)
    ScopedConf.withConf(spark, NanosAsLong, "false") {
      assert(Tables.eventsTsType(spark, dir) == LongType)
      // the one encoding whose scan still needs the legacy key
      assert(spark.conf.get(NanosAsLong) == "true")
      assert(batchProbe(dir, None) == LongType)
      val sink = "ts_nanos_probe_sink"
      spark.catalog.dropTempView(sink)
      EventsStream.readEventsTable(spark, s"$dir/events.parquet").select("ts")
        .writeStream.format("memory").queryName(sink)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      val got = spark.table(sink).select(unix_micros(col("ts"))).collect().map(_.getLong(0))
      assert(got.toSeq == Seq(nanos / 1000))
    }
  }

  test("readEventsTable starts no Spark job on either layout") {
    val dirLayout = s"${tmpDir("ts_jobs")}/events.parquet"
    Tables.events(spark, sfDir).write.parquet(dirLayout)
    val n = jobsOf {
      EventsStream.readEventsTable(spark, s"$sfDir/events.parquet")
      EventsStream.readEventsTable(spark, dirLayout)
    }
    assert(n == 0, s"readEventsTable started $n job(s)")
  }
}
