package graft

import java.nio.file.Files

/** Every registered query must be WELL-DEFINED on an empty fixture set —
  * a 100 TB pipeline routinely sees empty slices (a new date partition, a
  * filtered-out source, a dry run), and "aggregate over nothing" is where
  * getLong-on-null and divide-by-zero bugs hide. Queries may return zero
  * rows or a single all-null/zero summary row; they must not throw.
  *
  * Streaming queries are exempted: an empty directory gives the file
  * source nothing to list and AvailableNow completes with an empty sink
  * table — but the memory-sink table read then races table registration,
  * which is a harness artifact, not an operator property (their
  * empty-batch behavior is pinned in StreamingSpec).
  */
class EmptyInputSpec extends SparkTestBase {

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("empty_sf").toString
    val src = "/root/testdata/sf0.001"
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      Tables.table(spark, src, t).limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // events keeps the fixture's on-disk `ts` type (NANOS or NTZ µs);
    // Tables.events converts on read, so write the RAW shape empty. The
    // footer probe turns nanosAsLong on only for a NANOS footer, which
    // cannot be read raw without it (the trap TESTDATA.md documents).
    Tables.eventsTsType(spark, s"$src/events.parquet")
    spark.read.parquet(s"$src/events.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val streaming = Set(
    "q62_events_hourly_stream", "q71_sessions_stream",
    "q81_hopping_stream", "q91_interval_join_stream",
    "q113_dedup_stream", "q126_stream_enrich")

  test("every batch query survives an all-empty fixture set") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => streaming(n) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, emptyDir).collect()
          OperatorCaches.release()
          None
        } catch {
          case e: Throwable =>
            OperatorCaches.release()
            Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
        }
      }
    assert(failures.isEmpty, s"\n${failures.mkString("\n")}")
  }
}
