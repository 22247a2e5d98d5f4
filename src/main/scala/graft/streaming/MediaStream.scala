package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** STREAMING MULTIMODAL INGESTION — the streaming face of the media
  * operators: payloads arrive on a file stream, are DECODED inside the
  * micro-batch (real ImageIO, the q107/q156 path), and duplicates are
  * dropped on the PERCEPTUAL hash, so a re-encoded replay (same pixels,
  * different bytes — the case byte-digest dedup misses) never reaches
  * the sink. Only the 8-byte hash enters streaming state, never pixels
  * or payloads — state is ~8B × images-per-horizon whatever the media
  * size, the exact property a 100 TB ingest gate needs.
  */
object MediaStream {

  // ── q171: streaming image ingest → in-batch ImageIO decode → aHash →
  //        perceptual dedup state. Fixture: the q156 PNG variant universe
  //        (base ∪ tEXt-chunk re-encodes ∪ perturbed near-twins) with
  //        replay-shaped timestamps — re-encodes arrive 30 minutes after
  //        their base, so the state horizon genuinely screens them. The
  //        output projects the surviving DISTINCT hash set (identical
  //        whatever arrival order the source picks), and the DuckDB
  //        oracle replays every aHash from the sha256 hex-pair LUT over
  //        the same variant universe — a green hash proves the stream
  //        decoded real pixels AND deduplicated on them.
  def q171(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fixDir = graft.Fixtures.path("pngstream", dir) {
      // base at t = id seconds; re-encodes/perturbed replay later
      graft.operators.Multimodal.pngVariantsTable(s, dir)
        .select(col("doc_id").as("media_id"),
          expr("""timestamp_micros(
                    (doc_id % 1000000000) * 1000000 +
                    (doc_id div 1000000000) * 1800000000)""").as("ts"),
          col("payload"))
    }
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("ts", TimestampType),
      StructField("payload", BinaryType)))
    val hashed = s.readStream.schema(schema).parquet(fixDir)
      .as[(Long, java.sql.Timestamp, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, ts, payload) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(payload))
          require(img != null, s"media_id=$id: not a decodable image")
          (id, ts, f"${graft.operators.Multimodal.aHash64(img)}%016X")
        }
      }.toDF("media_id", "ts", "ahash_hex")
    // same horizon reasoning as q113: AvailableNow may split the input
    // into several micro-batches, so the horizon must cover the whole
    // fixture span for the global-DISTINCT oracle to hold; hash-only
    // state keeps the wide horizon ~free.
    val deduped = hashed
      .withWatermark("ts", "30 days")
      .dropDuplicatesWithinWatermark("ahash_hex")
      .select(col("ahash_hex"))
    Streams.toMemory(s, "q171_media_stream_sink", deduped, "append")
      .orderBy(col("ahash_hex"))
  }

  // Oracle: the DISTINCT perceptual hash set over the variant universe,
  // every hash rebuilt codec-free — pixels from the sha256 hex-pair LUT
  // (perturbed twins invert byte 0 of frame pixels: 255−v), aHash grid
  // over the VARIABLE doc_id%6 dims, bytes big-endian-hexed (the
  // q167/q170 machinery). Re-encodes contribute no new hash (identical
  // pixels), perturbed twins usually do — exactly what the stream emits.
  val q171Sql: String =
    """WITH media AS (
      |  SELECT doc_id AS media_id, doc_id AS src_id, 0 AS perturb
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000, doc_id, 0 FROM documents
      |  WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000000, doc_id, 1 FROM documents
      |  WHERE doc_id % 5 = 0),
      |lut AS (
      |  SELECT i AS v, upper(lpad(hex(i),2,'0')) AS hp
      |  FROM generate_series(0,255) t(i)),
      |dims AS (
      |  SELECT m.media_id, m.perturb, d.text,
      |    CASE ((d.doc_id % 6) + 6) % 6 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 16
      |         WHEN 3 THEN 2 WHEN 4 THEN 32 ELSE 1 END AS w,
      |    CASE ((d.doc_id % 6) + 6) % 6 WHEN 0 THEN 4 WHEN 1 THEN 8 WHEN 2 THEN 2
      |         WHEN 3 THEN 16 WHEN 4 THEN 1 ELSE 32 END AS h
      |  FROM media m JOIN documents d ON d.doc_id = m.src_id),
      |ipix AS (
      |  SELECT dm.media_id, g.p,
      |    CASE WHEN dm.perturb = 1 AND g.p = 0 THEN 255 - lut.v
      |         ELSE lut.v END AS v
      |  FROM dims dm CROSS JOIN generate_series(0,31) g(p)
      |  JOIN lut ON lut.hp = upper(substring(sha256(dm.text), g.p*2+1, 2))),
      |isamp AS (
      |  SELECT dm.media_id, g.i, px.v
      |  FROM dims dm CROSS JOIN generate_series(0,63) g(i)
      |  JOIN ipix px ON px.media_id = dm.media_id
      |    AND px.p = ((g.i // 8) * dm.h // 8) * dm.w + ((g.i % 8) * dm.w // 8)),
      |ibits AS (
      |  SELECT s.media_id, s.i,
      |    CASE WHEN s.v * 64 >= t.total THEN 1 ELSE 0 END AS b
      |  FROM isamp s JOIN (
      |    SELECT media_id, sum(v) AS total FROM isamp GROUP BY 1) t
      |    ON t.media_id = s.media_id),
      |ibytes AS (
      |  SELECT media_id, i // 8 AS k,
      |    CAST(sum(b * power(2, i % 8)) AS INT) AS byte
      |  FROM ibits GROUP BY 1, 2),
      |ihash AS (
      |  SELECT media_id,
      |    string_agg(upper(lpad(hex(byte),2,'0')), '' ORDER BY k DESC)
      |      AS ahash_hex
      |  FROM ibytes GROUP BY 1)
      |SELECT DISTINCT ahash_hex FROM ihash ORDER BY ahash_hex""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q171_media_stream" -> q171)

  val oracle: Map[String, String] = Map(
    "q171_media_stream" -> q171Sql)
}
