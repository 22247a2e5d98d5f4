package e2ebench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Input generators. Everything the program reads is made here from a
  * seed, inside the run's work directory. */
object Gen {

  /** A seeded Fisher-Yates permutation of `xs`. */
  def shuffle[T](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Zipf(s) sampler over indices 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** The fixture tables the registered ops read (documents, embeddings,
    * events, customer), in the TESTDATA.md fixtures' schemas and at their
    * sf0.01 row counts. They come from a fixed seed, so the pinned result
    * digests hold for every run; `--seed` orders the ops instead. */
  object Tables {
    val scaleName = "sf0.01-shaped"
    val seed = 20240101L
    val nDocs = 500
    val nVecs = 500
    val nEvents = 10000
    val nCustomers = 1500
    private val vocab = ("key agg row scan slow fast table value part hash merge batch " +
      "spark a the line sort window order data column join small customer query " +
      "stream big filter group vector").split(' ')
    private val langs = Array("en", "en", "en", "zh", "de", "fr", "es")

    def write(spark: SparkSession, dir: String): Unit = {
      val r = new SplittableRandom(seed)
      // documents: random word bags; about one in eight is a near or exact
      // copy of an earlier document so the dedup ops find pairs.
      val texts = mutable.ArrayBuffer.empty[String]
      val docs = (0 until nDocs).map { i =>
        val text =
          if (i > 20 && r.nextInt(8) == 0) {
            val words = texts(r.nextInt(texts.size)).split(' ')
            if (r.nextBoolean()) words.mkString(" ")
            else {
              val k = r.nextInt(words.length)
              words.updated(k, vocab(r.nextInt(vocab.length))).mkString(" ")
            }
          } else Seq.fill(8 + r.nextInt(90))(vocab(r.nextInt(vocab.length))).mkString(" ")
        texts += text
        Row(i.toLong, text, langs(r.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
      }
      save(spark, dir, "documents", docs, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))

      // embeddings: 64-d unit vectors around one centroid per label
      val centroids = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
      val vecs = (0 until nVecs).map { i =>
        val label = r.nextInt(10)
        val v = centroids(label).map(c => c + gauss(r) * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      }
      save(spark, dir, "embeddings", vecs, StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))

      // events: one month of timestamped user events in time order
      val kinds = Array("click", "view", "purchase", "signup", "error")
      val start = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
      val span = 30L * 24 * 3600 * 1000000L
      val ts = Array.fill(nEvents)(start + (r.nextDouble() * span).toLong).sorted
      val events = ts.indices.map { i =>
        Row(i.toLong, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(ts(i) * 1000L)),
          r.nextInt(150).toLong, kinds(r.nextInt(kinds.length)),
          (1 + r.nextInt(49000)) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
      }
      save(spark, dir, "events", events, StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))))

      val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      val customers = (0 until nCustomers).map { i =>
        Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          (r.nextInt(1099999) - 99999) / 100.0, segments(r.nextInt(segments.length)))
      }
      save(spark, dir, "customer", customers, StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))))
    }

    private def gauss(r: SplittableRandom): Double =
      math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

    private def save(spark: SparkSession, dir: String, name: String,
        rows: Seq[Row], schema: StructType): Unit = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite")
        .option("compression", "snappy")
        .parquet(s"$dir/$name.parquet")
    }
  }

  /** One generated flight, with the values the pipeline derives from it. */
  final case class Flight(iso: String, key: Long, airline: String,
      origin: String, dest: String, depDelay: Option[Double],
      arrDelay: Option[Double]) {
    def delayed: Boolean = depDelay.exists(_ > 15.0)
  }

  /** Raw monthly flight files in the BTS on-time layout: `FL_DATE` as
    * `M/d/yyyy hh:mm:ss a`, 87 columns of which the nine mapped ones (plus
    * the delay and status floats) carry data and the rest are mostly-null
    * padding. Zipf-skewed airports and carriers, nullable actual times,
    * and flight numbers unique within a day, so (date, flight number) is a
    * key the API pages on. */
  object Flights {
    val carriers = Array("WN", "DL", "AA", "UA", "OO", "9E", "B6", "AS", "NK",
      "MQ", "YX", "F9", "G4", "HA", "OH")
    private val padding = Seq("YEAR", "QUARTER", "MONTH", "DAY_OF_MONTH",
      "DAY_OF_WEEK", "OP_UNIQUE_CARRIER", "OP_CARRIER_AIRLINE_ID", "TAIL_NUM",
      "ORIGIN_AIRPORT_ID", "ORIGIN_AIRPORT_SEQ_ID", "ORIGIN_CITY_MARKET_ID",
      "ORIGIN_CITY_NAME", "ORIGIN_STATE_ABR", "ORIGIN_STATE_FIPS",
      "ORIGIN_STATE_NM", "ORIGIN_WAC", "DEST_AIRPORT_ID", "DEST_AIRPORT_SEQ_ID",
      "DEST_CITY_MARKET_ID", "DEST_CITY_NAME", "DEST_STATE_ABR",
      "DEST_STATE_FIPS", "DEST_STATE_NM", "DEST_WAC", "DEP_DELAY_NEW",
      "DEP_DEL15", "DEP_DELAY_GROUP", "DEP_TIME_BLK", "TAXI_OUT", "WHEELS_OFF",
      "WHEELS_ON", "TAXI_IN", "ARR_DELAY_NEW", "ARR_DEL15", "ARR_DELAY_GROUP",
      "ARR_TIME_BLK", "CANCELLATION_CODE", "CRS_ELAPSED_TIME",
      "ACTUAL_ELAPSED_TIME", "AIR_TIME", "FLIGHTS", "DISTANCE",
      "DISTANCE_GROUP", "CARRIER_DELAY", "WEATHER_DELAY", "NAS_DELAY",
      "SECURITY_DELAY", "LATE_AIRCRAFT_DELAY", "FIRST_DEP_TIME",
      "TOTAL_ADD_GTIME", "LONGEST_ADD_GTIME", "DIV_AIRPORT_LANDINGS",
      "DIV_REACHED_DEST", "DIV_ACTUAL_ELAPSED_TIME", "DIV_ARR_DELAY",
      "DIV_DISTANCE") ++
      (1 to 5).flatMap(i => Seq("AIRPORT", "AIRPORT_ID", "AIRPORT_SEQ_ID",
        "WHEELS_ON", "TOTAL_GTIME", "LONGEST_GTIME", "WHEELS_OFF", "TAIL_NUM")
        .map(c => s"DIV${i}_$c")).take(18)
    private val typed: Map[String, DataType] =
      graft.model.Schemas.rawFlightSchema.fields.map(f => f.name -> f.dataType).toMap
    val columns: Seq[String] = {
      val mapped = graft.model.Schemas.rawFlightSchema.fieldNames.toSeq
      val cols = padding.take(5) ++ mapped ++ padding.drop(5)
      require(cols.size == 87 && cols.distinct.size == 87, s"${cols.size} columns")
      cols
    }
    /** The read schema: the engine's typed columns, strings elsewhere. */
    val schema: StructType = StructType(columns.map(c =>
      StructField(c, typed.getOrElse(c, StringType))))

    private val airports: Array[String] = {
      val r = new SplittableRandom(7L)
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < 320)
        s += Seq.fill(3)(('A' + r.nextInt(26)).toChar).mkString
      s.toArray
    }
    private val monthDays = Array(31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)

    private def hhmm(minutes: Int): Int = {
      val m = ((minutes % 1440) + 1440) % 1440
      (m / 60) * 100 + m % 60
    }
    private def minutesOf(hhmm: Int): Int = (hhmm / 100) * 60 + hhmm % 100

    /** Writes `nFiles` monthly CSVs of `rows` rows each into `dir` and
      * returns (path, flights) per file. */
    def write(seed: Long, dir: String, nFiles: Int, rows: Int)
        : Seq[(String, IndexedSeq[Flight])] = {
      new File(dir).mkdirs()
      val r = new SplittableRandom(seed)
      val airportOrder = shuffle(airports.toSeq, r).toArray
      val airportZipf = new Zipf(airportOrder.length, 1.1)
      val carrierZipf = new Zipf(carriers.length, 0.8)
      (1 to nFiles).map { month =>
        val days = monthDays(month - 1)
        val dayOf = Array.fill(rows)(1 + r.nextInt(days))
        // flight numbers: a shuffled range per day, so unique within a day
        val perDay = Array.fill(days + 1)(0)
        dayOf.foreach(d => perDay(d) += 1)
        val numbers = perDay.map(n => shuffle(100 until 100 + n, r).toArray)
        val used = Array.fill(days + 1)(0)
        val path = f"$dir/flights_2024_$month%02d.csv"
        val w = new BufferedWriter(new OutputStreamWriter(
          new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
        w.write(columns.mkString(","))
        w.write('\n')
        val flights = new mutable.ArrayBuffer[Flight](rows)
        val cell = mutable.Map.empty[String, String]
        for (i <- 0 until rows) {
          val day = dayOf(i)
          val num = numbers(day)(used(day)); used(day) += 1
          val carrier = carriers(carrierZipf.draw(r))
          val origin = airportOrder(airportZipf.draw(r))
          var dest = airportOrder(airportZipf.draw(r))
          while (dest == origin) dest = airportOrder(airportZipf.draw(r))
          val crsDep = hhmm(300 + r.nextInt(1140))
          val duration = 45 + r.nextInt(360)
          val crsArr = hhmm(minutesOf(crsDep) + duration)
          val cancelled = r.nextInt(50) == 0
          val diverted = !cancelled && r.nextInt(200) == 0
          val depDelayMin =
            if (r.nextInt(10) < 7) r.nextInt(21) - 10 else (-30 * math.log(1 - r.nextDouble())).toInt
          val arrDelayMin = depDelayMin + r.nextInt(21) - 10
          val dep = if (cancelled) None else Some(hhmm(minutesOf(crsDep) + depDelayMin))
          val arr = if (cancelled || diverted) None
            else Some(hhmm(minutesOf(crsArr) + arrDelayMin))
          cell.clear()
          cell("YEAR") = "2024"; cell("MONTH") = month.toString
          cell("QUARTER") = ((month - 1) / 3 + 1).toString
          cell("DAY_OF_MONTH") = day.toString
          cell("FL_DATE") = s"$month/$day/2024 12:00:00 AM"
          cell("OP_CARRIER") = carrier; cell("OP_UNIQUE_CARRIER") = carrier
          cell("OP_CARRIER_FL_NUM") = num.toString
          cell("ORIGIN") = origin; cell("DEST") = dest
          cell("CRS_DEP_TIME") = crsDep.toString; cell("CRS_ARR_TIME") = crsArr.toString
          dep.foreach(d => cell("DEP_TIME") = s"$d.0")
          arr.foreach(a => cell("ARR_TIME") = s"$a.0")
          if (!cancelled) cell("DEP_DELAY") = s"$depDelayMin.0"
          if (arr.isDefined) cell("ARR_DELAY") = s"$arrDelayMin.0"
          if (arr.isDefined && arrDelayMin >= 15) cell("CARRIER_DELAY") = s"$arrDelayMin.0"
          cell("CANCELLED") = if (cancelled) "1.0" else "0.0"
          cell("DIVERTED") = if (diverted) "1.0" else "0.0"
          cell("DISTANCE") = (duration * 8).toString
          var first = true
          columns.foreach { c =>
            if (!first) w.write(',')
            first = false
            cell.get(c).foreach(w.write)
          }
          w.write('\n')
          flights += Flight(f"2024-$month%02d-$day%02d", num.toLong, carrier,
            origin, dest, dep.map(d => d.toDouble - crsDep),
            arr.map(a => a.toDouble - crsArr))
        }
        w.close()
        (path, flights.toIndexedSeq)
      }
    }
  }
}
