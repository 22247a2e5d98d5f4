package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val planted = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
    (3L, "alpha beta gamma delta epsilon zeta eta iota"),  // near dup (J=7/9)
    (4L, "one two three four five six seven eight"),
    (5L, "nine ten eleven twelve thirteen fourteen fifteen sixteen"))
    .toDF("doc_id", "text")

  test("exact dedup keeps the lowest id per identical text") {
    val kept = Dedup.exactDedupIds(planted, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
  }

  test("jaccardPairs computes exact token-set jaccard") {
    val pairs = Dedup.jaccardPairs(planted, "text", "doc_id")
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(math.abs(pairs((1L, 3L)) - 7.0 / 9.0) < 1e-12)
    assert(!pairs.contains((4L, 5L))) // no shared tokens → no pair
  }

  test("clone-heavy corpus: collapsed jaccardPairs equals brute-force pairwise") {
    // 4 distinct texts, each with several exact clones — the shape that
    // made uncollapsed pairing quadratic at 50×. Expansion must reproduce
    // the exact brute-force pair set and values.
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta",
      "alpha beta gamma delta epsilon eta",
      "one two three four five six",
      "unrelated words entirely different content here")
    val docs = (0 until 12).map(i => (i.toLong, texts(i % 4))).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(docs, "text", "doc_id")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    // brute force in test code
    val sets = (0 until 12).map(i => i.toLong -> texts(i % 4).split("\\s+").toSet).toMap
    val expected = (for {
      a <- 0L until 12L; b <- (a + 1) until 12L
      inter = (sets(a) & sets(b)).size if inter > 0
    } yield ((a, b), (inter.toLong,
      inter.toDouble / (sets(a).size + sets(b).size - inter)))).toMap
    assert(got == expected,
      s"missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
  }

  test("clone-heavy corpus: minhash candidates cover all clone pairs at est 1.0") {
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta",
      "one two three four five six")
    val docs = (0 until 10).map(i => (i.toLong, texts(i % 2))).toDF("doc_id", "text")
    val cand = Dedup.minhashCandidates(docs, "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val clonePairs = (for {
      a <- 0L until 10L; b <- (a + 1) until 10L if a % 2 == b % 2
    } yield (a, b)).toSet
    clonePairs.foreach { p =>
      assert(cand.get(p).contains(1.0), s"clone pair $p missing or est != 1.0")
    }
  }

  test("minhash finds planted exact and near dups; skips unrelated docs") {
    val cand = Dedup.minhashCandidates(planted, "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cand((1L, 2L)) == 1.0, "exact dup must have est 1.0")
    assert(cand((1L, 3L)) > 0.5, "near dup must score high")
    assert(!cand.contains((4L, 5L)))
  }

  test("minhashDedupIds drops only the high-id member of sure-dup pairs") {
    val kept = Dedup.minhashDedupIds(planted, "text", "doc_id", threshold = 0.95)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
  }

  test("minhash recall vs exact jaccard oracle on the fixture block") {
    val block = Tables.documents(spark, sfDir).filter(col("doc_id") < 100)
    val exact = Dedup.jaccardPairs(block, "text", "doc_id")
      .filter(col("jaccard") >= 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Dedup.minhashCandidates(block, "text", "doc_id")
      .filter(col("est_jaccard") >= 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) {
      val recall = exact.intersect(approx).size.toDouble / exact.size
      assert(recall >= 0.9, f"minhash recall $recall%.3f below 0.9")
    }
  }

  test("sha256-minhash recall vs exact jaccard oracle on the fixture block") {
    val block = Tables.documents(spark, sfDir).filter(col("doc_id") < 100)
    val exact = Dedup.jaccardPairs(block, "text", "doc_id")
      .filter(col("jaccard") >= 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Dedup.minhashShaCandidates(block, "text", "doc_id")
      .filter(col("est_jaccard") >= 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) {
      val recall = exact.intersect(approx).size.toDouble / exact.size
      assert(recall >= 0.9, f"sha-minhash recall $recall%.3f below 0.9")
    }
  }

  test("winnowing row form ≡ exploded array form (incl. short/empty texts)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog repeatedly today"),
      (2L, "the quick brown fox jumps over the lazy dog repeatedly today"),
      (3L, "tiny"),            // shorter than one gram → no fingerprints
      (4L, "exactly 16 chars"), // one gram → one fingerprint (fallback)
      (5L, ""),                 // empty
      (6L, "a different sentence that shares nothing with the others here"))
      .toDF("doc_id", "text")
    val fromArray = Dedup.winnowingFingerprintsSha(docs, "text", "doc_id", 16, 8)
      .select(col("doc_id"), explode(col("fingerprints")).as("w"))
      .distinct().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val fromRows = Dedup.winnowingFingerprintRowsSha(docs, "text", "doc_id", 16, 8)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(fromRows == fromArray,
      s"rows-only=${fromRows -- fromArray} array-only=${fromArray -- fromRows}")
  }

  test("winnowingShaPairs: clone groups expand fully with exact shared counts") {
    val base = "the quick brown fox jumps over the lazy dog repeatedly " * 3
    val docs = Seq(
      1L -> base, 2L -> base, 3L -> base,        // 3-way exact clone group
      4L -> (base + "with a changed tail here"), // near-dup of the group
      5L -> ("entirely unrelated content string with nothing shared at all " * 3))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowingShaPairs(docs, "text", "doc_id", minShared = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val nFp = Dedup.winnowingFingerprintRowsSha(
        docs.filter(col("doc_id") === 1L), "text", "doc_id", 16, 8).count()
    // all three intra pairs, each sharing the full fingerprint set
    Seq((1L, 2L), (1L, 3L), (2L, 3L)).foreach { p =>
      assert(pairs.get(p).contains(nFp), s"intra pair $p: ${pairs.get(p)}")
    }
    // the near-dup pairs every clone equally (inter expansion)
    val withNear = Seq((1L, 4L), (2L, 4L), (3L, 4L)).map(pairs.get)
    assert(withNear.forall(_.nonEmpty) && withNear.distinct.length == 1,
      s"inter expansion must give identical counts: $withNear")
    assert(!pairs.keys.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("stratifiedSample returns exactly n rows per key, deterministically") {
    val docs = Tables.documents(spark, sfDir)
    val out = Dedup.stratifiedSample(docs, "lang", "doc_id", n = 7)
      .groupBy(col("lang")).agg(count(lit(1)).as("n")).collect()
    val total = docs.groupBy(col("lang")).agg(count(lit(1)).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val expect = math.min(7L, total(r.getString(0)))
      assert(r.getLong(1) == expect, s"${r.getString(0)}: ${r.getLong(1)}")
    }
    val a = Dedup.q58(spark, sfDir).collect().map(_.toString).toSeq
    val b = Dedup.q58(spark, sfDir).collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("quotaSample: per-key caps, unlisted keys dropped, deterministic") {
    val docs = (1L to 40L).map(i =>
      (i, if (i % 4 == 0) "en" else if (i % 4 == 1) "de" else "zz"))
      .toDF("doc_id", "lang")
    val out = graft.operators.Dedup
      .quotaSample(docs, "lang", "doc_id", Map("en" -> 3, "de" -> 7))
      .collect().map(r => (r.getString(1), r.getLong(0)))
    val byKey = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byKey == Map("en" -> 3, "de" -> 7), s"got $byKey")
    // deterministic: same membership on re-run
    val again = graft.operators.Dedup
      .quotaSample(docs, "lang", "doc_id", Map("en" -> 3, "de" -> 7))
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(out.toSet == again.toSet)
    // quota above key cardinality returns the whole key, no padding
    val all = graft.operators.Dedup
      .quotaSample(docs, "lang", "doc_id", Map("en" -> 100))
      .collect()
    assert(all.length == 10 && all.forall(_.getString(1) == "en"))
    // empty quota map is an empty result, not an error
    assert(graft.operators.Dedup
      .quotaSample(docs, "lang", "doc_id", Map.empty).isEmpty)
  }

  test("decontaminate drops exactly the docs sharing an n-gram with the eval set") {
    val eval = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words alpha beta gamma delta and a tail"), // shares a 4-gram
      (2L, "beta gamma delta unrelated continuation here"),   // only a 3-gram run
      (3L, "completely different content with no overlap"))
      .toDF("doc_id", "text")
    val kept = graft.operators.Dedup
      .decontaminate(corpus, eval, "text", "doc_id", gramWords = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L),
      "doc 1 carries eval 4-gram 'alpha beta gamma delta' and must drop")
  }

  test("repetitionStats: hand-checked duplicate 2-gram fractions") {
    val docs = Seq(
      (1L, "a b a b a b"),   // 2-grams: ab ba ab ba ab → 5 total, 2 distinct
      (2L, "w x y z"),       // all distinct → dup 0
      (3L, "solo"),          // under one window → whole-text fallback, dup 0
      (4L, ""))              // no tokens → [""] fallback, dup 0
      .toDF("doc_id", "text")
    val out = graft.ops.TextQueries.repetitionStats(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 5 && out(0).getLong(2) == 2 &&
      out(0).getDouble(3) == 0.6)
    assert(out(1).getDouble(3) == 0.0)
    assert(out(2).getLong(1) == 1 && out(2).getDouble(3) == 0.0)
    assert(out(3).getLong(1) == 1 && out(3).getDouble(3) == 0.0)
  }

  test("shingles: n-gram windows; short texts fall back to whole text") {
    val sh = Seq((1L, "a b c d"), (2L, "x y"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L) == Seq("x y"))
  }

  test("winnowing: identical texts share fingerprints; dup pair detected") {
    val fps = Dedup.winnowingFingerprints(planted, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(1L) == fps(2L), "identical docs must fingerprint identically")
    assert(fps(1L).nonEmpty)
    assert(fps(1L) != fps(4L))
    val pairs = Dedup.winnowingPairs(planted, "text", "doc_id", minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((4L, 5L)))
  }

  test("winnowing: short-text fallbacks (under k chars / under one window)") {
    val tiny = Seq((1L, "abc"), (2L, "exactly11ch"), (3L, ""))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowingFingerprints(tiny, "text", "doc_id", k = 8, w = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fps(1L).isEmpty)        // shorter than k → no grams
    assert(fps(2L).length == 1)    // grams < window → single min
    assert(fps(3L).isEmpty)
  }

  test("simhash: identical texts share hash; hamming pairs found") {
    val sh = Dedup.simhash(planted, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    val pairs = Dedup.simhashPairs(planted, "text", "doc_id", maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("bloom decontamination: no false keeps; over-drop bounded by fpp") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val eval = docs.filter(col("doc_id") % 97 === 0)
    val exactKept = Dedup.decontaminate(corpus, eval, "text", "doc_id",
      gramWords = 4).select("doc_id").collect().map(_.getLong(0)).toSet
    val bloomKept = Dedup.bloomDecontaminate(corpus, eval, "text", "doc_id",
      gramWords = 4).select("doc_id").collect().map(_.getLong(0)).toSet
    // Bloom filters have no false negatives → every doc the exact pass
    // drops, the bloom pass must also drop (kept sets nest)
    assert(bloomKept.subsetOf(exactKept),
      s"bloom kept docs the exact pass dropped: ${(bloomKept -- exactKept).take(5)}")
    // false positives over-drop clean docs at a rate bounded by fpp per
    // gram — at 0.1% it must be a trickle, not a purge
    val overDropped = exactKept -- bloomKept
    assert(overDropped.size <= math.max(1, exactKept.size / 100),
      s"bloom over-dropped ${overDropped.size} of ${exactKept.size} clean docs")
  }

  test("chunk dedup: duplicate chunks lose to first occurrence, text reassembles") {
    val docs = Seq(
      (1L, Array.tabulate(32)(i => s"w$i").mkString(" ")), // chunks A,B
      (2L, Array.tabulate(32)(i => s"w$i").mkString(" ")), // same → both lose
      (3L, (Array.tabulate(16)(i => s"w$i") ++
        Array.tabulate(16)(i => s"x$i")).mkString(" ")))   // A lost, X kept
      .toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, "text", "doc_id")
      .orderBy("doc_id")
      .select("doc_id", "n_chunks", "n_kept", "kept_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 2L, 2L, Array.tabulate(32)(i => s"w$i").mkString(" "))))
    assert(out(1) == ((2L, 2L, 0L, "")))
    assert(out(2)._3 == 1L)
    assert(out(2)._4 == Array.tabulate(16)(i => s"x$i").mkString(" "))
  }

  test("q114: duplicated spans match a brute-force driver reimplementation") {
    val k = graft.operators.Dedup.SpanGramK
    val out = graft.operators.Dedup.q114(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    // brute force: every positional k-gram, dup if seen ≥2 times, islands
    val docs = Tables.documents(spark, sfDir).selectExpr("doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        "[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase).toVector)
    val gramCount = scala.collection.mutable.Map.empty[String, Int]
    val perDoc = docs.map { case (id, toks) =>
      id -> (1 to toks.length - k + 1).map(p =>
        p -> toks.slice(p - 1, p - 1 + k).mkString(" "))
    }
    perDoc.foreach(_._2.foreach { case (_, g) =>
      gramCount(g) = gramCount.getOrElse(g, 0) + 1 })
    val expect = perDoc.flatMap { case (id, gs) =>
      val dupPos = gs.collect { case (p, g) if gramCount(g) >= 2 => p }
      // islands over consecutive positions
      dupPos.foldLeft(List.empty[(Int, Int, Int)]) {
        case ((s0, e0, n0) :: rest, p) if p == e0 + 1 =>
          (s0, p, n0 + 1) :: rest
        case (acc, p) => (p, p, 1) :: acc
      }.reverse.map { case (s0, e0, n0) =>
        (id, s0.toLong, (e0 + k - 1).toLong, (e0 + k - 1 - s0 + 1).toLong,
          n0.toLong)
      }
    }.sortBy(t => (t._1, t._2))
    assert(out.toSeq == expect.toSeq)
  }

  test("q123 contamination fraction matches a driver-side gram containment") {
    val out = graft.operators.Dedup.q123(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.nonEmpty && out.length <= 20)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def splitOf(id: Long): String = {
      val h = md.digest(s"split:$id".getBytes("UTF-8"))
        .take(1).map(b => f"${b & 0xff}%02x").mkString
      if (h < "cc") "train" else if (h < "e6") "val" else "test"
    }
    val k = graft.operators.Dedup.ContamGramK
    val docs = Tables.documents(spark, sfDir).selectExpr("doc_id", "text")
      .collect().map(r => (r.getLong(0), splitOf(r.getLong(0)),
        "[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase).toVector))
    def grams(toks: Vector[String]): Set[String] =
      (1 to toks.length - k + 1)
        .map(p => toks.slice(p - 1, p - 1 + k).mkString(" ")).toSet
    val evalG = docs.filter(_._2 == "test").flatMap(d => grams(d._3)).toSet
    val expect = docs.filter(_._2 == "train").flatMap { case (id, _, toks) =>
      val g = grams(toks)
      if (g.isEmpty) None
      else {
        val hits = g.count(evalG.contains).toLong
        Some((id, g.size.toLong, hits,
          math.round(hits.toDouble / g.size * 10000) / 10000.0))
      }
    }.sortBy { case (id, _, _, f) => (-f, id) }.take(20)
    assert(out.toSeq == expect.toSeq)
  }

  test("q124 segment dedup stats match a driver-side reimplementation") {
    val out = graft.operators.Dedup.q124(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val sl = graft.operators.Dedup.SegLen
    val docs = Tables.documents(spark, sfDir)
      .selectExpr("source", "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1),
        "[a-z0-9]+".r.findAllIn(r.getString(2).toLowerCase).toVector))
    val segs = docs.flatMap { case (src, id, toks) =>
      toks.grouped(sl).map(g => (src, id, g.mkString(" "))).toSeq
    }
    val dupSet = segs.groupBy(_._3)
      .filter(_._2.map(_._2).distinct.length >= 2).keySet
    val expect = segs.groupBy(_._1).toSeq.map { case (src, ss) =>
      val dups = ss.filter(s => dupSet(s._3))
      (src, ss.length.toLong, dups.length.toLong,
        dups.map(_._3.length.toLong).sum,
        math.round(dups.length.toDouble / ss.length * 10000) / 10000.0)
    }.sortBy(_._1)
    assert(out.toSeq == expect)
  }

  test("q106: persisted history signature index ≡ inline-derived screen") {
    // the production contract behind the artifact: indexing history once
    // (parquet groups) must change NOTHING vs re-signing it per batch —
    // any fidelity loss (sig array drift, member drop) breaks row equality
    val d = Tables.documents(spark, sfDir)
    val inline = Dedup.incrementalNearDup(
        d.filter(col("doc_id") < 400), d.filter(col("doc_id") >= 400),
        "text", "doc_id")
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("new_id"), col("hist_id")).collect().map(_.toSeq)
    val viaArtifact = Dedup.q106(spark, sfDir).collect().map(_.toSeq)
    assert(viaArtifact.toSeq == inline.toSeq,
      "artifact-read history groups must equal inline derivation")
  }

  test("incremental SCREEN stays group-collapsed on a clone-adversarial " +
    "corpus: candidate cardinality <= groups², blow-up only in expansion") {
    // Each side: 6 unique texts × 5 exact clones. Identical texts share
    // the whole MinHash signature, so every cross-side same-text pair
    // collides in EVERY band — the shape where member-level pairing goes
    // quadratic (q106's 136M pairs at 100× are EXPANSION semantics; the
    // screen must never see them). This pins the r12 rehearsal note as a
    // machine check: reintroducing member-level pairing fails the bound.
    // One input per signature scheme. The sha256 texts carry four private
    // tokens each: with 8 components, the xxhash64 texts' single private
    // token leaves some sha256 signatures identical (4 groups, not 6).
    val inputs = Seq(
      ("xxhash64",
        (i: Int) => s"unique token stream number $i with shared filler words alpha beta",
        (d: DataFrame) => Dedup.minhashGroups(d, "text", "doc_id"),
        (hg: DataFrame, bg: DataFrame) => Dedup.incrementalRepScreen(hg, bg),
        (h: DataFrame, b: DataFrame) => Dedup.incrementalNearDup(h, b, "text", "doc_id")),
      ("sha256",
        (i: Int) => s"sha twin document $i carries tokens k${i}a k${i}b k${i}c k${i}d",
        (d: DataFrame) => Dedup.minhashShaGroups(d, "text", "doc_id"),
        (hg: DataFrame, bg: DataFrame) =>
          Dedup.incrementalRepScreen(hg, bg, graft.operators.BandedLsh.Sha256),
        (h: DataFrame, b: DataFrame) => Dedup.incrementalNearDupSha(h, b, "text", "doc_id")))
    for ((scheme, text, groupsOf, screenOf, pairsOf) <- inputs) {
      val texts = (0 until 6).map(text)
      def side(base: Long) = (0 until 30)
        .map(i => (base + i, texts(i % 6))).toDF("doc_id", "text")
      val hist = side(0L)
      val batch = side(1000L)
      val hg = groupsOf(hist)
      val bg = groupsOf(batch)
      assert(hg.count() == 6 && bg.count() == 6, s"$scheme: 6 signature groups per side")
      val screen = screenOf(hg, bg).collect()
      assert(screen.length <= 6 * 6,
        s"$scheme: screen must be rep-level (<=36 pairs), got ${screen.length}")
      // every same-text cross pair is a screen hit (identical sigs collide
      // in every band), so the 6 diagonal pairs are present with est=1.0
      val diag = screen.filter(r => r.getDouble(2) == 1.0)
      assert(diag.length >= 6, s"$scheme: identical-text groups must screen: ${screen.toSeq}")
      // the member blow-up happens strictly in the expansion: each screened
      // group pair expands to exactly 5×5 member pairs
      val expanded = pairsOf(hist, batch).count()
      assert(expanded == screen.length.toLong * 25L,
        s"$scheme: expansion must be screen×k² = ${screen.length * 25}, got $expanded")
    }
  }

  test("audit-only exact legs fail fast above their caps with a pointer " +
    "to the banded production path (r13 verdict ask #4)") {
    import spark.implicits._
    val docs = Seq((1L, "s0", "a b c d"), (2L, "s1", "e f g h"),
      (3L, "s0", "i j k l"), (4L, "s1", "m n o p"))
      .toDF("doc_id", "source", "text")
    // pairwise gate: jaccardPairs (q54's entry) trips at the rep cap
    spark.conf.set(Dedup.MaxRepsConf, "3")
    try {
      val ex = intercept[IllegalArgumentException] {
        Dedup.jaccardPairs(docs, "text", "doc_id", gram = 3)
      }
      assert(ex.getMessage.contains("audit-only"), ex.getMessage)
      assert(ex.getMessage.contains("banded candidates"), ex.getMessage)
      assert(ex.getMessage.contains(Dedup.MaxRepsConf), ex.getMessage)
      // two-stage: a clone-heavy corpus ABOVE the cheap doc-count bound
      // whose UNIQUE REPS fit the cap must still run (the exact stage
      // clears it) — the rehearsal regime at any replica count
      val cloney = Seq.tabulate(6)(i => (i.toLong, s"s$i", "x y z w"))
        .toDF("doc_id", "source", "text") // 6 docs > cap 3, 1 unique text
      assert(Dedup.jaccardPairs(cloney, "text", "doc_id", gram = 3)
        .count() >= 0L)
    } finally spark.conf.unset(Dedup.MaxRepsConf)
    // full-vocabulary gate: sourceOverlap's exact leg trips at the row cap
    spark.conf.set(Dedup.MaxExactRowsConf, "2")
    try {
      val ex = intercept[IllegalArgumentException] {
        Dedup.sourceOverlap(docs, "text", "source")
      }
      assert(ex.getMessage.contains("audit-only"), ex.getMessage)
      assert(ex.getMessage.contains("est_jaccard"), ex.getMessage)
    } finally spark.conf.unset(Dedup.MaxExactRowsConf)
    // under the caps the same calls plan and run
    assert(Dedup.jaccardPairs(docs, "text", "doc_id", gram = 3).count() == 0L)
    assert(Dedup.sourceOverlap(docs, "text", "source").count() == 1L)
  }

  test("q202 production prep: keep set == stagewise recompute (quality -> " +
    "exact dedup -> banded minhash drop at 0.9 -> sha sample)") {
    import org.apache.spark.sql.functions.{min, sha2, substring}
    val docs = Tables.documents(spark, sfDir)
    val got = Dedup.q202(spark, sfDir).collect().map(_.getLong(0)).toSet
    OperatorCaches.release()
    // stagewise recompute from the library primitives, composed
    // independently of trainingPrepProd's wiring
    val quality = docs.filter(graft.ops.TextQueries.qualityScore >= 0.5)
    val exactIds = quality.groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exactDocs = quality.filter(col("doc_id").isin(exactIds.toSeq: _*))
    val drops = Dedup.minhashCandidates(exactDocs, "text", "doc_id")
      .filter(col("est_jaccard") >= 0.9)
      .select("id_b").collect().map(_.getLong(0)).toSet
    OperatorCaches.release()
    val sampled = docs.filter(col("doc_id").isin((exactIds -- drops).toSeq: _*))
      .filter(substring(sha2(col("doc_id").cast("string"), 256), 1, 1) < "4")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === sampled)
    assert(got.nonEmpty, "threshold 0.9 must keep rows on the fixture")
  }

  test("tau-matched banding: rep-level candidate graph shrinks >=10x at " +
    "tau 0.9 with an identical keep-set (r15 VERDICT)") {
    // 40 docs at pairwise J=0.5 (30 shared + 15 unique tokens each): a
    // near-complete candidate graph under the legacy 16x4 geometry
    // (S-curve midpoint 0.5), nearly empty under the tau-matched 8x8 one;
    // two clone groups supply the only true >=0.9 drops.
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val sim = (0L until 40L).map { i =>
      (i, base + " " + (0 until 15).map(j => s"u${i}_$j").mkString(" "))
    }
    val clones = Seq(
      (100L, "clone alpha text one"), (101L, "clone alpha text one"),
      (102L, "clone alpha text one"),
      (103L, "clone beta text two"), (104L, "clone beta text two"))
    val docs = (sim ++ clones).toDF("doc_id", "text")
    assert(Dedup.bandRowsFor(0.9) == 8, "tau 0.9 must pick r=8/b=8")
    assert(Dedup.bandRowsFor(0.5) == 4, "tau 0.5 keeps the legacy 16x4")
    assert(Dedup.bandRowsFor(0.95) == 16, "tau 0.95 must pick r=16/b=4")
    // the documented lossy band (r16 ADVICE): 0.8 sits BETWEEN r=8/b=8's
    // S-curve midpoint (0.771) and its deterministic-recall bound
    // 1-b/n = 0.875, so its recall there is probabilistic by design —
    // this pin keeps the scaladoc's worked example tied to the geometry
    assert(Dedup.bandRowsFor(0.8) == 8, "tau 0.8 must pick r=8/b=8")
    val n4 = Dedup.minhashRepPairs(docs, "text", "doc_id", 1, 4)._2.count()
    OperatorCaches.release()
    val n8 = Dedup.minhashRepPairs(docs, "text", "doc_id", 1, 8)._2.count()
    OperatorCaches.release()
    assert(n8 * 10 <= n4, s"expected >=10x candidate shrink: r4=$n4 r8=$n8")
    // keep-set equality: the tau-matched REP-LEVEL drop == the member-
    // level filter over the legacy-geometry candidates. Any pair with
    // est >= 0.9 has <= 6 mismatched signature components, so a fully-
    // matching band exists under BOTH 16x4 and 8x8 — the geometries can
    // only disagree on sub-threshold candidates, which the filter kills.
    val kept = Dedup.minhashDedupIds(docs, "text", "doc_id", 0.9)
      .collect().map(_.getLong(0)).toSet
    OperatorCaches.release()
    val drops = Dedup.minhashCandidates(docs, "text", "doc_id")
      .filter(col("est_jaccard") >= 0.9)
      .select("id_b").collect().map(_.getLong(0)).toSet
    OperatorCaches.release()
    val all = (sim ++ clones).map(_._1).toSet
    assert(kept === (all -- drops))
    assert(kept === (all -- Set(101L, 102L, 104L)),
      "only non-min clone members may drop on this fixture")
  }

  test("q203 threshold sweep: n_keep at each tau == minhashDedupIds(tau); " +
    "the tau-matched geometries' candidate graphs shrink in the curve") {
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val docs = ((0L until 40L).map { i =>
      (i, base + " " + (0 until 15).map(j => s"u${i}_$j").mkString(" "))
    } ++ Seq(
      (100L, "clone alpha text one"), (101L, "clone alpha text one"),
      (102L, "clone alpha text one"),
      (103L, "clone beta text two"), (104L, "clone beta text two")))
      .toDF("doc_id", "text")
    val sweep = Dedup.neardupThresholdSweep(docs, "text", "doc_id")
      .collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    OperatorCaches.release()
    assert(sweep.map(_._1).toSeq == Dedup.SweepTausNearDup.sorted)
    for ((tau, br, _, nDrop, nKeep) <- sweep) {
      assert(br == Dedup.bandRowsFor(tau), s"tau=$tau geometry mismatch")
      assert(nDrop + nKeep == 45L, s"tau=$tau drop+keep must cover the corpus")
      val keep = Dedup.minhashDedupIds(docs, "text", "doc_id", tau).count()
      OperatorCaches.release()
      assert(nKeep == keep, s"tau=$tau: sweep says $nKeep, dedup keeps $keep")
    }
    // the selectivity the curve exists to show: the 8-row geometry's
    // rep-level candidate graph is >=10x smaller than the 4-row one here
    val byR = sweep.groupBy(_._2).view.mapValues(_.map(_._3).max).toMap
    assert(byR(8) * 10 <= byR(4),
      s"geometry selectivity not visible: ${byR.toSeq.sorted}")
  }
}
