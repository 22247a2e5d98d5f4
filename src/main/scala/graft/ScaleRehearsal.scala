package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale rehearsal: replicate the sf0.1 fixtures ~10× (≈ sf1: 6M lineitem
  * rows) with shifted keys, then time the headline queries against the
  * bigger data. Purpose: observe that the plan shapes PLANS.md argues for
  * actually hold when the data outgrows broadcast thresholds and single
  * partitions — AQE join-strategy changes, shuffle sizes, top-k behavior —
  * before a real cluster ever sees the code.
  *
  *   runMain graft.ScaleRehearsal [replicas] [workDir]
  *
  * Writes nothing outside workDir (default /tmp/graft_sfx).
  */
object ScaleRehearsal {

  def replicate(df: DataFrame, replicas: Int, shifts: Map[String, Long]): DataFrame = {
    val r = df.sparkSession.range(replicas.toLong).select(col("id").as("_rep"))
    val crossed = df.crossJoin(r)
    shifts.foldLeft(crossed) { case (d, (c, base)) =>
      d.withColumn(c, col(c) + col("_rep") * base)
    }.drop("_rep")
  }

  def main(args: Array[String]): Unit = {
    val replicas = if (args.length > 0) args(0).toInt else 10
    val work = if (args.length > 1) args(1) else "/tmp/graft_sfx"
    val src = "/root/testdata/sf0.1"
    val spark = Session.local()

    val K = 100000000L // key shift per replica
    val done = new java.io.File(s"$work/_DONE")
    if (!done.exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
      def w(name: String, df: DataFrame): Unit =
        df.write.mode(SaveMode.Overwrite).parquet(s"$work/$name.parquet")
      w("lineitem", replicate(Tables.lineitem(spark, src), replicas,
        Map("l_orderkey" -> K)))
      w("orders", replicate(Tables.orders(spark, src), replicas,
        Map("o_orderkey" -> K, "o_custkey" -> K)))
      w("customer", replicate(Tables.customer(spark, src), replicas,
        Map("c_custkey" -> K)))
      w("embeddings", replicate(Tables.embeddings(spark, src), replicas,
        Map("vec_id" -> K)))
      // events: shift ids; ts stays (heavier per-window volume is the
      // point). Via Tables.events so the rehearsal fixture is written with
      // the NORMALIZED µs TimestampType whatever the source encoding.
      w("events", replicate(Tables.events(spark, src), replicas,
        Map("event_id" -> K, "user_id" -> 1000L)))
      // documents replicate as exact clones (ids shifted, text identical) —
      // deliberately the worst case for text dedup: every doc gains
      // `replicas-1` exact twins, so pairing must survive a clone-heavy
      // corpus (the identical-text/signature collapse is what makes this
      // linear instead of quadratic in the replica count).
      w("documents", replicate(Tables.documents(spark, src), replicas,
        Map("doc_id" -> K)))
      Seq("region", "nation", "supplier", "part").foreach(t =>
        w(t, Tables.table(spark, src, t)))
      done.createNewFile()
      // the generation above read fixtures through Tables — drop memoized
      // plans so the timing loop below re-lists the freshly written files
      Tables.invalidate()
      println(s"generated ${replicas}x fixtures in $work")
    }

    val headline = Seq("q01_pricing_summary", "q04_top_routes",
      "q15_seeded_sample", "q34_dedup_minhash", "q35_simhash",
      "q42_winnowing",
      "q07_airports_distinct", "q17_join_fact", "q20_join_star",
      "q21_window_topn", "q44_topk_custom",
      "q22_window_running", "q23_sessionize", "q24_events_hourly",
      "q49_neardup_lsh", "q37_ann_bruteforce", "q54_trigram_jaccard",
      "q60_winnowing_pairs", "q57_training_prep", "q58_stratified_sample",
      // r15: the production (banded) form of the q57 composition — no
      // all-pairs stage anywhere, so this is the row that must stay
      // sublinear however clone-heavy the corpus
      "q202_training_prep_prod",
      // r16: the τ tuning curve over the same banded machinery — one
      // signature pass + one rep-level band join per distinct geometry
      "q203_neardup_threshold_sweep",
      "q67_neardup_clusters", "q69_chunk_dedup", "q70_bloom_decontam",
      "q68_pii_redaction", "q72_source_overlap",
      "q73_asof_join", "q74_range_join", "q75_exact_quantiles",
      "q76_tfidf_topk", "q78_hopping_window", "q79_merge_upsert",
      "q80_skew_distinct", "q82_incremental_dedup", "q84_cube",
      "q88_funnel", "q89_cohort_retention", "q92_pack_sequences",
      "q93_snapshot_diff", "q98_ann_pq", "q100_scd2_history",
      "q101_grouping_sets", "q102_length_histogram",
      "q103_incremental_neardup", "q105_split_leakage",
      "q106_incremental_prod", "q108_training_build",
      "q112_bm25_topk", "q114_dup_spans", "q115_int8_quant",
      "q116_domain_tokens", "q120_lm_perplexity", "q122_bpe_encode",
      "q123_contam_fraction", "q124_segment_dedup",
      "q130_chunk_overlap", "q133_quality_logit", "q135_token_budget",
      "q137_source_epochs", "q138_mixed_lang",
      "q139_cluster_best", "q141_cdc_chunks", "q142_hybrid_rrf",
      "q143_dedup_funnel", "q144_ngram_novelty", "q145_quality_sample",
      "q147_doc_ledger", "q148_ledger_delta",
      "q149_gopher_rules", "q150_domain_cap", "q151_token_fertility",
      "q193_repetition_signals",
      // r15: both now ride the TextStats/StopCounts byte-scan kernels
      // (q28's subtoken regex and q29's four marker regexes folded in)
      "q28_text_stats", "q29_lang_id",
      // r14: distilled quality filter — training reads only the 4096
      // lowest doc_ids (constant in corpus size, one 39-row collect per
      // GD step); inference is one linear pass with broadcast weights
      "q194_quality_lr_train", "q195_quality_lr_filter",
      "q196_lr_calibration", "q197_lr_disagreement",
      "q198_lr_threshold_sweep",
      // r15: persisted/maintained/streamed classifier — q199 scans a
      // 39-row artifact (constant); q200's featurization is TrainCap-
      // bounded like q194; q201 is the q195 pass as an AvailableNow
      // stream
      "q199_lr_weights_persisted", "q200_lr_model_maintain",
      "q201_stream_quality_gate",
      "q152_hll_users", "q153_sketch_ledger", "q154_overlap_sketch",
      "q156_image_phash", "q157_outer_reconcile", "q158_ann_recall",
      "q159_blocklist", "q160_schema_drift", "q162_erasure_audit",
      "q163_weighted_sample", "q164_source_weighted_sample",
      "q165_avi_demux", "q166_ann_index_twin", "q167_video_dedup",
      "q168_audio_dedup", "q169_index_maintain", "q170_multimodal_manifest",
      "q171_media_stream",
      "q172_dsir_select", "q173_dup_discount", "q174_lsh_planner",
      "q176_crossmodal_dedup", "q177_model_maintain", "q178_stream_dsir",
      "q179_lsh_audit", "q180_selection_build",
      "q181_band_index_maintain", "q182_dup_discount_delta",
      "q183_ivf_lloyds_twin", "q184_pq_adc_twin",
      // r12 twins: q186's brute leg is a FIXED 5-probe broadcast pass over
      // the corpus (linear, the q37/q158 audit contract); q187 scans
      // persisted code/codebook artifacts built once per JVM
      "q186_pq_recall_twin", "q187_pq_persisted_twin",
      "q188_ivf_recall_twin", "q189_ivf_persisted_twin",
      "q190_nprobe_sweep", "q191_pq_budget_sweep",
      // r13: the SRP band-budget curve — one signature pass + broadcast
      // band join, linear like its q190/q191 siblings
      "q192_srp_band_sweep",
      // event streams joined the list in round 11: until the directory-
      // layout fix (readEventsTable) they silently streamed 0 rows from
      // the replicated fixture, so the rehearsal never exercised the
      // streaming path at scale at all
      "q62_events_hourly_stream", "q155_stream_hll")
    // q175 (streaming embedding decontam) is absent like q129/q134: the
    // replica key shift is ≡ 0 mod 50, so the broadcast eval side scales
    // WITH the corpus here — the operator's contract is a FIXED eval set
    // over a growing stream (its linear half, the per-vector screen, is
    // the same kernel q37 rehearses).
    // q140 (hard negatives) is absent like q129/q134: its probe set is
    // tied to corpus ids only so the small fixture exercises it — the
    // replicated fixture would scale probes×corpus quadratically, while
    // the real contract is a FIXED probe set over a growing corpus.
    // q129/q134 (label-blocked semantic dedup / broadcast-eval decontam)
    // are absent for the same reason as q36 below: the replicated fixture
    // scales the cluster/eval sides together with the corpus, which is
    // exactly the regime the operators document as out of contract (eval
    // sets and ANN clusters stay bounded in a real 100 TB corpus).
    // q36 (label-blocked near-dup) is deliberately absent: its pairwise
    // work is quadratic in replica count (measured 219.6s at 50×, PLANS.md);
    // q49 is the SRP-banded scale form of the same semantics. q61 (the
    // integer SRP oracle twin) is likewise absent by design: its band
    // geometry is FIXED so DuckDB can replay it — at 50× its 256
    // buckets/band would go quadratic exactly like any fixed-geometry LSH;
    // the adaptive-geometry q49 is the scale form of that mechanism.
    // q185 (pinned-geometry q49 twin) is absent for the same reason as
    // q61: its (11, 9) geometry is frozen at the verify-corpus value so
    // the oracle can embed the plane literals — a proof artifact, not a
    // scale form; q49 re-derives the geometry from n and is what scales.
    // warmup
    spark.range(1000000).selectExpr("sum(id)").collect()
    // Optional comma-separated subset (same env contract as Bench) for
    // standalone re-measurement of a changed operator. Any registered
    // query name is allowed, not just the headline set — spot rehearsals
    // (e.g. the r8 100× top-10 pass) include media/incremental queries
    // the recurring headline list omits.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(headline) { s =>
      val unknown = s.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
      headline.filter(s) ++ s.diff(headline.toSet).toSeq.sorted
    }
    val times = selected.map { name =>
      val t0 = System.nanoTime()
      val n = Bench.drain(SparkEntry.queries(name)(spark, work))
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"$name%-24s $dt%7.2f s   ($n rows)")
      // same per-query cache release discipline as Bench
      OperatorCaches.release()
      name -> dt
    }
    println(f"TOTAL ${times.map(_._2).sum}%.1f s over ${selected.size} queries at ~${replicas}x sf0.1")
    spark.stop()
  }
}
