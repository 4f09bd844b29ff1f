package graft

/** Scaling probe: runs the declared queries on a base scale and on an
  * N×-larger staged copy of the same data (tools/make_sf1.py — key-shifted
  * unions, joins stay consistent), and reports wall-clock scaling ratios.
  * A linear-shaped operator on fixed cores should scale ≈ N× or better
  * (fixed overheads amortize); a super-linear ratio is a red flag that the
  * plan would not survive a real scale-up.
  *
  * Excluded by design, because their wall ratio says nothing about plan
  * quality:
  *   - the bounded all-pairs rows (jaccard/simhash/shingle probes,
  *     `llm_neardup_containment`): their probe sets are constant, ratio ≈ 1;
  *   - the full-corpus pair-list rows (cosine/minhash near-dup,
  *     `llm_containment_prefix`, `llm_neardup_cosine_lsh`): staged clones
  *     repeat text and vectors verbatim, so the true answer grows N²;
  *   - `llm_contamination`: every gram appears in N× bench docs and N×
  *     corpus docs, so its staged answer also grows N² (the real plan is one
  *     map-side broadcast join, pinned in ContaminationSpec);
  *   - `llm_contamination_capped`: staging multiplies every gram's corpus
  *     DF, so the fixed cap drops a different gram set at each scale;
  *   - `llm_ann_ivf` / `llm_knn_bucketed`, the flat-IVF recall baselines:
  *     their O(N·√N) candidate curve is documented at the rows; the declared
  *     scale path is the hier/IVF-PQ family, probed below.
  *
  * Usage: ScaleProbe <baseDir> <scaledDir> <factor>
  */
object ScaleProbe {

  // Each entry names the claim its wall ratio checks.
  private val Probes = Seq(
    // scans, aggregates, joins, windows, sorts and sets: linear plan shapes
    "scan_project_filter", "scan_events_ns", "filter_complex",
    "agg_pricing_q1", "agg_distinct", "agg_percentile", "agg_grouping_sets",
    "join_shuffle_inner", "join_multiway_q5", "join_asof",
    "win_rank", "win_topn_group", "sort_multi_nulls", "topk_limit",
    "set_intersect", "subq_scalar_corr",
    // map-side text curation: linear in corpus size
    "llm_dedup_exact", "llm_dedup_norm", "llm_text_stats", "llm_lang_pivot",
    "llm_quality_score", "llm_fingerprint", "llm_lang_id",
    // per-vector kNN: linear in the vectors
    "llm_knn_per_vector",
    // functions, sketch aggregates, windows, sets and streaming: linear
    "fn_json", "fn_regexp",
    "agg_minmax_by", "agg_corr_cov", "win_ntile_dist", "set_except_all",
    "stream_tumbling", "stream_dedup", "stream_funnel",
    // promo join, and the cluster dedup whose output is linear (one label per doc)
    "join_part_q14", "llm_dedup_cluster",
    // three linear token passes and K-bounded broadcasts
    "llm_unigram_score",
    // segment hashes shuffle three linear times; no stage is pair-quadratic
    "llm_dedup_paragraph",
    // two-level prefix sum and tf-idf: bounded windows, vocab-scale join
    "llm_seq_pack", "llm_tfidf_topk",
    // int8 quantization is map-only over the vectors
    "llm_emb_quant",
    // one reduced-old groupBy, one digest shuffle join, one per-key window
    "llm_dedup_incremental",
    // one corpus count shuffle, then #sources-bounded arithmetic
    "llm_mix_weights",
    // the O(N·N^(1/4)) hierarchical assignment against the flat rows' N^1.5
    "llm_ann_hier",
    // map-only rows plan-pinned to zero corpus shuffles
    "llm_sample_stratified", "llm_repetition",
    // hier kNN, per-batch reduced-index dedup, map-only image decode
    "llm_knn_hier", "stream_incr_dedup", "llm_image_decode_var",
    // the per-source cap must prune before the one exchange
    "llm_domain_quota",
    // N·k rows out by construction; expect a ratio between F and F^1.5
    "llm_knn_graph",
    // one keep_id per vector: linear output, like llm_dedup_cluster
    "llm_dedup_semantic",
    // quantized Lloyd update: should track the hier rows' sub-linear curve
    "llm_kmeans_update",
    // the Lloyd update plus one broadcast scoring pass; index-scale output
    "llm_cluster_sample",
    // one dedup hash exchange plus per-row lambdas; one row per doc out
    "llm_pipeline_curate",
    // staged clones add no reps, so the banded stages must stay rep-bound
    "llm_minhash_tau_sweep",
    // one row per vector out; single window plus index broadcast
    "llm_diversity_prune",
    // four linear stages; the gram join must stay shuffle-shaped
    "llm_dupgram_fraction",
    // map-only arithmetic: the zero-shuffle baseline curve
    "llm_split_assign",
    // two linear scans and a top-K heap; no shuffle join
    "llm_bm25_search",
    // all linear in corpus transitions; the LM table is vocab²-bounded
    "llm_bigram_score", "llm_bigram_lm",
    // grouped sketch percentiles: bounded per-group state
    "agg_approx_percentile",
    // PQ codes, ADC search and IVF-PQ: all in the linear family
    "llm_pq_codes", "llm_pq_search", "llm_ann_ivfpq",
    // two map-only passes and one key-reduced shuffle join
    "llm_split_leakage",
    // salting must keep the shuffles balanced as hot keys grow
    "join_skew_salted",
    // clones multiply word counts, not the vocabulary
    "llm_bpe_merges",
    // same stages as llm_pq_codes; should track its flat curve
    "llm_pq_recon",
    // the corpus must never reach the window
    "llm_outlier_docs",
    // no vocab-sized state: one agg to the d·w cell table
    "llm_freq_sketch",
    // three fact-fact legs must keep sharing one partitioning
    "join_q21_waiting",
    // complete-mode state is the fixed 4×16 matrix
    "stream_freq_sketch",
    // kmeans_update's stages plus one index-scale broadcast join
    "llm_kmeans_shift",
    // one bounded agg over the code table
    "llm_pq_pack",
    // two linear map-side-partial shuffles, no joins
    "llm_dup_rate_by_source",
    // the hier assignment plus one shuffle join and two bounded aggs
    "llm_cluster_purity",
    // map-only fold against one broadcast merge row
    "llm_bpe_apply",
    // one corpus shuffle join and a codebook-bound agg
    "llm_pq_train",
    // the watermark must bound both sides' state at N× the stream
    "stream_outer_join",
    // join-linear even as the dup set grows toward the vocabulary
    "llm_dedup_spans",
    // depth is calendar-bounded; growth must stay scan-bound
    "subq_recursive_cte",
    // the watermark must bound both null-emission stores
    "stream_full_outer",
    // closure cost stays key-cap-bound as the corpus grows
    "subq_recursive_graph",
    // the join-back must stay shuffle-linear
    "llm_bpe_apply_cached",
    // per-user density grows N×, session count does not
    "win_session_batch",
    // post-agg window input is constant: should read scan-bound
    "agg_mode",
    // constant-cardinality pivot states: should read scan-bound
    "fn_pivot",
    // the (lang, word) histogram is the only corpus-scale stage
    "llm_tokenizer_fertility",
    // each damped round is shuffle-linear, nothing broadcast
    "llm_pagerank",
    // one scoring pass into K-bounded heaps: should read scan-bound
    "llm_hybrid_rrf")

  /** `SPARK_GRAFT_ONLY` restricts the sweep to a subset, so a new row gets
    * its entry without the full sweep.
    */
  private def toRun: Seq[String] = {
    val only = Harness.only(Probes)
    if (only.isEmpty) Probes else Probes.filter(only)
  }

  def main(args: Array[String]): Unit = {
    val Array(baseDir, bigDir, factorStr) = args.take(3)
    val factor = factorStr.toDouble
    val spark = Harness.session(Harness.cpus)

    // The state-heavy probes must not bleed cache and checkpoint blocks
    // into the next reading, so every run is followed by a blocking release.
    def run(name: String, dir: String): Double = {
      val (_, sec) = Harness.timedCount(spark, name, dir)
      Cleanup.release(spark, blocking = true)
      sec
    }

    // Warm the JVM/codegen on both directories before measuring.
    run("agg_pricing_q1", baseDir); run("agg_pricing_q1", bigDir)

    var logs = List.empty[Double]
    var flaggedQs = List.empty[String]
    val probes = toRun
    println(f"${"query"}%-22s ${"base_s"}%8s ${"big_s"}%8s ${"ratio"}%7s  (factor $factor%.0f×)")
    probes.foreach { q =>
      val small = run(q, baseDir)
      val big = run(q, bigDir)
      val ratio = big / small
      logs ::= math.log(ratio)
      val flag = if (ratio > factor * 1.5) { flaggedQs ::= q; "  <-- SUPER-LINEAR" }
        else ""
      println(f"$q%-22s $small%8.2f $big%8.2f $ratio%7.2f$flag")
    }
    val geo = math.exp(logs.sum / logs.size)
    println(f"geomean ratio = $geo%.2f over ${probes.size} queries at $factor%.0f× data")
    // One in-sweep sample cannot tell a super-linear plan from late-sweep
    // session noise, so each flagged query is re-measured once, after a
    // GC, at the end of the sweep: a flag that survives is CONFIRMED (read
    // the plan), one that collapses is TRANSIENT. The headline geomean
    // stays the first-pass value.
    flaggedQs.reverse.foreach { q =>
      System.gc()
      val small2 = run(q, baseDir)
      val big2 = run(q, bigDir)
      val r2 = big2 / small2
      val verdict = if (r2 > factor * 1.5) "CONFIRMED" else "TRANSIENT"
      println(f"retry $q%-16s $small2%8.2f $big2%8.2f $r2%7.2f  flag $verdict")
    }
    spark.stop()
  }
}
