package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Scale smoke (NEXT.md #7): synthesize an sfN-equivalent lineitem/orders
  * in /tmp by replicating sf0.1 with shifted keys (arg = copies: 10 → sf1
  * ~6M lineitem rows, 100 → sf10 ~60M), then run the headline
  * join/agg/window shapes and print per-query seconds plus executor
  * spill/shuffle metrics. Proves the plans survive the scale-up with
  * bounded shuffle partitions — spilling to disk instead of OOM — and
  * records how much actually spilled. Usage: runMain graft.ScaleProof [copies]
  */
object ScaleProof {

  /** Sums task-level spill/shuffle metrics between resets (listener bus is
    * async — callers sleep briefly before reading). */
  final class MetricsListener extends SparkListener {
    val memSpill = new AtomicLong(0); val diskSpill = new AtomicLong(0)
    val shuffleWrite = new AtomicLong(0); val shuffleRead = new AtomicLong(0)
    val peakMem = new AtomicLong(0)
    def reset(): Unit = Seq(memSpill, diskSpill, shuffleWrite, shuffleRead, peakMem)
      .foreach(_.set(0))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        peakMem.updateAndGet(p => math.max(p, m.peakExecutionMemory))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    // optional second arg: regex over query names — lets a 100x run
    // target specific operators without paying the full battery
    val filter = args.lift(1).map(_.r)
    val base = "/root/testdata/sf0.1"
    val dir = s"/tmp/graft_sf_x$copies"
    val spark = GraftSession.build(GraftSession.defaultCpus, base)
    val t0 = System.nanoTime()
    ScaleData.replicate(spark, base, dir, copies, ScaleData.BatteryFacts ++ Seq(
      // documents replicate to EXACT duplicates under fresh ids — every
      // doc becomes a `copies`-sized dup group, the adversarial input for
      // the clustering operator (all nodes carry edges; no singleton
      // shortcut)
      "documents" -> Seq("doc_id"),
      // events replicate under fresh user/event ids: user count scales by
      // `copies` while per-user history stays fixed — the funnel/retention
      // shapes must stay two hash-aggs + one user_id equi-join, with state
      // bounded by |users| per partition, not corpus size
      "events" -> Seq("event_id", "user_id"),
      // embeddings replicate under fresh vec_id: 10x vectors through the
      // map-only quantizer
      "embeddings" -> Seq("vec_id")), ScaleData.Dimensions)
    // the AQE seed follows the replicated corpus, not the base
    GraftSession.reseed(spark, dir)
    println(f"[scale] synthesized ${copies}x data in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    println(s"[scale] lineitem rows: ${spark.read.parquet(s"$dir/lineitem.parquet").count()}")

    val metrics = new MetricsListener
    spark.sparkContext.addSparkListener(metrics)
    def gb(b: Long): String = f"${b / 1e9}%.2f GB"
    Seq("q1_pricing_summary", "q_join_shuffle", "q_window_rank",
      "q_agg_count_distinct", "q_join_range",
      "q_dedup_exact", "q_doc_chunks", "q_dedup_clusters",
      // round-4 additions, same evidence bar as the older operators:
      // bigram explode+hash-agg, map-only repetition scoring, and the
      // GK-sketch percentile scale path
      "q_ngram_bigrams", "q_repetition_score",
      "q_agg_percentile_approx",
      // round-6 additions: the dup-graph operators iterate/join the EDGE
      // set (replicated docs form `copies`-sized cliques — the dense
      // adversarial case), bloom pruning must hold its pre-shuffle cut at
      // 10x, and the z-order rewrite is the full-table layout cost.
      "q_dup_triangles", "q_dup_reach_k", "q_dup_pagerank",
      "q_join_bloom_pruned", "q_zorder_cluster",
      // round-7 additions: the funnel/retention pair fan the user count
      // 10x (fresh ids per copy), binning re-derives sample quantiles
      // over 6M rows, and the CMS build is one wordcount-shaped agg over
      // a 10x key space
      "q_funnel_stages", "q_retention_cohorts", "q_feature_binning",
      "q_sketch_cms",
      // round-7 wave-2/3 additions: packing's per-lang prefix sum over
      // 10x docs, the scan-side rule/score batteries, winnowing's
      // fingerprint shuffle, the BPE pair explode, the anti-join dedup,
      // and the batch-TWS counter whose RocksDB state holds 10x users
      "q_token_packing", "q_gopher_rules", "q_dsir_weights",
      "q_winnowing", "q_bpe_pairs", "q_dedup_incremental",
      "q_counter_state_twin",
      // round-7 wave-7 additions: the two-dimension-path star joins at a
      // 10x fact side (dims stay broadcast), the left-join distribution,
      // the map-only int8 quantizer over 10x vectors, the vocab explode,
      // and the integer z-score gate
      "q_trade_volume", "q_market_share", "q_cust_order_dist",
      "q_large_orders", "q_embed_quantize", "q_vocab_coverage",
      "q_outlier_zscore",
      // round-7 wave-8 additions: the TPC-H completion shapes — the
      // correlated-EXISTS semi (q4), the late-line class counts (q12),
      // the scalar-max gate (q15), the per-part pre-agg join-back (q17),
      // the disjunctive envelope (q19), the triple semi/anti chain (q21),
      // the idle anti-join (q22) — plus the MinHash estimate audit over
      // the 10x dup-clique corpus
      "q4_order_priority", "q12_late_line_priority", "q15_top_supplier",
      "q17_small_qty_revenue", "q19_disjunctive_revenue",
      "q21_sole_returned_supplier", "q22_idle_customers", "q_minhash_est",
      // round-7 wave-9 additions: the curriculum's global row_number is
      // the deliberate stress (the sharded prefix-sum is the documented
      // scale path), the reservoir windows per-stratum, the mixture plan
      // is two tiny aggs, the decontam rides the shared edge frame, and
      // the full-outer interval twin joins 10x users
      "q_curriculum_order", "q_sample_reservoir", "q_mixture_plan",
      "q_decontam_neardup", "q_stream_interval_join_full",
      // round-7 wave-10 additions: the 44-moment covariance scan over
      // 10x vectors, the chi2 grid over 10x docs, the CDC full-outer
      // diff over 10x customers-by-orderkey rollups, and the clustering
      // coefficient riding the shared clique-dense edge frame
      "q_embed_covariance", "q_chi2_independence", "q_snapshot_diff",
      "q_clustering_coeff",
      // round-7 wave-11 addition: three Lloyd rounds over 10x vectors
      // (broadcast-8 crossJoin + hash agg per round). q_setsim_prefix_join
      // is measured once but NOT in the battery: on the all-dup clique
      // corpus the exact join's OUTPUT is quadratic in clique size, so
      // any candidate-complete method pays Ω(output) — 668 s measured,
      // analysis in TUNING.md (prefix filtering wins on dup-SPARSE
      // corpora, i.e. after exact dedup; on dup-heavy ones the df-capped
      // LSH path is the production choice)
      "q_kmeans_lloyd",
      // round-7 wave-12 additions: the LOCF window over 10x users and
      // the null-safe hash join
      "q_locf_impute", "q_join_null_safe",
      // round-7 wave-13 additions: per-user sequence strings (state
      // bounded by history length, users fan 10x) and the power-of-two
      // decay interval join
      "q_event_pattern_regex", "q_attribution_time_decay",
      // round-7 wave-14 additions: the 30-tap integer EWMA and the
      // per-row trailing-hour RANGE frame, both one user_id window
      // shuffle over 10x users
      "q_ewma_halflife", "q_window_time_range",
      // round-7 wave-15 additions: quota allocation (two tiny aggs) and
      // the three-sketch HLL algebra over 10x users
      "q_quota_allocate", "q_sketch_hll_intersect",
      // round-7 wave-16 additions: the forward as-of rank join, the
      // bounce rollup on the sessionizer windows, and the metadata scan
      "q_join_asof_forward", "q_session_bounce", "q_scan_file_metadata",
      // round-7 wave-17 addition: per-frame set state over 10x users
      "q_window_distinct_sliding",
      // round-8 additions: the mergeable t-digest quantile path (O(δ)
      // state per group, two passes over a 10x fact side) and the
      // 1/16-pair sampled set-sim audit (candidate join shrinks with the
      // sample even on the dup-clique corpus)
      "q_agg_tdigest", "q_setsim_prefix_sampled",
      // round-8 additions (cont.): the five-pattern initials-string pass
      // (state bounded by history length, users fan 10x) and the sampled
      // MinHash band audit riding the same 1/16 pair sample
      "q_event_pattern_sets", "q_minhash_est_sampled",
      // round-9 additions: the two-level sketch rollup — level 2 re-merges
      // O(groups · δ) serialized digests, cost invariant to fact rows —
      // plus the 28-tap pre-rounded-weight EWMA (one user_id window
      // shuffle) and the BM25 explode + hash-agg + broadcast-terms scorer
      "q_agg_tdigest_rollup", "q_ewma_decay", "q_bm25_score",
      // round-9 wave-2 additions: CUSUM is two window passes over the
      // 10x user fan; the simhash join's candidate cost is bucket-
      // bounded (4 bands × 256 values); the tfidf join's df ≤ 64 cap
      // prunes the whole replicated-duplicate vocabulary — the rare-
      // token inverted index is exactly what survives a dup-heavy 10x
      "q_cusum_changepoint", "q_simhash_hamming_join",
      "q_tfidf_cosine_join",
      // round-9 wave-3 additions: the point-in-time join co-partitions
      // purchases and SCD2 versions on the 10x user fan; the keeper
      // rides the (battery-resident) cluster frame; the confusion
      // matrix is the lang-id pipeline + one tiny rollup
      "q_pit_join", "q_dedup_keeper", "q_lang_confusion",
      // round-9 wave-4 additions: the interval-overlap rollup shares
      // the per-user window pass; the weighted-jaccard equi-join rides
      // the same blocked shingle frame shape as q_jaccard_pairs; the
      // sampled simhash audit pays ~1/16 of the exact join's
      // dup-clique cost
      "q_interval_overlap", "q_jaccard_weighted",
      "q_simhash_hamming_sampled",
      // round-9 wave-5 addition: the MG summary scans 10x tokens with
      // O(k) state per partial — the deterministic-bound twin of the
      // t-digest scan profile
      "q_agg_heavyhitters",
      // round-10 additions: the 64-bit simhash join (16-bit bands keep
      // the bucket fan-out 256x finer than the 8-bit ones; exact-dup
      // cliques still pay quadratic OUTPUT like every candidate-
      // complete method — same documented regime as the 32-bit join);
      // the containment-family sampled audit (candidate join shrinks
      // with the 1/16 pair stratum even on the dup corpus; the full
      // containment join shares q_setsim_prefix_join's quadratic-output
      // exclusion); the weighted-prefix variant (the per-doc suffix
      // window + pruned verify at a 10x shingle fan); and the 3-round
      // BPE trainer (5 window passes per round, all partitioned by the
      // 10x word-instance fan — no global sort anywhere)
      "q_simhash64_hamming_join", "q_setsim_overlap_sampled",
      "q_jaccard_weighted_prefix", "q_bpe_merges",
      // the dup-profile router is one content-hash agg + one tiny agg;
      // on the replicated corpus it must flip its verdict to
      // exact-dedup-first (every doc is a 10-clique) — asserting the
      // rule reacts to the profile it exists to measure
      "q_dup_profile",
      // round-10 wave-2: the 128-bit simhash join's 32-bit band values
      // cut bucket fan-out another 65,536x vs the 64-bit join's 16-bit
      // bands — the fan-out axis the 32->64 gap already proved; the
      // source-overlap matrix fans each (source, shingle) row out by at
      // most |sources|^2, so the 10x corpus only deepens the per-shingle
      // hash-agg, never the join; BPE train+apply rides the same
      // word-instance-partitioned windows as the trainer; rank fusion is
      // two broadcast-probe map scans + distributed TakeOrdered(50)
      "q_simhash128_hamming_join", "q_source_overlap",
      "q_bpe_tokenize", "q_rank_fusion",
      // round-10 wave-3: KS fans each (source, length) count row out by
      // at most |sources|-1 pairs; zipf/heaps are one token hash-agg +
      // bounded-frame windows; basket lift and adamic-adar ride the
      // order-key co-partitioned self-join (fan-out <= basket size
      // squared per order); seasonal windows run on the ~1-year daily
      // frame; dupspan shares the winnowing fingerprint scan
      "q_ks_drift", "q_zipf_slope", "q_vocab_growth", "q_basket_lift",
      "q_link_adamic_adar", "q_seasonal_decompose", "q_dupspan_mass",
      // round-10 wave-4: the minhash signature agg carries O(16) state
      // per source with elementwise-min merge (the zero-error mergeable
      // sketch); the pair stage runs on the 320-row signature frame;
      // pmi/gini are token hash-aggs + bounded-frame windows (gini's
      // histogram identity needs no global sort at any corpus size)
      "q_minhash_sig", "q_minhash_sig_pairs", "q_pmi_collocations",
      "q_gini_vocab",
      // the cumulative-distinct series unions <=366 daily sketches —
      // state bounded by the calendar, never the 10x user fan
      "q_hll_cum_users",
      // round-10 wave-5: symspell's candidate cost is the deletion-
      // neighborhood explode (Σ(len+1) rows, linear in the name
      // vocabulary — replication keeps names fixed so the 10x run
      // measures the dim-side-stable regime); dupspan-pairs rides the
      // df-capped gram equi-join (replicated docs are exact dup cliques
      // — the cap must absorb the hot-gram fan-out); winsorize is one
      // histogram hash-agg + bounded-frame windows; held-out perplexity
      // is three train-side count aggs + a broadcast-vocab probe join
      "q_symspell_join", "q_dupspan_pairs", "q_winsorize_stats",
      "q_heldout_perplexity",
      // round-10 wave-6: hard negatives broadcast 50 anchors against
      // one 10x candidate scan (windows per anchor only); MMR's corpus
      // cost is the same broadcast-probe scan + TakeOrdered(20) — the
      // greedy rounds run on constant 20-row frames at any scale
      "q_hard_negatives", "q_mmr_select",
      // round-10 wave-7: the skyline's phase-1 windows partition by
      // hash bucket (local skylines are supersets of the global
      // restriction) so only survivors reach the global pass; quantile
      // normalization is two histogram hash-aggs + per-source rank
      // windows + two broadcast joins (grid is 100 rows at any scale)
      "q_skyline_pareto", "q_quantile_norm",
      // round-10 wave-8: session paths ride the established per-user
      // sessionizer windows (10x users, fixed history each) with the
      // per-session sort bounded by session length; welch is ONE
      // map-side-combinable moment agg + a 5-row broadcast cross
      "q_session_paths", "q_welch_ttest",
      // round-10 wave-9: anova is one moment agg + a 5-row rollup; the
      // nearest as-of join co-partitions purchases and clicks on the
      // 10x user fan (per-user history fixed); rfm's fact side is one
      // per-customer hash-agg — the three global rank windows run on
      // the customer DIM frame (documented bounded-dim regime)
      "q_anova_f", "q_join_asof_nearest", "q_rfm_segments",
      // round-10 wave-10: the trim action rides the shared dupspan run
      // frame (its covered-position explode is bounded by true
      // duplication — on the all-dup corpus that IS the quadratic
      // regime, same exclusion class as the pairs query); jackknife is
      // one integer hash-agg + a |sources|-row frame
      "q_dupspan_trim", "q_jackknife_mean",
      // round-10 wave-11: cuped is one per-user conditional-sum agg +
      // a 1-row moment rollup; interval union is per-user windows
      // (state bounded by history); k-core peels the bounded
      // co-purchase edge frame 4 times (each round one hash-agg + two
      // semi-joins)
      "q_abtest_cuped", "q_interval_union", "q_graph_kcore",
      // round-10 wave-12: the rank-statistics battery runs on COUNT
      // HISTOGRAMS (auc/spearman join bounded rank maps back; the U
      // statistic's two-level bucketed prefix keeps every window inside
      // one value bucket) — none of the four ever sorts the corpus;
      // kappa rides the lang-id pipeline + a |langs|^2 frame
      "q_auc_roc", "q_spearman_corr", "q_mannwhitney_u", "q_cohens_kappa",
      // round-10 wave-13: both routers are an 8/32-row broadcast fan +
      // per-doc argmax (rendezvous windows 8 rows per doc; the ring
      // min is one hash-agg) — the per-row cost is a constant
      "q_rendezvous_route", "q_hash_ring",
      // round-10 wave-14: JM perplexity = three train-side count aggs +
      // broadcast-vocab probes (the heldout shape + one more unigram
      // join); ndcg/hardneg-ivf broadcast bounded anchors against one
      // candidate scan (ivf scans only probed cells)
      "q_heldout_perplexity_jm", "q_ndcg_at_k", "q_hard_negatives_ivf",
      // round-10 wave-15: the expectation suite is one single-pass agg
      // per table; theil-sen's quadratic pair frame is calendar-bounded;
      // the permutation test is a documented 32x fan into one map-side-
      // combinable agg; the stream twin holds per-user ListState (10x
      // users, fixed history each)
      "q_expect_checks", "q_theil_sen", "q_permutation_test",
      "q_session_paths_stream_twin",
      // round-10 wave-17/18: label propagation iterates the (clique-
      // dense) dup edge frame twice; eigen-centrality's matvecs run on
      // the bounded 50x50 co-occurrence frame (the corpus is touched
      // once to build it); bursts are one (type, hour) hash-agg +
      // calendar-bounded windows; KN adds two distinct-count train aggs
      // to the heldout shape; dbscan's 3x3 cell probe join is the grid
      // partition strategy itself (10x points deepen cells, never the
      // probe fan)
      "q_label_prop", "q_eigen_centrality", "q_burst_detect",
      "q_kneser_ney", "q_dbscan_core",
      // round-10 wave-19: srm is one distinct-user agg + a 1-row
      // rollup; hits matvecs the distinct (cust, part) edge frame
      // (fact side 10x, both score tables dimension-bounded);
      // calibration rides the q_auc_roc histogram-rank machinery
      "q_ab_srm", "q_hits_scores", "q_calibration_brier",
      // round-10 wave-20: the Poisson bootstrap is THE 100 TB bootstrap
      // — a documented 32x fan into one map-side-combinable weighted
      // agg, no resample materialization; mrr rides the ndcg
      // broadcast-probe scan
      "q_bootstrap_poisson", "q_mrr_at_k",
      // round-10 wave-21/22: dbscan clusters iterate ONLY the core edge
      // frame (the corpus builds it once through the grid probe);
      // isotonic runs entirely on the 10-bin frame past the histogram
      // rank map; mann-kendall shares theil-sen's calendar-bounded pair
      // frame; ivm-merge is the O(delta) nightly pattern with the full
      // recompute as its in-plan self-audit
      "q_dbscan_clusters", "q_isotonic_calibration", "q_mann_kendall",
      "q_ivm_merge",
      // round-10 wave-23: modified-KN adds one 4-row count-of-counts
      // agg to the KN shape; the stratified ATE is one per-user
      // conditional agg + the bounded-dim rank window + a 3-row rollup
      "q_kn_modified", "q_propensity_strata",
      // round-10 wave-24 (#300): the lag fan is a 15-row broadcast
      // cross against the calendar-bounded daily frame
      "q_cross_correlation",
      // the burst twin holds a (type -> hour-count map) in MapState —
      // state bounded by |types| x calendar hours at any corpus scale
      "q_burst_stream_twin",
      // round-11: the BH battery's corpus-side work is the perm
      // family's documented 32x fan into one map-side-combinable
      // moment agg + the KS/MW histogram fans (pair-bounded); the
      // step-up itself runs on the schema-bounded 210-row frame. The
      // unigram trainer touches the corpus ONCE (word-count agg) and
      // EMs on the distinct-word histogram; the word list is fixed
      // under replication, so the 10x run measures the corpus-scan
      // side. The knn-graph rides the IVF probe path (10x vectors
      // deepen cells; CC iterates only the mutual edge frame). The
      // dupspan sampled audit prunes the SCAN (1/4 doc stratum), so
      // its cost must track ~1/4 of the full family's floor
      "q_fdr_bh", "q_unigram_lm", "q_unigram_tokenize",
      "q_knn_graph_clusters", "q_dupspan_pairs_sampled",
      // round-11 wave 2: wordpiece shares the BPE trainer's
      // word-instance-partitioned windows (+ one symbol hash-agg per
      // round); pca is ONE 44-moment map-side agg + constant 8x8
      // matvecs; survival is one per-user agg + calendar-bounded
      // windows; the skew profiler is one (profile, key) hash-agg +
      // bounded size-histogram windows
      "q_wordpiece_merges", "q_pca_power", "q_survival_km",
      "q_skew_profile",
      // conformal = one moment agg + one residual map scan + bounded
      // histogram windows (the selection never sorts the corpus)
      "q_conformal_interval",
      // semantic dedup rides the shared k-means assignment (broadcast
      // codebook scans); the within-cluster pair fan is bounded by
      // cell population — on the replicated corpus cells hold the dup
      // groups, the designed worst case
      "q_semantic_dedup",
      // DID is ONE per-user conditional agg + a 4-cell rollup
      "q_did_effect",
      // round-12 additions: the NB filter is two token-explode aggs +
      // a vocabulary-bounded x5 scoring join; the PCA whitening
      // certificate adds ONE projection scan to the family's moment
      // agg; the skew router re-runs the profiler then dispatches the
      // verdict-chosen join per regime
      "q_nb_quality", "q_pca_whiten", "q_skew_routed",
      // round-12 wave 2: the decontamination screen joins the train
      // split's gram explode against the held-out distinct-8-gram set;
      // temperature sampling is one per-lang agg + a bounded weight
      // chain; q9 is the 5-way star at a 10x fact side; the wordpiece
      // apply + 3-way compare ride the shared BPE-window machinery
      // (the family's sort-buffer profile); the two stateful twins run
      // batch-mode TWS with RocksDB state ∝ 10x keys
      "q_ngram_contamination", "q_mixture_temperature",
      "q9_profit_style", "q_wordpiece_tokenize", "q_tokenizer_compare",
      "q_survival_stream_twin", "q_dedup_stream_twin",
      // the IVF-seeded Lloyd: candidate fan n·(k/8) vs the exact
      // family's n·k — compare against q_kmeans_lloyd / the
      // q_semantic_dedup auto-k assignment at the same corpus; the
      // silhouette certificate adds one broadcast-codebook scan to the
      // Lloyd round profile
      "q_kmeans_seeded", "q_kmeans_silhouette",
      // round-12 wave 3: modularity adds a degree agg + edge-labels
      // equi-join on the shared dup graph; PSI is two passes over
      // lineitem (min/max + binned counts); Benford is one count agg
      "q_graph_modularity", "q_psi_drift", "q_benford_digits",
      // the 9th twin: batch-mode TWS, per-day HLL ValueState (state =
      // |days| x <= 2^lgK bytes) + the shared triangular cumulative union
      "q_hll_stream_twin",
      // the sweep shares one codebook + assignment across 4 probe
      // depths (costs ~the deepest point); k-anonymity is two hash-aggs
      "q_ivf_recall_sweep", "q_k_anonymity",
      // greedy k-center: 9 linear passes against a <=8-row broadcast
      "q_coreset_kcenter",
      // per-day PSI: two event passes + a calendar-bounded grid
      "q_psi_timeseries",
      // round-13: the bloom-gated decontamination screen — the
      // broadcast bloom must shed the non-contaminated train grams
      // BEFORE the equi-join shuffle (compare shuffleW vs the exact
      // q_ngram_contamination row at the same corpus)
      "q_ngram_contamination_bloom",
      // the sampled label-prop twin: 1/4 doc stratum => 1/16 of the
      // edge-build pair work - the bounded instrument where the exact
      // build exceeds single-node scratch
      "q_label_prop_sampled",
      // round-13 wave 2: the cascade reuses the memoized edge frame +
      // one text-hash window; the weighted k-center is the plain
      // coreset's 9 broadcast passes with one scored line changed; the
      // band sweep amortizes ONE signature set across 4 band joins;
      // dp_counts is a map-side count agg + a 25-row noise chain; the
      // ablation is one rule scan + one window + a 4-row rollup; the
      // quantile twin runs batch-mode TWS with state = |days| x grid
      "q_dedup_cascade", "q_coreset_weighted", "q_lsh_band_sweep",
      "q_dp_counts", "q_filter_ablation", "q_quantile_stream_twin",
      // Bradley–Terry: one map-side (user, day, type) agg + a pairwise
      // self-join fanned <=|types| per key; MM rounds on <=56-row frames
      "q_bradley_terry",
      // the 11th twin: batch-mode TWS, state = |days| x k MG counters
      "q_heavyhitters_stream_twin",
      // linear MMD2: one scan + one 2-row agg; 8-row frames after
      "q_mmd_embedding",
      // CCNet buckets: the perplexity scoring pipeline + one per-lang
      // doc-level window
      "q_perplexity_buckets",
      // cartography: one token explode + the x25 scoring fan against
      // the vocabulary-bounded jackknife model frame
      "q_dataset_cartography",
      // l-diversity: one left join + two hash-aggs, domain-bounded
      "q_l_diversity",
      // DRO weights: the NB pipeline + a |langs|-row tilt chain
      "q_dro_weights",
      // TPC-H closers: pair-distinct map-side agg over the 10x fact
      // side + broadcast dims
      "q2_mincost_supplier", "q11_important_stock",
      "q16_supplier_counts",
      // t-closeness: two hash-aggs + the bounded class x value grid
      "q_t_closeness",
      // packing ablation: one per-lang prefix-sum window + 2 rollups
      "q_packing_ablation",
      // round-14: the sampled cascade/band-sweep twins (1/16 of the
      // pair work off the shared stratum edge frame) — the dup-graph
      // family's bounded instruments, expected to COMPLETE at 100x
      // where the exact builds hit the storage exclusion
      "q_dedup_cascade_sampled", "q_lsh_band_sweep_sampled",
      // twin #12: batch-mode TWS, state = |windows| x MG(k)
      "q_topk_window_stream_twin",
      // Kruskal-Wallis: one (v, type) hash-agg + bounded-grid windows
      "q_kruskal_wallis",
      // effect size / JS matrix / Good-Turing / bigram entropy /
      // novelty: hash-aggs into bounded grids (the only corpus-scale
      // stage in each is its first map-side agg or gram explode)
      "q_cramers_v", "q_js_divergence", "q_good_turing",
      "q_bigram_entropy", "q_ngram_novelty",
      // Hill: TakeOrdered top-101 selection, never a global sort
      "q_hill_tail",
      // text-codec roundtrips: one write + one scan + map-side agg
      "q_format_csv_roundtrip", "q_format_json_roundtrip",
      // JL projection: one map-only pass, plan-time sign constants
      "q_random_projection",
      // round-14 wave 2: paired ranks on the <=|users| |d| frame; the
      // calendar-bounded ACF grid; |langs|-bounded classifier metrics
      // off the shared confusion; the 1-row MI certificate; the DP
      // quantile's bounded-grid argmax
      "q_wilcoxon_signed_rank", "q_acf_daily", "q_classifier_metrics",
      "q_mutual_information", "q_dp_quantile",
      // round-14 wave 3: kendall/runs ride the calendar-bounded dense
      // daily frame, friedman the (day, type) grid; wilson is one
      // map-side lineitem agg + TakeOrdered; simpson/chao1/hellinger
      // are hash-aggs into |sources| x |langs| / per-lang word grids;
      // dp_gaussian is a map-side count agg + a 25x8 seeded noise grid
      "q_kendall_tau", "q_friedman", "q_runs_test", "q_wilson_bounds",
      "q_simpson_diversity", "q_chao1", "q_hellinger_matrix",
      "q_dp_gaussian",
      // twin #13: batch-mode TWS, state = |users| x (start, last, MG);
      // the per-key sort is bounded by one user's own history
      "q_session_topk_stream_twin",
      // round-14 wave 4: boilerplate = gram explode -> distinct/df
      // aggs + one gram-keyed semi-join; stable histogram = one bigram
      // count agg + a map-only noise chain on the vocab^2 frame;
      // pearson/DW ride the dense calendar x |types| grid
      "q_boilerplate_ngrams", "q_dp_stable_histogram",
      "q_pearson_matrix", "q_durbin_watson",
      // round-14 wave 5: LB/dispersion ride the dense calendar grid;
      // entropy rate is one per-user lead window + a |types|^2 frame;
      // MDE is the welch moment agg + a |types|^2 pair cross
      "q_ljung_box", "q_dispersion_index", "q_markov_entropy_rate",
      "q_mde_power",
      // round-14 wave 6: the fingerprint twin must show the gram
      // shuffle shrinking vs q_boilerplate_ngrams at the same corpus;
      // auc-pr rides the bounded score histogram; rbo is two top-50
      // selections + a 50x50 grid
      "q_boilerplate_fingerprint", "q_auc_pr", "q_rbo_rankings",
      // round-15 wave 1: session concurrency is the sessionizer's
      // per-user windows + a day-partitioned boundary cumsum + the
      // bounded calendar-grid carry (never a corpus-scale window);
      // active-users collapses the corpus to (day,user) pairs FIRST,
      // then bounded-fanout (≤7/≤30) grid theta joins; interarrival is
      // the per-user lag + one hash agg; readability is one map-side
      // doc scan + a |langs|-row agg; fertility = two tokenizer apply
      // plans over distinct-word frames; the partitioned roundtrip is
      // one fan-out write + one discovered scan; the interval-join
      // twin is the per-user two-sided buffered join (state bounded by
      // each user's in-horizon rows)
      "q_session_concurrency", "q_active_users", "q_user_interarrival",
      "q_readability", "q_tokenizer_fertility",
      "q_format_partitioned_roundtrip", "q_interval_join_stream_twin",
      // round-15 wave 2: heatmap = one scan + a ≤168-cell agg;
      // duration histogram = the sessionizer windows + digit buckets;
      // engagement gini = the histogram-identity pattern (windows over
      // the distinct-count frame, never a corpus rank)
      "q_activity_heatmap", "q_session_duration_histogram",
      "q_engagement_gini",
      // round-16: cascade-on-candidates — stage-1 survivors only reach
      // banded candidate generation (the replicated all-dup cliques
      // collapse at the exact stage), candidates verified exactly; NO
      // corpus-wide pair fan, so the 100× row must COMPLETE where the
      // exact cascade hit the measured scratch exclusion
      "q_dedup_cascade_banded",
      // twin #15: batch-mode chained TWS — per-user (start,last) state
      // + per-day boundary buffers (2 × the day's own session count)
      "q_session_concurrency_stream_twin",
      // round-16 wave 2: stupid backoff = two map-side train count aggs
      // + broadcast probe joins (the JM/KN shape minus the continuation
      // passes); STL rides one per-day count agg, all windows on the
      // ≤|days| daily frame; weighted Jaccard fans ONLY the shared ≥0.2
      // candidate edges through the token-tf inner join (linear in
      // candidates, the verifyCandidatePairs shape); RAKE's window is
      // per-doc (prefix-sum of stop flags), word scores one
      // vocab-bounded agg
      "q_stupid_backoff", "q_stl_seasonal", "q_weighted_jaccard_join",
      "q_rake_keyphrases",
      // round-16 wave 3: weighted MinHash — expansion is Σtf = the
      // corpus token count (map-side sequence+explode fused into the
      // scan projection, no pre-agg shuffle), signature state O(16) per
      // source; the pairs audit joins only the vocab-bounded tf frame
      "q_weighted_minhash_sig", "q_weighted_minhash_pairs",
      // twin #16: stage 1 = per-day count (one long per open day),
      // stage 2 = constant-key over the ≤|days| finalized series with a
      // ≤7-day sliding buffer — state O(1), input day-frame-sized
      "q_stl_seasonal_stream_twin")
      .filter(n => filter.forall(_.findFirstIn(n).isDefined))
      .foreach { name =>
      metrics.reset()
      val t = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t) / 1e9
      Thread.sleep(1000) // let the async listener bus drain
      // for the clustering query, also report the propagation-round count:
      // the O(diameter) claim is "rounds track the dup graph's diameter,
      // not the corpus size" — printed next to wall time + shuffle volume
      val extra = if (name == "q_dedup_clusters")
        s" iters=${graft.llm.TextDedup.lastClusterIters}" else ""
      println(f"[scale] $name%-24s $secs%6.1f s  " +
        s"shuffleW=${gb(metrics.shuffleWrite.get)} " +
        s"shuffleR=${gb(metrics.shuffleRead.get)} " +
        s"memSpill=${gb(metrics.memSpill.get)} " +
        s"diskSpill=${gb(metrics.diskSpill.get)} " +
        s"peakTaskMem=${gb(metrics.peakMem.get)}" + extra)
    }
    spark.stop()
  }
}
