package graft

/** Plan auditor: prints the formatted physical plan of the named queries
  * (or a default load-bearing set) — used to keep pushdown, pruning,
  * broadcast choice, and whole-stage codegen spans honest while iterating.
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq(
      "q_proj_arith", "q_join_broadcast", "q5_local_supplier",
      "q1_pricing_summary", "q_cosine_blocked", "q_window_rank",
      // round-3 plan-audit surface: salted shuffle join, broadcast-eval
      // contamination join, composed curation pipeline
      "q_join_skew_salted", "q_contamination", "q_pipeline_curate",
      // round-6: bloom probe must sit below the fact-side Exchange;
      // profiler is one scan + Expand; sessionization windows on the
      // high-cardinality user_id
      "q_join_bloom_pruned", "q_profile_columns", "q_sessionize_lag",
      // round-7: packing's per-lang prefix-sum window, winnowing's one
      // fingerprint shuffle, gapfill's co-partitioned calendar join,
      // attribution's interval join + per-purchase window
      "q_token_packing", "q_winnowing", "q_timeseries_gapfill",
      "q_attribution_last_touch",
      // wave 7: both star joins must show broadcast dimension chains
      // with the single fact⋈fact exchange
      "q_trade_volume", "q_market_share",
      // waves 8-12: the semi/anti chain co-partitioned on orderkey, the
      // Lloyd round's broadcast-k crossJoin + hash agg, the prefix
      // join's windowed candidate generation, the null-safe hash join
      "q21_sole_returned_supplier", "q_kmeans_lloyd",
      "q_setsim_prefix_join", "q_join_null_safe",
      // round-9: the pit join must plan as ONE user-key SMJ with the
      // interval residual as its non-equi condition (no BNLJ); the
      // simhash join as a band-key equi-join; the tfidf join's dot
      // accumulation as a shared-token equi-join + hash agg
      "q_pit_join", "q_simhash_hamming_join", "q_tfidf_cosine_join",
      // round-10: the 64-bit variant must keep the same band-key
      // equi-join shape (16-bit band values in one (band_idx, band_val)
      // join, never a theta join on Hamming distance)
      "q_simhash64_hamming_join",
      // round-10 wave-3: the basket self-join must be ONE orderkey
      // exchange feeding the pair hash-agg (never a part-keyed
      // re-shuffle of the fan-out); adamic-adar must show the semi-join
      // hub gate BELOW the wedge self-join; ks must broadcast the pair
      // frame into both tag joins with windows partitioned by pair
      "q_basket_lift", "q_link_adamic_adar", "q_ks_drift",
      // round-10 wave-5+: symspell must be a variant-key equi-join with
      // the levenshtein verify as a post-join Filter (no BNLJ); dupspan
      // a gram-key equi-join feeding diagonal-partitioned windows;
      // hard negatives ONE broadcast NL probe join (anchors broadcast)
      // + per-anchor window; the nearest as-of a user-key SMJ/hash join
      // + hash-agg, never a BNLJ on the time predicate
      "q_symspell_join", "q_dupspan_pairs", "q_hard_negatives",
      "q_join_asof_nearest",
      // round-10 waves 12-20: mann-whitney must window WITHIN buckets
      // (two-level prefix — no single global sort of the histogram);
      // dbscan a (px, py) cell equi-join with the distance verify as a
      // post-join Filter (no BNLJ); hits three edge equi-joins + hash
      // aggs; the bootstrap ONE hash-agg over the broadcast 32-rep fan
      "q_mannwhitney_u", "q_dbscan_core", "q_hits_scores",
      "q_bootstrap_poisson",
      // round-11: the FDR battery must keep each family's fan shape
      // (32-rep broadcast fan into one hash-agg; pair-broadcast tag
      // joins; bucket-partitioned rank windows) with the 210-row
      // step-up window at the top; the unigram trainer a broadcast
      // composition-table equi-join per round (no DP recursion); the
      // knn graph an IVF cell equi-join + mutual self-join; semantic
      // dedup a cluster-key self-join below the per-cluster window
      "q_fdr_bh", "q_unigram_lm", "q_knn_graph_clusters",
      "q_semantic_dedup")
    val spark = GraftSession.build(4, sfDir)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
