package graft

import graft.sources.ShardTempRoot

/** Empty-input robustness: a date predicate or an aggressive quality
  * filter can legitimately empty a whole corpus slice in production,
  * and every operator must come back empty (or with its identity-
  * element row), not throw. Exercised by snapshotting each table's
  * schema into an empty parquet dir and running the operator suite's
  * LLM-data core against it.
  *
  * Index-build operators that collect seed state from the corpus
  * (IVF centroid seeding, k-means — so also their consumers
  * `embed_outliers`, `ann_recall_eval`, `ann_ivf_*`) are deliberately
  * excluded — an index build over an empty corpus is a real
  * configuration error and SHOULD fail loudly.
  */
class EmptyInputSpec extends ShardTempRoot {

  private lazy val emptyDir: String = {
    val dir = tmp("graft_empty_")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { tbl =>
      tables.raw(tbl).limit(0).write.mode("overwrite")
        .parquet(s"$dir/$tbl.parquet")
    }
    dir
  }

  private val ops = Seq(
    "q1_pricing_summary", "q_topk", "q_sessionize",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "dedup_clusters",
    "corpus_split", "corpus_token_shards", "corpus_pack", "corpus_mixture",
    "text_quality", "text_tokens", "text_tfidf", "text_perplexity",
    "events_funnel", "events_anomaly", "events_transitions",
    "events_active_users", "events_attribution",
    "q_upsert_latest", "q_skew_histogram",
    // round-7 additions with division/window machinery that must
    // NULL-out, not throw, under ANSI on an empty slice
    "corpus_filter_funnel", "corpus_dedup_weights", "corpus_split_leakage",
    "corpus_zipf", "corpus_source_profile", "dedup_minhash_eval",
    "dedup_minhash_tuning", "events_rfm", "events_session_stats",
    "events_funnel_timing", "events_ab_test", "events_burst_windows",
    "events_forecast_eval", "events_recommend_cooccur",
    "events_attribution_linear", "events_markov_stationary",
    "events_value_percentiles", "er_blocked_pairs",
    "q_incremental_rollup", "q_dpp", "q_compaction",
    // round-8 additions (advisor: embed_pca_power NaN'd on an empty
    // slice before its means-empty guard)
    "embed_pca_power", "text_contamination_fuzzy", "q_table_stats",
    "events_new_vs_returning", "events_ltv_cohort",
    // round-9 additions (PQ/whiten index builds stay excluded by the
    // fail-loudly policy above)
    "corpus_doc_embedding", "dedup_containment", "q_zorder_roundtrip",
    "doc_ann_topk", "search_hybrid_rrf", "mm_modality_router",
    // round-10 additions: the incremental CC merge (empty history AND
    // empty increment), the integer-moment experiment readouts, the
    // sketch twins, and the prefix eval (whose fixed 4-row report
    // must survive a 0-hit corpus); PQ-backed serving stays excluded
    // by the fail-loudly policy above
    "dedup_clusters_incremental", "events_cuped", "events_pagerank",
    "q_table_stats_approx", "events_value_percentiles_approx",
    "embed_matryoshka_eval", "mm_frame_dedup",
    "q11_important_stock", "q20_part_promotion",
    // the hamming pair's signatures are pure per-row arithmetic (no
    // trained state), so the fail-loudly index exclusion doesn't apply
    "ann_hamming_topk", "ann_hamming_recall", "events_triangles",
    "q_scd2_history", "q_point_in_time_join", "events_path_mining",
    "events_clustering_coeff",
    // round-11 additions: the PCA family's degenerate-corpus guards
    // (covMatrix None / zero-λ basis → empty frame, never a throw) and
    // the ER closure over an empty match set
    "embed_whiten", "embed_pca_topk", "er_resolve_clusters",
    "q_scd2_merge", "corpus_pii_scrub", "text_watermark_detect",
    "er_resolve_incremental",
    // this session's additions: graph ops on an empty edge set, the
    // interval/grid join, spine fill, readability/boilerplate maps,
    // temperature shares (empty → zero sources, no division), the
    // URL canonicalizer, and the injected-bot screen (no users → no
    // injection); the kNN-graph beam serve stays excluded by the
    // fail-loudly index policy
    "events_kcore", "events_assortativity", "q_interval_overlap",
    "q_gap_fill", "events_bot_detect", "text_readability",
    "text_boilerplate", "corpus_temperature_sampling",
    "dedup_url_canonicalize",
    // round-12 additions: the native top-k aggregate over zero
    // groups, LPA/survival/CUSUM on empty event sets (survival's
    // driver fold over an empty life table, changepoint's empty
    // spine), the quantized-entropy screen, the window-intersection
    // matrix, the order-statistic histogram (0 ranks → 0 rows), and
    // the VAD islands; embed_semdedup stays excluded by the
    // fail-loudly index policy (k-means over an empty corpus)
    "ann_topk_agg", "events_communities", "events_survival",
    "events_changepoint", "text_char_entropy", "dedup_cross_source",
    "q_histogram_equidepth", "mm_audio_vad", "mm_phash_pairs",
    "q_topn_agg", "events_reach", "er_review_queue", "embed_drift_psi",
    "events_funnel_windowed", "q_late_arriving_dim",
    "text_rake_keyphrases", "events_seasonality_strength",
    "corpus_dataset_card", "mm_integrity_audit",
    // round-13 additions: the MG sketch over an empty token stream
    // (n=0, empty summary — division guarded by the empty candidate
    // set), the ACF over an empty day spine (no pairs → no rows),
    // the two map-only screens, the epoch plan (no sources → no
    // rows, no DIV by zero), and the one-row isotropy readout's
    // NULL-safe ratios
    "text_heavy_hitters", "events_acf", "text_code_detect",
    "text_mojibake", "corpus_epoch_plan", "embed_isotropy",
    "events_ppr", "er_fuzzy_pairs", "q_asof_tolerance", "mm_token_budget",
    "events_holt_forecast", "q_csv_malformed_audit",
    "events_markov_entropy_rate", "events_stickiness",
    // round-14: the BPE loop's per-round argmax collect over an empty
    // word rollup (no pairs → no merge rows, loop degrades to 0 rows),
    // the SRM chi-square (0/0 → NULL statistic, no ANSI throw), and
    // the DiD panel (all four ExactAgg cells NULL on empty input)
    "text_bpe_train_loop", "events_srm", "events_did",
    // Heaps fit over an empty prefix table (one NULL fit row crossed
    // into zero curve rows), masking/overlap/survivorship on empty
    // joins, FK discovery's 0-distinct inclusion (0/0 → NULL, no
    // ANSI throw)
    "text_heaps_law", "q_data_masking", "events_audience_overlap",
    "q_fk_discovery", "dedup_survivorship",
    // the banded-rewrite consumer (empty sides → empty equi join),
    // basket rules and the ooo audit over empty event sets
    "q_abs_band_auto", "events_basket_lift", "events_ooo_audit",
    // round-15: the recursive-closure pair (empty forest / empty
    // frontier), the NB train+eval chain (empty vocab grid), the DP
    // release, and the profiling rollup
    "q_bom_explode", "q_multi_distinct", "events_shortest_paths",
    "text_nb_train", "text_nb_eval", "corpus_dp_release",
    // the DSv2 connector path: empty corpus -> zero-file manifest ->
    // empty scan (threshold degenerates to 0)
    "q_shard_scan",
    // CDF over an empty corpus: empty v0, empty merge, empty feed
    "q_merge_cdf",
    // empty generations -> zero-file manifests through the whole
    // append/compact lifecycle
    "q_shard_compact", "q_bom_rollup",
    // metadata-only aggregates over a zero-file manifest: count 0,
    // NULL min/max — one row either way
    "q_shard_stats",
    // CTAS of an empty projection -> schema-only table, empty rollup
    "q_catalog_sql_roundtrip",
    // the weighted walk (empty edges -> empty seeds -> empty rounds),
    // the v2-format gates: empty string-tagged table (string maps
    // absent), empty nullable write (zero-file manifest, empty rollup)
    "events_weighted_paths", "q_shard_scan_string",
    "q_shard_null_roundtrip",
    // this round: gaps-and-islands and the first-seen prefix sum over
    // an empty day grid, the growth decomposition (empty spine → no
    // weeks, the max-week broadcast is NULL but never consulted), the
    // per-type OLS (regr_* over zero rows → no groups), the Benford
    // screen (no digits → no rows; the ppm table never divides by the
    // empty total), the DSIR weighting (empty weight table → empty
    // scores → mean DIV guarded by zero groups), and the multi-probe
    // LSH (empty bucket sides → empty keyed join)
    "q_streaks", "q_cumulative_distinct", "events_growth_accounting",
    "events_ols_trend", "q_benford_audit", "corpus_dsir_importance",
    "ann_lsh_multiprobe_topk",
    // the two-level rank over zero buckets, the interval union over an
    // empty island set, and the KN grid over zero bigram types (the
    // Nbt cross join is empty → no division ever evaluates)
    "q_surrogate_keys", "events_interval_union", "text_kn_bigram",
    // metadata delete over an empty table: zero entries, all decidable
    "q_shard_delete",
    // the byte scrubber is map-only: empty docs -> zero rows
    "mm_exif_strip",
    // MAD screen over zero groups: no medians, no joins, no rows
    "events_mad_outliers",
    // the HW fold's empty-rollup early return (typed empty frame)
    "events_holt_winters",
    // radius search over an empty corpus: empty broadcast, zero rows
    "ann_range_search",
    // bloom probe over a zero-file manifest: sentinel id, empty rollup
    "q_shard_bloom_skip",
    // hubness over an empty node set: empty histogram, no division
    "embed_hubness",
    // TWAP over zero gaps and bounce ppm over zero sessions: empty
    // frames, the guarded DIVs never evaluate
    "q_time_weighted_avg", "events_bounce_rate",
    // WoW over an empty weekly rollup: no windows, no rows
    "events_wow_change",
    // round-17: the rank statistics over an empty value grid (KS's
    // limit(1) of nothing, MW's all-NULL single agg row — the DIVs
    // see NULL, never throw), entropy/Hill/Wilson over zero users
    // (the alpha crossJoin carries NULL s; Wilson has zero reach
    // rows), the winsorized readout over an empty grid, mode/listagg
    // over empty joins, the Gopher ladder map-only, the two mm plans
    // (empty media/audio tables), and the typed-gshard trio: CTAS of
    // an empty typed projection (NULL min-ts guard picks the fixed
    // cutoff), typed metadata aggregates over a zero-file manifest
    // (count 0, NULL typed min/max), and top-N over zero files
    "events_ks_test", "events_mann_whitney", "events_type_entropy",
    "events_powerlaw_alpha", "events_winsorized_mean", "events_rate_ci",
    "q_mode_per_group", "q_string_agg", "text_gopher_rules",
    "mm_aspect_buckets", "mm_audio_chunk_plan",
    "q_shard_types_roundtrip", "q_shard_stats_typed", "q_shard_topn",
    // this session: the Welch moments (all-NULL single agg row, the
    // nullif-guarded tree never throws), the chi-square windows over
    // zero type rows, Theil–Sen over an empty daily series (no
    // pairs), the source-overlap matrix (empty shingle sets → empty
    // self-join), and the double-predicate gshard scan (zero-file
    // manifest, threshold degenerates to 0.0)
    "events_welch_ttest", "events_chisq", "events_theilsen",
    "corpus_source_overlap", "q_shard_scan_double",
    // the sequential monitor over an empty day spine (no panel rows →
    // no days) and the chunker over an empty corpus (no docs)
    "events_sequential_ab", "text_chunk_plan",
    // the bootstrap over zero users (empty replicate grid → empty CI
    // sides → zero rows) and metadata SUM over a zero-file manifest
    // (count 0, NULL sums — one row)
    "events_bootstrap_ci", "q_shard_sum",
    // the streaming twins' empty drains share the batch readouts
    "stream_theilsen", "stream_bootstrap_ci",
    "stream_welch_ttest", "stream_chisq", "stream_sequential_ab",
    // evolution over an empty corpus: empty narrow CTAS (NULL
    // threshold matches nothing), manifest-only ALTER, empty INSERT
    "q_shard_schema_evolution")

  ops.foreach { name =>
    test(s"$name tolerates an empty corpus") {
      val n = SparkEntry.queries(name)(spark, emptyDir).count()
      assert(n >= 0)
    }
  }

  leavesNoTempDirs()
}
