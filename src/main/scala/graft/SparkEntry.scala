package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.ExactAgg
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Each `queries` entry has a matching DuckDB oracle in `oracleSql`
  * computing the same result with the same column names; doubles are
  * rounded identically on both sides so hash-compare is stable.
  */
object SparkEntry {

  private def q(f: Tables => DataFrame): (SparkSession, String) => DataFrame =
    (s: SparkSession, dir: String) => f(Tables(s, dir))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(Tables(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary"  -> q(Relational.q1PricingSummary),
    "q3_shipping_priority"-> q(Relational.q3ShippingPriority),
    "q5_local_supplier"   -> q(Relational.q5LocalSupplier),
    "q6_revenue_delta"    -> q(Relational.q6RevenueDelta),
    "q10_returned_items"  -> q(Relational.q10ReturnedItems),
    "q2_min_cost_supplier"-> q(Relational.q2MinCostSupplier),
    "q4_order_priority"   -> q(Relational.q4OrderPriority),
    "q7_nation_volume"    -> q(Relational.q7NationVolume),
    "q14_promo_revenue"   -> q(Relational.q14PromoRevenue),
    "q18_large_orders"    -> q(Relational.q18LargeOrders),
    "q19_disjunctive"     -> q(Relational.q19Disjunctive),
    "q22_idle_customers"  -> q(Relational.q22IdleCustomers),
    "q8_market_share"     -> q(Relational.q8MarketShare),
    "q9_product_profit"   -> q(Relational.q9ProductProfit),
    "q12_late_shipments"  -> q(Relational.q12LateShipments),
    "q13_cust_distribution"-> q(Relational.q13CustDistribution),
    "q17_small_qty"       -> q(Relational.q17SmallQty),
    "q21_waiting_suppliers" -> q(t => Relational.q21WaitingSuppliers(t)),
    "q11_important_stock" -> q(t => Relational.q11ImportantStock(t)),
    "q20_part_promotion"  -> q(Relational.q20PartPromotion),
    "q15_top_supplier"    -> q(Relational.q15TopSupplier),
    "q16_part_suppliers"  -> q(Relational.q16PartSuppliers),
    "q_cube"              -> q(Relational.qCube),
    "q_set_ops"           -> q(Relational.qSetOps),
    "q_window_lag"        -> q(Relational.qWindowLag),
    "q_window_range"      -> q(Relational.qWindowRange),
    "q_group_multi"       -> q(Relational.qGroupMulti),
    "q_table_stats"       -> q(Relational.qTableStats),
    "q_window_rank"       -> q(Relational.qWindowRank),
    // same semantics through the native bounded top-k aggregate —
    // partial heaps instead of the rank window's full shuffle
    "q_topn_agg"          -> q(Relational.qTopNAgg),
    "q_window_running"    -> q(Relational.qWindowRunning),
    "q_topk"              -> q(Relational.qTopK),
    "q_distinct"          -> q(Relational.qDistinct),
    "q_semi_join"         -> q(Relational.qSemiJoin),
    "q_anti_join"         -> q(Relational.qAntiJoin),
    "q_outer_join"        -> q(Relational.qOuterJoin),
    "q_union"             -> q(Relational.qUnion),
    "q_rollup"            -> q(Relational.qRollup),
    "q_pivot"             -> q(Relational.qPivot),
    "q_unpivot"           -> q(Relational.qUnpivot),
    "q_data_quality"      -> q(Relational.qDataQuality),
    "q_case_agg"          -> q(Relational.qCaseAgg),
    "q_having"            -> q(Relational.qHaving),
    "q_scalar_subquery"   -> q(Relational.qScalarSubquery),
    "q_percentile"        -> q(Relational.qPercentile),
    "q_asof_join"         -> q(Relational.qAsofJoin),
    "q_asof_join_native"  -> q(Relational.qAsofJoinNative),
    "q_asof_join_forward" -> q(Relational.qAsofJoinForward),
    "q_asof_nearest"      -> q(Relational.qAsofJoinNearest),
    // as-of with a staleness bound: stale state nulls out (the
    // feature-store serving rule plain backward as-of can't express)
    "q_asof_tolerance"    -> q(t => Relational.qAsofJoinTolerance(t)),
    "q_sessionize"        -> q(Relational.qSessionize),
    "q_json_extract"      -> q(Relational.qJsonExtract),
    "q_time_bucket"       -> q(Relational.qTimeBucket),
    "q_gap_fill"          -> q(Relational.qGapFill),
    "q_histogram_equidepth" -> q(t => Relational.qHistogramEquidepth(t)),
    "q_late_arriving_dim" -> q(Relational.qLateArrivingDim),
    "q_grouping_sets"     -> q(Relational.qGroupingSets),
    "q_window_ntile"      -> q(Relational.qWindowNtile),
    "q_window_distribution" -> q(Relational.qWindowDistribution),
    // transitive closure by pointer doubling (O(log depth) shuffles);
    // the oracle is a genuine recursive CTE
    "q_bom_explode"       -> q(t => Relational.qBomExplode(t)),
    // the closure consumed: per-root subtree count/depth/cost rollup
    "q_bom_rollup"        -> q(Relational.qBomRollup),
    // several COUNT(DISTINCT)s in ONE Expand-based pass (plan-pinned)
    "q_multi_distinct"    -> q(Relational.qMultiDistinct),
    // gaps-and-islands: longest consecutive-day streak per user
    "q_streaks"           -> q(Relational.qStreaks),
    // users-to-date per day via first-seen dates — no quadratic rescan
    "q_cumulative_distinct" -> q(Relational.qCumulativeDistinct),
    // first-digit distribution vs the fixed Benford ppm table
    "q_benford_audit"     -> q(Relational.qBenfordAudit),
    // deterministic MODE per group (max count, min value tiebreak)
    "q_mode_per_group"    -> q(Relational.qModePerGroup),
    // deterministic LISTAGG: sorted '|'-joined group lists
    "q_string_agg"        -> q(Relational.qStringAgg),
    // two-sample Kolmogorov–Smirnov over the value grid, integer ppm
    "events_ks_test"      -> q(EventAnalytics.eventsKsTest),
    // the KS drift test maintained continuously — pair #35
    "stream_ks_test"      -> q(t => graft.streaming.Streaming.streamKsTest(t)),
    // Mann–Whitney rank-sum U via the tie-exact 2U grid identity
    "events_mann_whitney" -> q(EventAnalytics.eventsMannWhitney),
    // Welch's t on the continuous per-user metric (integer moments,
    // fixed double tree — the mean companion to the ab_test z)
    "events_welch_ttest"  -> q(EventAnalytics.eventsWelchTtest),
    // the Welch readout maintained continuously — pair #41
    "stream_welch_ttest"  -> q(t => graft.streaming.Streaming.streamWelchTtest(t)),
    // chi-square independence over type × variant, integer-summed
    "events_chisq"        -> q(EventAnalytics.eventsChisq),
    // the independence test maintained continuously — pair #42
    "stream_chisq"        -> q(t => graft.streaming.Streaming.streamChisq(t)),
    // Theil–Sen robust slope: lower-median of pairwise ppm slopes
    // over the aggregated daily series
    "events_theilsen"     -> q(EventAnalytics.eventsTheilSen),
    // the robust slope maintained continuously — pair #43
    "stream_theilsen"     -> q(t => graft.streaming.Streaming.streamTheilSen(t)),
    // the bootstrap CI maintained continuously — pair #44
    "stream_bootstrap_ci" -> q(t => graft.streaming.Streaming.streamBootstrapCi(t)),
    // per-user behavioral entropy of the event-type distribution
    "events_type_entropy" -> q(EventAnalytics.eventsTypeEntropy),
    // the entropy screen maintained continuously — pair #37
    "stream_type_entropy" -> q(t => graft.streaming.Streaming.streamTypeEntropy(t)),
    // grid-exact winsorized mean: order statistics + clamp on the
    // value grid, never a sort of fact rows
    "events_winsorized_mean" -> q(EventAnalytics.eventsWinsorizedMean),
    // the winsorized readout maintained continuously — pair #38
    "stream_winsorized_mean" -> q(t => graft.streaming.Streaming.streamWinsorizedMean(t)),
    // per-type user reach with a Wilson 95% interval
    "events_rate_ci" -> q(EventAnalytics.eventsRateCi),
    // the reach CI maintained continuously — pair #39
    "stream_rate_ci" -> q(t => graft.streaming.Streaming.streamRateCi(t)),
    // peak concurrent users per day via the endpoint sweep over the
    // (day, instant) grid — starts-before-ends at shared instants
    "events_peak_concurrency" -> q(EventAnalytics.eventsPeakConcurrency),
    // the capacity readout maintained continuously — pair #40
    "stream_peak_concurrency" -> q(t => graft.streaming.Streaming.streamPeakConcurrency(t)),
    // Hill MLE tail exponent of per-user activity (skew sizing)
    "events_powerlaw_alpha" -> q(t => EventAnalytics.eventsPowerlawAlpha(t)),
    // weekly new/retained/resurrected/churned decomposition
    "events_growth_accounting" -> q(EventAnalytics.eventsGrowthAccounting),
    // per-type daily-volume trend via native regr_* aggregates
    "events_ols_trend"    -> q(EventAnalytics.eventsOlsTrend),
    // the trend fit maintained continuously — stream/batch
    // equivalence pair #32 (same oracle)
    "stream_ols_trend"    -> q(t => graft.streaming.Streaming.streamOlsTrend(t)),
    // robust MAD outlier screen, 4-dp-quantized before the compare
    "events_mad_outliers" -> q(EventAnalytics.eventsMadOutliers),
    // time-weighted average value per user (integer cents x gap-secs)
    "q_time_weighted_avg" -> q(EventAnalytics.qTimeWeightedAvg),
    // single-event sessions / sessions per day, exact ppm
    "events_bounce_rate"  -> q(EventAnalytics.eventsBounceRate),
    // week-over-week deltas with exact ppm change per type
    "events_wow_change"   -> q(EventAnalytics.eventsWowChange),
    // the WoW report maintained continuously — stream/batch
    // equivalence pair #34 (same oracle)
    "stream_wow_change"   -> q(t => graft.streaming.Streaming.streamWowChange(t)),
    // DSIR-style hashed-ngram importance weighting (integer-exact)
    "corpus_dsir_importance" -> q(t => TextAnalysis.corpusDsirImportance(t)),
    // distributed dense-id assignment (two-level rank; oracle is the
    // naive single-partition global window it decomposes)
    "q_surrogate_keys"    -> q(t => Relational.qSurrogateKeys(t)),
    // integer-exact interpolated Kneser-Ney bigram LM
    "text_kn_bigram"      -> q(t => TextAnalysis.textKnBigram(t)),
    // metadata-only DELETE: manifest classification, zero files read
    "q_shard_delete"      -> q(t => graft.sources.SourceOps.qShardDelete(t)),
    // merge-on-read DELETE: a file-straddling predicate masks rows
    // via position-delete sidecars — zero data-file rewrites
    "q_shard_delete_mor"  ->
      q(t => graft.sources.SourceOps.qShardDeleteMor(t)),
    // bloom file skipping where zone maps can't prune (mid-range point
    // lookup on a non-clustered column)
    "q_shard_bloom_skip"  -> q(t => graft.sources.SourceOps.qShardBloomSkip(t)),
    // byte-level EXIF/tEXt/comment scrub with in-query roundtrip proof
    "mm_exif_strip"       -> q(Multimodal.mmExifStrip),
    // per-user interval UNION via running-max islands
    "events_interval_union" -> q(t => EventAnalytics.eventsIntervalUnion(t)),
    // the growth decomposition maintained continuously — stream/batch
    // equivalence pair #30 (same oracle)
    "stream_growth_accounting" -> q(t => graft.streaming.Streaming.streamGrowthAccounting(t)),
    // the Benford audit as a continuous 9-integer-state stream —
    // stream/batch equivalence pair #31 (same oracle)
    "stream_benford"      -> q(t => graft.streaming.Streaming.streamBenford(t)),
    // §2.5 text analysis
    "text_lang_id"        -> q(TextAnalysis.textLangId),
    "text_quality"        -> q(TextAnalysis.textQuality),
    // the Gopher heuristic filter rules, integer-exact, with an
    // auditable first-failed-rule reject reason
    "text_gopher_rules"   -> q(TextAnalysis.textGopherRules),
    // RAG retrieval chunker: 64-token windows, 16-token overlap,
    // md5 content proof per chunk — map-side only
    "text_chunk_plan"     -> q(t => TextAnalysis.textChunkPlan(t)),
    // the same rules as a stateless ingest-time screen — pair #36
    "stream_gopher_rules" -> q(t => graft.streaming.Streaming.streamGopherRules(t)),
    "text_tokens"         -> q(TextAnalysis.textTokens),
    "text_readability"    -> q(TextAnalysis.textReadability),
    "text_boilerplate"    -> q(TextAnalysis.textBoilerplate),
    "stream_boilerplate"  -> q(t => graft.streaming.Streaming.streamBoilerplate(t)),
    "stream_active_users" -> q(t => graft.streaming.Streaming.streamActiveUsers(t)),
    "corpus_temperature_sampling" -> q(t => TextAnalysis.corpusTemperatureSampling(t)),
    // epoch/repetition plan per source: temperature quota -> implied
    // epochs, policy cap, planned + unplaced tokens (exact DIV chains)
    "corpus_epoch_plan"   -> q(t => TextAnalysis.corpusEpochPlan(t)),
    // the planner maintained continuously over the document stream —
    // stream/batch equivalence pair #22 (same oracle)
    "stream_epoch_plan"   -> q(t => graft.streaming.Streaming.streamEpochPlan(t)),
    "text_fingerprint"    -> q(TextAnalysis.textFingerprint),
    "text_char_entropy"   -> q(TextAnalysis.textCharEntropy),
    "text_rake_keyphrases" -> q(t => TextAnalysis.textRakeKeyphrases(t)),
    "corpus_dataset_card" -> q(TextAnalysis.corpusDatasetCard),
    "dedup_cross_source"  -> q(t => Dedup.dedupCrossSource(t)),
    "text_ngram_freq"     -> q(TextAnalysis.textNgramFreq),
    // exact heavy hitters via the native Misra-Gries sketch (bounded
    // state) + exact recount of the <=m candidates — oracle is the
    // plain GROUP BY/HAVING, proving the sketch->verify path exact
    "text_heavy_hitters"  -> q(t => TextAnalysis.textHeavyHitters(t)),
    // code-vs-prose routing screen (injected ground truth, map-only)
    "text_code_detect"    -> q(TextAnalysis.textCodeDetect),
    // encoding-integrity screen: replacement chars + UTF-8-as-Latin-1
    // digraphs (injected ground truth, map-only)
    "text_mojibake"       -> q(TextAnalysis.textMojibake),
    // the same screen as a stateless ingest-time continuous query —
    // stream/batch equivalence pair #21 (same oracle)
    "stream_mojibake"     -> q(t => graft.streaming.Streaming.streamMojibake(t)),
    // the same heavy-hitters readout as a continuous keyed streaming
    // aggregation — stream/batch equivalence pair #20 (same oracle)
    "stream_heavy_hitters" -> q(t => graft.streaming.Streaming.streamHeavyHitters(t)),
    // the BOUNDED-state twin: per-shard Misra-Gries in a
    // transformWithState MapState + exact recount (same oracle)
    "stream_tws_heavy_hitters" -> q(t => graft.streaming.Streaming.streamTwsHeavyHitters(t)),
    "text_repetition"     -> q(TextAnalysis.textRepetition),
    "text_contamination"  -> q(t => TextAnalysis.textContamination(t)),
    // same operator, shuffled-join mode (gram set "too big" to
    // broadcast): same oracle proves mode equivalence
    "text_contamination_shuffled" ->
      q(t => TextAnalysis.textContamination(t, maxBroadcastGrams = 0L)),
    "text_contamination_fuzzy" -> q(t => TextAnalysis.textContaminationFuzzy(t)),
    "text_contamination_bloom" -> q(t => TextAnalysis.textContaminationBloom(t)),
    "corpus_filter_funnel" -> q(t => TextAnalysis.corpusFilterFunnel(t)),
    "corpus_zipf"         -> q(t => TextAnalysis.corpusZipf(t)),
    "corpus_doc_embedding" -> q(t => TextAnalysis.corpusDocEmbedding(t)),
    "doc_ann_topk"        -> q(t => Search.docAnnTopK(t)),
    "search_hybrid_rrf"   -> q(t => Search.searchHybridRrf(t)),
    "corpus_source_profile" -> q(TextAnalysis.corpusSourceProfile),
    "events_funnel_timing" -> q(EventAnalytics.eventsFunnelTiming),
    "events_ab_test"      -> q(EventAnalytics.eventsAbTest),
    // the experiment monitored SEQUENTIALLY: cumulative daily z with
    // an O'Brien–Fleming-style guard band against peeking
    "events_sequential_ab" -> q(EventAnalytics.eventsSequentialAb),
    // the monitor maintained continuously (its natural home) — #45
    "stream_sequential_ab" -> q(t => graft.streaming.Streaming.streamSequentialAb(t)),
    // deterministic POISSON bootstrap: integer md5 weights, exact
    // order-statistic CI bounds, map-side-combined replicate grid
    "events_bootstrap_ci" -> q(t => EventAnalytics.eventsBootstrapCi(t)),
    "events_srm"          -> q(t => EventAnalytics.eventsSrm(t)),
    "events_audience_overlap" -> q(t => EventAnalytics.eventsAudienceOverlap(t)),
    "events_ooo_audit"    -> q(t => EventAnalytics.eventsOooAudit(t)),
    "q_fk_discovery"      -> q(t => Relational.qFkDiscovery(t)),
    "events_did"          -> q(t => EventAnalytics.eventsDid(t)),
    "stream_srm"          -> q(t => graft.streaming.Streaming.streamSrm(t)),
    "stream_did"          -> q(t => graft.streaming.Streaming.streamDid(t)),
    "events_cuped"        -> q(t => EventAnalytics.eventsCuped(t)),
    "events_pagerank"     -> q(t => EventAnalytics.eventsPagerank(t)),
    // personalized PageRank from the hub seed — proximity ranking,
    // same integer-exact iterative discipline (oracle replays rounds)
    "events_ppr"          -> q(t => EventAnalytics.eventsPpr(t)),
    "events_hits"         -> q(t => EventAnalytics.eventsHits(t)),
    "events_triangles"    -> q(t => EventAnalytics.eventsTriangles(t)),
    "events_kcore"        -> q(t => EventAnalytics.eventsKcore(t)),
    "events_assortativity" -> q(t => EventAnalytics.eventsAssortativity(t)),
    "events_bot_detect"   -> q(EventAnalytics.eventsBotDetect),
    // the same screen as a continuous query off the staged feed;
    // shares the batch oracle — stream/batch equivalence pair #16
    "stream_bot_detect"   -> q(t => graft.streaming.Streaming.streamBotDetect(t)),
    "events_gini"         -> q(EventAnalytics.eventsGini),
    "events_communities"  -> q(t => EventAnalytics.eventsCommunities(t)),
    "events_reach"        -> q(t => EventAnalytics.eventsReach(t)),
    "events_survival"     -> q(EventAnalytics.eventsSurvival),
    // per-user extent state + the shared KM stage; shares the batch
    // oracle — stream/batch equivalence pair #18
    "stream_survival"     -> q(t => graft.streaming.Streaming.streamSurvival(t)),
    "events_changepoint"  -> q(EventAnalytics.eventsChangepoint),
    "events_seasonality_strength" -> q(EventAnalytics.eventsSeasonalityStrength),
    // daily-volume autocorrelation at lags 1..7 — finds periodicity
    // without assuming a period (exact-int Pearson terms, §6 class 4)
    "events_acf"          -> q(t => EventAnalytics.eventsAcf(t)),
    // Holt level+trend smoothing per type (floor-division integer
    // fold, negative-safe; oracle replays via recursive CTE)
    "events_holt_forecast" -> q(EventAnalytics.eventsHoltForecast),
    // the forecaster maintained continuously over the event stream —
    // stream/batch equivalence pair #23 (same oracle)
    "stream_holt_forecast" -> q(t => graft.streaming.Streaming.streamHoltForecast(t)),
    // triple exponential smoothing: the weekly cycle as LEARNED state
    "events_holt_winters" -> q(EventAnalytics.eventsHoltWinters),
    // the seasonal forecaster maintained continuously — stream/batch
    // equivalence pair #33 (same oracle)
    "stream_holt_winters" -> q(t => graft.streaming.Streaming.streamHoltWinters(t)),
    // the same monitor as a continuous query off the hourly streaming
    // state; shares the batch oracle — equivalence pair #17
    "stream_changepoint"  -> q(t => graft.streaming.Streaming.streamChangepoint(t)),
    "events_funnel_by_variant" -> q(EventAnalytics.eventsFunnelByVariant),
    "events_neighbor_jaccard" -> q(t => EventAnalytics.eventsNeighborJaccard(t)),
    "events_clustering_coeff" -> q(t => EventAnalytics.eventsClusteringCoeff(t)),
    // multi-source frontier BFS (hop distance to nearest seed item);
    // recursive-CTE oracle with min-dist semantics
    "events_shortest_paths" -> q(t => EventAnalytics.eventsShortestPaths(t)),
    // WEIGHTED min-cost paths over the same significance-floored
    // graph: integer support-derived costs, bounded Bellman-Ford
    // rounds (budget/min-cost), recursive-CTE min-dist oracle
    "events_weighted_paths" -> q(t => EventAnalytics.eventsWeightedPaths(t)),
    "events_markov_stationary" -> q(t => EventAnalytics.eventsMarkovStationary(t)),
    // one-number behavior-predictability KPI off the same chain
    // (quantized-log integer accumulation, §6 ratios)
    "events_markov_entropy_rate" -> q(t => EventAnalytics.eventsMarkovEntropyRate(t)),
    // DAU / trailing-30d MAU habit board (§6 ratio of exact counts)
    "events_stickiness"   -> q(EventAnalytics.eventsStickiness),
    "events_value_percentiles" -> q(EventAnalytics.eventsValuePercentiles),
    "events_new_vs_returning" -> q(EventAnalytics.eventsNewVsReturning),
    "corpus_stats"        -> q(TextAnalysis.corpusStats),
    // tripwire for the oracle-side 4096-shingle-series convention:
    // fails loudly (named) the day a document outgrows it
    "corpus_len_guard"    -> q(TextAnalysis.corpusLenGuard),
    "corpus_split"        -> q(TextAnalysis.corpusSplit),
    "corpus_sample_stratified" -> q(TextAnalysis.corpusSampleStratified),
    "corpus_length_histogram"  -> q(TextAnalysis.corpusLengthHistogram),
    "text_novelty"        -> q(TextAnalysis.textNovelty),
    "corpus_token_shards" -> q(t => TextAnalysis.corpusTokenShards(t)),
    "text_bpe_tokens"     -> q(TextAnalysis.textBpeTokens),
    "text_fertility_by_lang" -> q(TextAnalysis.textFertilityByLang),
    "text_bpe_train"      -> q(t => TextAnalysis.textBpeTrain(t)),
    "text_bpe_train_loop" -> q(t => TextAnalysis.textBpeTrainLoop(t)),
    "text_heaps_law"      -> q(t => TextAnalysis.textHeapsLaw(t)),
    "stream_bpe_train"    -> q(t => graft.streaming.Streaming.streamBpeTrain(t)),
    "corpus_weighted_sample" -> q(t => TextAnalysis.corpusWeightedSample(t)),
    // shard layout priced in SUBWORD tokens (what training actually
    // packs), reusing the recursive prefix-sum machinery
    "corpus_bpe_shards"   -> q(t => TextAnalysis.corpusTokenShards(t,
      tokenCount = TextAnalysis.bpeTokenCount)),
    "corpus_pack"         -> q(t => TextAnalysis.corpusPackSequences(t)),
    "corpus_mixture"      -> q(t => TextAnalysis.corpusMixture(t)),
    "text_tfidf"          -> q(t => TextAnalysis.textTfidf(t)),
    "text_perplexity"     -> q(TextAnalysis.textPerplexity),
    "text_surprisal"      -> q(TextAnalysis.textSurprisal),
    "text_bm25_search"    -> q(t => Search.textBm25Search(t)),
    "corpus_curriculum"   -> q(t => TextAnalysis.corpusCurriculum(t)),
    "text_lang_confusion" -> q(TextAnalysis.textLangConfusion),
    "corpus_pii_scrub"    -> q(TextAnalysis.corpusPiiScrub),
    "text_watermark_detect" -> q(TextAnalysis.textWatermarkDetect),
    // multinomial Naive Bayes over injected class markers: the model
    // table (micro-nat fixed point, exact int64 reductions) ...
    "text_nb_train"       -> q(t => TextAnalysis.textNbTrain(t)),
    // ... its held-out confusion matrix ...
    "text_nb_eval"        -> q(t => TextAnalysis.textNbEval(t)),
    // ... and the model serving over the held-out doc stream —
    // stream/batch equivalence pair #26 (same oracle)
    "stream_nb_classify"  -> q(t => graft.streaming.Streaming.streamNbClassify(t)),
    // §2.2 event analytics
    "events_funnel"       -> q(EventAnalytics.eventsFunnel),
    "events_funnel_windowed" -> q(t => EventAnalytics.eventsFunnelWindowed(t)),
    "events_retention"    -> q(EventAnalytics.eventsRetention),
    "events_anomaly"      -> q(t => EventAnalytics.eventsAnomaly(t)),
    "events_transitions"  -> q(EventAnalytics.eventsTransitions),
    "events_path_mining"  -> q(t => EventAnalytics.eventsPathMining(t)),
    "events_active_users" -> q(EventAnalytics.eventsActiveUsers),
    "events_attribution"  -> q(EventAnalytics.eventsAttribution),
    "events_gap_report"   -> q(EventAnalytics.eventsGapReport),
    "events_seasonal_profile" -> q(EventAnalytics.eventsSeasonalProfile),
    "events_rfm"          -> q(EventAnalytics.eventsRfm),
    "events_ltv_cohort"   -> q(t => EventAnalytics.eventsLtvCohort(t)),
    "events_session_stats" -> q(EventAnalytics.eventsSessionStats),
    "events_attribution_linear" -> q(t => EventAnalytics.eventsAttributionLinear(t)),
    "events_forecast_eval" -> q(EventAnalytics.eventsForecastEval),
    "events_burst_windows" -> q(t => EventAnalytics.eventsBurstWindows(t)),
    "stream_burst"        -> q(t => graft.streaming.Streaming.streamBurst(t)),
    "corpus_split_leakage" -> q(TextAnalysis.corpusSplitLeakage),
    "stream_topk"         -> q(t => graft.streaming.Streaming.streamTopK(t)),
    "stream_ann_serve"    -> q(t => graft.streaming.Streaming.streamAnnServe(t)),
    "stream_index_append" -> q(t => graft.streaming.Streaming.streamIndexAppend(t)),
    "ann_index_compaction" -> q(t => Similarity.annIndexCompaction(t)),
    "events_recommend_cooccur" -> q(t => EventAnalytics.eventsRecommendCooccur(t)),
    "events_basket_lift"  -> q(t => EventAnalytics.eventsBasketLift(t)),
    "corpus_snapshot_diff" -> q(TextAnalysis.corpusSnapshotDiff),
    // §2.3 deduplication
    "dedup_exact"         -> q(Dedup.dedupExact),
    "dedup_url_canonicalize" -> q(Dedup.dedupUrlCanonicalize),
    "dedup_ngram_jaccard" -> q(Dedup.dedupNgramJaccard),
    "dedup_minhash_lsh"   -> q(Dedup.dedupMinhashLsh),
    "dedup_simhash"       -> q(Dedup.dedupSimhash),
    "dedup_embedding"     -> q(t => Dedup.dedupEmbedding(t)),
    "dedup_clusters"      -> q(t => Dedup.dedupClusters(t)),
    "dedup_survivorship"  -> q(t => Dedup.dedupSurvivorship(t)),
    "dedup_clusters_incremental" -> q(t => Dedup.dedupClustersIncremental(t)),
    "dedup_incremental"   -> q(t => Dedup.dedupIncremental(t)),
    "dedup_incremental_table" -> q(t => Dedup.dedupIncrementalTable(t)),
    "dedup_passage"       -> q(t => Dedup.dedupPassage(t)),
    "dedup_spans"         -> q(t => Dedup.dedupSpans(t)),
    "dedup_spans_scrub"   -> q(t => Dedup.dedupSpansScrub(t)),
    "dedup_minhash_eval"  -> q(Dedup.dedupMinhashEval),
    "dedup_containment"   -> q(t => Dedup.dedupContainment(t)),
    "dedup_minhash_tuning" -> q(Dedup.dedupMinhashTuning),
    "corpus_dedup_weights"-> q(Dedup.corpusDedupWeights),
    // source-pair n-gram Jaccard matrix: the corpus-level
    // contamination diagnostic (hash-keyed, fan-out ≤ #sources)
    "corpus_source_overlap" -> q(t => Dedup.corpusSourceOverlap(t)),
    // §2.4 similarity search (all oracle-checked: LSH/IVF indexes are
    // deterministic, so their semantics replay exactly in DuckDB)
    "ann_bruteforce_topk" -> q(Similarity.annBruteForceTopK),
    // same semantics through the native bounded top-k AGGREGATE
    // (TypedImperativeAggregate → ObjectHashAggregate, ≤ k pairs per
    // (task, query) cross the exchange); shares the window form's
    // oracle verbatim — plan differs, result must not
    "ann_topk_agg"        -> q(Similarity.annTopKAgg),
    "ann_graph_topk"      -> q(t => Similarity.annGraphTopK(t)),
    "ann_graph_recall_eval" -> q(t => Similarity.annGraphRecallEval(t)),
    "ann_nndescent_build" -> q(t => Similarity.annNnDescentBuild(t)),
    "ann_nndescent_incremental" -> q(t => Similarity.annNnDescentIncremental(t)),
    "ann_quantized_topk"  -> q(Similarity.annQuantizedTopK),
    "ann_refine_topk"     -> q(t => Similarity.annRefineTopK(t)),
    "ann_hamming_topk"    -> q(t => Similarity.annHammingTopK(t)),
    "ann_hamming_recall"  -> q(Similarity.annHammingRecall),
    "ann_lsh_topk"        -> q(t => Similarity.annLshTopK(t)),
    // Lv et al. multi-probe: query-side bucket expansion, ×(nBits+1)
    // candidates for Hamming-1 recall — corpus side untouched
    "ann_lsh_multiprobe_topk" -> q(t => Similarity.annLshMultiprobeTopK(t)),
    // radius contract: ALL neighbors with cos >= tau, size data-driven
    "ann_range_search"    -> q(t => Similarity.annRangeSearch(t)),
    "ann_ivf_topk"        -> q(t => Similarity.annIvfTopK(t)),
    "ann_pq_topk"         -> q(t => Similarity.annPqTopK(t)),
    "ann_pq_refine_topk"  -> q(t => Similarity.annPqRefineTopK(t)),
    "ann_ivf_pq_topk"     -> q(t => Similarity.annIvfPqTopK(t)),
    "ann_index_incremental" -> q(t => Similarity.annIndexIncremental(t)),
    "ann_index_delete"    -> q(t => Similarity.annIndexDelete(t)),
    "ann_index_drift"     -> q(t => Similarity.annIndexDrift(t)),
    "ann_filtered_topk"   -> q(t => Similarity.annFilteredTopK(t)),
    "embed_matryoshka_eval" -> q(t => Similarity.embedMatryoshkaEval(t)),
    "embed_pca_topk"      -> q(t => Similarity.embedPcaTopK(t)),
    "embed_whiten"        -> q(t => Similarity.embedWhiten(t)),
    "embed_centroids"     -> q(t => Similarity.embedCentroids(t)),
    "embed_semdedup"      -> q(t => Similarity.embedSemdedup(t)),
    "embed_drift_psi"     -> q(t => Similarity.embedDriftPsi(t)),
    "embed_semdedup_incremental" -> q(t => Similarity.embedSemdedupIncremental(t)),
    "embed_kmeans"        -> q(t => Similarity.embedKmeans(t)),
    "ann_ivf_kmeans_topk" -> q(t => Similarity.annIvfKmeansTopK(t)),
    "ann_recall_eval"     -> q(t => Similarity.annRecallEval(t)),
    "ann_pq_recall_eval"  -> q(t => Similarity.annPqRecallEval(t)),
    "ann_pq_tuning"       -> q(t => Similarity.annPqTuning(t)),
    "embed_outliers"      -> q(t => Similarity.embedOutliers(t)),
    "embed_pca_power"     -> q(t => Similarity.embedPcaPower(t)),
    "ann_ivf_table"       -> q(t => Similarity.annIvfTableTopK(t)),
    // the IVF inverted-list read through the ENGINE'S OWN connector:
    // cell-clustered gshard index, probe isin pushes into zone-map
    // FILE pruning (files=k/n plan-pinned); shares the kmeans oracle
    "ann_ivf_shard_topk"  -> q(t => Similarity.annIvfShardTopK(t)),
    "embed_quantize"      -> q(Similarity.embedQuantize),
    "embed_project"       -> q(t => Similarity.embedProject(t)),
    "ann_hard_negatives"  -> q(t => Similarity.annHardNegatives(t)),
    "embed_dim_stats"     -> q(Similarity.embedDimStats),
    // one-row anisotropy screen: ||mean vec||^2 / E||x||^2 over
    // 1e4-quantized elements — exact integer sums, three §6 ratios
    "embed_isotropy"      -> q(Similarity.embedIsotropy),
    "embed_knn_graph"     -> q(t => Similarity.embedKnnGraph(t)),
    // k-occurrence hub/anti-hub histogram over the stored kNN graph
    "embed_hubness"       -> q(t => Similarity.embedHubness(t)),
    "embed_mutual_knn_clusters" -> q(t => Similarity.embedMutualKnnClusters(t)),
    // §2.1 pipeline core over real data
    "pipeline_ingest"     -> q(graft.pipeline.PipelineOps.pipelineIngest),
    // §2.7 structured streaming
    "stream_window_agg"   -> q(graft.streaming.Streaming.streamWindowAgg),
    "stream_dedup"        -> q(graft.streaming.Streaming.streamDedup),
    "stream_static_join"  -> q(graft.streaming.Streaming.streamStaticJoin),
    "stream_sessionize"   -> q(graft.streaming.Streaming.streamSessionize),
    // the same semantics on Spark 4's NEW arbitrary-state API
    // (transformWithState + RocksDB store) — equivalence pair #28
    "stream_tws_sessionize" -> q(t => graft.streaming.Streaming.streamTwsSessionize(t)),
    "stream_session_window" -> q(t => graft.streaming.Streaming.streamSessionWindow(t)),
    // the native merging-window sessionizer on the BATCH axis —
    // driver-checks pair #13 from both ends, shared oracle
    "q_session_window_batch" -> q(t => graft.streaming.Streaming.qSessionWindowBatch(t)),
    "stream_stream_join"  -> q(graft.streaming.Streaming.streamStreamJoin),
    // OUTER stream-stream join: null rows emitted by watermark proof
    "stream_stream_left_join" -> q(t => graft.streaming.Streaming.streamStreamLeftJoin(t)),
    // FULL-outer stream-stream join: BOTH sides' null rows, the
    // mirrored watermark proof (completes the join surface)
    "stream_stream_full_join" -> q(t => graft.streaming.Streaming.streamStreamFullJoin(t)),
    // right outer — the last symmetric variant: unmatched views emit
    // null-padded once the watermark closes their 1-hour click window
    "stream_stream_right_join" -> q(t => graft.streaming.Streaming.streamStreamRightJoin(t)),
    // bounded-state exactly-once dedup over an at-least-once replay
    "stream_dedup_watermarked" -> q(t => graft.streaming.Streaming.streamDedupWatermarked(t)),
    "stream_funnel"       -> q(graft.streaming.Streaming.streamFunnel),
    // the funnel on the NEW state API (transformWithState + RocksDB),
    // second API-generation equivalence pair (#29)
    "stream_tws_funnel"   -> q(t => graft.streaming.Streaming.streamTwsFunnel(t)),
    "stream_anomaly"      -> q(graft.streaming.Streaming.streamAnomaly),
    "stream_latest"       -> q(graft.streaming.Streaming.streamLatest),
    "stream_upsert_latest" -> q(graft.streaming.Streaming.streamUpsertLatest),
    "stream_scd2_merge"   -> q(t => graft.streaming.Streaming.streamScd2Merge(t)),
    "stream_multi_source" -> q(graft.streaming.Streaming.streamMultiSource),
    // §2.6 multimodal columns (decode stubbed, plumbing real)
    "mm_decode_meta"      -> q(Multimodal.mmDecodeMeta),
    "mm_frame_sample"     -> q(Multimodal.mmFrameSample),
    "mm_resize_plan"      -> q(t => Multimodal.mmResizePlan(t)),
    // vision-token cost plan from header metadata alone (map-only)
    "mm_token_budget"     -> q(t => Multimodal.mmTokenBudget(t)),
    "mm_caption_pairs"    -> q(t => Multimodal.mmCaptionPairs(t)),
    "mm_audio_meta"       -> q(Multimodal.mmAudioMeta),
    "mm_audio_vad"        -> q(t => Multimodal.mmAudioVad(t)),
    // SDXL-style aspect-ratio bucket assignment, integer cross-mult
    "mm_aspect_buckets"   -> q(Multimodal.mmAspectBuckets),
    // Whisper-style overlapped chunk plan from header durations
    // (ms-scale windows: the synthetic payloads are sub-second)
    "mm_audio_chunk_plan" -> q(t =>
      Multimodal.mmAudioChunkPlan(t, winUs = 20000L, overlapUs = 5000L)),
    "mm_phash_pairs"      -> q(t => Multimodal.mmPhashPairs(t)),
    "mm_integrity_audit"  -> q(Multimodal.mmIntegrityAudit),
    // stateless map-only screen per arriving payload; shares the
    // batch oracle — stream/batch equivalence pair #19
    "stream_integrity_audit" -> q(t => graft.streaming.Streaming.streamIntegrityAudit(t)),
    "mm_video_meta"       -> q(Multimodal.mmVideoMeta),
    "mm_modality_router"  -> q(Multimodal.mmModalityRouter),
    "mm_frame_dedup"      -> q(t => Multimodal.mmFrameDedup(t)),
    "mm_video_scene_cut"  -> q(t => Multimodal.mmVideoSceneCut(t)),
    "stream_modality_router" -> q(graft.streaming.Streaming.streamModalityRouter),
    "stream_frame_dedup"  -> q(t => graft.streaming.Streaming.streamFrameDedup(t)),
    "stream_pii_scrub"    -> q(graft.streaming.Streaming.streamPiiScrub),
    "stream_watermark_detect" -> q(graft.streaming.Streaming.streamWatermarkDetect),
    // composite: the flagship corpus-cleaning pipeline
    "corpus_clean"        -> q(CorpusClean.corpusClean),
    "corpus_pipeline"     -> q(t => CorpusClean.corpusPipeline(t)),
    // §5 scale techniques ("q_approx_stats" is rows-only: sketches are
    // engine-specific; ScaleSpec bounds them against exact answers)
    "q_salted_agg"        -> q(Scale.qSaltedAgg),
    "q_salted_join"       -> q(Scale.qSaltedJoin),
    "q_range_join_banded" -> q(t => Scale.qRangeJoinBanded(t)),
    "q_interval_overlap"  -> q(t => Scale.qIntervalOverlap(t)),
    "q_interval_overlap_auto" -> q(Scale.qIntervalOverlapAuto),
    "q_abs_band_auto"     -> q(t => Scale.qAbsBandAuto(t)),
    "q_skyline"           -> q(t => Scale.qSkyline(t)),
    "q_upsert_latest"     -> q(Scale.qUpsertLatest),
    "q_scd2_history"      -> q(Scale.qScd2History),
    "q_scd2_merge"        -> q(t => Scale.qScd2Merge(t)),
    "q_dim_time_travel"   -> q(t => Scale.qDimTimeTravel(t)),
    // row-level CDF between committed versions (the Delta
    // readChangeData shape); spec proves v0 + feed reconstructs head
    "q_merge_cdf"         -> q(t => Scale.qMergeCdf(t)),
    "q_join_view_maintenance" -> q(t => Scale.qJoinViewMaintenance(t)),
    "q_point_in_time_join" -> q(Scale.qPointInTimeJoin),
    "q_skew_histogram"    -> q(Scale.qSkewHistogram),
    "q_approx_stats"      -> q(Scale.qApproxStats),
    // approx twins of exact reports — the forms runnable at 100 TB;
    // rows-only (sketches are engine-specific), error bounded in spec
    "q_table_stats_approx" -> q(t => Relational.qTableStatsApprox(t)),
    "events_value_percentiles_approx" ->
      q(t => EventAnalytics.eventsValuePercentilesApprox(t)),
    // …and their VALUE GATES: error-budget verdicts the oracle asserts
    // as literal "ok" — the rows-only trio is gate-visible on value
    "q_approx_stats_bounded" -> q(t => Scale.qApproxStatsBounded(t)),
    "q_table_stats_approx_bounded" ->
      q(t => Relational.qTableStatsApproxBounded(t)),
    "events_value_percentiles_approx_bounded" ->
      q(t => EventAnalytics.eventsValuePercentilesApproxBounded(t)),
    "q_delete_propagation" -> q(t => Governance.deletePropagation(t)),
    "q_data_masking"      -> q(t => Governance.qDataMasking(t)),
    // ε-DP composition release via the integer-exact discrete-Laplace
    // (two-sided geometric) mechanism — no ln, no float, no rounding
    "corpus_dp_release"   -> q(t => Governance.corpusDpRelease(t)),
    // the same mechanism as a continuous privacy monitor (one keyed
    // streaming count + map-only noise readout) — equivalence pair #25
    "stream_dp_release"   -> q(t => graft.streaming.Streaming.streamDpRelease(t)),
    // §2.8 sources/sinks: write → read-back → aggregate, oracled
    // against the original table (catches sink/source corruption)
    "q_source_roundtrip"  -> q(graft.sources.SourceOps.sourceRoundtrip),
    // PERMISSIVE CSV ingest with corrupt-record quarantine, checked
    // against planted malformed rows (generator-vs-parser)
    "q_csv_malformed_audit" -> q(graft.sources.SourceOps.qCsvMalformedAudit),
    "q_bucketed_roundtrip" -> q(graft.sources.SourceOps.bucketedRoundtrip),
    "q_json_orc_roundtrip" -> q(graft.sources.SourceOps.jsonOrcRoundtrip),
    "q_zorder_roundtrip"  -> q(t => graft.sources.SourceOps.zOrderRoundtrip(t)),
    "q_bloom_file_skip"   -> q(t => graft.sources.SourceOps.qBloomFileSkip(t)),
    // a selective scan through the engine's own DataSource-V2
    // connector: manifest schema, zone-map file skipping, byte-level
    // column pruning — the whole read contract hash-gated end to end
    "q_shard_scan"        -> q(t => graft.sources.SourceOps.qShardScan(t)),
    // the connector's WRITE half: Spark plans the range exchange from
    // the write's RequiresDistributionAndOrdering contract, tasks
    // commit disjoint zone-mapped shards, manifest publishes last
    "q_shard_write_roundtrip" -> q(t => graft.sources.SourceOps.qShardWriteRoundtrip(t)),
    // append-fragmented table -> connector-roundtrip compaction (the
    // OPTIMIZE shape); spec pins file-count drop + restored disjointness
    "q_shard_compact"     -> q(t => graft.sources.SourceOps.qShardCompact(t)),
    // metadata-only COUNT/MIN/MAX answered from the manifest (B25),
    // hash-checked against the raw table — the manifest tells the truth
    "q_shard_stats"       -> q(t => graft.sources.SourceOps.qShardStats(t)),
    // STRING zone maps: base64 bounds in the manifest, unsigned-byte
    // pruning on a tag predicate, plan-pinned files=k/n (v2 format)
    "q_shard_scan_string" -> q(t => graft.sources.SourceOps.qShardScanString(t)),
    // double-predicate twin over the v4 double zone maps: metric
    // columns get file skipping too (plan-pinned files=k/n)
    "q_shard_scan_double" -> q(t => graft.sources.SourceOps.qShardScanDouble(t)),
    // metadata-only SUM off the manifest's exact per-file sums
    "q_shard_sum" -> q(t => graft.sources.SourceOps.qShardSum(t)),
    // ALTER TABLE ADD COLUMN with zero data rewrite: old files read
    // the new column as NULL (their header column count rules)
    "q_shard_schema_evolution" ->
      q(t => graft.sources.SourceOps.qShardSchemaEvolution(t)),
    // NULL bitmaps end to end: DSv2 write with nulls in string+long
    // columns, vectorized read-back, count(*) vs count(col) vs sum
    "q_shard_null_roundtrip" -> q(t => graft.sources.SourceOps.qShardNullRoundtrip(t)),
    // the TableCatalog path from pure SQL: CTAS into the catalog,
    // catalog-qualified SELECT back out (B23), oracle = raw events
    "q_catalog_sql_roundtrip" -> q(t => graft.sources.SourceOps.qCatalogSqlRoundtrip(t)),
    // VECTOR columns in the flagship connector: embeddings CTAS'd
    // into the catalog, every ELEMENT hash-checked against raw
    // parquet (float→double widening is exact)
    "q_shard_embed_roundtrip" ->
      q(t => graft.sources.SourceOps.qShardEmbedRoundtrip(t)),
    // STRING-LIST columns: the tokenized corpus CTAS'd into the
    // catalog, per-doc token count / chars / order-sensitive md5
    // fingerprint hash-checked against a raw-parquet recount
    "q_shard_tokens_roundtrip" ->
      q(t => graft.sources.SourceOps.qShardTokensRoundtrip(t)),
    // TOKEN-ID lists (array<int>, the post-BPE currency): ids ride
    // the FOR-bitpacked long codec; per-doc count / sum /
    // order-sensitive fingerprint against a DuckDB recompute
    "q_shard_token_ids_roundtrip" ->
      q(t => graft.sources.SourceOps.qShardTokenIdsRoundtrip(t)),
    // row-level MERGE (upsert) riding the manifest txn machinery:
    // matched keys replace, unmatched insert, untouched files stay
    // physically untouched; replay-idempotent
    "q_shard_merge" -> q(t => graft.sources.SourceOps.qShardMerge(t)),
    // the same MERGE keyed on a STRING natural key: touched files
    // bounded by the lexicographic string zone maps
    "q_shard_merge_string" ->
      q(t => graft.sources.SourceOps.qShardMergeString(t)),
    // generational VERSION AS OF reads (archive-on-publish); vacuum
    // retention spec'd in ShardMergeSpec
    "q_shard_time_travel" ->
      q(t => graft.sources.SourceOps.qShardTimeTravel(t)),
    // the same merge through PURE SQL MERGE INTO (group-based
    // copy-on-write rewrite); shares q_shard_merge's oracle — the
    // API path and the SQL path must land the identical table
    "q_shard_sql_merge" -> q(t => graft.sources.SourceOps.qShardSqlMerge(t)),
    // MERGE with WHEN NOT MATCHED BY SOURCE: the snapshot-apply shape
    // (update + insert + delete/zero by absence in one statement)
    "q_shard_sql_merge_full" ->
      q(t => graft.sources.SourceOps.qShardSqlMergeFull(t)),
    // DROP + RENAME COLUMN evolution, zero data rewrite: head reads
    // the new shape across pre/post-drop files, VERSION AS OF the old
    "q_shard_schema_drop" ->
      q(t => graft.sources.SourceOps.qShardSchemaDrop(t)),
    // pure SQL UPDATE via the rewrite: idempotent redaction
    "q_shard_sql_update" -> q(t => graft.sources.SourceOps.qShardSqlUpdate(t)),
    // change data between two retained generations (readChangeData
    // from time travel): insert/update/delete classification
    "q_shard_generation_diff" ->
      q(t => graft.sources.SourceOps.qShardGenerationDiff(t)),
    // the WIDENED type surface (v3): timestamp/date/int/boolean CTAS
    // through the catalog, read by path and by name, micros zone pruning
    "q_shard_types_roundtrip" -> q(t => graft.sources.SourceOps.qShardTypesRoundtrip(t)),
    // TYPED metadata-only stats: min/max of timestamp/date/int answer
    // from the manifest zone maps, zero files read (plan-pinned)
    "q_shard_stats_typed" -> q(t => graft.sources.SourceOps.qShardStatsTyped(t)),
    // TOP-N pushdown: ORDER BY range-col LIMIT k plans only the files
    // at the sorted end (manifest-proven order; plan-pinned)
    "q_shard_topn" -> q(t => graft.sources.SourceOps.qShardTopn(t)),
    // the connector as a streaming sink (foreachBatch append per
    // micro-batch) — stream/batch equivalence pair #24
    "stream_shard_sink"   -> q(t => graft.streaming.Streaming.streamShardSink(t)),
    // ... and as a streaming SOURCE (MicroBatchStream over the
    // append-ordered manifest, admission-controlled) — pair #27
    "stream_shard_source" -> q(t => graft.streaming.Streaming.streamShardSource(t)),
    // the gshard change feed as a STREAM (offsets = generations),
    // classified per batch; shares the batch diff's oracle
    "stream_shard_cdc" -> q(t => graft.streaming.Streaming.streamShardCdc(t)),
    // the row-grain change feed (commit-written change files): same
    // oracle as the file-grain feed and the batch diff
    "stream_shard_cdc_rows" ->
      q(t => graft.streaming.Streaming.streamShardCdcRows(t)),
    "q_schema_evolution"  -> q(graft.sources.SourceOps.schemaEvolution),
    "corpus_shards_roundtrip" -> q(graft.sources.SourceOps.corpusShardsRoundtrip),
    "q_dpp"               -> q(graft.sources.SourceOps.qDpp),
    "er_blocked_pairs"    -> q(Governance.erBlockedPairs),
    "er_review_queue"     -> q(Governance.erReviewQueue),
    // SymSpell deletion-neighborhood fuzzy join (lev<=1), oracle
    // scores ALL pairs so any blocking hole fails the hash gate
    "er_fuzzy_pairs"      -> q(Governance.erFuzzyPairs),
    "er_blocking_eval"    -> q(Governance.erBlockingEval),
    "er_resolve_clusters" -> q(t => Governance.erResolveClusters(t)),
    "er_resolve_incremental" -> q(Governance.erResolveIncremental),
    "q_compaction"        -> q(t => graft.sources.SourceOps.qCompaction(t)),
    "q_incremental_rollup" -> q(t => graft.sources.SourceOps.incrementalRollup(t)),
  )

  /** Shared stored-state builders — the scheduled build jobs a
    * production deployment runs separately from serving. Bench times
    * each as its own entry (`_build_*` sorts ahead of every query) so
    * construction cost lands here, never on whichever consumer query
    * happens to run first alphabetically: the PQ index (three serving
    * queries share it), the frozen history index (the incremental /
    * compaction / drift lifecycle family), and the stored near-dup
    * cluster state (band index + CC labels that
    * `dedup_clusters_incremental` merges against). Each is staged once
    * (`SourceOps.staged`, or `ShardFormat.ensureStaged` for gshard
    * tables), so consumers pay lookups only. */
  def stateBuilds: Map[String, (SparkSession, String) => Unit] = {
    def build(f: Tables => Any): (SparkSession, String) => Unit =
      (s, dir) => { f(Tables(s, dir)); () }
    Map(
      "_build_band_pairs" -> build(Dedup.minhashPairs),
      "_build_pq_index" -> build(Similarity.pqIndex),
      "_build_history_index" -> build(Similarity.historyIndex),
      "_build_cc_state" -> build(Dedup.historyClusterState(_, 400)),
      "_build_scd2_state" -> build(Scale.scd2State(_, 25)),
      "_build_pca_cov" -> build(Similarity.covMatrix(_, 64)),
      "_build_er_pairs" -> build(Governance.erPairs),
      "_build_er_state" -> build(Governance.erState),
      "_build_scd2_cdc" ->
        build(graft.streaming.Streaming.stageScd2IncrementDaily(_, 25)),
      "_build_knn_graph" -> build(Similarity.knnGraphEdges(_, 8)),
      "_build_bloom_file_index" ->
        build(graft.sources.SourceOps.bloomFileIndex),
      "_build_join_view" -> build(Scale.joinViewState),
      "_build_shard_table" -> build(graft.sources.SourceOps.shardTable),
      "_build_shard_embed" ->
        build(graft.sources.SourceOps.shardEmbeddings),
      "_build_shard_ivf" -> build(Similarity.shardIvfDir(_)),
    )
  }

  /** DuckDB fragment: normalized word tokens of `text` (kept in exact
    * sync with [[graft.operators.TextAnalysis.tokens]]). */
  private val sqlToks =
    "list_filter(string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' '), x -> len(x)>0)"

  /** One SCD2 snapshot rebuilt from raw events as a CTE chain under
    * prefix `p` (daily argmax status → gaps-and-islands runs →
    * chained dimension `{p}dim`) — shared by the `q_dim_time_travel`
    * and `q_merge_cdf` oracles, which diff a truncated chain (the
    * stored v0) against the full one (the merged head). */
  private def scd2ChainSql(p: String, where: String): String =
    s"""${p}e AS (SELECT user_id,
       |  (CAST(ts AS DATE) - DATE '2024-01-01') AS day, event_type,
       |  epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events$where),
       |${p}d AS (SELECT user_id, day, event_type AS status FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id, day
       |    ORDER BY us DESC, event_id DESC) AS rn FROM ${p}e) WHERE rn = 1),
       |${p}i AS (SELECT *, CASE WHEN lag(status) OVER
       |   (PARTITION BY user_id ORDER BY day) IS DISTINCT FROM status
       |  THEN 1 ELSE 0 END AS chg FROM ${p}d),
       |${p}s AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY day
       |  ROWS UNBOUNDED PRECEDING) AS island FROM ${p}i),
       |${p}r AS (SELECT user_id, island, status, min(day) AS valid_from,
       |  CAST(count(*) AS BIGINT) AS n_days_observed FROM ${p}s GROUP BY 1, 2, 3),
       |${p}dim AS (SELECT user_id, status,
       |  CAST(valid_from AS INTEGER) AS valid_from,
       |  CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS INTEGER) AS valid_to,
       |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL AS is_current,
       |  n_days_observed FROM ${p}r)""".stripMargin

  /** Gaps-and-islands sessionization oracle shared by the legacy
    * flatMapGroupsWithState operator and its transformWithState twin
    * (equivalence pair #28). */
  private lazy val statefulSessionizeSql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      | l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM e),
      | s AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
      | t AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM s)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
      | round(sum(value),2) AS sum_value
      |FROM t GROUP BY 1,2""".stripMargin

  /** Raw-events rollup shared by the connector's streaming SINK and
    * SOURCE twins (pairs #24/#27). */
  private lazy val shardRollupSql: String =
    """WITH e AS (SELECT user_id, event_type,
      |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      | CAST(sum(cents) AS BIGINT) AS value_cents
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** Discrete-Laplace DP release oracle — shared verbatim by the
    * batch release and the streaming monitor (pair #25). */
  private lazy val dpReleaseSql: String = {
    val h48 = "(SELECT CAST(sum((strpos('0123456789abcdef', " +
      "substr(md5('dp:' || source || ':' || lang), i, 1)) - 1) * " +
      "CAST(power(16, 12 - i) AS BIGINT)) AS BIGINT) " +
      "FROM generate_series(1, 12) AS t(i))"
    s"""WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2),
       |h AS (SELECT source, lang, n, $h48 AS h48 FROM c)
       |SELECT source, lang,
       | greatest(n + (bit_count(xor(h48 % 16777216, h48 % 16777216 + 1)) - 1)
       |            - (bit_count(xor(h48 // 16777216, h48 // 16777216 + 1)) - 1),
       |   CAST(0 AS BIGINT)) AS n_released
       |FROM h ORDER BY 1, 2""".stripMargin
  }

  /** Shared Naive-Bayes CTE chain (marker injection, 80/20 split,
    * smoothed vocab × class model in integer micro-nats) — kept in
    * exact sync with [[graft.operators.TextAnalysis.nbModel]]; the
    * train, eval, and streaming-twin oracles all build on it. */
  private lazy val nbModelSql: String =
    s"""inj AS (SELECT doc_id, lang, text || repeat(' mk' || lang,
      |   (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1) % 3) AS text
      |  FROM documents),
      |tr AS (SELECT * FROM inj WHERE doc_id % 10 < 8),
      |tok AS (SELECT lang, unnest($sqlToks) AS word FROM tr),
      |cnts AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
      |vocab AS (SELECT DISTINCT word FROM cnts),
      |vs AS (SELECT CAST(count(*) AS BIGINT) AS v_size FROM vocab),
      |tots AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot FROM cnts GROUP BY 1),
      |model AS (SELECT t.lang, v.word, COALESCE(c.cnt, 0) AS cnt,
      |  ${graft.functions.ExactAgg.quantizeSql(
           "ln(CAST(COALESCE(c.cnt, 0) + 1 AS DOUBLE) / CAST(t.tot + vs.v_size AS DOUBLE))", 6)} AS logp_micro
      | FROM vocab v CROSS JOIN tots t CROSS JOIN vs
      | LEFT JOIN cnts c ON c.lang = t.lang AND c.word = v.word)""".stripMargin

  /** Held-out classification + confusion rollup over [[nbModelSql]] —
    * shared verbatim by `text_nb_eval` and `stream_nb_classify`
    * (equivalence pair #26). */
  private lazy val nbEvalSql: String =
    s"""WITH $nbModelSql,
      |ev AS (SELECT * FROM inj WHERE doc_id % 10 >= 8),
      |etok AS (SELECT doc_id, lang AS lang_true, unnest($sqlToks) AS word FROM ev),
      |sc AS (SELECT e.doc_id, e.lang_true, m.lang,
      |  CAST(sum(m.logp_micro) AS BIGINT) AS ll
      | FROM etok e JOIN model m ON m.word = e.word GROUP BY 1, 2, 3),
      |pri AS (SELECT d.lang, ${graft.functions.ExactAgg.quantizeSql(
           "ln(CAST(d.n_docs AS DOUBLE) / CAST(n.n_train AS DOUBLE))", 6)} AS prior_micro
      | FROM (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM tr GROUP BY 1) d
      | CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_train FROM tr) n),
      |ranked AS (SELECT doc_id, lang_true, sc.lang,
      |  row_number() OVER (PARTITION BY doc_id
      |    ORDER BY (ll + prior_micro) DESC, sc.lang ASC) AS rn
      | FROM sc JOIN pri ON pri.lang = sc.lang)
      |SELECT lang_true, lang AS lang_pred, CAST(count(*) AS BIGINT) AS n_docs
      |FROM ranked WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** DuckDB oracle shared by the batch and streaming Holt
    * forecasters: spine + per-type recursive integer fold. */
  private lazy val holtForecastSql: String =
      """WITH RECURSIVE dd AS (SELECT event_type AS et,
        |  CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day FROM events),
        |sp AS (SELECT min(day) AS dlo, max(day) AS dhi FROM dd),
        |ds AS (SELECT unnest(generate_series(dlo, dhi)) AS day FROM sp),
        |ty AS (SELECT DISTINCT et FROM dd),
        |cnt AS (SELECT t.et, d.day, CAST(coalesce(c.x, 0) AS BIGINT) AS x
        |  FROM ty t JOIN ds d ON true
        |  LEFT JOIN (SELECT et, day, count(*) AS x FROM dd GROUP BY 1, 2) c
        |    ON c.et = t.et AND c.day = d.day),
        |idx AS (SELECT et, x,
        |  CAST(row_number() OVER (PARTITION BY et ORDER BY day) AS BIGINT) AS rn
        | FROM cnt),
        |nn AS (SELECT et, max(rn) AS t FROM idx GROUP BY 1),
        |h AS (
        |  SELECT a.et, CAST(1 AS BIGINT) AS rn,
        |    CAST(a.x * 1000000 AS BIGINT) AS l,
        |    CAST(coalesce(b.x - a.x, 0) * 1000000 AS BIGINT) AS b,
        |    CAST(0 AS BIGINT) AS err
        |  FROM idx a LEFT JOIN idx b ON b.et = a.et AND b.rn = 2
        |  WHERE a.rn = 1
        |  UNION ALL
        |  SELECT i.et, h.rn + 1,
        |    CAST((2 * i.x * 1000000 + 8 * (h.l + h.b)) // 10 AS BIGINT),
        |    CAST((((2 * i.x * 1000000 + 8 * (h.l + h.b)) // 10) - h.l + 9 * h.b) // 10 AS BIGINT),
        |    CAST(h.err + abs(i.x * 1000000 - (h.l + h.b)) AS BIGINT)
        |  FROM h JOIN idx i ON i.et = h.et AND i.rn = h.rn + 1)
        |SELECT h.et AS event_type, nn.t AS n_days, h.l AS level_micro,
        | h.b AS trend_micro, h.l + h.b AS forecast_micro,
        | CASE WHEN nn.t > 1 THEN h.err // (nn.t - 1) ELSE 0 END AS mae_micro
        |FROM h JOIN nn ON nn.et = h.et AND h.rn = nn.t""".stripMargin

  /** DuckDB oracle shared by the batch and streaming Holt-Winters
    * forecasters (equivalence pair #33): the Holt spine + a recursive
    * integer fold carrying the 7-slot seasonal ring as columns
    * (s1 = the component applying to the NEXT step; each step shifts
    * the ring left and appends the freshly smoothed component). */
  private lazy val holtWintersSql: String = {
    // l′ appears in three update terms; splice the expression once
    val lNew = "(2 * (i.x * 1000000 - h.s1) + 8 * (h.l + h.b)) // 10"
    s"""WITH RECURSIVE dd AS (SELECT event_type AS et,
      |  CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day FROM events),
      |sp AS (SELECT min(day) AS dlo, max(day) AS dhi FROM dd),
      |ds AS (SELECT unnest(generate_series(dlo, dhi)) AS day FROM sp),
      |ty AS (SELECT DISTINCT et FROM dd),
      |cnt AS (SELECT t.et, d.day, CAST(coalesce(c.x, 0) AS BIGINT) AS x
      |  FROM ty t JOIN ds d ON true
      |  LEFT JOIN (SELECT et, day, count(*) AS x FROM dd GROUP BY 1, 2) c
      |    ON c.et = t.et AND c.day = d.day),
      |idx AS (SELECT et, x,
      |  CAST(row_number() OVER (PARTITION BY et ORDER BY day) AS BIGINT) AS rn
      | FROM cnt),
      |nn AS (SELECT et, max(rn) AS t FROM idx GROUP BY 1),
      |h AS (
      |  SELECT a.et, CAST(1 AS BIGINT) AS rn,
      |    CAST(a.x * 1000000 AS BIGINT) AS l,
      |    CAST(coalesce(b.x - a.x, 0) * 1000000 AS BIGINT) AS b,
      |    CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2,
      |    CAST(0 AS BIGINT) AS s3, CAST(0 AS BIGINT) AS s4,
      |    CAST(0 AS BIGINT) AS s5, CAST(0 AS BIGINT) AS s6,
      |    CAST(0 AS BIGINT) AS s7,
      |    CAST(0 AS BIGINT) AS err
      |  FROM idx a LEFT JOIN idx b ON b.et = a.et AND b.rn = 2
      |  WHERE a.rn = 1
      |  UNION ALL
      |  SELECT i.et, h.rn + 1,
      |    CAST($lNew AS BIGINT),
      |    CAST((($lNew) - h.l + 9 * h.b) // 10 AS BIGINT),
      |    h.s2, h.s3, h.s4, h.s5, h.s6, h.s7,
      |    CAST((i.x * 1000000 - ($lNew) + 9 * h.s1) // 10 AS BIGINT),
      |    CAST(h.err + abs(i.x * 1000000 - (h.l + h.b + h.s1)) AS BIGINT)
      |  FROM h JOIN idx i ON i.et = h.et AND i.rn = h.rn + 1)
      |SELECT h.et AS event_type, nn.t AS n_days, h.l AS level_micro,
      | h.b AS trend_micro, h.s1 AS season_next_micro,
      | h.l + h.b + h.s1 AS forecast_micro,
      | CASE WHEN nn.t > 1 THEN h.err // (nn.t - 1) ELSE 0 END AS mae_micro
      |FROM h JOIN nn ON nn.et = h.et AND h.rn = nn.t""".stripMargin
  }

  /** DuckDB oracle shared by the batch and streaming epoch planners:
    * sqrt-quantized temperature quota → capped epochs, all-integer
    * DIV chains over the per-source token rollup. */
  private lazy val epochPlanSql: String =
    s"""WITH ps AS (SELECT source,
      |  CAST(sum(len($sqlToks)) AS BIGINT) AS n_tokens FROM documents GROUP BY 1),
      |qq AS (SELECT *,
      |  CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS q,
      |  CAST(((strpos('0123456789abcdef', substr(md5(source),1,1))-1) % 4 + 1) * 1000 AS BIGINT) AS cap_milli
      | FROM ps WHERE n_tokens > 0),
      |tot AS (SELECT sum(CAST(q AS HUGEINT)) AS qs,
      |  sum(n_tokens) AS tot_tokens FROM qq),
      |pl AS (SELECT source, n_tokens, cap_milli,
      |  CAST((CAST(2 AS HUGEINT) * tot_tokens * q) // qs AS BIGINT) AS quota_tokens
      | FROM qq, tot),
      |ep AS (SELECT *,
      |  least(cap_milli, quota_tokens * 1000 // n_tokens) AS epochs_milli FROM pl)
      |SELECT source, n_tokens, cap_milli, quota_tokens, epochs_milli,
      |  n_tokens * epochs_milli // 1000 AS planned_tokens,
      |  quota_tokens - n_tokens * epochs_milli // 1000 AS unplaced_tokens
      |FROM ep""".stripMargin

  /** DuckDB oracle shared by the batch and the stateless-ingest
    * streaming mojibake screens — injection + the three per-row
    * counts replayed. */
  private val mojibakeSql: String =
    """WITH h AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |n AS (SELECT doc_id, text,
      |  (strpos('0123456789abcdef', substr(h,4,1))-1) AS n4,
      |  (strpos('0123456789abcdef', substr(h,5,1))-1) AS n5
      | FROM h),
      |d AS (SELECT doc_id, text
      |  || CASE WHEN n4 % 8 = 0 THEN ' cafÃ© â€™' || repeat('�', CAST(n5 % 3 + 1 AS INT))
      |     ELSE '' END AS dirty
      | FROM n),
      |s AS (SELECT doc_id,
      |  CAST(len(dirty) - len(replace(dirty, '�', '')) AS BIGINT) AS n_replacement,
      |  CAST(len(regexp_extract_all(dirty, 'Ã©|â€™')) AS BIGINT) AS n_mojibake,
      |  CAST(len(dirty) - len(regexp_replace(dirty, '[^\x00-\x7f]', '', 'g')) AS BIGINT) AS na,
      |  CAST(len(dirty) AS BIGINT) AS ln FROM d)
      |SELECT doc_id, n_replacement, n_mojibake,
      |  na * 1000000 // ln AS non_ascii_ppm,
      |  (n_replacement > 0 OR n_mojibake >= 2) AS is_corrupt
      |FROM s""".stripMargin

  /** DuckDB oracle shared by the batch (sketch→verify) and streaming
    * (keyed state) heavy-hitters paths — the plain unbounded
    * GROUP BY/HAVING both must reproduce exactly. */
  private val heavyHittersSql: String =
    s"""WITH tok AS (SELECT unnest($sqlToks) AS token FROM documents),
      |t AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1)
      |SELECT token, cnt FROM t
      |WHERE cnt * 40 >= (SELECT count(*) FROM tok)""".stripMargin

  /** DuckDB oracle shared by the batch and streaming per-type trend
    * regressions (equivalence pair #32). */
  private val olsTrendSql: String =
    """WITH d AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |   count(*) AS n FROM events GROUP BY 1, 2),
      |b AS (SELECT event_type, CAST(n AS DOUBLE) AS y,
      |  CAST(day - min(day) OVER (PARTITION BY event_type) AS DOUBLE) AS x FROM d)
      |SELECT event_type, count(*) AS n_days,
      | round(regr_slope(y, x) + 1e-9, 4) AS slope,
      | round(regr_intercept(y, x) + 1e-9, 4) AS intercept,
      | round(regr_r2(y, x) + 1e-9, 4) AS r2
      |FROM b GROUP BY 1""".stripMargin

  /** DuckDB oracle shared by the batch and streaming week-over-week
    * reports (equivalence pair #34). */
  private val wowSql: String =
    """WITH w AS (SELECT event_type,
      |   CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
      |   count(*) AS n FROM events GROUP BY 1, 2),
      |l AS (SELECT *, lag(n) OVER (PARTITION BY event_type
      |  ORDER BY week) AS prev_n FROM w)
      |SELECT event_type, CAST(week AS TIMESTAMP) AS week,
      | CAST(n AS BIGINT) AS n, CAST(prev_n AS BIGINT) AS prev_n,
      | CAST(n - prev_n AS BIGINT) AS delta,
      | CAST(CASE WHEN prev_n > 0
      |   THEN ((n - prev_n) * 1000000) // prev_n END AS BIGINT) AS change_ppm
      |FROM l""".stripMargin

  /** DuckDB oracle shared by the batch and streaming Benford audits
    * (equivalence pair #31). */
  /** Shared by `events_peak_concurrency` and its streaming twin: the
    * endpoint sweep with starts-before-ends at shared instants
    * (peak(t) = cum(<t) + starts(t)); earliest peak instant reports. */
  private val peakConcurrencySql: String =
    """WITH iv AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |   user_id,
      |   min(epoch_us(CAST(ts AS TIMESTAMP))) AS s,
      |   max(epoch_us(CAST(ts AS TIMESTAMP))) AS e
      | FROM events GROUP BY 1, 2),
      |ep AS (SELECT day, ts,
      |  CAST(sum(st) AS BIGINT) AS st, CAST(sum(en) AS BIGINT) AS en
      | FROM (SELECT day, s AS ts, 1 AS st, 0 AS en FROM iv
      |       UNION ALL SELECT day, e AS ts, 0 AS st, 1 AS en FROM iv)
      | GROUP BY 1, 2),
      |c AS (SELECT day, ts, st,
      |  CAST(coalesce(sum(st - en) OVER (PARTITION BY day ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS cum_before
      | FROM ep),
      |k AS (SELECT day, ts, cum_before + st AS conc FROM c),
      |p AS (SELECT day, max(conc) AS peak FROM k GROUP BY 1)
      |SELECT CAST(k.day AS TIMESTAMP) AS day, p.peak,
      | min(k.ts) AS at_us
      |FROM k JOIN p ON k.day = p.day AND k.conc = p.peak
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** Shared by `events_rate_ci` and its streaming twin: Wilson 95 %
    * bounds on per-type user reach (one correctly-rounded sqrt; z²
    * as the parsed literal on both engines; 6-dp rounding). */
  private val rateCiSql: String =
    """WITH u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n
      |  FROM events),
      |r AS (SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS k FROM events
      | GROUP BY 1),
      |s AS (SELECT event_type, k, n, k * 1.0 / n AS p,
      |  (k * 1.0 / n + 3.8416 / (2 * n)) / (1 + 3.8416 / n) AS center,
      |  1.96 * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
      |    + 3.8416 / (4.0 * n * n)) / (1 + 3.8416 / n) AS half
      | FROM r, u)
      |SELECT event_type, k AS n_users_reached, n AS n_users,
      | round(p + 1e-9, 6) AS rate,
      | round(center - half + 1e-9, 6) AS ci_lo,
      | round(center + half + 1e-9, 6) AS ci_hi
      |FROM s ORDER BY 1""".stripMargin

  /** Shared by `events_welch_ttest` and its streaming twin (pair
    * #41): Welch's t over exact integer cents moments per md5
    * variant — the SAME double expression tree as the Spark side
    * (operand order pinned; one correctly-rounded sqrt; 4/2-dp
    * rounding with the 1e-9 nudge). */
  private val welchTtestSql: String =
    """WITH u AS (SELECT user_id,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
      | FROM events GROUP BY 1),
      |v AS (SELECT *,
      |  CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
      |   THEN 'A' ELSE 'B' END AS variant FROM u),
      |m AS (SELECT
      |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN variant = 'A' THEN x ELSE 0 END) AS BIGINT) AS sx_a,
      |  CAST(sum(CASE WHEN variant = 'A' THEN x * x ELSE 0 END) AS BIGINT) AS sxx_a,
      |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |  CAST(sum(CASE WHEN variant = 'B' THEN x ELSE 0 END) AS BIGINT) AS sx_b,
      |  CAST(sum(CASE WHEN variant = 'B' THEN x * x ELSE 0 END) AS BIGINT) AS sxx_b
      | FROM v),
      |s AS (SELECT *,
      |  CAST(sx_a AS DOUBLE) / nullif(n_a, 0) AS mean_a_raw,
      |  CAST(sx_b AS DOUBLE) / nullif(n_b, 0) AS mean_b_raw FROM m),
      |w AS (SELECT *,
      |  (CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * mean_a_raw)
      |    / nullif(n_a - 1, 0) AS var_a,
      |  (CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * mean_b_raw)
      |    / nullif(n_b - 1, 0) AS var_b FROM s),
      |z AS (SELECT *, var_a / n_a AS qa, var_b / n_b AS qb FROM w)
      |SELECT n_a, n_b,
      | round(mean_a_raw + 1e-9, 4) AS mean_a,
      | round(mean_b_raw + 1e-9, 4) AS mean_b,
      | round((mean_b_raw - mean_a_raw) / nullif(sqrt(qa + qb), 0) + 1e-9, 4)
      |   AS t_stat,
      | round((qa + qb) * (qa + qb)
      |   / nullif(qa * qa / (n_a - 1) + qb * qb / (n_b - 1), 0) + 1e-9, 2)
      |   AS df
      |FROM z""".stripMargin

  /** Shared by `events_bootstrap_ci` and its streaming twin (pair
    * #44): the deterministic Poisson bootstrap — identical md5
    * integer weights, truncating millicent means, (m, b) rank order
    * statistics. */
  private val bootstrapCiSql: String =
      """WITH u AS (SELECT user_id,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
        | FROM events GROUP BY 1),
        |reps AS (SELECT unnest(generate_series(0, 199)) AS b),
        |g AS (SELECT u.user_id, u.x, reps.b,
        |  CAST(concat('0x', substr(md5(concat(u.user_id, ':', reps.b)), 1, 5))
        |    AS BIGINT) AS h
        | FROM u, reps),
        |w AS (SELECT b, x,
        |  CASE WHEN h < 385749 THEN 0 WHEN h < 771499 THEN 1
        |   WHEN h < 964373 THEN 2 WHEN h < 1028665 THEN 3
        |   WHEN h < 1044738 THEN 4 WHEN h < 1047952 THEN 5
        |   ELSE 6 END AS w FROM g),
        |m AS (SELECT b,
        |  CAST((sum(w * x) * 1000) // nullif(sum(w), 0) AS BIGINT) AS m
        | FROM w GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY m, b) AS rn
        | FROM m WHERE m IS NOT NULL),
        |base AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST((sum(x) * 1000) // count(*) AS BIGINT) AS mean_mcents FROM u)
        |SELECT base.n_users, CAST(200 AS BIGINT) AS n_reps,
        | base.mean_mcents, lo.m AS lo_mcents, hi.m AS hi_mcents
        |FROM base, (SELECT m FROM r WHERE rn = 5) lo,
        | (SELECT m FROM r WHERE rn = 196) hi""".stripMargin

  /** Shared by `events_theilsen` and its streaming twin (pair #43):
    * truncating integer ppm slopes over the daily series, lower
    * median by rank (both engines' integer division truncates toward
    * zero). */
  private val theilSenSql: String =
      """WITH daily AS (SELECT event_type,
        |  CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |    - DATE '2024-01-01' AS BIGINT) AS d,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |  ((b.c - a.c) * 1000000) // (b.d - a.d) AS slope_ppm
        | FROM daily a JOIN daily b
        |   ON a.event_type = b.event_type AND a.d < b.d),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY event_type ORDER BY slope_ppm)
        |    AS rn,
        |  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
        | FROM p),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        | FROM daily GROUP BY 1)
        |SELECT r.event_type, n.n_days, r.m AS n_pairs,
        | CAST(r.slope_ppm AS BIGINT) AS slope_ppm
        |FROM r JOIN n ON n.event_type = r.event_type
        |WHERE rn = (m + 1) // 2 ORDER BY 1""".stripMargin

  /** Shared by `events_sequential_ab` and its streaming twin (pair
    * #45): cumulative daily panel counts, the ab_test z tree per
    * day, the |z| ≥ 2.797 guard band. */
  private val seqAbSql: String =
      """WITH p AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |  max(CASE WHEN event_type = 'purchase' AND value > 180
        |   THEN 1 ELSE 0 END) AS conv
        | FROM events GROUP BY 1, 2),
        |v AS (SELECT *,
        |  CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |   THEN 'A' ELSE 'B' END AS variant FROM p),
        |d AS (SELECT day,
        |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ea,
        |  CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS eb,
        |  CAST(sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT) AS cb
        | FROM v GROUP BY 1),
        |c AS (SELECT day,
        |  CAST(sum(ea) OVER w AS BIGINT) AS n_a,
        |  CAST(sum(ca) OVER w AS BIGINT) AS conv_a,
        |  CAST(sum(eb) OVER w AS BIGINT) AS n_b,
        |  CAST(sum(cb) OVER w AS BIGINT) AS conv_b
        | FROM d WINDOW w AS (ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |z AS (SELECT *,
        |  (conv_b / CAST(nullif(n_b, 0) AS DOUBLE)
        |    - conv_a / CAST(nullif(n_a, 0) AS DOUBLE))
        |  / nullif(sqrt(((conv_a + conv_b) / CAST(nullif(n_a + n_b, 0) AS DOUBLE))
        |    * (1.0 - (conv_a + conv_b) / CAST(nullif(n_a + n_b, 0) AS DOUBLE))
        |    * (1.0 / CAST(nullif(n_a, 0) AS DOUBLE)
        |      + 1.0 / CAST(nullif(n_b, 0) AS DOUBLE))), 0.0) AS z_raw
        | FROM c)
        |SELECT CAST(day AS TIMESTAMP) AS day, n_a, conv_a, n_b, conv_b,
        | round(z_raw + 1e-9, 4) AS z,
        | coalesce(abs(z_raw) >= 2.797, false) AS crossed
        |FROM z ORDER BY 1""".stripMargin

  /** Shared by `q_shard_merge` (the ShardOps.upsert API path) and
    * `q_shard_sql_merge` (pure SQL MERGE INTO through the row-level
    * rewrite): MERGE replayed as late ∪ (early ∖ late-keys). */
  /** Shared by `q_shard_generation_diff` and `stream_shard_cdc`
    * (equivalence pair: the batch time-travel diff and the streamed
    * change feed must land identical change rows). */
  private val shardGenDiffSql: String =
    """WITH e AS (SELECT user_id,
        |  (CAST(ts AS DATE) - DATE '2024-01-01') AS day,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |t AS (SELECT max(day) // 2 AS thr FROM e),
        |early AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS c
        | FROM e, t WHERE day < thr GROUP BY 1),
        |late AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS c
        | FROM e, t WHERE day >= thr GROUP BY 1)
        |SELECT l.user_id,
        | CASE WHEN eu.user_id IS NULL THEN 'insert'
        |      WHEN eu.n <> l.n OR eu.c <> l.c THEN 'update'
        |      ELSE 'unchanged' END AS change_type,
        | l.n AS n_events, l.c AS cents
        |FROM late l LEFT JOIN early eu ON eu.user_id = l.user_id
        |WHERE NOT (eu.user_id IS NOT NULL AND eu.n = l.n AND eu.c = l.c)
        |ORDER BY 1""".stripMargin

  private val shardMergeSql: String =
    """WITH e AS (SELECT user_id,
      |  (CAST(ts AS DATE) - DATE '2024-01-01') AS day,
      |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
      |t AS (SELECT max(day) // 2 AS thr FROM e),
      |early AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS cents
      | FROM e, t WHERE day < thr GROUP BY 1),
      |late AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS cents
      | FROM e, t WHERE day >= thr GROUP BY 1)
      |SELECT * FROM late
      |UNION ALL
      |SELECT * FROM early WHERE NOT EXISTS
      | (SELECT 1 FROM late WHERE late.user_id = early.user_id)
      |ORDER BY user_id""".stripMargin

  /** Shared by `events_chisq` and its streaming twin (pair #42):
    * chi-square independence — integer cells, per-row double trees,
    * the TOTAL summed in ×10⁴ integer units (order-independent). */
  private val chisqSql: String =
    """WITH v AS (SELECT event_type,
      |  CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
      |   THEN 'A' ELSE 'B' END AS variant FROM events),
      |c AS (SELECT event_type,
      |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      | FROM v GROUP BY 1),
      |w AS (SELECT *, CAST(sum(n_a) OVER () AS BIGINT) AS tot_a,
      |  CAST(sum(n_b) OVER () AS BIGINT) AS tot_b,
      |  CAST(count(*) OVER () AS BIGINT) AS k FROM c),
      |e AS (SELECT *,
      |  CAST((n_a + n_b) * tot_a AS DOUBLE) / (tot_a + tot_b) AS e_a,
      |  CAST((n_a + n_b) * tot_b AS DOUBLE) / (tot_a + tot_b) AS e_b
      | FROM w),
      |x AS (SELECT *,
      |  CAST(floor(((n_a - e_a) * (n_a - e_a) / nullif(e_a, 0)
      |    + (n_b - e_b) * (n_b - e_b) / nullif(e_b, 0)) * 10000.0 + 0.5)
      |    AS BIGINT) AS chi_x10k FROM e)
      |SELECT event_type, n_a, n_b, round(e_a + 1e-9, 4) AS exp_a,
      | chi_x10k, CAST(sum(chi_x10k) OVER () AS BIGINT) AS chi2_x10k,
      | k - 1 AS df
      |FROM x ORDER BY 1""".stripMargin

  /** Shared by `events_winsorized_mean` and its streaming twin:
    * grid-exact winsorization — p05/p95 order statistics via integer
    * cumulative counts, clamp folded over the grid, milli-cent mean. */
  private val winsorizeSql: String =
    """WITH g AS (SELECT event_type,
      |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |   CAST(count(*) AS BIGINT) AS cnt
      | FROM events GROUP BY 1, 2),
      |c AS (SELECT *,
      |  CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT) AS cum,
      |  CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      | FROM g),
      |b AS (SELECT event_type, max(n) AS n,
      |  min(CASE WHEN cum * 100 >= n * 5 THEN cents END) AS p05_cents,
      |  min(CASE WHEN cum * 100 >= n * 95 THEN cents END) AS p95_cents
      | FROM c GROUP BY 1)
      |SELECT g.event_type, CAST(max(b.n) AS BIGINT) AS n,
      | max(b.p05_cents) AS p05_cents, max(b.p95_cents) AS p95_cents,
      | CAST((sum(least(greatest(g.cents, b.p05_cents), b.p95_cents)
      |    * g.cnt) * 1000) // max(b.n) AS BIGINT) AS win_mean_millicents
      |FROM g JOIN b USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared by `events_type_entropy` and its streaming twin: per-user
    * Shannon entropy H = ln N − (Σ c ln c)/N at 4 dp. */
  private val entropySql: String =
    """WITH c AS (SELECT user_id, event_type, count(*) AS c
      | FROM events GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
      | CAST(count(*) AS BIGINT) AS n_types,
      | round(ln(sum(c)) - sum(c * ln(c)) / sum(c) + 1e-9, 4)
      |   AS entropy_nats
      |FROM c GROUP BY 1""".stripMargin

  /** Shared by `text_gopher_rules` and its stateless streaming twin:
    * the integer-exact Gopher rule ladder with the first-failed-rule
    * reject reason. */
  private lazy val gopherSql: String =
    s"""WITH t AS (SELECT doc_id, text, $sqlToks AS toks FROM documents),
      |m AS (SELECT doc_id,
      |  len(toks)::BIGINT AS n_words,
      |  coalesce(list_sum(list_transform(toks, x -> len(x))), 0)::BIGINT AS tok_chars,
      |  (length(text) - length(replace(text, '#', '')))::BIGINT AS n_hash,
      |  ((length(text) - length(replace(text, '...', ''))) // 3)::BIGINT AS n_ellipsis,
      |  len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::BIGINT AS alpha_words,
      |  len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x)))::BIGINT AS n_stop
      | FROM t),
      |r AS (SELECT *,
      |  (CASE WHEN n_words > 0 THEN (tok_chars * 100) // n_words ELSE 0 END)::BIGINT AS mean_len_x100,
      |  n_hash + n_ellipsis AS n_sym FROM m),
      |f AS (SELECT *,
      |  CASE WHEN n_words < 50 OR n_words > 100000 THEN 'word_count'
      |    WHEN mean_len_x100 < 300 OR mean_len_x100 > 1000 THEN 'mean_word_len'
      |    WHEN n_sym * 10 > n_words THEN 'symbol_ratio'
      |    WHEN alpha_words * 5 < n_words * 4 THEN 'alpha_ratio'
      |    WHEN n_stop < 2 THEN 'stopwords'
      |    ELSE 'pass' END AS fail_reason FROM r)
      |SELECT doc_id, n_words, mean_len_x100, n_sym, alpha_words, n_stop,
      | fail_reason = 'pass' AS passes, fail_reason
      |FROM f""".stripMargin

  /** Shared by `events_ks_test` and its streaming twin: the
    * two-sample KS distance over the exact cents grid, CDFs as prefix
    * sums, D in truncating integer ppm, argmax tie to smallest
    * value. */
  private val ksSql: String =
    """WITH e AS (SELECT event_type,
      |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events
      | WHERE event_type IN ('purchase', 'view')),
      |g AS (SELECT cents,
      |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS na,
      |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS nb
      | FROM e GROUP BY 1),
      |t AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
      |  CAST(sum(nb) AS BIGINT) AS n_b FROM g),
      |c AS (SELECT cents,
      |  CAST(sum(na) OVER (ORDER BY cents) AS BIGINT) AS ca,
      |  CAST(sum(nb) OVER (ORDER BY cents) AS BIGINT) AS cb
      | FROM g),
      |d AS (SELECT cents, abs((ca * 1000000) // n_a - (cb * 1000000) // n_b)
      |   AS d_ppm FROM c, t)
      |SELECT t.n_a, t.n_b, d.d_ppm, d.cents AS at_cents
      |FROM d, t ORDER BY d.d_ppm DESC, d.cents LIMIT 1""".stripMargin

  private val benfordSql: String =
    """WITH c AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      |   FROM lineitem),
      |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM c),
      |g AS (SELECT digit, count(*) AS n FROM d WHERE digit >= 1 GROUP BY 1),
      |t AS (SELECT sum(n) AS total FROM g),
      |e(digit, exp_ppm) AS (VALUES (1, 301030), (2, 176091), (3, 124939),
      |  (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757))
      |SELECT g.digit, g.n,
      | CAST(g.n * 1000000 // t.total AS BIGINT) AS obs_ppm,
      | CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
      | CAST(g.n * 1000000 // t.total - e.exp_ppm AS BIGINT) AS dev_ppm
      |FROM g, t, e WHERE g.digit = e.digit""".stripMargin

  /** DuckDB oracle shared by the batch and streaming weekly
    * growth-accounting decompositions (equivalence pair #30). */
  private val growthSql: String =
    """WITH wk AS (SELECT DISTINCT user_id,
      |   CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week FROM events),
      |sq AS (SELECT *,
      |  lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week,
      |  lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_week FROM wk),
      |act AS (SELECT week,
      |  sum(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END) AS n_new,
      |  sum(CASE WHEN week - prev_week = 7 THEN 1 ELSE 0 END) AS n_retained,
      |  sum(CASE WHEN prev_week IS NOT NULL AND week - prev_week > 7 THEN 1 ELSE 0 END) AS n_resurrected
      | FROM sq GROUP BY 1),
      |mx AS (SELECT max(week) AS max_week FROM wk),
      |ch AS (SELECT week + 7 AS week, count(*) AS n_churned FROM sq, mx
      |  WHERE (next_week IS NULL OR next_week - week > 7) AND week + 7 <= max_week
      |  GROUP BY 1)
      |SELECT CAST(week AS TIMESTAMP) AS week,
      | CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
      | CAST(COALESCE(n_retained, 0) AS BIGINT) AS n_retained,
      | CAST(COALESCE(n_resurrected, 0) AS BIGINT) AS n_resurrected,
      | CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned
      |FROM act FULL JOIN ch USING (week)""".stripMargin

  /** DuckDB oracle shared by the batch and streaming funnels. */
  private val funnelSql =
    """WITH e AS (SELECT user_id, event_type,
      |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |v AS (SELECT user_id, min(us) AS v_us FROM e WHERE event_type='view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(us) AS c_us FROM e JOIN v USING (user_id)
      |  WHERE event_type='click' AND us > v_us GROUP BY 1),
      |p AS (SELECT e.user_id, min(us) AS p_us FROM e JOIN c USING (user_id)
      |  WHERE event_type='purchase' AND us > c_us GROUP BY 1)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_click,
      |       (SELECT count(*) FROM p) AS n_purchase""".stripMargin

  /** DuckDB oracle shared by the batch and streaming volume-anomaly
    * monitors (the streaming rollup is batch-equivalent by design). */
  private val anomalySql =
    """WITH hc AS (
      | SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts, event_type,
      |  count(*) AS n_events
      | FROM events GROUP BY 1, 2),
      |st AS (
      | SELECT *, avg(n_events) OVER (PARTITION BY event_type) AS mu,
      |  stddev_pop(n_events) OVER (PARTITION BY event_type) AS sigma
      | FROM hc)
      |SELECT event_type, hour_ts, n_events,
      | round((n_events - mu) / sigma + 1e-9, 4) AS z_score
      |FROM st WHERE sigma > 0 AND abs(n_events - mu) > 2.0 * sigma""".stripMargin

  /** DuckDB oracle shared by the batch and streaming rate-burst
    * screens (the streamed hopping-window rollup is batch-equivalent
    * by design); replays the hop alignment explicitly. */
  private val burstSql =
    """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |x AS (SELECT user_id, us, (us // 300000000) * 300000000 AS b0 FROM e),
      |w AS (SELECT user_id, unnest([b0, b0 - 300000000]) AS ws FROM x),
      |c AS (SELECT user_id, ws, count(*) AS n_events FROM w GROUP BY 1, 2)
      |SELECT user_id,
      | strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS window_start,
      | n_events
      |FROM c WHERE n_events >= 2""".stripMargin

  /** The sampled-frame chain shared by `mm_frame_sample` (verbatim)
    * and `mm_frame_dedup` (grouped by digest). */
  private val mmFrameSampleSql =
    """WITH m AS (SELECT doc_id, text, md5(text) AS h FROM documents),
      |f AS (SELECT doc_id, text,
      |  CASE WHEN (16*(strpos('0123456789abcdef',substr(h,7,1))-1)+(strpos('0123456789abcdef',substr(h,8,1))-1)) % 3 = 2
      |   THEN 1 + (16*(strpos('0123456789abcdef',substr(h,9,1))-1)+(strpos('0123456789abcdef',substr(h,10,1))-1)) % 8
      |   ELSE 1 END AS n_frames
      | FROM m)
      |SELECT doc_id, i::INTEGER AS frame_idx, md5(text || ':' || i) AS frame_hash
      |FROM f, (SELECT unnest(generate_series(0,200)) AS i) g
      |WHERE i < n_frames AND i % 5 = 0""".stripMargin

  /** `events_pagerank` — the integer-unit PageRank unrolled: the same
    * capped item sets as the cooccur oracle, symmetric distinct
    * edges, then each round as one CTE of exact floor-division
    * arithmetic (`//` ≡ Spark's `DIV` on non-negative int64). */
  /** Shared forward-algorithm pass: (node, deg, n_triangles) per
    * graph node, composed by `events_triangles` and
    * `events_clustering_coeff` — replays the Spark side's identical
    * (degree, id) orientation and wedge order. */
  private val triangleStatsSql =
    """WITH i0 AS (SELECT DISTINCT user_id,
      |  CAST(json_extract_string(props,'$.k') AS INTEGER) AS item
      | FROM events WHERE event_type = 'purchase'),
      |i AS (SELECT user_id, item FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY md5(user_id || ':' || item), item) AS rk FROM i0)
      | WHERE rk <= 64),
      |e AS (SELECT DISTINCT a.item AS a, b.item AS b
      |  FROM i a JOIN i b ON a.user_id = b.user_id AND a.item < b.item),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |  SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) GROUP BY 1),
      |o AS (SELECT CASE WHEN da <= db THEN e.a ELSE e.b END AS u,
      |  CASE WHEN da <= db THEN e.b ELSE e.a END AS v,
      |  CASE WHEN da <= db THEN db ELSE da END AS dv
      | FROM e JOIN (SELECT node AS a, deg AS da FROM deg) USING (a)
      |  JOIN (SELECT node AS b, deg AS db FROM deg) USING (b)),
      |w AS (SELECT o1.u, o1.v AS x, o2.v AS y
      | FROM o o1 JOIN o o2 ON o1.u = o2.u
      | WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)),
      |tri AS (SELECT w.u, w.x, w.y FROM w
      | JOIN o e3 ON e3.u = w.x AND e3.v = w.y),
      |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT u AS node FROM tri UNION ALL SELECT x AS node FROM tri
      |  UNION ALL SELECT y AS node FROM tri) GROUP BY 1)
      |SELECT deg.node, deg.deg, COALESCE(pn.n, 0) AS n_triangles
      |FROM deg LEFT JOIN pn ON pn.node = deg.node""".stripMargin

  /** 50/50-design chi-square, shared by `events_srm` and the
    * streaming monitor `stream_srm` (equivalence pair #21). */
  private lazy val srmSql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |v AS (SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
      |   THEN 'A' ELSE 'B' END AS variant FROM u),
      |f AS (SELECT
      |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      | FROM v)
      |SELECT n_a, n_b,
      | round((n_a - n_b) * (n_a - n_b) / nullif(CAST(n_a + n_b AS DOUBLE), 0.0) + 1e-9, 4) AS chi2,
      | round((n_a - n_b) * (n_a - n_b) / nullif(CAST(n_a + n_b AS DOUBLE), 0.0) + 1e-9, 4) > 3.841 AS srm_detected
      |FROM f""".stripMargin

  /** Four ExactAgg cell means + the DiD combination, shared by
    * `events_did` and `stream_did` (equivalence pair #22). */
  private lazy val didSql: String = {
    def m(v: String, p: String) = graft.functions.ExactAgg.exactMeanSql(
      s"CASE WHEN variant = '$v' AND period = '$p' THEN value END", 4)
    def n(v: String, p: String) =
      s"CAST(sum(CASE WHEN variant = '$v' AND period = '$p' THEN 1 ELSE 0 END) AS BIGINT)"
    s"""WITH e AS (SELECT
       |  CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
       |   THEN 'A' ELSE 'B' END AS variant,
       |  CASE WHEN (CAST(ts AS DATE) - DATE '2024-01-01') < 15
       |   THEN 'pre' ELSE 'post' END AS period,
       |  value FROM events),
       |f AS (SELECT
       |  ${n("A", "pre")} AS n_a_pre, ${n("A", "post")} AS n_a_post,
       |  ${n("B", "pre")} AS n_b_pre, ${n("B", "post")} AS n_b_post,
       |  ${m("A", "pre")} AS mean_a_pre, ${m("A", "post")} AS mean_a_post,
       |  ${m("B", "pre")} AS mean_b_pre, ${m("B", "post")} AS mean_b_post
       | FROM e)
       |SELECT *, round((mean_b_post - mean_b_pre) - (mean_a_post - mean_a_pre) + 1e-9, 4) AS did
       |FROM f""".stripMargin
  }

  /** `q_scd2_history`'s full SCD2 build — also composed verbatim as
    * the dimension side of `q_point_in_time_join`'s oracle. */
  private val scd2Sql =
    """WITH e AS (SELECT user_id,
      |  (CAST(ts AS DATE) - DATE '2024-01-01') AS day, event_type,
      |  epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events),
      |d AS (SELECT user_id, day, event_type AS status FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, day
      |    ORDER BY us DESC, event_id DESC) AS rn FROM e) WHERE rn = 1),
      |i AS (SELECT *, CASE WHEN lag(status) OVER
      |   (PARTITION BY user_id ORDER BY day) IS DISTINCT FROM status
      |  THEN 1 ELSE 0 END AS chg FROM d),
      |s AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY day
      |  ROWS UNBOUNDED PRECEDING) AS island FROM i),
      |r AS (SELECT user_id, island, status, min(day) AS valid_from,
      |  CAST(count(*) AS BIGINT) AS n_days_observed FROM s GROUP BY 1, 2, 3)
      |SELECT user_id, status, CAST(valid_from AS INTEGER) AS valid_from,
      | CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
      |  AS INTEGER) AS valid_to,
      | lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
      |  IS NULL AS is_current,
      | n_days_observed
      |FROM r ORDER BY user_id, valid_from""".stripMargin

  /** Shared by `events_active_users` (batch) and `stream_active_users`
    * (the one-agg streaming fold) — stream/batch equivalence pair #15. */
  private val activeUsersSql =
    """WITH a AS (SELECT DISTINCT user_id,
      |  date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM a GROUP BY 1),
      |last AS (SELECT max(day) AS last_day FROM a),
      |w AS (SELECT user_id, unnest(generate_series(day,
      |  least(day + INTERVAL 6 DAY, last_day), INTERVAL 1 DAY)) AS day
      | FROM a, last),
      |wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM w GROUP BY 1)
      |SELECT wau.day, coalesce(dau.dau, 0) AS dau, wau.wau
      |FROM wau LEFT JOIN dau USING (day)""".stripMargin

  /** Shared by `q_upsert_latest` (batch MERGE) and
    * `stream_upsert_latest` (streaming CDC upsert) — the
    * latest-version-wins semantics both must reproduce. */
  private val upsertLatestSql =
    """WITH base AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  0 AS version FROM orders),
      |ch AS (SELECT o_orderkey, '1-URGENT' AS o_orderpriority,
      |  round(o_totalprice * 1.1 + 1e-9, 2) AS o_totalprice, 1 AS version
      | FROM orders WHERE o_orderkey % 10 = 0),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM ch),
      |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
      |  ORDER BY version DESC) AS rn FROM u)
      |SELECT o_orderkey, o_orderpriority, o_totalprice, version
      |FROM r WHERE rn = 1""".stripMargin

  /** Shared by `corpus_pii_scrub` (batch) and `stream_pii_scrub`
    * (map-only streaming twin): deterministic nibble-driven PII
    * injection replayed, then the identical regex audit + redaction —
    * `redacted_md5` makes the gate compare the post-redaction BYTES. */
  private val piiScrubSql =
    """WITH h AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |n AS (SELECT doc_id, text,
      |  (strpos('0123456789abcdef', substr(h,1,1))-1) AS n1,
      |  (strpos('0123456789abcdef', substr(h,2,1))-1) AS n2,
      |  (strpos('0123456789abcdef', substr(h,3,1))-1) AS n3,
      |  (strpos('0123456789abcdef', substr(h,4,1))-1) AS n4,
      |  (strpos('0123456789abcdef', substr(h,5,1))-1) AS n5,
      |  (strpos('0123456789abcdef', substr(h,6,1))-1) AS n6,
      |  (strpos('0123456789abcdef', substr(h,7,1))-1) AS n7
      | FROM h),
      |d AS (SELECT doc_id, text
      |  || CASE WHEN n1 % 4 = 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
      |  || CASE WHEN n2 % 4 = 0 THEN ' call 555-' || lpad(CAST(n3*67 % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(n4*419 % 10000 AS VARCHAR), 4, '0') ELSE '' END
      |  || CASE WHEN n5 % 4 = 0 THEN ' from 10.' || CAST(n6*17 % 256 AS VARCHAR) || '.' || CAST(n7*29 % 256 AS VARCHAR) || '.7' ELSE '' END AS dirty
      | FROM n),
      |r AS (SELECT doc_id, dirty,
      |  regexp_replace(regexp_replace(regexp_replace(dirty,
      |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
      |    '555-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
      |    '10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g') AS redacted
      | FROM d)
      |SELECT doc_id,
      | CAST(len(regexp_extract_all(dirty, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
      | CAST(len(regexp_extract_all(dirty, '555-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
      | CAST(len(regexp_extract_all(dirty, '10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
      | CAST(len(redacted) AS BIGINT) AS clean_len,
      | md5(redacted) AS redacted_md5
      |FROM r""".stripMargin

  /** Blocking-scheme eval: ALL-PAIRS scored once, schemes replayed as
    * filters — the oracle's truth is the unblocked match set, so the
    * Spark side's proven-complete union truth is re-checked here. */
  private val erBlockingEvalSql =
    """WITH p AS (SELECT p_partkey, p_name, p_type, p_brand, p_size FROM part),
      |sc AS (SELECT a.p_partkey AS k1, b.p_partkey AS k2,
      |  CAST(a.p_name = b.p_name AS INTEGER)
      |   + CAST(a.p_type = b.p_type AS INTEGER)
      |   + CAST(a.p_brand = b.p_brand AS INTEGER)
      |   + CAST(abs(a.p_size - b.p_size) <= 2 AS INTEGER) AS s,
      |  (a.p_name = b.p_name) AS bn,
      |  (a.p_type = b.p_type AND a.p_brand = b.p_brand) AS btb
      |  FROM p a JOIN p b ON a.p_partkey < b.p_partkey),
      |stats AS (
      | SELECT 'name' AS scheme,
      |   (SELECT count(*) FROM sc WHERE bn)::BIGINT AS n_candidates,
      |   (SELECT count(*) FROM sc WHERE bn AND s >= 3)::BIGINT AS n_found
      | UNION ALL SELECT 'type_brand',
      |   (SELECT count(*) FROM sc WHERE btb)::BIGINT,
      |   (SELECT count(*) FROM sc WHERE btb AND s >= 3)::BIGINT
      | UNION ALL SELECT 'union',
      |   (SELECT count(*) FROM sc WHERE bn OR btb)::BIGINT,
      |   (SELECT count(*) FROM sc WHERE (bn OR btb) AND s >= 3)::BIGINT),
      |n AS (SELECT count(*)::BIGINT AS np FROM p),
      |mt AS (SELECT count(*)::BIGINT AS m FROM sc WHERE s >= 3)
      |SELECT scheme, n_candidates, n_found, mt.m AS n_matches_total,
      | round(n_found * 1.0 / mt.m + 1e-9, 4) AS recall,
      | round(1.0 - n_candidates / (np * (np - 1) / 2.0) + 1e-9, 6) AS reduction_ratio
      |FROM stats, mt, n""".stripMargin

  /** `er_resolve_clusters`'s full re-resolve: ALL-PAIRS scoring +
    * recursive-CTE transitive closure + golden-record rollup — also
    * the oracle of `er_resolve_incremental` (merge == recompute). */
  private val erResolveSql =
    """WITH RECURSIVE m AS (
      | SELECT a.p_partkey AS k1, b.p_partkey AS k2
      | FROM part a JOIN part b ON a.p_partkey < b.p_partkey
      | WHERE CAST(a.p_name = b.p_name AS INTEGER)
      |    + CAST(a.p_type = b.p_type AS INTEGER)
      |    + CAST(a.p_brand = b.p_brand AS INTEGER)
      |    + CAST(abs(a.p_size - b.p_size) <= 2 AS INTEGER) >= 3),
      |edges AS (SELECT k1 AS a, k2 AS b FROM m UNION SELECT k2 AS a, k1 AS b FROM m),
      |reach(k, r) AS (
      |  SELECT p_partkey AS k, p_partkey AS r FROM part
      |  UNION
      |  SELECT e.a AS k, reach.r FROM edges e JOIN reach ON reach.k = e.b),
      |lab AS (SELECT k AS p_partkey, min(r) AS entity_id FROM reach GROUP BY 1),
      |ent AS (SELECT entity_id, count(*) AS n_members,
      |   min(p_size) AS size_min, max(p_size) AS size_max,
      |   round(min(p_retailprice), 2) AS price_min,
      |   round(max(p_retailprice), 2) AS price_max
      | FROM lab JOIN part USING (p_partkey) GROUP BY 1 HAVING count(*) >= 2)
      |SELECT ent.entity_id, ent.n_members, p.p_name AS canonical_name,
      | p.p_brand AS canonical_brand, ent.size_min, ent.size_max,
      | ent.price_min, ent.price_max
      |FROM ent JOIN part p ON p.p_partkey = ent.entity_id""".stripMargin

  /** `text_watermark_detect` — the injection gate, bigram green test
    * and one-proportion z replayed; the tail constant is shared with
    * the Spark side so both engines scrub the identical dirty text. */
  private lazy val watermarkSql = {
    val tail = graft.operators.TextAnalysis.watermarkTail
    s"""WITH base AS (SELECT doc_id, text,
      |  (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),8,1))-1) AS nw
      | FROM documents),
      |d AS (SELECT doc_id,
      |  CASE WHEN nw % 8 = 0 THEN text || ' $tail' ELSE text END AS text FROM base),
      |t AS (SELECT doc_id, $sqlToks AS toks FROM d),
      |bg AS (SELECT doc_id, array_to_string(toks[i:i+1],' ') AS bigram
      |  FROM t, (SELECT unnest(generate_series(1,4096)) AS i) g WHERE i <= len(toks)-1),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(CASE WHEN (strpos('0123456789abcdef', substr(md5(bigram),1,1))-1) < 8
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_green
      | FROM bg GROUP BY 1)
      |SELECT b.doc_id, coalesce(a.n_pairs, 0) AS n_pairs,
      | coalesce(a.n_green, 0) AS n_green,
      | CASE WHEN coalesce(a.n_pairs, 0) > 0
      |  THEN round((2.0*a.n_green - a.n_pairs)/sqrt(CAST(a.n_pairs AS DOUBLE)) + 1e-9, 4)
      |  ELSE 0.0 END AS z_green,
      | CASE WHEN coalesce(a.n_pairs, 0) > 0
      |  THEN round((2.0*a.n_green - a.n_pairs)/sqrt(CAST(a.n_pairs AS DOUBLE)) + 1e-9, 4)
      |  ELSE 0.0 END >= 2.0 AS flagged
      |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  /** HITS on the user→item bipartite graph: the same unrolled
    * integer-iteration discipline as the PageRank oracle — every sum
    * CAST back to BIGINT (DuckDB promotes sum(BIGINT) to HUGEINT,
    * which would fail the typed hash). */
  private lazy val eventsHitsSql: String =
    s"""WITH i0 AS (SELECT DISTINCT user_id,
       |  CAST(json_extract_string(props,'$$.k') AS INTEGER) AS item
       | FROM events WHERE event_type = 'purchase'),
       |ui AS (SELECT user_id, item FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY md5(user_id || ':' || item), item) AS rk FROM i0)
       | WHERE rk <= 64),
       |h1 AS (SELECT user_id, CAST(count(*) * 1000 AS BIGINT) AS h1 FROM ui GROUP BY 1),
       |a1 AS (SELECT item, CAST(sum(h1.h1) AS BIGINT) AS a1 FROM ui JOIN h1 USING (user_id) GROUP BY 1),
       |h2 AS (SELECT user_id, CAST(sum(a1.a1) AS BIGINT) AS h2 FROM ui JOIN a1 USING (item) GROUP BY 1)
       |SELECT item, CAST(count(*) AS BIGINT) AS n_buyers,
       | CAST(sum(h2.h2) AS BIGINT) AS auth_micro
       |FROM ui JOIN h2 USING (user_id) GROUP BY 1""".stripMargin

  /** `events_kcore` — the bounded-round peel unrolled: the same
    * capped item sets and undirected distinct edges as the triangle
    * oracle, then each round as a degree-count CTE + survivor filter
    * + edge restriction — exact integer arithmetic throughout, so
    * the chain replays the Spark rounds bit-exact. */
  private lazy val eventsKcoreSql: String = {
    val k = 5
    val rounds = 4
    val roundCtes = (1 to rounds).map { r =>
      s"""d$r AS (SELECT node, count(*) AS deg FROM (
         |  SELECT a AS node FROM e${r - 1} UNION ALL SELECT b AS node FROM e${r - 1}) GROUP BY 1),
         |s$r AS (SELECT node FROM d$r WHERE deg >= $k),
         |e$r AS (SELECT e.a, e.b FROM e${r - 1} e
         |  JOIN s$r sa ON e.a = sa.node JOIN s$r sb ON e.b = sb.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH i0 AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
       |  CAST(json_extract_string(props,'$$.k') AS INTEGER) AS item
       | FROM events WHERE event_type = 'purchase'),
       |i AS (SELECT user_id, day, item FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id, day
       |    ORDER BY md5(user_id || ':' || item), item) AS rk FROM i0)
       | WHERE rk <= 64),
       |e0 AS (SELECT DISTINCT a.item AS a, b.item AS b
       |  FROM i a JOIN i b ON a.user_id = b.user_id AND a.day = b.day
       |   AND a.item < b.item),
       |n0 AS (SELECT DISTINCT node AS item FROM (
       |  SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)),
       |$roundCtes,
       |df AS (SELECT node AS item, CAST(count(*) AS BIGINT) AS core_deg FROM (
       |  SELECT a AS node FROM e$rounds UNION ALL SELECT b AS node FROM e$rounds) GROUP BY 1)
       |SELECT n0.item, COALESCE(df.core_deg, CAST(0 AS BIGINT)) AS core_deg,
       | COALESCE(df.core_deg, 0) >= $k AS in_core
       |FROM n0 LEFT JOIN df USING (item)""".stripMargin
  }

  /** `events_assortativity` — exact-moment Pearson over symmetric
    * endpoint degrees, the [[eventsCupedSql]] HUGEINT discipline:
    * integer moments in 128-bit, one IEEE ratio at the end. */
  private lazy val eventsAssortativitySql: String =
    s"""WITH i0 AS (SELECT DISTINCT user_id,
       |  CAST(json_extract_string(props,'$$.k') AS INTEGER) AS item
       | FROM events WHERE event_type = 'purchase'),
       |i AS (SELECT user_id, item FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY md5(user_id || ':' || item), item) AS rk FROM i0)
       | WHERE rk <= 64),
       |e AS (SELECT DISTINCT a.item AS a, b.item AS b
       |  FROM i a JOIN i b ON a.user_id = b.user_id AND a.item < b.item),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |  SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) GROUP BY 1),
       |sym AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b AS x, a AS y FROM e),
       |j AS (SELECT CAST(dx.deg AS HUGEINT) AS dx, CAST(dy.deg AS HUGEINT) AS dy
       |  FROM sym JOIN deg dx ON sym.x = dx.node JOIN deg dy ON sym.y = dy.node),
       |f AS (SELECT CAST(count(*) AS HUGEINT) AS m, sum(dx) AS sx,
       |  sum(dx*dy) AS sxy, sum(dx*dx) AS sxx FROM j)
       |SELECT CAST(m // 2 AS BIGINT) AS n_edges,
       | round(CAST(sx AS DOUBLE) / CAST(m AS DOUBLE) + 1e-9, 4) AS mean_deg,
       | CASE WHEN CAST(m*sxx - sx*sx AS DOUBLE) = 0.0 THEN 0.0
       |  ELSE round(CAST(m*sxy - sx*sx AS DOUBLE) /
       |    CAST(m*sxx - sx*sx AS DOUBLE) + 1e-9, 4) END AS r_assort
       |FROM f""".stripMargin

  /** Unrolled synchronous label-propagation rounds over the shared
    * co-purchase edge set: each round picks, per node, the most
    * frequent neighbor label with (count DESC, label ASC) tiebreak —
    * the same total order Spark's struct-max encodes as
    * max((count, −label)). */
  private lazy val eventsCommunitiesSql: String = {
    val rounds = 3
    val iterCtes = (1 to rounds).map { k =>
      s"""l$k AS (SELECT dst AS item, lbl FROM (
         |  SELECT e.dst, l.lbl, count(*) AS c,
         |    row_number() OVER (PARTITION BY e.dst
         |      ORDER BY count(*) DESC, l.lbl ASC) AS rn
         |  FROM edges e JOIN l${k - 1} l ON l.item = e.src
         |  GROUP BY e.dst, l.lbl) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH i0 AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
       |  CAST(json_extract_string(props,'$$.k') AS INTEGER) AS item
       | FROM events WHERE event_type = 'purchase'),
       |i AS (SELECT user_id, day, item FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id, day
       |    ORDER BY md5(user_id || ':' || item), item) AS rk FROM i0)
       | WHERE rk <= 64),
       |und AS (SELECT DISTINCT a.item AS a, b.item AS b
       |  FROM i a JOIN i b ON a.user_id = b.user_id AND a.day = b.day
       |   AND a.item < b.item),
       |edges AS (SELECT a AS src, b AS dst FROM und
       |  UNION ALL SELECT b AS src, a AS dst FROM und),
       |l0 AS (SELECT DISTINCT src AS item, src AS lbl FROM edges),
       |$iterCtes
       |SELECT item, lbl AS community,
       | CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
       |FROM l$rounds""".stripMargin
  }

  /** Shared by `events_survival` and its streaming twin
    * `stream_survival` (equivalence pair #18). */
  private lazy val eventsSurvivalSql: String =
    """WITH RECURSIVE dd AS (SELECT user_id,
        |  CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day FROM events),
        |u AS (SELECT user_id, min(day) AS f, max(day) AS l FROM dd GROUP BY 1),
        |mx AS (SELECT max(l) AS m FROM u),
        |lf AS (SELECT CASE WHEN l < m THEN l - f ELSE m - f END AS t,
        |  CASE WHEN l < m THEN 1 ELSE 0 END AS churn FROM u, mx),
        |bt AS (SELECT t, CAST(sum(churn) AS BIGINT) AS d,
        |  CAST(sum(1 - churn) AS BIGINT) AS c FROM lf GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lf),
        |lt AS (SELECT t, d, c,
        |  CAST(tot.n - coalesce(sum(d + c) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nr,
        |  CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS rn
        | FROM bt, tot),
        |km AS (
        |  SELECT rn, t, nr, d, c,
        |    CAST(CASE WHEN d > 0 THEN (1000000 * (nr - d)) // nr
        |      ELSE 1000000 END AS BIGINT) AS s
        |  FROM lt WHERE rn = 1
        |  UNION ALL
        |  SELECT lt.rn, lt.t, lt.nr, lt.d, lt.c,
        |    CAST(CASE WHEN lt.d > 0 THEN (km.s * (lt.nr - lt.d)) // lt.nr
        |      ELSE km.s END AS BIGINT)
        |  FROM lt JOIN km ON lt.rn = km.rn + 1)
        |SELECT t AS t_days, nr AS n_at_risk, d AS n_churned,
        | c AS n_censored, s AS survival_micro FROM km""".stripMargin

  /** Shared by `mm_integrity_audit` and its streaming twin
    * `stream_integrity_audit` (equivalence pair #19). */
  private lazy val mmIntegrityAuditSql: String =
    """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS bl,
        |  substr(md5(text), 13, 1) = '0' AS inj FROM documents)
        |SELECT doc_id,
        | CAST(bl + 44 - (CASE WHEN inj THEN 4 ELSE 0 END) AS BIGINT) AS byte_len,
        | TRUE AS magic_ok,
        | NOT inj AS riff_size_ok,
        | NOT inj AS data_size_ok,
        | inj AS flagged
        |FROM m""".stripMargin

  /** Shared by `stream_session_window` and its batch twin
    * `q_session_window_batch` (pair #13 gated from both ends). */
  private lazy val sessionWindowSql: String =
    """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events),
        | l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us FROM e),
        | s AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
        | t AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY us
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM s)
        |SELECT user_id, CAST(min(us) AS BIGINT) AS session_start_us,
        | CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS sum_value
        |FROM t GROUP BY user_id, sid""".stripMargin

  /** Shared by `events_changepoint` and its streaming twin
    * `stream_changepoint` (equivalence pair #17). */
  private lazy val eventsChangepointSql: String =
    """WITH hourly AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
      |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
      |span AS (SELECT min(hour_ts) AS h0, max(hour_ts) AS h1 FROM hourly),
      |spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts FROM span),
      |sp AS (SELECT CAST(epoch_us(CAST(s.hour_ts AS TIMESTAMP)) // 3600000000 AS BIGINT) AS h,
      |  coalesce(x, 0) AS x FROM spine s LEFT JOIN hourly USING (hour_ts)),
      |idx AS (SELECT h, x, CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS i,
      |  CAST(sum(x) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
      | FROM sp),
      |tot AS (SELECT max(i) AS n, max(p) AS tt FROM idx),
      |sc AS (SELECT h, i, p, n, tt, n * p - i * tt AS cc FROM idx, tot),
      |best AS (SELECT * FROM (SELECT *,
      |  row_number() OVER (ORDER BY abs(cc) DESC, h ASC) AS rn FROM sc) WHERE rn = 1)
      |SELECT n AS n_hours, tt AS total_events, h AS split_hour,
      | CAST(abs(cc) AS BIGINT) AS max_abs_cusum,
      | round(CAST(p AS DOUBLE) / CAST(i AS DOUBLE) + 1e-9, 4) AS mean_before,
      | round(CAST(tt - p AS DOUBLE) / nullif(CAST(n - i AS DOUBLE), 0.0) + 1e-9, 4) AS mean_after
      |FROM best""".stripMargin

  /** Shared by `q_window_rank` and `q_topn_agg` (the native bounded
    * top-k aggregate must reproduce the rank window exactly). */
  private lazy val qWindowRankSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      | FROM orders) WHERE rnk <= 3""".stripMargin

  /** Shared by `events_bot_detect` and its streaming twin
    * `stream_bot_detect` (equivalence pair #16). */
  private lazy val eventsBotDetectSql: String =
    """WITH r AS (SELECT user_id, event_type,
      |  json_extract_string(props, '$.k') AS item,
      |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |bu AS (SELECT user_id, us0 FROM (
      |  SELECT user_id, min(us) AS us0 FROM r GROUP BY 1)
      | WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 1) = '1'),
      |sy AS (SELECT user_id, 'purchase' AS event_type, '999' AS item,
      |  (us0 // 60000000) * 60000000 + i * 2000000 AS us
      | FROM bu, (SELECT unnest(generate_series(0, 24)) AS i) g),
      |e AS (SELECT user_id, event_type, item, us,
      |  CAST(us // 60000000 AS BIGINT) AS mnt FROM (
      |  SELECT * FROM r UNION ALL SELECT * FROM sy)),
      |b AS (SELECT user_id, CAST(max(m) AS BIGINT) AS max_per_minute FROM (
      |  SELECT user_id, mnt, count(*) AS m FROM e GROUP BY 1, 2) GROUP BY 1),
      |d AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_distinct FROM (
      |  SELECT DISTINCT user_id, event_type, item, mnt FROM e) GROUP BY 1),
      |t AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS span_sec FROM e GROUP BY 1),
      |s AS (SELECT t.user_id, t.n_events, b.max_per_minute,
      |  t.n_events - d.n_distinct AS n_dup_events, t.span_sec,
      |  (CASE WHEN b.max_per_minute >= 10 THEN 2
      |    WHEN b.max_per_minute >= 5 THEN 1 ELSE 0 END)
      |  + (CASE WHEN 2 * (t.n_events - d.n_distinct) >= t.n_events THEN 1 ELSE 0 END)
      |  + (CASE WHEN t.n_events >= 100 AND t.span_sec <= 7200 THEN 1 ELSE 0 END)
      |  AS sc
      | FROM t JOIN b USING (user_id) JOIN d USING (user_id))
      |SELECT user_id, n_events, max_per_minute, n_dup_events, span_sec,
      | CAST(sc AS BIGINT) AS bot_score, sc >= 2 AS flagged
      |FROM s""".stripMargin

  /** Unrolled min-plus BFS relaxations from the (max-degree, min-id)
    * hub over the shared basket edge set. */
  private lazy val eventsReachSql: String = {
    val rounds = 3
    val iterCtes = (1 to rounds).map { k =>
      s"""d$k AS (SELECT item, min(dist) AS dist FROM (
         |  SELECT e.dst AS item, d.dist + 1 AS dist
         |  FROM edges e JOIN d${k - 1} d ON d.item = e.src
         |  UNION ALL SELECT item, dist FROM d${k - 1}) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH i0 AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
       |  CAST(json_extract_string(props,'$$.k') AS INTEGER) AS item
       | FROM events WHERE event_type = 'purchase'),
       |i AS (SELECT user_id, day, item FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id, day
       |    ORDER BY md5(user_id || ':' || item), item) AS rk FROM i0)
       | WHERE rk <= 64),
       |und AS (SELECT DISTINCT a.item AS a, b.item AS b
       |  FROM i a JOIN i b ON a.user_id = b.user_id AND a.day = b.day
       |   AND a.item < b.item),
       |edges AS (SELECT a AS src, b AS dst FROM und
       |  UNION ALL SELECT b AS src, a AS dst FROM und),
       |deg AS (SELECT src AS item, count(*) AS deg FROM edges GROUP BY 1),
       |sd AS (SELECT item FROM (SELECT item,
       |  row_number() OVER (ORDER BY deg DESC, item ASC) AS rn FROM deg)
       | WHERE rn = 1),
       |d0 AS (SELECT item, CAST(0 AS BIGINT) AS dist FROM sd),
       |$iterCtes
       |SELECT deg.item, CAST(coalesce(d$rounds.dist, -1) AS BIGINT) AS dist
       |FROM deg LEFT JOIN d$rounds USING (item)""".stripMargin
  }

  private lazy val eventsPagerankSql: String = {
    val iters = 3
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS (SELECT e.dst AS item,
         |  CAST(150000 + (17 * sum(r.r // d.deg)) // 20 AS BIGINT) AS r
         |  FROM edges e JOIN r${k - 1} r ON r.item = e.src JOIN deg d ON d.src = e.src
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH i0 AS (SELECT DISTINCT user_id,
       |  CAST(json_extract_string(props,'$$.k') AS INTEGER) AS item
       | FROM events WHERE event_type = 'purchase'),
       |i AS (SELECT user_id, item FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY md5(user_id || ':' || item), item) AS rk FROM i0)
       | WHERE rk <= 64),
       |edges AS (SELECT DISTINCT a.item AS src, b.item AS dst
       |  FROM i a JOIN i b ON a.user_id = b.user_id AND a.item <> b.item),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
       |r0 AS (SELECT src AS item, CAST(1000000 AS BIGINT) AS r FROM deg),
       |$iterCtes
       |SELECT item, CAST(r AS BIGINT) AS pr_micro FROM r$iters""".stripMargin
  }

  /** Personalized PageRank oracle: the pagerank graph/cap CTEs, the
    * hub seed (max degree, min item), and every integer-exact round
    * unrolled — teleport credited to the seed alone. */
  private lazy val eventsPprSql: String = {
    val iters = 3
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS (SELECT d.src AS item,
         |  CAST(CASE WHEN d.src = (SELECT item FROM seed) THEN 150000 ELSE 0 END
         |    + (17 * coalesce(s.s, 0)) // 20 AS BIGINT) AS r
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst, sum(r.r // dd.deg) AS s
         |    FROM edges e JOIN r${k - 1} r ON r.item = e.src
         |    JOIN deg dd ON dd.src = e.src GROUP BY 1) s ON s.dst = d.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH i0 AS (SELECT DISTINCT user_id,
       |  CAST(json_extract_string(props,'$$.k') AS INTEGER) AS item
       | FROM events WHERE event_type = 'purchase'),
       |i AS (SELECT user_id, item FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY md5(user_id || ':' || item), item) AS rk FROM i0)
       | WHERE rk <= 64),
       |edges AS (SELECT DISTINCT a.item AS src, b.item AS dst
       |  FROM i a JOIN i b ON a.user_id = b.user_id AND a.item <> b.item),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
       |seed AS (SELECT src AS item FROM deg ORDER BY deg DESC, src LIMIT 1),
       |r0 AS (SELECT src AS item,
       |  CAST(CASE WHEN src = (SELECT item FROM seed) THEN 1000000 ELSE 0 END AS BIGINT) AS r
       | FROM deg),
       |$iterCtes
       |SELECT item, CAST(r AS BIGINT) AS ppr_micro FROM r$iters""".stripMargin
  }

  /** `events_cuped` — the variance-reduction readout replayed on
    * exact integer moments: per-event cents quantization, per-user
    * pre/post sums, cross-moments in HUGEINT (DuckDB's exact 128-bit
    * twin of the Spark side's DECIMAL(38,0) — n·Σxy − Σx·Σy exceeds
    * int64), then the same scalar IEEE ratio chain. */
  private val eventsCupedSql =
    """WITH d AS (SELECT user_id,
      |  (CAST(ts AS DATE) - DATE '2024-01-01') AS day,
      |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
      |u AS (SELECT user_id,
      |  CAST(sum(CASE WHEN day < 15 THEN cents ELSE 0 END) AS BIGINT) AS x,
      |  CAST(sum(CASE WHEN day >= 15 THEN cents ELSE 0 END) AS BIGINT) AS y,
      |  CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' THEN 'A' ELSE 'B' END AS variant
      | FROM d GROUP BY 1),
      |f AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |  sum(CAST(x AS HUGEINT) * y) AS sxy,
      |  sum(CAST(x AS HUGEINT) * x) AS sxx,
      |  sum(CAST(y AS HUGEINT) * y) AS syy,
      |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN variant = 'A' THEN x ELSE 0 END) AS BIGINT) AS sx_a,
      |  CAST(sum(CASE WHEN variant = 'A' THEN y ELSE 0 END) AS BIGINT) AS sy_a,
      |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |  CAST(sum(CASE WHEN variant = 'B' THEN x ELSE 0 END) AS BIGINT) AS sx_b,
      |  CAST(sum(CASE WHEN variant = 'B' THEN y ELSE 0 END) AS BIGINT) AS sy_b
      | FROM u),
      |g AS (SELECT *,
      |  CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS cov_xy,
      |  CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS var_x,
      |  CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS var_y,
      |  sy_b / CAST(nullif(n_b, 0) AS DOUBLE) / 100.0 - sy_a / CAST(nullif(n_a, 0) AS DOUBLE) / 100.0 AS diff_raw_v,
      |  sx_b / CAST(nullif(n_b, 0) AS DOUBLE) / 100.0 - sx_a / CAST(nullif(n_a, 0) AS DOUBLE) / 100.0 AS diff_x_v
      | FROM f)
      |SELECT n AS n_users, n_a, n_b,
      | round(cov_xy / nullif(var_x, 0) + 1e-9, 4) AS theta,
      | round(diff_raw_v + 1e-9, 4) AS diff_raw,
      | round(diff_raw_v - (cov_xy / nullif(var_x, 0)) * diff_x_v + 1e-9, 4) AS diff_cuped,
      | round(cov_xy * cov_xy / nullif(var_x * var_y, 0) + 1e-9, 4) AS var_reduction
      |FROM g""".stripMargin

  /** DuckDB oracle shared by the batch and STREAMING frame-dedup:
    * the same stride/count frame chain, hashing each frame's 64-byte
    * body window — frames shared across >1 payload with counts +
    * min-doc rep. */
  private val mmFrameDedupSql =
    """WITH m AS (SELECT doc_id, text, md5(text) AS h FROM documents),
      |f AS (SELECT doc_id, text,
      |  CASE WHEN (16*(strpos('0123456789abcdef',substr(h,7,1))-1)+(strpos('0123456789abcdef',substr(h,8,1))-1)) % 3 = 2
      |   THEN 1 + (16*(strpos('0123456789abcdef',substr(h,9,1))-1)+(strpos('0123456789abcdef',substr(h,10,1))-1)) % 8
      |   ELSE 1 END AS n_frames
      | FROM m),
      |fr AS (SELECT doc_id, md5(substr(text, i*64 + 1, 64)) AS frame_hash
      |  FROM f, (SELECT unnest(generate_series(0,200)) AS i) g
      |  WHERE i < n_frames AND i % 5 = 0 AND len(text) >= i*64 + 64)
      |SELECT frame_hash, count(*) AS n_occ,
      | count(DISTINCT doc_id) AS n_docs, min(doc_id) AS rep_doc_id
      |FROM fr GROUP BY 1 HAVING count(DISTINCT doc_id) > 1""".stripMargin

  /** DuckDB oracle shared by the batch and STREAMING modality
    * routers: recomputes the md5-arithmetic routing + synthesized
    * payload sizes independently of the byte-sniffing Spark path. */
  private val mmModalityRouterSql =
    """WITH m AS (SELECT doc_id, md5(text) AS h, octet_length(encode(text)) AS bl FROM documents),
      |b AS (SELECT doc_id, bl,
      |  16*(strpos('0123456789abcdef',substr(h,7,1))-1)+(strpos('0123456789abcdef',substr(h,8,1))-1) AS b3,
      |  16*(strpos('0123456789abcdef',substr(h,9,1))-1)+(strpos('0123456789abcdef',substr(h,10,1))-1) AS b4,
      |  16*(strpos('0123456789abcdef',substr(h,11,1))-1)+(strpos('0123456789abcdef',substr(h,12,1))-1) AS b10
      | FROM m),
      |r AS (SELECT doc_id,
      |  CASE b10 % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
      |  CASE b10 % 3
      |    WHEN 0 THEN bl + CASE b3%3 WHEN 0 THEN 39 WHEN 1 THEN 33 ELSE 14 + 20*(1 + b4 % 8) END
      |    WHEN 1 THEN bl + 44
      |    ELSE bl + 144 END AS nbytes
      | FROM b)
      |SELECT modality, count(*) AS n_docs, sum(nbytes)::BIGINT AS total_bytes
      |FROM r GROUP BY 1""".stripMargin

  /** DuckDB oracle shared by the in-session and table-backed
    * incremental dedup paths (identical semantics by design). */
  private lazy val incrementalOracleSql =
    s"""WITH $sqlShingles,
      |mh AS (SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS h
      |  FROM sh, (SELECT unnest(generate_series(0,15)) AS seed) s GROUP BY 1,2),
      |bands AS (SELECT doc_id, seed//4 AS band, md5(string_agg(h,'|' ORDER BY seed)) AS bh
      |  FROM mh GROUP BY 1,2)
      |SELECT DISTINCT a.doc_id AS hist_doc, b.doc_id AS new_doc
      |FROM bands a JOIN bands b ON a.band=b.band AND a.bh=b.bh
      |WHERE a.doc_id < 400 AND b.doc_id >= 400""".stripMargin

  /** DuckDB oracle shared by the full-recompute and incremental
    * cluster-label paths: connected components over the complete LSH
    * pair graph as a recursive CTE — the incremental merge must equal
    * this full recompute exactly. */
  /** The MinHash-LSH → transitive-closure label chain (CTEs through
    * `lbl`), shared by `dedup_clusters` and the survivorship
    * consumer. */
  private lazy val dedupClustersChainSql =
    s"""$sqlShingles,
      |mh AS (SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS h
      |  FROM sh, (SELECT unnest(generate_series(0,15)) AS seed) s GROUP BY 1,2),
      |bands AS (SELECT doc_id, seed//4 AS band, md5(string_agg(h,'|' ORDER BY seed)) AS bh
      |  FROM mh GROUP BY 1,2),
      |pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      |  FROM bands a JOIN bands b ON a.band=b.band AND a.bh=b.bh AND a.doc_id<b.doc_id),
      |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
      |reach(doc_id, r) AS (
      |  SELECT doc_id, doc_id AS r FROM documents
      |  UNION
      |  SELECT e.a AS doc_id, reach.r FROM edges e JOIN reach ON reach.doc_id = e.b),
      |lbl AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)""".stripMargin

  private lazy val dedupClustersSql =
    s"""WITH RECURSIVE $dedupClustersChainSql
      |SELECT doc_id, cluster_id,
      | CAST(CASE WHEN cluster_id = doc_id THEN 1 ELSE 0 END AS INTEGER) AS is_kept
      |FROM lbl""".stripMargin

  /** `dedup_survivorship` — the cluster chain + keep-the-longest
    * argmax (chars desc, doc_id asc) over multi-member clusters. */
  private lazy val dedupSurvivorshipSql =
    s"""WITH RECURSIVE $dedupClustersChainSql,
      |m AS (SELECT l.doc_id, l.cluster_id, d.n_chars
      |  FROM lbl l JOIN documents d ON d.doc_id = l.doc_id),
      |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_total
      | FROM m GROUP BY 1 HAVING count(*) >= 2),
      |kp AS (SELECT cluster_id, doc_id AS kept_doc, n_chars AS kept_chars FROM (
      |  SELECT *, row_number() OVER (PARTITION BY cluster_id
      |    ORDER BY n_chars DESC, doc_id) AS rn FROM m) WHERE rn = 1)
      |SELECT sz.cluster_id, kept_doc, n_members, chars_total,
      | chars_total - kept_chars AS chars_saved
      |FROM sz JOIN kp ON kp.cluster_id = sz.cluster_id""".stripMargin

  /** DuckDB CTE body: distinct word-3-gram shingles per doc. */
  private val sqlShingles =
    s"""t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2],' ') AS shingle
       |  FROM t, (SELECT unnest(generate_series(1,4096)) AS i) g WHERE i <= len(toks)-2)""".stripMargin

  /** DuckDB spelling of `Relational.decRev` — the SURVEY §6 exact
    * decimal revenue term (order-independent sums on both engines). */
  private val decRevSql =
    "CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(6,4))"

  /** DuckDB-equivalent SQL per query (same column names + rounding). */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | CAST(round(sum($decRevSql), 2) AS DOUBLE) AS sum_disc_price,
        | CAST(round(sum($decRevSql * CAST(1 + l_tax AS DECIMAL(6,4))), 2) AS DOUBLE) AS sum_charge,
        | ${ExactAgg.exactMeanSql("l_quantity", 4)} AS avg_qty,
        | ${ExactAgg.exactMeanSql("l_extendedprice", 4)} AS avg_price,
        | ${ExactAgg.exactMeanSql("l_discount", 4)} AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
        | CAST(round(sum($decRevSql), 2) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey=o_custkey
        | JOIN lineitem ON l_orderkey=o_orderkey
        |WHERE c_mktsegment='BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
        | AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY 1,2,3 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      s"""SELECT n_name, CAST(round(sum($decRevSql), 2) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey=o_custkey
        | JOIN lineitem ON l_orderkey=o_orderkey
        | JOIN supplier ON l_suppkey=s_suppkey AND c_nationkey=s_nationkey
        | JOIN nation ON s_nationkey=n_nationkey
        | JOIN region ON n_regionkey=r_regionkey
        |WHERE r_name='ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
        | AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "q6_revenue_delta" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(6,4))), 2) AS DOUBLE) AS revenue,
        | count(*) AS cnt
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        | AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q10_returned_items" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
        | CAST(round(sum($decRevSql), 2) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey=o_custkey
        | JOIN lineitem ON l_orderkey=o_orderkey
        | JOIN nation ON c_nationkey=n_nationkey
        |WHERE l_returnflag='R' AND o_orderdate >= TIMESTAMP '1996-07-01'
        | AND o_orderdate < TIMESTAMP '1996-10-01'
        |GROUP BY 1,2,3,4 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q2_min_cost_supplier" ->
      """SELECT p_partkey, p_name, s_suppkey, round(unit_price_raw + 1e-9, 4) AS unit_price FROM (
        | SELECT p.p_partkey, p.p_name, s.s_suppkey,
        |  l.l_extendedprice / l.l_quantity AS unit_price_raw,
        |  row_number() OVER (PARTITION BY p.p_partkey
        |    ORDER BY l.l_extendedprice / l.l_quantity, s.s_suppkey, l.l_orderkey, l.l_linenumber) AS rn
        | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | WHERE p.p_partkey <= 200)
        |WHERE rn = 1""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        | AND EXISTS (SELECT 1 FROM lineitem
        |   WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1""".stripMargin,
    "q7_nation_volume" ->
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        | CAST(year(l_shipdate) AS INTEGER) AS l_year,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        | JOIN customer ON o_custkey=c_custkey
        | JOIN supplier ON l_suppkey=s_suppkey
        | JOIN nation ns ON s_nationkey=ns.n_nationkey
        | JOIN nation nc ON c_nationkey=nc.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1,2,3""".stripMargin,
    "q14_promo_revenue" ->
      s"""SELECT round(100.0 *
        |  CAST(sum(CASE WHEN p_type='PROMO' THEN $decRevSql
        |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |  CAST(sum($decRevSql) AS DOUBLE) + 1e-9, 4) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey=p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150)
        |SELECT c_name, o_orderkey, o_orderdate, o_totalprice, round(total_qty,2) AS total_qty
        |FROM orders JOIN big ON o_orderkey = big.l_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q19_disjunctive" ->
      s"""SELECT CAST(round(sum($decRevSql), 2) AS DOUBLE) AS revenue, count(*) AS cnt
        |FROM lineitem JOIN part ON l_partkey=p_partkey
        |WHERE (p_brand='Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand='Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand='Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin,
    "q22_idle_customers" ->
      """SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal),2) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        | AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1""".stripMargin,
    "q8_market_share" ->
      """WITH asia AS (SELECT n_nationkey FROM nation JOIN region ON n_regionkey=r_regionkey
        |  WHERE r_name='ASIA')
        |SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        | round(CAST(sum(CASE WHEN ns.n_name='NATION_5'
        |     THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
        |   + 1e-9, 4) AS mkt_share
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        | JOIN customer ON o_custkey=c_custkey
        | JOIN asia ON c_nationkey=asia.n_nationkey
        | JOIN part ON l_partkey=p_partkey AND p_type='STANDARD'
        | JOIN supplier ON l_suppkey=s_suppkey
        | JOIN nation ns ON s_nationkey=ns.n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS profit
        |FROM lineitem JOIN part ON l_partkey=p_partkey AND p_name LIKE '%red%'
        | JOIN orders ON l_orderkey=o_orderkey
        | JOIN supplier ON l_suppkey=s_suppkey
        | JOIN nation ON s_nationkey=n_nationkey
        |GROUP BY 1,2""".stripMargin,
    "q12_late_shipments" ->
      """SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'high' ELSE 'low' END
        |  AS priority_class, count(*) AS n_late
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY 1""".stripMargin,
    "q13_cust_distribution" ->
      """WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist FROM co GROUP BY 1""".stripMargin,
    "q21_waiting_suppliers" ->
      """WITH per AS (SELECT l_orderkey, l_suppkey,
        |  max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS late
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
        | GROUP BY 1, 2),
        |x AS (SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
        |  sum(late) OVER (PARTITION BY l_orderkey) AS n_late FROM per)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM x JOIN supplier ON s_suppkey = l_suppkey
        |WHERE late = 1 AND n_supp >= 2 AND n_late = 1
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin,
    // Q11 flavor: lineitem revenue stands in for partsupp value; the
    // >0.1%-of-total threshold compares value*1000 > total in pure
    // DECIMAL — exact on both engines
    "q11_important_stock" ->
      """WITH pv AS (SELECT l_partkey AS p_partkey,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS dec_value
        | FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        | WHERE s_nationkey < 5 GROUP BY 1),
        |tot AS (SELECT sum(dec_value) AS dec_total FROM pv)
        |SELECT p_partkey, CAST(round(dec_value, 2) AS DOUBLE) AS value
        |FROM pv, tot WHERE dec_value * 1000 > dec_total""".stripMargin,
    // Q20 flavor: 1997 shipped quantity of 'red' parts stands in for
    // availqty; share test qty*4 > part_total is int64, division-free
    "q20_part_promotion" ->
      """WITH g AS (SELECT l_suppkey, l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%' AND l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
        |  GROUP BY 1, 2),
        |w AS (SELECT *, sum(qty) OVER (PARTITION BY l_partkey) AS part_total FROM g)
        |SELECT DISTINCT s_suppkey, s_name FROM w JOIN supplier ON l_suppkey = s_suppkey
        |WHERE qty * 4 > part_total""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin,
    "q16_part_suppliers" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#12'
        |GROUP BY 1,2""".stripMargin,
    "q17_small_qty" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)/7.0 + 1e-9, 2) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        | AND l_quantity < (SELECT 0.2*avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "q_group_multi" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice),2) AS sum_price,
        | ${ExactAgg.exactMeanSql("o_totalprice", 4)} AS avg_price,
        | round(min(o_totalprice),2) AS min_price,
        | round(max(o_totalprice),2) AS max_price,
        | count(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY 1,2""".stripMargin,
    "q_topn_agg" -> qWindowRankSql,
    "q_window_rank" -> qWindowRankSql,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS run_sum,
        | round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),4) AS mov_avg
        |FROM orders""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    "q_distinct" ->
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey=c.c_custkey AND o.o_totalprice > 450000)""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey=c.c_custkey AND o.o_orderdate >= TIMESTAMP '2001-01-01')""".stripMargin,
    "q_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        | round(coalesce(sum(o_totalprice),0),2) AS total
        |FROM customer LEFT JOIN orders ON c_custkey=o_custkey
        |GROUP BY c_custkey""".stripMargin,
    "q_union" ->
      """WITH u AS (
        | SELECT 'orders' AS src, o_totalprice AS v FROM orders WHERE o_totalprice > 400000
        | UNION ALL
        | SELECT 'lineitem' AS src, l_extendedprice AS v FROM lineitem WHERE l_extendedprice > 40000)
        |SELECT src, count(*) AS n, round(sum(v),2) AS total FROM u GROUP BY src""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(o_orderstatus,'ALL') AS status,
        | coalesce(o_orderpriority,'ALL') AS priority,
        | count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(o_orderstatus,'ALL') AS status,
        | coalesce(o_orderpriority,'ALL') AS priority,
        | CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
        | CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
        | count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        | (o_orderstatus), (o_orderpriority))""".stripMargin,
    "q_window_distribution" ->
      """SELECT event_type, event_id,
        | round(percent_rank() OVER w + 1e-9, 6) AS pct_rank,
        | round(cume_dist() OVER w + 1e-9, 6) AS cume,
        | first_value(event_id) OVER w AS min_value_event
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin,
    // genuine recursive CTE vs the engine's pointer-doubling closure:
    // same 7-ary derived forest, same (root, depth) per part
    "q_bom_explode" ->
      """WITH RECURSIVE anc AS (
        |  SELECT p_partkey AS part, p_partkey AS node, CAST(0 AS BIGINT) AS depth FROM part
        |  UNION ALL
        |  SELECT part, node // 7, depth + 1 FROM anc WHERE node >= 7)
        |SELECT part AS p_partkey, node AS root_key, depth
        |FROM anc WHERE node < 7""".stripMargin,
    "q_bom_rollup" ->
      """WITH RECURSIVE anc AS (
        |  SELECT p_partkey AS part, p_partkey AS node, CAST(0 AS BIGINT) AS depth FROM part
        |  UNION ALL
        |  SELECT part, node // 7, depth + 1 FROM anc WHERE node >= 7),
        |cl AS (SELECT part, node AS root_key, depth FROM anc WHERE node < 7)
        |SELECT root_key, CAST(count(*) AS BIGINT) AS n_parts,
        | CAST(max(depth) AS BIGINT) AS max_depth,
        | CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS retail_cents
        |FROM cl JOIN part ON part.p_partkey = cl.part
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_multi_distinct" ->
      """SELECT l_returnflag,
        | CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_parts,
        | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS nd_supps,
        | CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_orders,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM d),
        |g AS (SELECT user_id, day - CAST(rn AS INTEGER) AS grp,
        |  count(*) AS len, min(day) AS start_day
        |  FROM r GROUP BY 1, 2),
        |s AS (SELECT *, sum(len) OVER (PARTITION BY user_id) AS active_days,
        |  count(*) OVER (PARTITION BY user_id) AS n_streaks,
        |  row_number() OVER (PARTITION BY user_id ORDER BY len DESC, start_day) AS srnk
        | FROM g)
        |SELECT user_id, CAST(active_days AS BIGINT) AS active_days,
        | CAST(n_streaks AS BIGINT) AS n_streaks,
        | CAST(len AS BIGINT) AS longest_streak,
        | CAST(start_day AS TIMESTAMP) AS streak_start
        |FROM s WHERE srnk = 1""".stripMargin,
    "q_cumulative_distinct" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |a AS (SELECT day, count(*) AS daily_users FROM d GROUP BY 1),
        |f AS (SELECT user_id, min(day) AS day FROM d GROUP BY 1),
        |n AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
        |SELECT CAST(day AS TIMESTAMP) AS day, a.daily_users,
        | CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
        | CAST(sum(COALESCE(n.new_users, 0)) OVER (ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM a LEFT JOIN n USING (day)""".stripMargin,
    "q_benford_audit" -> benfordSql,
    "stream_benford" -> benfordSql,
    // deterministic mode: max count, then smallest priority
    "q_mode_per_group" ->
      """WITH c AS (SELECT c_mktsegment, o_orderpriority, count(*) AS n
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY 1, 2)
        |SELECT c_mktsegment, o_orderpriority AS mode_priority, n
        |FROM c
        |QUALIFY row_number() OVER (PARTITION BY c_mktsegment
        |  ORDER BY n DESC, o_orderpriority) = 1""".stripMargin,
    // deterministic listagg: sorted before joining on both engines
    "q_string_agg" ->
      """SELECT r_name, CAST(count(*) AS BIGINT) AS n_nations,
        | string_agg(n_name, '|' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,
    "events_ks_test" -> ksSql,
    "stream_ks_test" -> ksSql,
    // tie-exact 2U over the same grid: 2R_a = Σ a_v(2C_<v + t_v + 1)
    "events_mann_whitney" ->
      """WITH e AS (SELECT event_type,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events
        | WHERE event_type IN ('purchase', 'view')),
        |g AS (SELECT cents,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS na,
        |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS nb
        | FROM e GROUP BY 1),
        |w AS (SELECT *, na + nb AS tv,
        |  CAST(coalesce(sum(na + nb) OVER (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cbelow
        | FROM g),
        |t AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
        |  CAST(sum(nb) AS BIGINT) AS n_b,
        |  CAST(sum(na * (2 * cbelow + tv + 1)) AS BIGINT) AS r2a FROM w)
        |SELECT n_a, n_b, (r2a - n_a * (n_a + 1)) AS u2,
        | ((r2a - n_a * (n_a + 1)) * 1000000) // (n_a * n_b) - 1000000
        |   AS rb_ppm
        |FROM t""".stripMargin,
    "events_welch_ttest" -> welchTtestSql,
    "stream_welch_ttest" -> welchTtestSql,
    // Poisson bootstrap: identical md5-derived integer weights, same
    // truncating millicent means, same (m, b) rank order statistics
    "events_bootstrap_ci" -> bootstrapCiSql,
    "stream_bootstrap_ci" -> bootstrapCiSql,
    "events_theilsen" -> theilSenSql,
    "stream_theilsen" -> theilSenSql,
    "events_chisq" -> chisqSql,
    "stream_chisq" -> chisqSql,
    "events_sequential_ab" -> seqAbSql,
    "stream_sequential_ab" -> seqAbSql,
    "events_growth_accounting" -> growthSql,
    "stream_growth_accounting" -> growthSql,
    "events_ols_trend" -> olsTrendSql,
    "stream_ols_trend" -> olsTrendSql,
    "events_wow_change" -> wowSql,
    "stream_wow_change" -> wowSql,
    "q_time_weighted_avg" ->
      """WITH e AS (SELECT user_id, event_id,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |l AS (SELECT *, lead(us) OVER (PARTITION BY user_id
        |  ORDER BY us, event_id) AS next_us FROM e),
        |g AS (SELECT user_id, cents, (next_us - us) // 1000000 AS gap_s
        |  FROM l WHERE next_us IS NOT NULL),
        |a AS (SELECT user_id, count(*) AS n_gaps,
        |  CAST(sum(gap_s) AS BIGINT) AS span_s,
        |  CAST(sum(cents * gap_s) AS BIGINT) AS weighted
        | FROM g GROUP BY 1)
        |SELECT user_id, n_gaps, span_s,
        | CAST(weighted // span_s AS BIGINT) AS twap_cents
        |FROM a WHERE span_s > 0""".stripMargin,
    "events_bounce_rate" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id) AS prev_us FROM e),
        |s AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |  THEN 1 ELSE 0 END AS is_new FROM l),
        |t AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM s),
        |sess AS (SELECT user_id, session_id, count(*) AS n_events,
        |  CAST(CAST(min(ts) AS DATE) AS TIMESTAMP) AS day FROM t GROUP BY 1, 2),
        |d AS (SELECT day, count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces
        | FROM sess GROUP BY 1)
        |SELECT day, n_sessions, n_bounces,
        | CAST(n_bounces * 1000000 // n_sessions AS BIGINT) AS bounce_ppm
        |FROM d""".stripMargin,
    "events_mad_outliers" ->
      """WITH med AS (SELECT event_type,
        |   round(quantile_cont(value, 0.5) + 1e-9, 4) AS med
        |  FROM events GROUP BY 1),
        |dev AS (SELECT e.event_type, e.value, med.med,
        |   abs(e.value - med.med) AS adev
        |  FROM events e JOIN med USING (event_type)),
        |mad AS (SELECT event_type,
        |   round(quantile_cont(adev, 0.5) + 1e-9, 4) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, count(*) AS n, min(d.med) AS med,
        | min(m.mad) AS mad,
        | CAST(sum(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_outliers
        |FROM dev d JOIN mad m USING (event_type) GROUP BY 1""".stripMargin,
    "q_surrogate_keys" ->
      """SELECT o_orderkey,
        | CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS sk
        |FROM orders""".stripMargin,
    "q_shard_bloom_skip" ->
      """WITH p AS (SELECT event_id, event_type,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |tgt AS (SELECT event_id AS t FROM p ORDER BY event_id
        |  LIMIT 1 OFFSET (SELECT count(*) // 2 FROM p))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM p, tgt WHERE event_id = t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_shard_delete" ->
      """WITH p AS (SELECT user_id, event_type,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |th AS (SELECT max(user_id) // 2 AS thr FROM p)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM p, th WHERE user_id >= thr GROUP BY 1 ORDER BY 1""".stripMargin,
    // the merge-on-read delete replayed over raw events: survivors of
    // the file-straddling modulo predicate
    "q_shard_delete_mor" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS value_cents
        |FROM events WHERE user_id % 3 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_kn_bigram" ->
      s"""WITH t AS (SELECT $sqlToks AS toks FROM documents),
        |bg AS (SELECT toks[i] AS w1, toks[i+1] AS w2
        |  FROM t, (SELECT unnest(generate_series(1,4096)) AS i) g
        |  WHERE i <= len(toks)-1),
        |c AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |a AS (SELECT w1, sum(c12) AS c1, count(*) AS n_after FROM c GROUP BY 1),
        |b AS (SELECT w2, count(*) AS n_before FROM c GROUP BY 1),
        |n AS (SELECT count(*) AS nbt FROM c)
        |SELECT w1, w2, c12,
        | CAST((greatest(4*c12 - 3, 0) * nbt + 3 * n_after * n_before) * 1000000
        |   // (4 * c1 * nbt) AS BIGINT) AS kn_ppm
        |FROM c JOIN a USING (w1) JOIN b USING (w2), n
        |WHERE c12 >= 3""".stripMargin,
    "events_interval_union" ->
      """WITH iv AS (SELECT user_id, event_id,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |   epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS e FROM events),
        |m AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e FROM iv),
        |n AS (SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e
        |  THEN 1 ELSE 0 END AS is_new FROM m),
        |i AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM n),
        |g AS (SELECT user_id, island, min(s) AS start_us, max(e) AS end_us
        |  FROM i GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_intervals,
        | CAST(sum(end_us - start_us) AS BIGINT) AS covered_us,
        | CAST(max(end_us - start_us) AS BIGINT) AS longest_us
        |FROM g GROUP BY 1""".stripMargin,
    "q_window_ntile" ->
      """WITH d AS (SELECT event_type, value,
        |  ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
        | FROM events)
        |SELECT event_type, decile::BIGINT AS decile, count(*) AS n,
        | round(min(value) + 1e-9, 4) AS lo, round(max(value) + 1e-9, 4) AS hi
        |FROM d GROUP BY 1, 2""".stripMargin,
    "q_set_ops" ->
      """WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 300000),
        |urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |u AS (
        | SELECT 'intersect' AS op, o_custkey FROM (SELECT * FROM big INTERSECT SELECT * FROM urgent)
        | UNION ALL
        | SELECT 'except' AS op, o_custkey FROM (SELECT * FROM big EXCEPT SELECT * FROM urgent))
        |SELECT op, count(*) AS n_cust FROM u GROUP BY 1""".stripMargin,
    "q_window_lag" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        | round(lag(value) OVER w + 1e-9, 4) AS prev_value,
        | round(value - lag(value) OVER w + 1e-9, 4) AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)""".stripMargin,
    "q_window_range" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
        |SELECT user_id, event_id, us,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY us
        |   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) + 1e-9, 2) AS hour_sum
        |FROM e""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(o_orderstatus,'ALL') AS status,
        | coalesce(o_orderpriority,'ALL') AS priority,
        | count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        | round(sum(CASE WHEN o_orderstatus='F' THEN o_totalprice ELSE 0 END),2) AS f_total,
        | round(sum(CASE WHEN o_orderstatus='O' THEN o_totalprice ELSE 0 END),2) AS o_total,
        | round(sum(CASE WHEN o_orderstatus='P' THEN o_totalprice ELSE 0 END),2) AS p_total
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q_data_quality" ->
      """WITH c AS (SELECT
        |  sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)::BIGINT AS nonpositive_quantity,
        |  sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END)::BIGINT AS negative_price,
        |  sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)::BIGINT AS discount_out_of_range,
        |  sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_shipdate,
        |  sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END)::BIGINT AS suspect_bulk_quantity,
        |  sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END)::BIGINT AS high_discount
        | FROM lineitem),
        |o AS (SELECT count(*)::BIGINT AS v FROM lineitem
        | LEFT JOIN orders ON l_orderkey = o_orderkey WHERE o_orderkey IS NULL)
        |SELECT 'nonpositive_quantity' AS check_name, nonpositive_quantity AS violations FROM c
        |UNION ALL SELECT 'negative_price', negative_price FROM c
        |UNION ALL SELECT 'discount_out_of_range', discount_out_of_range FROM c
        |UNION ALL SELECT 'null_shipdate', null_shipdate FROM c
        |UNION ALL SELECT 'suspect_bulk_quantity', suspect_bulk_quantity FROM c
        |UNION ALL SELECT 'high_discount', high_discount FROM c
        |UNION ALL SELECT 'orphan_lineitems', v FROM o""".stripMargin,
    "q_unpivot" ->
      """SELECT metric, count(*) AS n, round(sum(value), 2) AS sum_value FROM (
        | SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        | UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        | UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        | UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |GROUP BY 1""".stripMargin,
    "q_case_agg" ->
      s"""SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS big_qty,
        | CAST(round(sum(CASE WHEN l_discount > 0.05 THEN $decRevSql
        |   ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS discounted_rev
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_having" ->
      """SELECT o_custkey, count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 15""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE p_retailprice > (SELECT avg(p_retailprice)*1.02 FROM part)""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.5),4) AS med_qty,
        | round(quantile_cont(l_extendedprice, 0.9),4) AS p90_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_asof_join" ->
      """WITH o1 AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_orderkey
        |  FROM orders GROUP BY 1,2),
        | e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT e.event_id, e.user_id, e.ts, o.last_orderkey, o.o_orderdate AS last_orderdate
        |FROM e ASOF LEFT JOIN o1 o
        | ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin,
    "q_asof_join_native" ->
      """WITH o1 AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_orderkey
        |  FROM orders GROUP BY 1,2),
        | e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT e.event_id, e.user_id, e.ts, o.last_orderkey, o.o_orderdate AS last_orderdate
        |FROM e ASOF LEFT JOIN o1 o
        | ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin,
    "q_asof_join_forward" ->
      """WITH p AS (
        |  SELECT user_id AS r_user, CAST(ts AS TIMESTAMP) AS r_ts,
        |   max(event_id) AS next_purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        | e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT e.event_id, e.user_id, e.ts,
        | p.next_purchase_id, p.r_ts AS next_purchase_ts
        |FROM e ASOF LEFT JOIN p
        | ON e.user_id = p.r_user AND e.ts <= p.r_ts""".stripMargin,
    "q_asof_tolerance" ->
      """WITH p AS (
        |  SELECT user_id AS r_user, CAST(ts AS TIMESTAMP) AS r_ts,
        |   max(event_id) AS pid
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        | e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        | j AS (SELECT e.event_id, e.user_id, e.ts, p.pid, p.r_ts,
        |  (p.r_ts IS NOT NULL AND epoch_us(e.ts) - epoch_us(p.r_ts) <= 259200000000) AS fresh
        |  FROM e ASOF LEFT JOIN p ON e.user_id = p.r_user AND e.ts >= p.r_ts)
        |SELECT event_id, user_id, ts,
        | CASE WHEN fresh THEN pid END AS prev_purchase_id,
        | CASE WHEN fresh THEN r_ts END AS prev_purchase_ts
        |FROM j""".stripMargin,
    // two DuckDB ASOFs (backward + forward) + the same closer-side CASE
    "q_asof_nearest" ->
      """WITH p AS (
        |  SELECT user_id AS r_user, CAST(ts AS TIMESTAMP) AS r_ts,
        |   max(event_id) AS p_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        | e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        | b AS (SELECT e.event_id, e.user_id, e.ts, p.p_id AS prev_id, p.r_ts AS prev_ts
        |  FROM e ASOF LEFT JOIN p ON e.user_id = p.r_user AND e.ts >= p.r_ts),
        | f AS (SELECT e.event_id, p.p_id AS next_id, p.r_ts AS next_ts
        |  FROM e ASOF LEFT JOIN p ON e.user_id = p.r_user AND e.ts <= p.r_ts),
        | j AS (SELECT b.*, f.next_id, f.next_ts,
        |  epoch_us(b.ts) - epoch_us(b.prev_ts) AS d_prev,
        |  epoch_us(f.next_ts) - epoch_us(b.ts) AS d_next,
        |  (b.prev_id IS NOT NULL AND (f.next_id IS NULL OR
        |    epoch_us(b.ts) - epoch_us(b.prev_ts) <= epoch_us(f.next_ts) - epoch_us(b.ts)))
        |   AS take_prev
        |  FROM b JOIN f USING (event_id))
        |SELECT event_id, user_id, ts,
        | CASE WHEN take_prev THEN prev_id ELSE next_id END AS nearest_purchase_id,
        | CAST(CASE WHEN take_prev THEN d_prev
        |   WHEN next_id IS NOT NULL THEN d_next END AS BIGINT) AS delta_us,
        | CASE WHEN prev_id IS NULL AND next_id IS NULL THEN NULL
        |  WHEN take_prev THEN 'prev' ELSE 'next' END AS direction
        |FROM j""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        | l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM e),
        | s AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
        | t AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM s)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        | min(ts) AS start_ts, max(ts) AS end_ts, round(sum(value),2) AS sum_value
        |FROM t GROUP BY 1,2""".stripMargin,
    // native session_window: an event at EXACTLY last+gap still MERGES
    // (closed merge boundary, pinned empirically in SessionWindowSpec),
    // so the islands replay breaks strictly on > gap — same break rule
    // as q_sessionize's custom state, different window/output shape
    "stream_session_window" -> sessionWindowSql,
    "q_session_window_batch" -> sessionWindowSql,
    // the streaming df state's batch readout: the boilerplate VOCABULARY
    "stream_boilerplate" ->
      s"""WITH tk AS (SELECT source, doc_id, unnest($sqlToks) AS term FROM documents),
        |dt AS (SELECT DISTINCT source, doc_id, term FROM tk),
        |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
        |df AS (SELECT source, term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY 1, 2)
        |SELECT df.source, df.term, df.df, nd.n_docs
        |FROM df JOIN nd USING (source)
        |WHERE df.df * 10 >= nd.n_docs * 8""".stripMargin,
    // α=½ temperature shares: floor(sqrt(tokens)·10⁶) priorities are
    // exact on both engines (IEEE sqrt is correctly rounded)
    "corpus_temperature_sampling" ->
      s"""WITH ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len($sqlToks)) AS BIGINT) AS n_tokens FROM documents GROUP BY 1),
        |qq AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS q FROM ps),
        |tot AS (SELECT sum(CAST(q AS HUGEINT)) AS qs FROM qq)
        |SELECT source, n_docs, n_tokens,
        | round(CAST(q AS DOUBLE) / CAST(qs AS DOUBLE) + 1e-9, 6) AS share,
        | CAST((CAST(1000000 AS HUGEINT) * q) // qs AS BIGINT) AS quota_tokens
        |FROM qq, tot""".stripMargin,
    "corpus_epoch_plan" -> epochPlanSql,
    "stream_epoch_plan" -> epochPlanSql,
    // per-source boilerplate vocabulary: df·10 >= n_docs·8 is the
    // exact-integer 80% document-frequency threshold
    "text_boilerplate" ->
      s"""WITH tk AS (SELECT source, doc_id, unnest($sqlToks) AS term FROM documents),
        |dt AS (SELECT DISTINCT source, doc_id, term FROM tk),
        |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |df AS (SELECT source, term, count(*) AS df FROM dt GROUP BY 1, 2),
        |b AS (SELECT df.source, df.term FROM df JOIN nd USING (source)
        |  WHERE df * 10 >= n_docs * 8),
        |pd AS (SELECT source, doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tk GROUP BY 1, 2),
        |bc AS (SELECT tk.source, tk.doc_id, CAST(count(*) AS BIGINT) AS n_boiler
        |  FROM tk JOIN b ON b.source = tk.source AND b.term = tk.term GROUP BY 1, 2)
        |SELECT pd.doc_id, pd.source, pd.n_tokens,
        | COALESCE(bc.n_boiler, CAST(0 AS BIGINT)) AS n_boiler,
        | CASE WHEN pd.n_tokens = 0 THEN 0.0 ELSE
        |  round(CAST(COALESCE(bc.n_boiler, 0) AS DOUBLE) / CAST(pd.n_tokens AS DOUBLE) + 1e-9, 4) END AS boiler_ratio
        |FROM pd LEFT JOIN bc ON bc.source = pd.source AND bc.doc_id = pd.doc_id""".stripMargin,
    "text_readability" ->
      """WITH c AS (SELECT doc_id,
        |  greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
        |  len(regexp_extract_all(lower(text), '[a-z]+')) AS w,
        |  len(regexp_extract_all(lower(text), '[aeiouy]+')) AS sy
        | FROM documents)
        |SELECT doc_id, CAST(s AS BIGINT) AS n_sentences,
        | CAST(w AS BIGINT) AS n_words, CAST(sy AS BIGINT) AS n_syllables,
        | CASE WHEN w = 0 THEN 0.0 ELSE
        |  round(206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |    - 84.6 * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE)) + 1e-9, 4) END AS flesch,
        | CASE WHEN w = 0 THEN 0.0 ELSE
        |  round(0.39 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |    + 11.8 * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE)) - 15.59 + 1e-9, 4) END AS fk_grade
        |FROM c""".stripMargin,
    "q_json_extract" ->
      s"""SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props,'$$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        | ${ExactAgg.exactMeanSql("CAST(json_extract_string(props,'$.k') AS INTEGER)", 4)} AS avg_k
        |FROM events GROUP BY event_type""".stripMargin,
    // spine + IGNORE NULLS ffill/bfill windows + per-row linear interp
    "q_gap_fill" ->
      """WITH base AS (SELECT event_type,
        |  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, min(hour_ts) AS h0, max(hour_ts) AS h1 FROM base GROUP BY 1),
        |spine AS (SELECT event_type,
        |  unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts FROM span),
        |j AS (SELECT s.event_type, s.hour_ts, b.n_events, b.sum_value,
        |  CAST(epoch_us(s.hour_ts) // 3600000000 AS BIGINT) AS h
        | FROM spine s LEFT JOIN base b USING (event_type, hour_ts)),
        |wnd AS (SELECT *,
        |  last_value(sum_value IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |  last_value(CASE WHEN sum_value IS NOT NULL THEN h END IGNORE NULLS)
        |    OVER (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |  first_value(sum_value IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |  first_value(CASE WHEN sum_value IS NOT NULL THEN h END IGNORE NULLS)
        |    OVER (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        | FROM j)
        |SELECT event_type, h AS hour_id,
        | COALESCE(n_events, CAST(0 AS BIGINT)) AS n_events,
        | sum_value IS NULL AS is_filled,
        | round(CASE WHEN sum_value IS NOT NULL THEN sum_value
        |   WHEN pv IS NULL THEN nv
        |   WHEN nv IS NULL THEN pv
        |   ELSE pv + (nv - pv) * (CAST(h - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))
        |  END + 1e-9, 4) AS value_filled
        |FROM wnd""".stripMargin,
    "q_time_bucket" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts, event_type,
        | count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1,2""".stripMargin,
    "events_anomaly" -> anomalySql,
    "stream_anomaly" -> anomalySql,
    "stream_multi_source" ->
      """SELECT s.src, event_type, count(*) AS n,
        | round(sum(value), 2) AS sum_value
        |FROM events, (SELECT 'a' AS src UNION ALL SELECT 'b') s
        |GROUP BY 1, 2""".stripMargin,
    "stream_latest" ->
      """SELECT user_id, event_type,
        | max_by(value, CAST(ts AS TIMESTAMP)) AS last_value,
        | max(CAST(ts AS TIMESTAMP)) AS last_ts
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_upsert_latest" -> upsertLatestSql,
    // the streaming CDC upsert replays the same latest-version-wins
    // merge — stream/batch equivalence pair #8
    "stream_upsert_latest" -> upsertLatestSql,
    // SCD2 gaps-and-islands: the chg/island chain is integer-exact,
    // valid_to is the NEXT version's start (exclusive, null = open)
    "q_scd2_history" -> scd2Sql,
    // the incremental merge (stored dimension + one increment of
    // events, close/extend/append) must equal the full rebuild — the
    // oracle IS the rebuild SQL, same discipline as
    // dedup_clusters_incremental / q_incremental_rollup
    "q_scd2_merge" -> scd2Sql,
    // the IVM identity is WHAT the gate proves: the oracle recomputes
    // the full join from scratch; the query merges stored state + the
    // three delta terms
    "q_join_view_maintenance" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        | round(sum(l_extendedprice), 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,
    // version-0 vs head snapshot diff: both snapshots rebuilt from raw
    // events (truncated + full SCD2 chains), identical CASE order
    "q_dim_time_travel" ->
      s"""WITH ${scd2ChainSql("a_", " WHERE (CAST(ts AS DATE) - DATE '2024-01-01') < 25")},
         |${scd2ChainSql("b_", "")},
         |v0 AS (SELECT user_id, valid_from, is_current AS was_current,
         |  n_days_observed AS was_n FROM a_dim),
         |hd AS (SELECT user_id, valid_from, is_current, n_days_observed FROM b_dim),
         |fj AS (SELECT * FROM hd FULL OUTER JOIN v0 USING (user_id, valid_from)),
         |cls AS (SELECT CASE WHEN was_current IS NULL THEN 'added'
         |  WHEN was_current AND NOT is_current THEN 'closed'
         |  WHEN was_current AND is_current AND was_n <> n_days_observed THEN 'extended'
         |  ELSE 'unchanged' END AS change, user_id FROM fj)
         |SELECT change, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM cls GROUP BY 1""".stripMargin,
    // row-level change feed v0 -> head: inserts + pre/post image
    // pairs off one full-outer snapshot join (SCD2 rows never vanish
    // across the merge, so the feed carries no deletes by design)
    "q_merge_cdf" ->
      s"""WITH ${scd2ChainSql("a_", " WHERE (CAST(ts AS DATE) - DATE '2024-01-01') < 25")},
         |${scd2ChainSql("b_", "")},
         |j AS (SELECT coalesce(b.user_id, a.user_id) AS user_id,
         |  coalesce(b.valid_from, a.valid_from) AS valid_from,
         |  a.status AS o_status, a.valid_to AS o_vt,
         |  a.is_current AS o_cur, a.n_days_observed AS o_n,
         |  b.status AS n_status, b.valid_to AS n_vt,
         |  b.is_current AS n_cur, b.n_days_observed AS n_n
         | FROM b_dim b FULL OUTER JOIN a_dim a
         |  ON a.user_id = b.user_id AND a.valid_from = b.valid_from),
         |chg AS (SELECT * FROM j WHERE o_status IS NOT NULL AND
         |  (o_vt IS DISTINCT FROM n_vt OR o_cur <> n_cur OR o_n <> n_n))
         |SELECT user_id, valid_from, n_status AS status, n_vt AS valid_to,
         |  n_cur AS is_current, n_n AS n_days_observed,
         |  'insert' AS _change_type FROM j WHERE o_status IS NULL
         |UNION ALL
         |SELECT user_id, valid_from, o_status, o_vt, o_cur, o_n,
         |  'update_preimage' FROM chg
         |UNION ALL
         |SELECT user_id, valid_from, n_status, n_vt, n_cur, n_n,
         |  'update_postimage' FROM chg
         |ORDER BY 1, 2, 7""".stripMargin,
    // the per-day streaming CDC fold must land on the identical
    // dimension — stream/batch equivalence pair #11
    "stream_scd2_merge" -> scd2Sql,
    // the point-in-time consumer composes the SCD2 build verbatim
    "q_point_in_time_join" ->
      s"""WITH dim AS ($scd2Sql),
        |f AS (SELECT user_id, (CAST(ts AS DATE) - DATE '2024-01-01') AS day,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT dim.status, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(f.cents) AS BIGINT) AS value_cents
        |FROM f JOIN dim ON f.user_id = dim.user_id
        | AND f.day >= dim.valid_from
        | AND (dim.valid_to IS NULL OR f.day < dim.valid_to)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_skew_histogram" ->
      """WITH pk AS (SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1),
        |b AS (SELECT CAST(floor(log2(n_rows)) AS BIGINT) AS count_bucket,
        |  count(*) AS n_keys, sum(n_rows)::BIGINT AS bucket_rows,
        |  max(n_rows) AS max_rows
        | FROM pk GROUP BY 1)
        |SELECT count_bucket, n_keys, bucket_rows, max_rows,
        | round(bucket_rows::DOUBLE / sum(bucket_rows) OVER () + 1e-9, 4) AS row_share
        |FROM b""".stripMargin,
    // day sums are 2-dp money (exact-by-margin); the cumulative sum
    // re-adds the already-rounded day values in frame order
    "events_ltv_cohort" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1),
        |p AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
        |  WHERE event_type = 'purchase'),
        |b AS (SELECT f.cohort_day,
        |  CAST(date_diff('day', f.cohort_day, p.day) AS BIGINT) AS age_days,
        |  count(DISTINCT p.user_id) AS n_buyers,
        |  round(sum(value), 2) AS day_value
        | FROM p JOIN f USING (user_id)
        | WHERE date_diff('day', f.cohort_day, p.day) <= 14
        | GROUP BY 1, 2)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, age_days,
        | n_buyers, day_value,
        | round(sum(day_value) OVER (PARTITION BY cohort_day ORDER BY age_days
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_value
        |FROM b""".stripMargin,
    "events_rfm" ->
      """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM events),
        |m AS (SELECT max(day) AS max_day FROM d),
        |u AS (SELECT user_id, max(day) AS last_day, count(*) AS frequency,
        |  round(sum(value), 2) AS monetary FROM d GROUP BY 1)
        |SELECT user_id, date_diff('day', last_day, max_day) AS recency_days,
        | frequency, monetary,
        | CASE WHEN date_diff('day', last_day, max_day) <= 2 THEN 'active'
        |      WHEN date_diff('day', last_day, max_day) <= 7 THEN 'warm'
        |      ELSE 'lapsed' END AS segment
        |FROM u, m""".stripMargin,
    // the streamed hopping-window counts must equal the batch screen
    "stream_burst" -> burstSql,
    "corpus_split_leakage" ->
      """WITH g AS (SELECT md5(text) AS eh,
        |  CAST(sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) IN ('0','1') THEN 0 ELSE 1 END) AS BIGINT) AS n_train,
        |  CAST(sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) IN ('0','1') THEN 1 ELSE 0 END) AS BIGINT) AS n_val
        | FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_train) AS BIGINT) AS train_docs,
        |  CAST(sum(n_val) AS BIGINT) AS val_docs FROM g),
        |l AS (SELECT count(*) AS leaked_groups,
        |  CAST(coalesce(sum(n_val), 0) AS BIGINT) AS contaminated_val_docs
        | FROM g WHERE n_train > 0 AND n_val > 0)
        |SELECT train_docs, val_docs, leaked_groups, contaminated_val_docs
        |FROM l, t""".stripMargin,
    "events_burst_windows" -> burstSql,
    // the streamed leaderboard must equal the batch top-k over the
    // same events — stream/batch equivalence
    "stream_topk" ->
      """WITH i AS (SELECT CAST(json_extract_string(props,'$.k') AS INTEGER) AS item
        | FROM events WHERE event_type = 'purchase')
        |SELECT item, count(*) AS n FROM i GROUP BY 1
        |ORDER BY n DESC, item LIMIT 10""".stripMargin,
    "events_forecast_eval" ->
      s"""WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
        |  event_type, count(*) AS n_events FROM events GROUP BY 1, 2),
        |ld AS (SELECT max(CAST(hour_ts AS DATE)) AS last_day FROM h),
        |tr AS (SELECT event_type, extract(hour FROM hour_ts) AS hod,
        |  sum(n_events) / (1.0 * count(*)) AS pred
        | FROM h, ld WHERE CAST(hour_ts AS DATE) < last_day GROUP BY 1, 2),
        |te AS (SELECT event_type, extract(hour FROM hour_ts) AS hod,
        |  n_events AS actual
        | FROM h, ld WHERE CAST(hour_ts AS DATE) = last_day)
        |SELECT te.event_type, count(*) AS n_hours,
        | ${ExactAgg.exactMeanSql("abs(pred - actual)", 4)} AS mae,
        | ${ExactAgg.exactMeanSql("pred - actual", 4)} AS bias
        |FROM te JOIN tr ON tr.event_type = te.event_type AND tr.hod = te.hod
        |GROUP BY 1""".stripMargin,
    // replays the md5-rank hyperactive-user cap (64; exact below the
    // threshold — test-data max is 25 distinct items per user)
    "events_recommend_cooccur" ->
      """WITH i0 AS (SELECT DISTINCT user_id,
        |  CAST(json_extract_string(props,'$.k') AS INTEGER) AS item
        | FROM events WHERE event_type = 'purchase'),
        |i AS (SELECT user_id, item FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY md5(user_id || ':' || item), item) AS rk FROM i0)
        | WHERE rk <= 64),
        |p AS (SELECT a.item AS item_a, b.item AS item_b,
        |  count(DISTINCT a.user_id) AS n_users
        | FROM i a JOIN i b ON a.user_id = b.user_id AND a.item < b.item
        | GROUP BY 1, 2)
        |SELECT item_a, item_b, n_users FROM p
        |ORDER BY n_users DESC, item_a, item_b LIMIT 20""".stripMargin,
    // same capped basket chain; support/confidence ×1e6 and lift
    // ×1e3 as integer DIVs — no float ratio crosses the engines
    "events_basket_lift" ->
      """WITH i0 AS (SELECT DISTINCT user_id,
        |  CAST(json_extract_string(props,'$.k') AS INTEGER) AS item
        | FROM events WHERE event_type = 'purchase'),
        |i AS (SELECT user_id, item FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY md5(user_id || ':' || item), item) AS rk FROM i0)
        | WHERE rk <= 64),
        |nb AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_baskets FROM i),
        |it AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM i GROUP BY 1),
        |co AS (SELECT a.item AS item_a, b.item AS item_b,
        |  CAST(count(*) AS BIGINT) AS n_both
        | FROM i a JOIN i b ON a.user_id = b.user_id AND a.item < b.item
        | GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT item_a, item_b, ia.n AS n_a, ib.n AS n_b, n_both,
        | CAST(n_both * 1000000 // n_baskets AS BIGINT) AS support_ppm,
        | CAST(n_both * 1000000 // ia.n AS BIGINT) AS conf_ab_ppm,
        | CAST((n_both * n_baskets * 1000) // (ia.n * ib.n) AS BIGINT) AS lift_milli
        |FROM co JOIN it ia ON ia.item = co.item_a
        | JOIN it ib ON ib.item = co.item_b, nb""".stripMargin,
    "events_attribution_linear" ->
      """WITH p AS (SELECT event_id AS p_id, user_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS p_us, value AS p_value
        | FROM events WHERE event_type = 'purchase'),
        |tc AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
        |  event_type AS touch_type
        | FROM events WHERE event_type IN ('view', 'click')),
        |m AS (SELECT p.p_id, p.p_value, tc.touch_type
        | FROM p JOIN tc ON p.user_id = tc.user_id
        |  AND tc.t_us < p.p_us AND tc.t_us >= p.p_us - 604800000000),
        |c AS (SELECT *, count(*) OVER (PARTITION BY p_id) AS n_t FROM m),
        |att AS (SELECT touch_type, count(*) AS n_credits,
        |   round(sum(p_value / n_t) + 1e-9, 2) AS attributed_value
        |  FROM c GROUP BY 1
        | UNION ALL
        | SELECT 'none', count(*), round(sum(p_value) + 1e-9, 2)
        |  FROM p WHERE p_id NOT IN (SELECT p_id FROM m))
        |SELECT touch_type, n_credits, attributed_value FROM att
        |WHERE n_credits > 0""".stripMargin,
    "events_session_stats" ->
      s"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM e),
        |s AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
        |t AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM s),
        |sess AS (SELECT user_id, session_id, count(*) AS n_events,
        |  max(us) - min(us) AS duration_us FROM t GROUP BY 1, 2)
        |SELECT count(*) AS n_sessions,
        | ${ExactAgg.exactMeanSql("n_events", 4)} AS avg_events,
        | round(quantile_cont(n_events, 0.5) + 1e-9, 4) AS med_events,
        | ${ExactAgg.exactMeanSql("duration_us", 4)} AS avg_duration_us,
        | max(duration_us) AS max_duration_us,
        | CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   / CAST(nullif(count(*), 0) AS DOUBLE) AS bounce_rate
        |FROM sess""".stripMargin,
    "events_seasonal_profile" ->
      s"""WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
        |  event_type, count(*) AS n_events
        | FROM events GROUP BY 1, 2)
        |SELECT event_type,
        | CAST(extract(hour FROM hour_ts) AS INTEGER) AS hour_of_day,
        | count(*) AS n_hours,
        | ${ExactAgg.exactMeanSql("n_events", 4)} AS mean_events,
        | ${ExactAgg.exactStdSql("n_events", 4)} AS stddev_events
        |FROM h GROUP BY 1, 2""".stripMargin,
    "events_gap_report" ->
      """WITH h AS (SELECT event_type,
        |  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts
        | FROM events GROUP BY 1, 2),
        |s AS (SELECT date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS first_hour,
        |  date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS last_hour FROM events),
        |l AS (SELECT event_type, hour_ts,
        |  lag(hour_ts) OVER (PARTITION BY event_type ORDER BY hour_ts) AS prev_hour
        | FROM h)
        |SELECT event_type, count(*) AS hours_present,
        | (epoch_us(max(s.last_hour)) - epoch_us(max(s.first_hour))) // 3600000000
        |   + 1 - count(*) AS hours_silent,
        | max(coalesce((epoch_us(hour_ts) - epoch_us(prev_hour)) // 3600000000 - 1,
        |   0)) AS longest_gap_hours
        |FROM l, s GROUP BY 1""".stripMargin,
    "corpus_snapshot_diff" ->
      """WITH base AS (SELECT doc_id, md5(text) AS h,
        |  strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR),1,1)) - 1 AS nib
        | FROM documents),
        |a AS (SELECT doc_id, h AS h_a FROM base WHERE nib <= 12),
        |b AS (SELECT doc_id,
        |  CASE WHEN nib >= 14 THEN md5(h || 'edit') ELSE h END AS h_b
        | FROM base WHERE nib >= 3),
        |j AS (SELECT CASE WHEN h_a IS NULL THEN 'added'
        |  WHEN h_b IS NULL THEN 'removed'
        |  WHEN h_a = h_b THEN 'unchanged' ELSE 'changed' END AS status
        | FROM a FULL OUTER JOIN b USING (doc_id))
        |SELECT status, count(*) AS n_docs FROM j GROUP BY 1""".stripMargin,
    "events_attribution" ->
      """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts, value AS p_value
        | FROM events WHERE event_type = 'purchase'),
        |tc AS (SELECT user_id AS t_user, CAST(ts AS TIMESTAMP) AS t_ts,
        |  event_type AS touch_type
        | FROM events WHERE event_type IN ('view', 'click'))
        |SELECT coalesce(touch_type, 'none') AS touch_type,
        | count(*) AS n_purchases, round(sum(p_value), 2) AS attributed_value
        |FROM p ASOF LEFT JOIN tc ON p.user_id = tc.t_user AND p.p_ts >= tc.t_ts
        |GROUP BY 1""".stripMargin,
    "events_active_users" -> activeUsersSql,
    // the streaming one-agg fold must reproduce the batch board exactly
    "stream_active_users" -> activeUsersSql,
    "events_stickiness" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |  date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM a GROUP BY 1),
        |last AS (SELECT max(day) AS last_day FROM a),
        |f AS (SELECT user_id, unnest(generate_series(day,
        |  least(day + INTERVAL 29 DAY, last_day), INTERVAL 1 DAY)) AS day
        | FROM a, last),
        |m AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        | FROM f GROUP BY 1)
        |SELECT m.day, coalesce(dau.dau, 0) AS dau, m.mau,
        | round(CAST(coalesce(dau.dau, 0) AS DOUBLE) / CAST(m.mau AS DOUBLE) + 1e-9, 6)
        |  AS stickiness
        |FROM m LEFT JOIN dau USING (day)""".stripMargin,
    "events_transitions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |l AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_type) AS prev_type
        | FROM e),
        |g AS (SELECT prev_type, event_type AS next_type, count(*) AS n_trans
        | FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n_trans,
        | round(n_trans::DOUBLE / sum(n_trans) OVER (PARTITION BY prev_type) + 1e-9, 4)
        |  AS p_next
        |FROM g""".stripMargin,
    // trigram sequence: (ts, event_id) total order, exact counts,
    // deterministic full tiebreak on the top-k cut
    "events_path_mining" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  event_id, event_type FROM events),
        |s AS (SELECT user_id, event_type AS step1,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step3
        | FROM e)
        |SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n_paths,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM s WHERE step3 IS NOT NULL GROUP BY 1, 2, 3
        |ORDER BY n_paths DESC, step1, step2, step3 LIMIT 20""".stripMargin,
    "text_lang_id" ->
      s"""WITH lex(slang, word) AS (VALUES
        | ('en','the'),('en','a'),('en','of'),('en','and'),('en','to'),('en','in'),('en','is'),
        | ('de','der'),('de','die'),('de','das'),('de','und'),('de','ein'),
        | ('es','el'),('es','la'),('es','los'),('es','de'),('es','y'),
        | ('fr','le'),('fr','les'),('fr','et'),('fr','un'),('fr','dans')),
        |tk AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
        |sc AS (SELECT doc_id, slang, count(*) AS n FROM tk JOIN lex ON tok=word GROUP BY 1,2),
        |best AS (SELECT doc_id, slang, n FROM
        |  (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, slang) AS rn FROM sc)
        |  WHERE rn=1)
        |SELECT d.doc_id, coalesce(b.slang,'und') AS lang_pred, coalesce(b.n, 0) AS n_hits
        |FROM documents d LEFT JOIN best b USING (doc_id)""".stripMargin,
    // Gopher rules, integer-exact; first-failed-rule reject reason
    "text_gopher_rules" -> gopherSql,
    // RAG chunker: same tokenizer, same ceil arithmetic, 1-based
    // inclusive list slices == Spark's slice(toks, start+1, len)
    "text_chunk_plan" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
        |  FROM t WHERE len(toks) > 0),
        |m AS (SELECT *, CASE WHEN n <= 64 THEN 1
        |  ELSE 1 + (n - 64 + 47) // 48 END AS m FROM d),
        |c AS (SELECT doc_id, toks, n, CAST(i AS BIGINT) AS chunk_id
        |  FROM m, (SELECT unnest(generate_series(0, 4096)) AS i) g
        |  WHERE i < m),
        |s AS (SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
        |  least(chunk_id * 48 + 64, n) AS end_tok, toks FROM c)
        |SELECT doc_id, chunk_id, start_tok, end_tok,
        | end_tok - start_tok AS n_tokens,
        | md5(array_to_string(toks[(start_tok + 1):end_tok], ' '))
        |   AS chunk_md5
        |FROM s ORDER BY 1, 2""".stripMargin,
    // the stateless ingest-time twin lands the identical screen
    "stream_gopher_rules" -> gopherSql,
    // grid-exact winsorization: p05/p95 order statistics via integer
    // cumulative counts, clamp folded over the grid, milli-cent mean
    "events_winsorized_mean" -> winsorizeSql,
    "stream_winsorized_mean" -> winsorizeSql,
    // Wilson 95% CI on per-type user reach (one correctly-rounded
    // sqrt; 6-dp rounding)
    "events_rate_ci" -> rateCiSql,
    "stream_rate_ci" -> rateCiSql,
    // endpoint sweep: starts-before-ends arithmetic, earliest peak
    "events_peak_concurrency" -> peakConcurrencySql,
    "stream_peak_concurrency" -> peakConcurrencySql,
    // per-user Shannon entropy: H = ln N − (Σ c ln c)/N, 4 dp
    "events_type_entropy" -> entropySql,
    "stream_type_entropy" -> entropySql,
    // Hill tail exponent: α = 1 + n / Σ ln(x/xmin), x ≥ xmin = 5
    "events_powerlaw_alpha" ->
      """WITH u AS (SELECT user_id, count(*) AS x FROM events GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_tail,
        |  sum(ln(x / 5.0)) AS s FROM u WHERE x >= 5)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_users,
        | n_tail, CAST(5 AS BIGINT) AS xmin,
        | round(1.0 + n_tail / s + 1e-9, 4) AS alpha
        |FROM t""".stripMargin,
    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $sqlToks AS toks FROM documents),
        |m AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |  length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / nullif(length(text),0) AS pr,
        |  len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE
        |    / nullif(len(toks),0) AS sr
        | FROM t)
        |SELECT doc_id, n_tokens, round(pr+1e-9,4) AS punct_ratio, round(sr+1e-9,4) AS stop_ratio,
        | round(0.4*coalesce(sr,0)+0.3*(1-coalesce(pr,0))+0.3*least(n_tokens/100.0,1.0)+1e-9,4) AS quality_score
        |FROM m""".stripMargin,
    // BM25 constants written as the SAME double expressions Spark
    // computes (1.2+1.0, not 2.2: they differ by 1 ulp); score rounded
    // 4 dp (+1e-9) before the deterministic (bm25 desc, doc_id) cut
    "text_bm25_search" ->
      s"""WITH lens AS (SELECT doc_id, len($sqlToks)::DOUBLE AS dl FROM documents),
        |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM lens),
        |tk AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS tf FROM tk
        |  WHERE tok IN ('spark','table','query') GROUP BY 1, 2),
        |wdf AS (SELECT *, (count(*) OVER (PARTITION BY tok))::DOUBLE AS df FROM tf),
        |sc AS (SELECT w.doc_id,
        |  ln(1.0 + (s.n_docs - w.df + 0.5) / (w.df + 0.5)) * w.tf * (1.2 + 1.0)
        |    / (w.tf + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / s.avgdl)) AS contrib
        |  FROM wdf w JOIN lens l USING (doc_id), stats s)
        |SELECT doc_id, round(sum(contrib) + 1e-9, 4) AS bm25, count(*) AS n_terms
        |FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,
    // quality banding replays text_quality's rounded score, then the
    // corpus_mixture quota discipline keyed by the derived band
    "corpus_curriculum" ->
      s"""WITH t AS (SELECT doc_id, text, $sqlToks AS toks FROM documents),
        |m AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |  length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / nullif(length(text),0) AS pr,
        |  len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE
        |    / nullif(len(toks),0) AS sr
        | FROM t),
        |qs AS (SELECT doc_id,
        |  round(0.4*coalesce(sr,0)+0.3*(1-coalesce(pr,0))+0.3*least(n_tokens/100.0,1.0)+1e-9,4) AS qsc
        | FROM m),
        |bd AS (SELECT doc_id, least(CAST(floor(qsc*5) AS BIGINT), 4) AS band,
        |  md5(doc_id::VARCHAR) AS hh FROM qs),
        |r AS (SELECT doc_id, band,
        |  CAST(row_number() OVER (PARTITION BY band ORDER BY hh, doc_id) AS BIGINT) AS samp_rank,
        |  count(*) OVER (PARTITION BY band) AS n_band
        | FROM bd)
        |SELECT doc_id, band, samp_rank FROM r
        |WHERE samp_rank <= (n_band * (band*3+4) + 15) // 16""".stripMargin,
    // the lang-ID oracle joined with the gold label; shares over the
    // gold row (window sum ::DOUBLE — DuckDB widens sum(BIGINT) to HUGEINT)
    "text_lang_confusion" ->
      s"""WITH lex(slang, word) AS (VALUES
        | ('en','the'),('en','a'),('en','of'),('en','and'),('en','to'),('en','in'),('en','is'),
        | ('de','der'),('de','die'),('de','das'),('de','und'),('de','ein'),
        | ('es','el'),('es','la'),('es','los'),('es','de'),('es','y'),
        | ('fr','le'),('fr','les'),('fr','et'),('fr','un'),('fr','dans')),
        |tk AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
        |sc AS (SELECT doc_id, slang, count(*) AS n FROM tk JOIN lex ON tok=word GROUP BY 1,2),
        |best AS (SELECT doc_id, slang FROM
        |  (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, slang) AS rn FROM sc)
        |  WHERE rn=1),
        |pred AS (SELECT d.doc_id, d.lang, coalesce(b.slang,'und') AS lang_pred
        |  FROM documents d LEFT JOIN best b USING (doc_id)),
        |cm AS (SELECT lang, lang_pred, count(*) AS n_docs FROM pred GROUP BY 1, 2)
        |SELECT lang, lang_pred, n_docs,
        |  round(n_docs::DOUBLE / (sum(n_docs) OVER (PARTITION BY lang))::DOUBLE + 1e-9, 4) AS gold_share
        |FROM cm""".stripMargin,
    "corpus_pii_scrub" -> piiScrubSql,
    "text_watermark_detect" -> watermarkSql,
    // NB model cells: exact counts + per-cell micro-nat quantization
    "text_nb_train" ->
      s"""WITH $nbModelSql
        |SELECT lang, word, cnt, logp_micro FROM model ORDER BY 1, 2""".stripMargin,
    // held-out confusion matrix — integer scores, (score desc, lang)
    // argmax replayed by window rank
    "text_nb_eval" -> nbEvalSql,
    // the stream twin shares the batch oracle verbatim (pair #26)
    "stream_nb_classify" -> nbEvalSql,
    // ingest-time screening is the same stateless projection drained
    // through a file stream — stream/batch equivalence pair #10
    "stream_watermark_detect" -> watermarkSql,
    // the streaming scrub is the same map-only projection drained
    // through a file stream — stream/batch equivalence pair #9
    "stream_pii_scrub" -> piiScrubSql,
    "text_tokens" ->
      """SELECT doc_id,
        | len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x)>0))::BIGINT AS ws_tokens,
        | len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT AS re_tokens,
        | length(text)::BIGINT AS char_len
        |FROM documents""".stripMargin,
    // the one-row datasheet composes the shared stage fragments
    // (tokens, digest, lang argmax, quality, exact mean)
    "corpus_dataset_card" ->
      s"""WITH t AS (SELECT doc_id, text, $sqlToks AS toks FROM documents),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(toks)) AS BIGINT) AS total_tokens FROM t),
        |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
        |  FROM (SELECT unnest(toks) AS tok FROM t)),
        |dg AS (SELECT md5(text) AS h, count(*) AS c FROM t GROUP BY 1),
        |du AS (SELECT CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS n_dup_docs FROM dg),
        |lex(slang, word) AS (VALUES
        | ('en','the'),('en','a'),('en','of'),('en','and'),('en','to'),('en','in'),('en','is'),
        | ('de','der'),('de','die'),('de','das'),('de','und'),('de','ein'),
        | ('es','el'),('es','la'),('es','los'),('es','de'),('es','y'),
        | ('fr','le'),('fr','les'),('fr','et'),('fr','un'),('fr','dans')),
        |tk AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |scr AS (SELECT doc_id, slang, count(*) AS n FROM tk JOIN lex ON tok = word GROUP BY 1, 2),
        |best AS (SELECT doc_id, slang FROM
        |  (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, slang) AS rn FROM scr)
        |  WHERE rn = 1),
        |lng AS (SELECT coalesce(b.slang, 'und') AS lang FROM t d LEFT JOIN best b USING (doc_id)),
        |lc AS (SELECT lang, count(*) AS c FROM lng GROUP BY 1),
        |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_langs FROM lc),
        |tl AS (SELECT lang AS top_lang, c AS top_c FROM
        |  (SELECT *, row_number() OVER (ORDER BY c DESC, lang) AS rn FROM lc) WHERE rn = 1),
        |qm AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |  length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / nullif(length(text),0) AS pr,
        |  len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE
        |    / nullif(len(toks),0) AS sr
        | FROM t),
        |qs AS (SELECT round(0.4*coalesce(sr,0)+0.3*(1-coalesce(pr,0))+0.3*least(n_tokens/100.0,1.0)+1e-9,4) AS q FROM qm),
        |mq AS (SELECT ${ExactAgg.exactMeanSql("q", 4)} AS mean_quality FROM qs)
        |SELECT st.n_docs, st.total_tokens, v.vocab_size, du.n_dup_docs,
        | round(du.n_dup_docs / CAST(st.n_docs AS DOUBLE) + 1e-9, 4) AS dup_rate,
        | nl.n_langs, tl.top_lang,
        | round(tl.top_c / CAST(st.n_docs AS DOUBLE) + 1e-9, 4) AS top_lang_share,
        | mq.mean_quality
        |FROM st, v, du, nl, tl, mq""".stripMargin,
    // RAKE replay: stopword-split islands, ordered string_agg phrase
    // assembly, exact-integer (deg·1e6) DIV freq word scores
    "text_rake_keyphrases" -> {
      val stopList = TextAnalysis.stopwordLexicon.map(_._2).distinct
        .map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        |x AS (SELECT doc_id, i - 1 AS pos, toks[i] AS w
        |  FROM t, (SELECT unnest(generate_series(1, 4096)) AS i) s
        |  WHERE i <= len(toks)),
        |nt AS (SELECT * FROM x WHERE w NOT IN ($stopList)),
        |isl AS (SELECT doc_id, pos, w,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM nt),
        |ph AS (SELECT doc_id, island, string_agg(w, ' ' ORDER BY pos) AS phrase,
        |  count(*) AS plen FROM isl GROUP BY 1, 2),
        |ph4 AS (SELECT * FROM ph WHERE plen <= 4),
        |occ AS (SELECT i.doc_id, i.island, p.plen, i.w
        |  FROM isl i JOIN ph4 p USING (doc_id, island)),
        |ws AS (SELECT w, (CAST(sum(plen) AS BIGINT) * 1000000) // count(*) AS wscore
        |  FROM occ GROUP BY 1),
        |sc AS (SELECT occ.doc_id, occ.island, CAST(sum(ws.wscore) AS BIGINT) AS score_micro
        |  FROM occ JOIN ws USING (w) GROUP BY 1, 2),
        |r AS (SELECT sc.doc_id, p.phrase, sc.score_micro,
        |  CAST(row_number() OVER (PARTITION BY sc.doc_id
        |    ORDER BY sc.score_micro DESC, p.phrase ASC) AS INT) AS rnk
        | FROM sc JOIN ph4 p USING (doc_id, island))
        |SELECT doc_id, phrase, score_micro, rnk FROM r WHERE rnk <= 3""".stripMargin
    },
    // per-term ×10⁶ quantization BEFORE the sum (one libm ln + one
    // multiply on identical operands per distinct (doc, char)), so
    // the reduction is an order-immune integer sum on both engines
    "text_char_entropy" ->
      """WITH ch AS (SELECT doc_id, length(text) AS n, substr(text, j, 1) AS ch
        |  FROM documents, (SELECT unnest(generate_series(1, 4096)) AS j) s
        |  WHERE j <= length(text)),
        |c AS (SELECT doc_id, n, ch, count(*) AS c FROM ch GROUP BY 1, 2, 3),
        |q AS (SELECT doc_id, n,
        |  CAST(floor(c * ln(c) * 1e6 + 0.5) AS BIGINT) AS q FROM c),
        |a AS (SELECT doc_id, n, CAST(count(*) AS BIGINT) AS n_distinct_chars,
        |  CAST(sum(q) AS BIGINT) AS s FROM q GROUP BY 1, 2)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars, n_distinct_chars,
        | round(ln(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / 1e6 / CAST(n AS DOUBLE) + 1e-9, 4) AS entropy_nats,
        | round((ln(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)) / ln(2.0) + 1e-9, 4) AS bits_per_char
        |FROM a""".stripMargin,
    "dedup_cross_source" ->
      s"""WITH t AS (SELECT doc_id, source, $sqlToks AS toks FROM documents),
        |w AS (SELECT DISTINCT source, md5(array_to_string(toks[i:i+9],' ')) AS wh
        |  FROM t, (SELECT unnest(generate_series(1,4096)) AS i) s
        |  WHERE i <= len(toks)-9)
        |SELECT a.source AS source_a, b.source AS source_b,
        | CAST(count(*) AS BIGINT) AS n_shared_windows
        |FROM w a JOIN w b ON a.wh = b.wh AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    // plain single-window cumulative replay of the two-level rank
    // split; boundaries via the same straddle test
    "q_histogram_equidepth" ->
      """WITH c AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents FROM lineitem),
        |v AS (SELECT cents, CAST(count(*) AS BIGINT) AS nv FROM c GROUP BY 1),
        |cum AS (SELECT cents, nv, CAST(sum(nv) OVER (ORDER BY cents
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM v),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |j AS (SELECT unnest(generate_series(1, 8)) AS bucket),
        |b AS (SELECT j.bucket, (j.bucket * n.n) // 8 AS r FROM j, n)
        |SELECT CAST(b.bucket AS INT) AS bucket, cum.cents / 100.0 AS ub_price,
        | CAST(b.r AS BIGINT) AS target_rank, cum.cum AS cum_le
        |FROM b JOIN cum ON cum.cum - cum.nv < b.r AND b.r <= cum.cum""".stripMargin,
    "text_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM documents),
        |tk AS (SELECT doc_id, min(md5(tok)) AS min_tok_hash FROM
        |  (SELECT doc_id, unnest(list_distinct(list_filter(string_split(norm,' '), x->len(x)>0))) AS tok FROM t)
        |  GROUP BY 1)
        |SELECT t.doc_id, md5(t.norm) AS fp, tk.min_tok_hash
        |FROM t LEFT JOIN tk USING (doc_id)""".stripMargin,
    "text_repetition" ->
      s"""WITH tk AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS n FROM tk GROUP BY 1,2),
        |s AS (SELECT doc_id, sum(n)::BIGINT AS n_tokens, count(*)::BIGINT AS n_distinct,
        |  max(n)::BIGINT AS top_tok_n FROM c GROUP BY 1)
        |SELECT d.doc_id, coalesce(s.n_tokens,0) AS n_tokens,
        | coalesce(s.n_distinct,0) AS n_distinct,
        | round(1.0 - s.n_distinct*1.0/s.n_tokens + 1e-9, 4) AS dup_ratio,
        | round(s.top_tok_n*1.0/s.n_tokens + 1e-9, 4) AS top_ratio
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin,
    "text_contamination" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4],' ') AS g
        |  FROM t, (SELECT unnest(generate_series(1,4096)) AS i) s WHERE i <= len(toks)-4),
        |b AS (SELECT DISTINCT g FROM g WHERE doc_id < 10)
        |SELECT g.doc_id, count(*) AS n_hits
        |FROM g JOIN b USING (g) WHERE g.doc_id >= 10 GROUP BY 1""".stripMargin,
    "text_contamination_shuffled" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4],' ') AS g
        |  FROM t, (SELECT unnest(generate_series(1,4096)) AS i) s WHERE i <= len(toks)-4),
        |b AS (SELECT DISTINCT g FROM g WHERE doc_id < 10)
        |SELECT g.doc_id, count(*) AS n_hits
        |FROM g JOIN b USING (g) WHERE g.doc_id >= 10 GROUP BY 1""".stripMargin,
    "text_contamination_bloom" -> {
      // replay the Spark side's md5 Bloom geometry: hash j of a gram
      // is the 20-bit value of md5 nibbles [5j+1, 5j+5] (same windows
      // as TextAnalysis.bloomPos); membership = all 3 positions among
      // the bench set's bit positions, false positives included.
      def nib(off: String) = s"(strpos('0123456789abcdef',substr(h,$off,1))-1)"
      val posList = (0 until TextAnalysis.BloomHashes).map { j =>
        (1 to 5).map(i =>
          s"${math.pow(16, 5 - i).toLong}*${nib((5 * j + i).toString)}")
          .mkString("(", " + ", ")")
      }.mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4],' ') AS g
        |  FROM t, (SELECT unnest(generate_series(1,4096)) AS i) s WHERE i <= len(toks)-4),
        |hp AS (SELECT doc_id, g, unnest($posList) AS pos
        |  FROM (SELECT doc_id, g, md5(g) AS h FROM g)),
        |bits AS (SELECT DISTINCT pos FROM hp WHERE doc_id < 10),
        |f AS (SELECT hp.doc_id, hp.g FROM hp JOIN bits USING (pos)
        |  WHERE hp.doc_id >= 10 GROUP BY 1, 2 HAVING count(*) = ${TextAnalysis.BloomHashes})
        |SELECT doc_id, count(*)::BIGINT AS n_maybe FROM f GROUP BY 1""".stripMargin
    },
    "text_contamination_fuzzy" ->
      s"""WITH $sqlShingles,
        |mh AS (SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS h
        |  FROM sh, (SELECT unnest(generate_series(0,15)) AS seed) s GROUP BY 1,2),
        |bands AS (SELECT doc_id, seed//4 AS band, md5(string_agg(h,'|' ORDER BY seed)) AS bh
        |  FROM mh GROUP BY 1,2)
        |SELECT c.doc_id, count(DISTINCT b.doc_id) AS n_bench_matches
        |FROM bands c JOIN bands b ON c.band = b.band AND c.bh = b.bh
        |WHERE b.doc_id < 50 AND c.doc_id >= 50
        |GROUP BY 1""".stripMargin,
    "corpus_filter_funnel" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $sqlToks AS toks FROM documents),
        |f AS (SELECT doc_id, md5(text) AS eh,
        |  list_contains(['en','es','fr'], lang) AS f_lang,
        |  len(toks) >= 20 AS f_len,
        |  round(0.4*coalesce(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE/nullif(len(toks),0),0)
        |   + 0.3*(1-coalesce(length(regexp_replace(text,'[A-Za-z0-9\\s]','','g'))::DOUBLE/nullif(length(text),0),0))
        |   + 0.3*least(len(toks)/100.0,1.0) + 1e-9, 4) >= 0.45 AS f_q
        | FROM t),
        |g AS (SELECT *, min(doc_id) OVER (PARTITION BY eh) AS rep FROM f),
        |a AS (SELECT count(*) AS n0,
        |  CAST(sum(CASE WHEN f_lang THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN f_lang AND f_len THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN f_lang AND f_len AND f_q THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(sum(CASE WHEN f_lang AND f_len AND f_q AND doc_id = rep THEN 1 ELSE 0 END) AS BIGINT) AS n4
        | FROM g)
        |SELECT 1 AS stage_id, 'lang_allowlist' AS stage, n0 AS docs_in,
        |  n0 - n1 AS docs_removed, n1 AS docs_out, n1 / CAST(nullif(n0, 0) AS DOUBLE) AS keep_rate FROM a
        |UNION ALL SELECT 2, 'min_length', n1, n1 - n2, n2, n2 / CAST(nullif(n1, 0) AS DOUBLE) FROM a
        |UNION ALL SELECT 3, 'quality_threshold', n2, n2 - n3, n3, n3 / CAST(nullif(n2, 0) AS DOUBLE) FROM a
        |UNION ALL SELECT 4, 'exact_dedup', n3, n3 - n4, n4, n4 / CAST(nullif(n3, 0) AS DOUBLE) FROM a""".stripMargin,
    "corpus_source_profile" ->
      s"""WITH t AS (SELECT source, text, $sqlToks AS toks FROM documents),
        |m AS (SELECT source, md5(text) AS eh, len(toks)::BIGINT AS n_toks,
        |  round(0.4*coalesce(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE/nullif(len(toks),0),0)
        |   + 0.3*(1-coalesce(length(regexp_replace(text,'[A-Za-z0-9\\s]','','g'))::DOUBLE/nullif(length(text),0),0))
        |   + 0.3*least(len(toks)/100.0,1.0) + 1e-9, 4) AS q
        | FROM t),
        |f AS (SELECT *, count(*) OVER (PARTITION BY eh) AS n_copies FROM m),
        |b AS (SELECT source, count(*) AS n_docs,
        |  ${ExactAgg.exactMeanSql("q", 4)} AS avg_quality,
        |  ${ExactAgg.exactMeanSql("n_toks", 4)} AS avg_tokens,
        |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        | FROM f GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM b)
        |SELECT source, n_docs, avg_quality, avg_tokens,
        | n_dup / CAST(n_docs AS DOUBLE) AS dup_rate,
        | n_docs / CAST(total_docs AS DOUBLE) AS corpus_share
        |FROM b, tt""".stripMargin,
    // doubles render via DECIMAL(38,4) (fixed-point on both engines;
    // Spark's raw double→string goes scientific at 1e7, DuckDB's not)
    "q_table_stats" -> Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_quantity", "l_extendedprice", "l_discount", "l_returnflag",
      "l_shipdate").map { c =>
      val (mn, mx) =
        if (Set("l_quantity", "l_extendedprice", "l_discount")(c))
          (s"CAST(CAST(min($c) AS DECIMAL(38,4)) AS VARCHAR)",
           s"CAST(CAST(max($c) AS DECIMAL(38,4)) AS VARCHAR)")
        else (s"CAST(min($c) AS VARCHAR)", s"CAST(max($c) AS VARCHAR)")
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         | count(DISTINCT $c) AS ndv,
         | CAST(count(*) FILTER (WHERE $c IS NULL) AS BIGINT) AS n_null,
         | $mn AS min_v,
         | $mx AS max_v FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n"),
    // the sketch VALUE GATES: exact fields recomputed, error-budget
    // verdicts asserted as the literal 'ok' — an out-of-budget sketch
    // emits FAIL:<detail> on the Spark side and hash-mismatches HERE,
    // by name (the corpus_len_guard tripwire pattern)
    "q_approx_stats_bounded" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | 'ok' AS users_ok, 'ok' AS median_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_table_stats_approx_bounded" -> Seq("l_orderkey", "l_partkey",
      "l_suppkey", "l_quantity", "l_extendedprice", "l_discount",
      "l_returnflag", "l_shipdate").map { c =>
      val (mn, mx) =
        if (Set("l_quantity", "l_extendedprice", "l_discount")(c))
          (s"CAST(CAST(min($c) AS DECIMAL(38,4)) AS VARCHAR)",
           s"CAST(CAST(max($c) AS DECIMAL(38,4)) AS VARCHAR)")
        else (s"CAST(min($c) AS VARCHAR)", s"CAST(max($c) AS VARCHAR)")
      s"""SELECT '$c' AS col_name, count(*) AS n_rows, 'ok' AS ndv_ok,
         | CAST(count(*) FILTER (WHERE $c IS NULL) AS BIGINT) AS n_null,
         | $mn AS min_v,
         | $mx AS max_v FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n"),
    "events_value_percentiles_approx_bounded" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | 'ok' AS p50_ok, 'ok' AS p90_ok, 'ok' AS p99_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_new_vs_returning" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM a GROUP BY 1),
        |d AS (SELECT a.day,
        |  CAST(sum(CASE WHEN a.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        |  CAST(sum(CASE WHEN a.day <> f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
        | FROM a JOIN f USING (user_id) GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, new_users, returning_users,
        | new_users / CAST(nullif(new_users + returning_users, 0) AS DOUBLE) AS new_share
        |FROM d""".stripMargin,
    "events_value_percentiles" ->
      """SELECT event_type, count(*) AS n,
        | round(quantile_cont(value, 0.5) + 1e-9, 4) AS p50,
        | round(quantile_cont(value, 0.9) + 1e-9, 4) AS p90,
        | round(quantile_cont(value, 0.99) + 1e-9, 4) AS p99
        |FROM events GROUP BY 1""".stripMargin,
    // chained-CTE replay of the 8 power iterations, each rounded to
    // 6 dp exactly as the Spark loop rounds — identical vectors at
    // every step on both engines
    "events_markov_entropy_rate" -> {
      val chain = (1 to 8).map { k =>
        s"""p$k AS (SELECT tr.next_type AS s, round(sum(p${k - 1}.pi * tr.p) + 1e-9, 6) AS pi
           |  FROM p${k - 1} JOIN tr ON tr.prev_type = p${k - 1}.s GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |l AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_type) AS prev_type
        | FROM e),
        |g AS (SELECT prev_type, event_type AS next_type, count(*) AS n_trans
        | FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tr AS (SELECT prev_type, next_type,
        |  round(n_trans::DOUBLE / sum(n_trans) OVER (PARTITION BY prev_type) + 1e-9, 4) AS p
        | FROM g),
        |st AS (SELECT DISTINCT prev_type AS s FROM tr),
        |p0 AS (SELECT s, 1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM st) AS pi FROM st),
        |$chain,
        |h AS (SELECT prev_type AS s,
        |  CAST(sum(CAST(floor(p * ln(p) * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS h9
        | FROM tr GROUP BY 1),
        |j AS (SELECT p8.s, CAST(round(p8.pi * 1000000) AS BIGINT) AS pi6,
        |  coalesce(h.h9, 0) AS h9
        | FROM p8 LEFT JOIN h ON h.s = p8.s),
        |t AS (SELECT CAST(sum(pi6 * h9) AS BIGINT) AS acc, count(*) AS ns FROM j)
        |SELECT CAST(ns AS INT) AS n_states,
        | round(-CAST(acc AS DOUBLE) / 1e15 + 1e-9, 6) AS entropy_rate_nats,
        | round(-CAST(acc AS DOUBLE) / 1e15 / ln(2) + 1e-9, 6) AS entropy_rate_bits
        |FROM t WHERE ns > 0""".stripMargin
    },
    "events_markov_stationary" -> {
      val chain = (1 to 8).map { k =>
        s"""p$k AS (SELECT tr.next_type AS s, round(sum(p${k - 1}.pi * tr.p) + 1e-9, 6) AS pi
           |  FROM p${k - 1} JOIN tr ON tr.prev_type = p${k - 1}.s GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |l AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_type) AS prev_type
        | FROM e),
        |g AS (SELECT prev_type, event_type AS next_type, count(*) AS n_trans
        | FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tr AS (SELECT prev_type, next_type,
        |  round(n_trans::DOUBLE / sum(n_trans) OVER (PARTITION BY prev_type) + 1e-9, 4) AS p
        | FROM g),
        |st AS (SELECT DISTINCT prev_type AS s FROM tr),
        |p0 AS (SELECT s, 1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM st) AS pi FROM st),
        |$chain
        |SELECT s AS state, pi AS stationary_p FROM p8""".stripMargin
    },
    "events_cuped" -> eventsCupedSql,
    "events_pagerank" -> eventsPagerankSql,
    "events_ppr" -> eventsPprSql,
    "events_holt_forecast" -> holtForecastSql,
    "stream_holt_forecast" -> holtForecastSql,
    "events_holt_winters" -> holtWintersSql,
    "stream_holt_winters" -> holtWintersSql,

    "events_communities" -> eventsCommunitiesSql,
    "events_reach" -> eventsReachSql,
    // recursive-CTE replay of the integer-micro-unit KM fold; the
    // life table itself is plain keyed aggregation
    "events_survival" -> eventsSurvivalSql,
    "stream_survival" -> eventsSurvivalSql,
    "events_changepoint" -> eventsChangepointSql,
    "events_acf" ->
      """WITH d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dy, count(*) AS c
        |  FROM events GROUP BY 1),
        |lags AS (SELECT CAST(unnest(generate_series(1,7)) AS INT) AS lag),
        |p AS (SELECT l.lag, a.c AS x, b.c AS y FROM lags l
        |  JOIN d a ON true JOIN d b ON b.dy = a.dy + to_days(l.lag)),
        |s AS (SELECT lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM p GROUP BY 1)
        |SELECT lag, n,
        |  CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE) > 0
        |    THEN round(CAST(n*sxy - sx*sy AS DOUBLE) /
        |      sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6)
        |    ELSE NULL END AS acf
        |FROM s""".stripMargin,
    "stream_changepoint" -> eventsChangepointSql,
    // variance decomposition over the gap-filled spine: ExactAgg
    // means, ×1e4 quantized squared deviations, one §6 ratio
    "events_seasonality_strength" ->
      s"""WITH hourly AS (SELECT event_type,
        |  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
        |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, min(hour_ts) AS h0, max(hour_ts) AS h1 FROM hourly GROUP BY 1),
        |spine AS (SELECT event_type,
        |  unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts FROM span),
        |sp AS (SELECT s.event_type, s.hour_ts, coalesce(x, 0) AS x,
        |  CAST(hour(s.hour_ts) AS INT) AS h24
        | FROM spine s LEFT JOIN hourly USING (event_type, hour_ts)),
        |hm AS (SELECT event_type, h24, ${ExactAgg.exactMeanSql("x", 4)} AS m
        |  FROM sp GROUP BY 1, 2),
        |tm AS (SELECT event_type, ${ExactAgg.exactMeanSql("x", 4)} AS mu,
        |  CAST(count(*) AS BIGINT) AS n_hours FROM sp GROUP BY 1),
        |tr AS (SELECT sp.event_type, tm.n_hours,
        |  CAST(floor((sp.x - hm.m) * (sp.x - hm.m) * 1e4 + 0.5) AS BIGINT) AS qr,
        |  CAST(floor((sp.x - tm.mu) * (sp.x - tm.mu) * 1e4 + 0.5) AS BIGINT) AS qt
        | FROM sp JOIN hm USING (event_type, h24) JOIN tm USING (event_type)),
        |ss AS (SELECT event_type, n_hours, CAST(sum(qr) AS BIGINT) AS ssr,
        |  CAST(sum(qt) AS BIGINT) AS sst FROM tr GROUP BY 1, 2),
        |pk AS (SELECT event_type, h24 AS peak_hour FROM
        |  (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY m DESC, h24 ASC) AS rn FROM hm) WHERE rn = 1)
        |SELECT ss.event_type, ss.n_hours, pk.peak_hour,
        | round(greatest(0.0, 1.0 - CAST(ssr AS DOUBLE) / nullif(CAST(sst AS DOUBLE), 0.0)) + 1e-9, 4)
        |  AS seasonality_strength
        |FROM ss JOIN pk USING (event_type)""".stripMargin,
    "events_hits" -> eventsHitsSql,
    "events_kcore" -> eventsKcoreSql,
    // the triangle chain re-used per EDGE: common neighbors = the
    // edge's triangle count, union = deg_a + deg_b − common
    "events_neighbor_jaccard" ->
      """WITH i0 AS (SELECT DISTINCT user_id,
        |  CAST(json_extract_string(props,'$.k') AS INTEGER) AS item
        | FROM events WHERE event_type = 'purchase'),
        |i AS (SELECT user_id, item FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY md5(user_id || ':' || item), item) AS rk FROM i0)
        | WHERE rk <= 64),
        |e AS (SELECT DISTINCT a.item AS a, b.item AS b
        |  FROM i a JOIN i b ON a.user_id = b.user_id AND a.item < b.item),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) GROUP BY 1),
        |o AS (SELECT CASE WHEN da <= db THEN e.a ELSE e.b END AS u,
        |  CASE WHEN da <= db THEN e.b ELSE e.a END AS v,
        |  CASE WHEN da <= db THEN db ELSE da END AS dv
        | FROM e JOIN (SELECT node AS a, deg AS da FROM deg) USING (a)
        |  JOIN (SELECT node AS b, deg AS db FROM deg) USING (b)),
        |w AS (SELECT o1.u, o1.v AS x, o2.v AS y
        | FROM o o1 JOIN o o2 ON o1.u = o2.u
        | WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)),
        |tri AS (SELECT w.u, w.x, w.y FROM w
        | JOIN o e3 ON e3.u = w.x AND e3.v = w.y),
        |pe AS (SELECT a, b, CAST(count(*) AS BIGINT) AS common FROM (
        |  SELECT least(u, x) AS a, greatest(u, x) AS b FROM tri
        |  UNION ALL SELECT least(u, y), greatest(u, y) FROM tri
        |  UNION ALL SELECT least(x, y), greatest(x, y) FROM tri) GROUP BY 1, 2)
        |SELECT e.a, e.b,
        | COALESCE(pe.common, CAST(0 AS BIGINT)) AS common_neighbors,
        | round(CAST(COALESCE(pe.common, 0) AS DOUBLE) /
        |  CAST(da.deg + db.deg - COALESCE(pe.common, 0) AS DOUBLE) + 1e-9, 4) AS jaccard
        |FROM e LEFT JOIN pe ON pe.a = e.a AND pe.b = e.b
        |JOIN deg da ON da.node = e.a
        |JOIN deg db ON db.node = e.b""".stripMargin,
    "events_funnel_by_variant" ->
      """WITH e AS (SELECT user_id, event_type,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS v_us FROM e WHERE event_type='view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(us) AS c_us FROM e JOIN v USING (user_id)
        |  WHERE event_type='click' AND us > v_us GROUP BY 1),
        |p AS (SELECT e.user_id, min(us) AS p_us FROM e JOIN c USING (user_id)
        |  WHERE event_type='purchase' AND us > c_us GROUP BY 1),
        |va AS (SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)),1,1) < '8'
        |   THEN 'A' ELSE 'B' END AS variant, count(*) AS n_view FROM v GROUP BY 1),
        |ca AS (SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)),1,1) < '8'
        |   THEN 'A' ELSE 'B' END AS variant, count(*) AS n_click FROM c GROUP BY 1),
        |pa AS (SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)),1,1) < '8'
        |   THEN 'A' ELSE 'B' END AS variant, count(*) AS n_purchase FROM p GROUP BY 1)
        |SELECT va.variant, CAST(va.n_view AS BIGINT) AS n_view,
        | CAST(coalesce(ca.n_click, 0) AS BIGINT) AS n_click,
        | CAST(coalesce(pa.n_purchase, 0) AS BIGINT) AS n_purchase,
        | round(CAST(coalesce(ca.n_click, 0) AS DOUBLE) / CAST(va.n_view AS DOUBLE) + 1e-9, 4) AS click_rate,
        | round(CAST(coalesce(pa.n_purchase, 0) AS DOUBLE) /
        |  nullif(CAST(coalesce(ca.n_click, 0) AS DOUBLE), 0.0) + 1e-9, 4) AS purchase_rate
        |FROM va LEFT JOIN ca USING (variant) LEFT JOIN pa USING (variant)""".stripMargin,
    // plain row_number replay: tie order inside a volume value cannot
    // change sum(rank*x), so the two-level Spark ranks match exactly
    "events_gini" ->
      """WITH x AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS rnk FROM x),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM x),
        |a AS (SELECT CAST(sum(x) AS BIGINT) AS total,
        |  sum(CAST(rnk AS HUGEINT) * x) AS rx FROM r),
        |tp AS (SELECT CAST(sum(x) AS BIGINT) AS topx
        |  FROM r, n WHERE rnk > n.n - n.n // 10)
        |SELECT n.n AS n_users, a.total AS total_events,
        | round(2.0 * CAST(a.rx AS DOUBLE) / (CAST(n.n AS DOUBLE) * CAST(a.total AS DOUBLE))
        |  - CAST(n.n + 1 AS DOUBLE) / CAST(n.n AS DOUBLE) + 1e-9, 6) AS gini,
        | round(CAST(tp.topx AS DOUBLE) / CAST(a.total AS DOUBLE) + 1e-9, 6) AS top_decile_share
        |FROM n, a, tp""".stripMargin,
    "events_bot_detect" -> eventsBotDetectSql,
    "stream_bot_detect" -> eventsBotDetectSql,
    "events_assortativity" -> eventsAssortativitySql,
    // Schank–Wagner forward triangle counting: the oracle replays the
    // identical (degree, id) orientation and wedge order, so the
    // enumeration — not just the counts — matches row for row
    "events_triangles" ->
      s"""WITH ts AS ($triangleStatsSql)
        |SELECT node AS item, n_triangles FROM ts ORDER BY item""".stripMargin,
    // local clustering coefficient off the same forward-algorithm
    // stats: one exact-integer division per node, §6 rounding rule
    "events_clustering_coeff" ->
      s"""WITH ts AS ($triangleStatsSql)
        |SELECT node AS item, deg, n_triangles,
        | CASE WHEN deg < 2 THEN 0.0 ELSE
        |  round(2 * n_triangles / CAST(deg * (deg - 1) AS DOUBLE) + 1e-9, 4)
        | END AS clustering_coeff
        |FROM ts ORDER BY item""".stripMargin,
    // recursive-CTE BFS with min-dist semantics over the same capped
    // co-purchase edges; the UNION-dedup bounds the walk at dist<=4
    "events_shortest_paths" ->
      """WITH RECURSIVE i0 AS (SELECT DISTINCT user_id,
        |  CAST(json_extract_string(props,'$.k') AS INTEGER) AS item
        | FROM events WHERE event_type = 'purchase'),
        |i AS (SELECT user_id, item FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY md5(user_id || ':' || item), item) AS rk FROM i0)
        | WHERE rk <= 64),
        |u AS (SELECT greatest(2, count(DISTINCT user_id) // 50) AS ms FROM i),
        |e AS (SELECT a.item AS a, b.item AS b
        |  FROM i a JOIN i b ON a.user_id = b.user_id AND a.item < b.item, u
        |  GROUP BY 1, 2, u.ms HAVING count(*) >= u.ms),
        |sym AS (SELECT a AS src, b AS dst FROM e
        |  UNION ALL SELECT b AS src, a AS dst FROM e),
        |bfs AS (
        |  SELECT DISTINCT src AS item, 0 AS dist FROM sym WHERE src % 17 = 0
        |  UNION
        |  SELECT s.dst AS item, b.dist + 1 AS dist FROM bfs b
        |   JOIN sym s ON s.src = b.item WHERE b.dist < 4)
        |SELECT item, CAST(min(dist) AS INTEGER) AS dist
        |FROM bfs GROUP BY 1 ORDER BY 1""".stripMargin,
    // the weighted twin: same capped items / significance floor /
    // symmetric edges, integer cost 2 + sup % 3, UNION-deduped
    // recursive min-dist walk under the same budget cut — every
    // in-budget path's prefixes are in budget (costs positive), so
    // the enumeration reaches every optimal distance
    "events_weighted_paths" ->
      """WITH RECURSIVE i0 AS (SELECT DISTINCT user_id,
        |  CAST(json_extract_string(props,'$.k') AS INTEGER) AS item
        | FROM events WHERE event_type = 'purchase'),
        |i AS (SELECT user_id, item FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY md5(user_id || ':' || item), item) AS rk FROM i0)
        | WHERE rk <= 64),
        |u AS (SELECT greatest(2, count(DISTINCT user_id) // 50) AS ms FROM i),
        |e AS (SELECT a.item AS a, b.item AS b, count(*) AS sup
        |  FROM i a JOIN i b ON a.user_id = b.user_id AND a.item < b.item, u
        |  GROUP BY 1, 2, u.ms HAVING count(*) >= u.ms),
        |w AS (SELECT a, b, 2 + sup % 3 AS cost FROM e),
        |sym AS (SELECT a AS src, b AS dst, cost FROM w
        |  UNION ALL SELECT b AS src, a AS dst, cost FROM w),
        |walk AS (
        |  SELECT DISTINCT src AS item, 0 AS dist FROM sym WHERE src % 17 = 0
        |  UNION
        |  SELECT s.dst AS item, wk.dist + s.cost AS dist FROM walk wk
        |   JOIN sym s ON s.src = wk.item WHERE wk.dist + s.cost <= 9)
        |SELECT item, CAST(min(dist) AS BIGINT) AS dist
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,
    // arrival order = event_id; lateness vs the running per-user max
    // event time, all integer µs; ppm by integer DIV
    "events_ooo_audit" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |l AS (SELECT event_type,
        |  greatest(coalesce(max(us) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us, 0), 0) AS late_us
        | FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ooo,
        | CAST(max(late_us) // 1000000 AS BIGINT) AS max_late_s,
        | CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS ooo_ppm
        |FROM l GROUP BY 1""".stripMargin,
    // deduped (type, user) set, user-keyed intersection, §6 Jaccard
    "events_audience_overlap" ->
      """WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
        |i AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(count(*) AS BIGINT) AS n_both
        | FROM s a JOIN s b ON a.user_id = b.user_id AND a.event_type < b.event_type
        | GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
        | round(n_both / CAST(sa.n + sb.n - n_both AS DOUBLE) + 1e-9, 4) AS jaccard
        |FROM i JOIN sz sa ON sa.event_type = i.type_a
        | JOIN sz sb ON sb.event_type = i.type_b""".stripMargin,
    // per candidate pair: distinct counts + shared-value count over
    // the DISTINCT sets; FK verdict on the integer identity
    "q_fk_discovery" -> {
      def block(name: String, ct: String, cc: String, pt: String,
          pc: String) =
        s"""SELECT '$name' AS candidate,
           | c.n AS n_child_distinct, p.n AS n_parent_distinct, s.n AS n_shared,
           | round(s.n / CAST(c.n AS DOUBLE) + 1e-9, 4) AS inclusion,
           | s.n = c.n AS is_fk
           |FROM (SELECT CAST(count(DISTINCT $cc) AS BIGINT) AS n FROM $ct) c,
           |  (SELECT CAST(count(DISTINCT $pc) AS BIGINT) AS n FROM $pt) p,
           |  (SELECT CAST(count(*) AS BIGINT) AS n FROM
           |    (SELECT DISTINCT CAST($cc AS BIGINT) AS v FROM $ct) x
           |    JOIN (SELECT DISTINCT CAST($pc AS BIGINT) AS v FROM $pt) y USING (v)) s""".stripMargin
      Seq(
        block("orders.o_custkey -> customer.c_custkey",
          "orders", "o_custkey", "customer", "c_custkey"),
        block("lineitem.l_orderkey -> orders.o_orderkey",
          "lineitem", "l_orderkey", "orders", "o_orderkey"),
        block("lineitem.l_partkey -> part.p_partkey",
          "lineitem", "l_partkey", "part", "p_partkey"),
        block("lineitem.l_suppkey -> supplier.s_suppkey",
          "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        block("customer.c_nationkey -> nation.n_nationkey",
          "customer", "c_nationkey", "nation", "n_nationkey"),
        block("part.p_size -> nation.n_nationkey",
          "part", "p_size", "nation", "n_nationkey"),
        block("orders.o_orderkey -> customer.c_custkey",
          "orders", "o_orderkey", "customer", "c_custkey"),
      ).mkString("\nUNION ALL\n")
    },
    // 50/50-design chi-square: exact integer numerator/denominator,
    // flag decided on the ROUNDED statistic in both engines; the
    // dedup-state streaming monitor shares it verbatim (pair #21)
    "events_srm" -> srmSql,
    "stream_srm" -> srmSql,
    // four ExactAgg cell means; the streaming (Σq, n) cell-state fold
    // recovers the identical integer means (pair #22)
    "events_did" -> didSql,
    "stream_did" -> didSql,
    "events_ab_test" ->
      """WITH u AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' AND value > 180 THEN 1 ELSE 0 END) AS converted,
        |  CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |   THEN 'A' ELSE 'B' END AS variant
        | FROM events GROUP BY 1, 3),
        |f AS (SELECT
        |  CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN variant = 'A' THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
        |  CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN variant = 'B' THEN converted ELSE 0 END) AS BIGINT) AS conv_b
        | FROM u)
        |SELECT n_a, conv_a, round(conv_a / CAST(nullif(n_a, 0) AS DOUBLE) + 1e-9, 4) AS rate_a,
        | n_b, conv_b, round(conv_b / CAST(nullif(n_b, 0) AS DOUBLE) + 1e-9, 4) AS rate_b,
        | round((conv_b / CAST(nullif(n_b, 0) AS DOUBLE)) / (conv_a / CAST(nullif(n_a, 0) AS DOUBLE)) - 1.0 + 1e-9, 4) AS lift,
        | round(((conv_b / CAST(nullif(n_b, 0) AS DOUBLE)) - (conv_a / CAST(nullif(n_a, 0) AS DOUBLE)))
        |  / nullif(sqrt(((conv_a + conv_b) / CAST(nullif(n_a + n_b, 0) AS DOUBLE))
        |    * (1.0 - (conv_a + conv_b) / CAST(nullif(n_a + n_b, 0) AS DOUBLE))
        |    * (1.0 / CAST(nullif(n_a, 0) AS DOUBLE) + 1.0 / CAST(nullif(n_b, 0) AS DOUBLE))), 0.0) + 1e-9, 4) AS z_score
        |FROM f""".stripMargin,
    "events_funnel_timing" ->
      s"""WITH e AS (SELECT user_id, event_type,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS v_us FROM e WHERE event_type='view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(us) AS c_us FROM e JOIN v USING (user_id)
        |  WHERE event_type='click' AND us > v_us GROUP BY 1),
        |p AS (SELECT e.user_id, min(us) AS p_us FROM e JOIN c USING (user_id)
        |  WHERE event_type='purchase' AND us > c_us GROUP BY 1),
        |d AS (SELECT (c_us - v_us) / 1000000 AS v2c_s, (p_us - c_us) / 1000000 AS c2p_s
        |  FROM p JOIN v USING (user_id) JOIN c USING (user_id))
        |SELECT count(*) AS n_converted,
        | ${ExactAgg.exactMeanSql("v2c_s", 4)} AS avg_view_to_click_s,
        | round(quantile_cont(v2c_s, 0.5) + 1e-9, 4) AS med_view_to_click_s,
        | ${ExactAgg.exactMeanSql("c2p_s", 4)} AS avg_click_to_purchase_s,
        | round(quantile_cont(c2p_s, 0.5) + 1e-9, 4) AS med_click_to_purchase_s
        |FROM d""".stripMargin,
    "corpus_zipf" ->
      s"""WITH t AS (SELECT $sqlToks AS toks FROM documents),
        |tf AS (SELECT term, count(*) AS freq
        |  FROM (SELECT unnest(toks) AS term FROM t) GROUP BY 1),
        |top AS (SELECT term, freq FROM tf ORDER BY freq DESC, term LIMIT 100),
        |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS rank FROM top)
        |SELECT count(*) AS n_terms,
        | round(regr_slope(ln(freq), ln(rank)) + 1e-9, 4) AS zipf_slope,
        | round(regr_r2(ln(freq), ln(rank)) + 1e-9, 4) AS zipf_r2
        |FROM r""".stripMargin,
    "corpus_stats" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        |d AS (SELECT len(toks)::BIGINT AS n_toks FROM t),
        |a AS (SELECT count(*) AS n_docs, sum(n_toks)::BIGINT AS total_tokens,
        |  ${ExactAgg.exactMeanSql("n_toks", 4)} AS avg_tokens,
        |  round(quantile_cont(n_toks,0.5)+1e-9,4) AS med_tokens FROM d),
        |v AS (SELECT count(DISTINCT tok) AS vocab_size
        |  FROM (SELECT unnest(toks) AS tok FROM t))
        |SELECT * FROM a, v""".stripMargin,
    // the oracle ASSERTS 'ok' (it does not recompute the CASE): a
    // corpus outgrowing the 4096 convention diverges HERE, by name,
    // instead of hash-mismatching a random shingle query
    "corpus_len_guard" ->
      s"""WITH t AS (SELECT $sqlToks AS toks FROM documents)
        |SELECT 'ok' AS status,
        | CAST(coalesce(max(len(toks)), 0) AS BIGINT) AS max_toks
        |FROM t""".stripMargin,
    "corpus_split" ->
      """SELECT doc_id,
        | CASE WHEN substr(md5(doc_id::VARCHAR),1,1) IN ('0','1')
        |   THEN 'val' ELSE 'train' END AS split
        |FROM documents""".stripMargin,
    "corpus_sample_stratified" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5(doc_id::VARCHAR),1,1)
        |  < CASE WHEN lang = 'en' THEN '4' ELSE '8' END""".stripMargin,
    "text_perplexity" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        |b AS (SELECT doc_id, toks[i] AS prev, toks[i+1] AS cur
        |  FROM t, (SELECT unnest(generate_series(1,4096)) AS i) g
        |  WHERE i <= len(toks) - 1),
        |c AS (SELECT *, count(*) OVER (PARTITION BY prev, cur) AS n_vw,
        |  count(*) OVER (PARTITION BY prev) AS n_v FROM b)
        |SELECT doc_id, count(*) AS n_bigrams,
        | ${ExactAgg.exactMeanSql("-ln(n_vw::DOUBLE / n_v)", 4)} AS avg_nll
        |FROM c GROUP BY 1""".stripMargin,
    // doc similarity search over the hashed vectors: exact integer
    // dots/norms on the shared vector CTE, one division + sqrt on
    // identical operands, 4-dp round, (cos desc, doc_id) cut
    "doc_ann_topk" ->
      s"""WITH $docAnnChainSql
        |SELECT q_doc, doc_id, cos_sim, rnk FROM semr WHERE rnk <= 5""".stripMargin,
    // hybrid retrieval: reciprocal-rank fusion of the lexical-overlap
    // and hashed-vector rankings (top-20 each, K=60); RRF terms are
    // 1/(K+rank) on identical integer ranks, summed sem-then-lex
    "search_hybrid_rrf" ->
      s"""WITH $docAnnChainSql,
        |dtk AS (SELECT DISTINCT doc_id, tok FROM tk),
        |ov AS (SELECT q.doc_id AS q_doc, c.doc_id AS doc_id, count(*) AS n_shared
        |  FROM dtk q JOIN dtk c USING (tok)
        |  WHERE q.doc_id < 10 AND c.doc_id >= 10 GROUP BY 1, 2),
        |lexr AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_doc ORDER BY n_shared DESC, doc_id) AS INTEGER) AS lex_rnk FROM ov),
        |sem AS (SELECT q_doc, doc_id, rnk AS sem_rnk FROM semr WHERE rnk <= 20),
        |lex AS (SELECT q_doc, doc_id, lex_rnk FROM lexr WHERE lex_rnk <= 20),
        |fused AS (SELECT COALESCE(sem.q_doc, lex.q_doc) AS q_doc,
        |  COALESCE(sem.doc_id, lex.doc_id) AS doc_id,
        |  round(COALESCE(1.0 / (60 + sem_rnk), 0) + COALESCE(1.0 / (60 + lex_rnk), 0) + 1e-9, 6) AS rrf_score
        |  FROM sem FULL OUTER JOIN lex
        |    ON sem.q_doc = lex.q_doc AND sem.doc_id = lex.doc_id),
        |fr AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_doc ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rnk FROM fused)
        |SELECT q_doc, doc_id, rrf_score, rnk FROM fr WHERE rnk <= 5""".stripMargin,
    // feature-hashing doc vectors: md5 byte 0 % 64 dims, nibble-2
    // parity sign, exact signed integer counts; cancelled-to-zero
    // dims dropped on BOTH engines
    "corpus_doc_embedding" ->
      s"""WITH tk AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
        |hx AS (SELECT doc_id,
        |  (16*(strpos('0123456789abcdef',substr(md5(tok),1,1))-1)
        |    + (strpos('0123456789abcdef',substr(md5(tok),2,1))-1)) % 64 AS pos,
        |  CASE WHEN (strpos('0123456789abcdef',substr(md5(tok),3,1))-1) % 2 = 0
        |    THEN 1 ELSE -1 END AS s
        | FROM tk)
        |SELECT doc_id, pos::INTEGER AS pos, sum(s)::BIGINT AS val
        |FROM hx GROUP BY 1, 2 HAVING sum(s) <> 0""".stripMargin,
    "text_tfidf" ->
      s"""WITH tk AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
        |d AS (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term,
        |  round(tf * ln(n_docs::DOUBLE / df) + 1e-9, 4) AS score FROM d, n),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, term) AS INTEGER) AS rnk FROM s)
        |SELECT doc_id, term, score, rnk FROM r WHERE rnk <= 3""".stripMargin,
    "corpus_dsir_importance" ->
      s"""WITH tk AS (SELECT doc_id, lang, n_chars, unnest($sqlToks) AS term FROM documents),
        |h AS (SELECT *, CAST((strpos('0123456789abcdef', substr(md5(term),1,1))-1)*256
        |  + (strpos('0123456789abcdef', substr(md5(term),2,1))-1)*16
        |  + (strpos('0123456789abcdef', substr(md5(term),3,1))-1) AS BIGINT) AS b FROM tk),
        |raw AS (SELECT b, count(*) AS c_raw FROM h GROUP BY 1),
        |tgt AS (SELECT b, count(*) AS c_tgt FROM h
        |  WHERE lang = 'en' AND n_chars >= 250 GROUP BY 1),
        |w AS (SELECT b, CAST((COALESCE(c_tgt, 0) + 1) * 1000000 // (c_raw + 1) AS BIGINT) AS w_ppm
        |  FROM raw LEFT JOIN tgt USING (b)),
        |sc AS (SELECT doc_id, count(*) AS n_tokens, sum(w_ppm) AS w_sum
        |  FROM h JOIN w USING (b) GROUP BY 1),
        |s2 AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(w_sum // n_tokens AS BIGINT) AS score_ppm FROM sc),
        |m AS (SELECT CAST(sum(score_ppm) // count(*) AS BIGINT) AS mean_ppm FROM s2)
        |SELECT doc_id, n_tokens, score_ppm, score_ppm > mean_ppm AS selected
        |FROM s2, m""".stripMargin,
    "corpus_mixture" ->
      """WITH r AS (
        | SELECT doc_id, source,
        |  md5(doc_id::VARCHAR) AS hh,
        |  ((strpos('0123456789abcdef', substr(md5(source),1,1)) - 1) % 4 + 1) * 4
        |    AS rate16,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(doc_id::VARCHAR), doc_id) AS samp_rank,
        |  count(*) OVER (PARTITION BY source) AS n_src
        | FROM documents)
        |SELECT doc_id, source, samp_rank
        |FROM r WHERE samp_rank <= (n_src * rate16 + 15) // 16""".stripMargin,
    "corpus_length_histogram" ->
      s"""SELECT CAST(floor(log2(n_chars)) AS BIGINT) AS len_bucket,
        | count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
        | ${ExactAgg.exactMeanSql("n_chars", 4)} AS avg_chars
        |FROM documents WHERE n_chars > 0 GROUP BY 1""".stripMargin,
    "text_novelty" ->
      s"""WITH $sqlShingles,
        |f AS (SELECT *, min(doc_id) OVER (PARTITION BY shingle) AS first_doc FROM sh)
        |SELECT doc_id, count(*) AS n_grams,
        | sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
        | round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)*1.0/count(*) + 1e-9, 4)
        |   AS novelty_ratio
        |FROM f GROUP BY 1""".stripMargin,
    "text_surprisal" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        |x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |f AS (SELECT *, count(*) OVER (PARTITION BY tok) AS tf FROM x),
        |n AS (SELECT count(*) AS corpus_toks FROM x)
        |SELECT doc_id, count(*) AS n_tokens,
        | ${ExactAgg.exactMeanSql("-ln(tf * 1.0 / corpus_toks)", 4)} AS avg_surprisal
        |FROM f, n GROUP BY 1""".stripMargin,
    "corpus_token_shards" ->
      s"""WITH t AS (SELECT doc_id, len($sqlToks)::BIGINT AS n_toks FROM documents),
        |c AS (SELECT doc_id, n_toks,
        |  sum(n_toks) OVER (ORDER BY doc_id) - n_toks AS start_tok FROM t)
        |SELECT doc_id, n_toks, start_tok::BIGINT AS start_tok,
        | (start_tok // 2048)::BIGINT AS shard_id FROM c""".stripMargin,
    "corpus_shards_roundtrip" ->
      s"""WITH t AS (SELECT doc_id, len($sqlToks)::BIGINT AS n_toks FROM documents),
        |c AS (SELECT doc_id, n_toks,
        |  sum(n_toks) OVER (ORDER BY doc_id) - n_toks AS start_tok FROM t)
        |SELECT (start_tok // 2048)::BIGINT AS shard_id, count(*) AS n_docs,
        | sum(n_toks)::BIGINT AS shard_tokens, min(start_tok)::BIGINT AS first_tok
        |FROM c GROUP BY 1""".stripMargin,
    // same layout priced in greedy-subword tokens: the tokenizer is the
    // SAME regex alternation as the Spark side (spliced from bpeRegex)
    "corpus_bpe_shards" ->
      s"""WITH t AS (SELECT doc_id,
        |  len(regexp_extract_all(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),
        |      '${TextAnalysis.bpeRegex}'))::BIGINT AS n_toks FROM documents),
        |c AS (SELECT doc_id, n_toks,
        |  sum(n_toks) OVER (ORDER BY doc_id) - n_toks AS start_tok FROM t)
        |SELECT doc_id, n_toks, start_tok::BIGINT AS start_tok,
        | (start_tok // 2048)::BIGINT AS shard_id FROM c""".stripMargin,
    // concat-and-chop packing replayed: same global cumsum offsets,
    // each doc unnested over the [first,last] sequence range it spans
    "corpus_pack" ->
      s"""WITH t AS (SELECT doc_id, len($sqlToks)::BIGINT AS n FROM documents),
        |c AS (SELECT doc_id, n, (sum(n) OVER (ORDER BY doc_id) - n)::BIGINT AS st FROM t),
        |e AS (SELECT doc_id, n, st,
        |  unnest(generate_series(st // 128, (st + n - 1) // 128)) AS seq_id
        |  FROM c WHERE n > 0)
        |SELECT seq_id, count(*)::BIGINT AS n_docs,
        | sum(least((seq_id+1)*128, st+n) - greatest(seq_id*128, st))::BIGINT AS n_tokens,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM e GROUP BY 1""".stripMargin,
    "text_bpe_tokens" ->
      s"""WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS nt FROM documents),
        |b AS (SELECT doc_id,
        |  len(list_filter(string_split(nt,' '), x -> len(x)>0))::BIGINT AS n_words,
        |  len(regexp_extract_all(nt, '${TextAnalysis.bpeRegex}'))::BIGINT AS n_bpe,
        |  length(replace(nt, ' ', ''))::BIGINT AS n_chars FROM n)
        |SELECT doc_id, n_words, n_bpe, n_chars,
        | round(n_bpe*1.0/nullif(n_words,0)+1e-9,4) AS fertility FROM b""".stripMargin,
    "text_fertility_by_lang" ->
      s"""WITH n AS (SELECT lang, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS nt FROM documents),
        |b AS (SELECT lang,
        |  len(list_filter(string_split(nt,' '), x -> len(x)>0))::BIGINT AS w,
        |  len(regexp_extract_all(nt, '${TextAnalysis.bpeRegex}'))::BIGINT AS b,
        |  length(replace(nt, ' ', ''))::BIGINT AS c FROM n)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(w) AS BIGINT) AS n_words, CAST(sum(b) AS BIGINT) AS n_bpe,
        | round(CAST(sum(b) AS DOUBLE) / nullif(CAST(sum(w) AS DOUBLE), 0.0) + 1e-9, 4) AS fertility,
        | round(CAST(sum(c) AS DOUBLE) / nullif(CAST(sum(w) AS DOUBLE), 0.0) + 1e-9, 4) AS chars_per_word
        |FROM b GROUP BY 1""".stripMargin,
    "text_bpe_train" ->
      s"""WITH w AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text),'[^a-z0-9]+'), x -> len(x)>0)) AS word FROM documents),
        |u AS (SELECT regexp_extract_all(word, '${TextAnalysis.bpeRegex}') AS us FROM w),
        |p AS (SELECT unnest([us[i] || ' ' || us[i+1] for i in range(1, len(us))]) AS pair FROM u)
        |SELECT pair, count(*)::BIGINT AS n FROM p
        |GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,
    // vocab-growth curve over 20 ordered corpus prefixes + log-log
    // OLS β, ln quantized ×1e6 int64 before any sum
    "text_heaps_law" ->
      s"""WITH toks AS (SELECT doc_id,
         |  unnest(list_filter(regexp_split_to_array(lower(text),'[^a-z0-9]+'), x -> len(x)>0)) AS tok
         | FROM documents),
         |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS new_types FROM (
         |  SELECT tok, min(doc_id) AS doc_id FROM toks GROUP BY 1) GROUP BY 1),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks FROM toks GROUP BY 1),
         |j AS (SELECT pd.doc_id, n_toks, coalesce(new_types, CAST(0 AS BIGINT)) AS new_types
         | FROM pd LEFT JOIN nt USING (doc_id)),
         |bk AS (SELECT *, CAST(ntile(20) OVER (ORDER BY doc_id) AS INT) AS bucket FROM j),
         |pb AS (SELECT bucket, sum(n_toks) AS b_toks, sum(new_types) AS b_types FROM bk GROUP BY 1),
         |cm AS (SELECT bucket,
         |  CAST(sum(b_toks) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         |  CAST(sum(b_types) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
         | FROM pb),
         |pt AS (SELECT bucket, cum_tokens, cum_vocab,
         |  CAST(floor(ln(CAST(cum_tokens AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
         |  CAST(floor(ln(CAST(cum_vocab AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y
         | FROM cm),
         |ft AS (SELECT CAST(count(*) AS BIGINT) AS b, sum(x) AS sx, sum(y) AS sy,
         |  sum(x*y) AS sxy, sum(x*x) AS sxx FROM pt)
         |SELECT bucket, cum_tokens, cum_vocab,
         |  round(CAST(b*sxy - sx*sy AS DOUBLE) / CAST(b*sxx - sx*sx AS DOUBLE) + 1e-9, 6) AS heaps_beta
         |FROM cm, ft""".stripMargin,
    // the merge→recount loop unrolled: each round counts weighted
    // adjacent pairs over the delimited symbol strings, picks the
    // argmax, and replays the identical left-to-right replace — the
    // events_pagerank unrolled-CTE discipline applied to vocab state
    "text_bpe_train_loop" -> {
      val rounds = (1 to 8).map { r =>
        s"""p$r AS (SELECT pair, CAST(sum(n_word) AS BIGINT) AS n FROM (
           |  SELECT unnest([us[i] || ' ' || us[i+1] for i in range(1, len(us))]) AS pair, n_word
           |  FROM (SELECT string_split(trim(sym), '  ') AS us, n_word FROM s${r - 1})) GROUP BY 1),
           |b$r AS (SELECT $r AS round, pair, split_part(pair, ' ', 1) AS a,
           |  split_part(pair, ' ', 2) AS b, n FROM p$r ORDER BY n DESC, pair LIMIT 1),
           |s$r AS (SELECT replace(sym, ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ') AS sym, n_word
           |  FROM s${r - 1}, b$r)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to 8).map(r =>
        s"SELECT round, pair, a || b AS merged, n FROM b$r").mkString("\nUNION ALL ")
      s"""WITH w AS (SELECT word, CAST(count(*) AS BIGINT) AS n_word FROM (
         |  SELECT unnest(list_filter(regexp_split_to_array(lower(text),'[^a-z0-9]+'), x -> len(x)>0)) AS word
         |  FROM documents) GROUP BY 1),
         |s0 AS (SELECT ' ' || array_to_string(regexp_extract_all(word, '${TextAnalysis.bpeRegex}'), '  ') || ' ' AS sym, n_word FROM w),
         |$rounds
         |$unions""".stripMargin
    },
    // the streaming pair-count state drain must land on the identical
    // top-20 — stream/batch equivalence pair #12
    "stream_bpe_train" ->
      s"""WITH w AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text),'[^a-z0-9]+'), x -> len(x)>0)) AS word FROM documents),
        |u AS (SELECT regexp_extract_all(word, '${TextAnalysis.bpeRegex}') AS us FROM w),
        |p AS (SELECT unnest([us[i] || ' ' || us[i+1] for i in range(1, len(us))]) AS pair FROM u)
        |SELECT pair, count(*)::BIGINT AS n FROM p
        |GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,
    "corpus_weighted_sample" -> {
      val h = (1 to 8).map(i =>
        s"${math.pow(16, 8 - i).toLong}*(strpos('0123456789abcdef',substr(h,$i,1))-1)")
        .mkString("(", " + ", ")")
      s"""WITH d AS (SELECT doc_id, len($sqlToks)::BIGINT AS weight,
        |  md5(doc_id::VARCHAR) AS h FROM documents)
        |SELECT doc_id, weight,
        | ((weight * 1000000000000) // ($h + 1))::BIGINT AS priority
        |FROM d WHERE weight > 0
        |ORDER BY priority DESC, doc_id LIMIT 200""".stripMargin
    },
    "events_funnel" -> funnelSql,
    "events_funnel_windowed" ->
      """WITH e AS (SELECT user_id, event_type,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS v_us FROM e WHERE event_type='view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(us) AS c_us FROM e JOIN v USING (user_id)
        |  WHERE event_type='click' AND us > v_us
        |   AND us <= v_us + 86400000000 GROUP BY 1),
        |p AS (SELECT e.user_id, min(us) AS p_us FROM e JOIN c USING (user_id)
        |  WHERE event_type='purchase' AND us > c_us
        |   AND us <= c_us + 604800000000 GROUP BY 1)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
        | (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_24h,
        | (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_7d,
        | round((SELECT count(*) FROM c) / nullif(CAST((SELECT count(*) FROM v) AS DOUBLE), 0.0) + 1e-9, 4) AS click_rate,
        | round((SELECT count(*) FROM p) / nullif(CAST((SELECT count(*) FROM c) AS DOUBLE), 0.0) + 1e-9, 4) AS purchase_rate""".stripMargin,
    "q_late_arriving_dim" ->
      """WITH present AS (SELECT c_custkey FROM customer
        |  WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) <> '1')
        |SELECT CASE WHEN p.c_custkey IS NULL THEN 'inferred' ELSE 'present' END AS member_status,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 1e-9, 2) AS total_revenue
        |FROM orders o LEFT JOIN present p ON o.o_custkey = p.c_custkey
        |GROUP BY 1""".stripMargin,
    // the streaming funnel must converge to the batch funnel's answer
    "stream_funnel" -> funnelSql,
    // the transformWithState twin shares it verbatim (pair #29)
    "stream_tws_funnel" -> funnelSql,
    "events_retention" ->
      """WITH d AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
        | date_diff('day', cohort_day, day) AS day_offset,
        | count(DISTINCT user_id) AS n_users
        |FROM d JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,
    "stream_stream_join" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events)
        |SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id,
        | a.ts AS click_ts, b.ts AS view_ts
        |FROM e a JOIN e b ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'view'
        | AND b.ts >= a.ts - INTERVAL 1 HOUR AND b.ts <= a.ts""".stripMargin,
    "stream_stream_left_join" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |   event_type FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts FROM e
        |  WHERE event_type = 'click'
        |    AND ts <= (SELECT max(ts) - INTERVAL 2 HOUR FROM e)),
        |v AS (SELECT user_id, event_id AS view_id, ts AS view_ts FROM e
        |  WHERE event_type = 'view')
        |SELECT c.user_id, c.click_id, v.view_id, c.click_ts, v.view_ts
        |FROM c LEFT JOIN v ON v.user_id = c.user_id
        | AND v.view_ts >= c.click_ts - INTERVAL 1 HOUR
        | AND v.view_ts <= c.click_ts""".stripMargin,
    // full outer: both sides pre-restricted to the provable region
    // (≤ max-2h) in BOTH engines, then the identical full join
    "stream_stream_full_join" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |   event_type FROM events),
        |cut AS (SELECT max(ts) - INTERVAL 2 HOUR AS cutoff FROM e),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM e, cut WHERE event_type = 'click' AND ts <= cutoff),
        |v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |  FROM e, cut WHERE event_type = 'view' AND ts <= cutoff)
        |SELECT COALESCE(c.user_id, v.user_id) AS user_id,
        | c.click_id, v.view_id, c.click_ts, v.view_ts
        |FROM c FULL JOIN v ON v.user_id = c.user_id
        | AND v.view_ts >= c.click_ts - INTERVAL 1 HOUR
        | AND v.view_ts <= c.click_ts""".stripMargin,
    // right outer: only the VIEW side restricts to the provable
    // region (unmatched clicks are dropped anyway), then the
    // identical right join — replayed as v LEFT JOIN c
    "stream_stream_right_join" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |   event_type FROM events),
        |cut AS (SELECT max(ts) - INTERVAL 2 HOUR AS cutoff FROM e),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM e WHERE event_type = 'click'),
        |v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |  FROM e, cut WHERE event_type = 'view' AND ts <= cutoff)
        |SELECT v.user_id, c.click_id, v.view_id, c.click_ts, v.view_ts
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        | AND v.view_ts >= c.click_ts - INTERVAL 1 HOUR
        | AND v.view_ts <= c.click_ts""".stripMargin,
    "stream_dedup_watermarked" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_heavy_hitters" -> heavyHittersSql,
    "stream_heavy_hitters" -> heavyHittersSql,
    "stream_tws_heavy_hitters" -> heavyHittersSql,
    "text_mojibake" -> mojibakeSql,
    "stream_mojibake" -> mojibakeSql,
    "text_code_detect" ->
      """WITH h AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |n AS (SELECT doc_id, text,
        |  (strpos('0123456789abcdef', substr(h,1,1))-1) AS n1,
        |  (strpos('0123456789abcdef', substr(h,2,1))-1) AS n2,
        |  (strpos('0123456789abcdef', substr(h,3,1))-1) AS n3
        | FROM h),
        |d AS (SELECT doc_id, text
        |  || CASE WHEN n1 % 8 = 0 THEN ' def fn' || CAST(doc_id AS VARCHAR)
        |    || '(x) { return (x * ' || CAST(n2*31 % 100 AS VARCHAR)
        |    || ') % 97; } var v' || CAST(doc_id AS VARCHAR)
        |    || ' = ' || CAST(n3*13 % 50 AS VARCHAR) || ';' ELSE '' END AS dirty
        | FROM n),
        |s AS (SELECT doc_id,
        |  CAST(len(dirty) - len(regexp_replace(dirty, '[{}()=;%*]', '', 'g')) AS BIGINT) AS n_symbols,
        |  CAST(len(regexp_extract_all(dirty, '\b(def|return|var)\b')) AS BIGINT) AS n_keywords,
        |  CAST(len(dirty) AS BIGINT) AS ln FROM d)
        |SELECT doc_id, n_symbols, n_keywords,
        |  n_symbols * 1000000 // ln AS symbol_ppm,
        |  (n_keywords >= 2 AND n_symbols >= 6) AS is_code
        |FROM s""".stripMargin,
    "text_ngram_freq" ->
      s"""WITH t AS (SELECT $sqlToks AS toks FROM documents),
        |bg AS (SELECT array_to_string(toks[i:i+1],' ') AS bigram
        |  FROM t, (SELECT unnest(generate_series(1,4096)) AS i) g WHERE i <= len(toks)-1)
        |SELECT bigram, count(*) AS n FROM bg GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    // synthetic URLs replayed nibble-for-nibble, then the identical
    // canonicalization chain (DuckDB backrefs are \1, Spark's $1)
    "dedup_url_canonicalize" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |n AS (SELECT doc_id,
        |  (strpos('0123456789abcdef', substr(h,1,1))-1) AS n1,
        |  (strpos('0123456789abcdef', substr(h,2,1))-1) AS n2,
        |  (strpos('0123456789abcdef', substr(h,3,1))-1) AS n3,
        |  (strpos('0123456789abcdef', substr(h,4,1))-1) AS n4,
        |  (strpos('0123456789abcdef', substr(h,5,1))-1) AS n5,
        |  (strpos('0123456789abcdef', substr(h,6,1))-1) AS n6,
        |  (strpos('0123456789abcdef', substr(h,7,1))-1) AS n7,
        |  (strpos('0123456789abcdef', substr(h,8,1))-1) AS n8
        | FROM h),
        |r AS (SELECT doc_id,
        |  (CASE WHEN n1 % 2 = 0 THEN 'http://' ELSE 'https://' END)
        |  || (CASE WHEN n2 % 2 = 0 THEN 'www.' ELSE '' END)
        |  || (CASE WHEN n3 % 2 = 0 THEN upper('site' || CAST(n4 % 8 AS VARCHAR))
        |      ELSE 'site' || CAST(n4 % 8 AS VARCHAR) END)
        |  || '.example.org'
        |  || (CASE WHEN n5 % 2 = 0 THEN ':443' ELSE '' END)
        |  || '/p/' || CAST(doc_id % 37 AS VARCHAR)
        |  || (CASE WHEN n6 % 2 = 0 THEN '/' ELSE '' END)
        |  || '?utm_source=s' || CAST(n7 % 4 AS VARCHAR)
        |  || (CASE WHEN n8 % 4 = 0 THEN '&id=' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END)
        |  AS raw_url FROM n),
        |c AS (SELECT doc_id, raw_url,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(raw_url),
        |      '^http://', 'https://'),
        |      '^https://www\.', 'https://'),
        |      ':(443|80)/', '/', 'g'),
        |      ':(443|80)\?', '?', 'g'),
        |    '(utm_[a-z]+|ref)=[^&]*&?', '', 'g'),
        |    '[?&]$', ''),
        |    '/(\?|$)', '\1') AS canonical_url
        | FROM r)
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT raw_url) AS BIGINT) AS n_variants,
        | min(doc_id) AS keeper_doc_id
        |FROM c GROUP BY 1""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS rep_doc_id, count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $sqlShingles,
        |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
        |c AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS common
        |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id<b.doc_id GROUP BY 1,2)
        |SELECT doc_id_1, doc_id_2, round(common*1.0/(na.ns+nb.ns-common),4) AS jaccard
        |FROM c JOIN n na ON na.doc_id=c.doc_id_1 JOIN n nb ON nb.doc_id=c.doc_id_2
        |WHERE common*1.0/(na.ns+nb.ns-common) >= 0.8""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $sqlShingles,
        |mh AS (SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS h
        |  FROM sh, (SELECT unnest(generate_series(0,15)) AS seed) s GROUP BY 1,2),
        |bands AS (SELECT doc_id, seed//4 AS band, md5(string_agg(h,'|' ORDER BY seed)) AS bh
        |  FROM mh GROUP BY 1,2)
        |SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
        |FROM bands a JOIN bands b ON a.band=b.band AND a.bh=b.bh AND a.doc_id<b.doc_id""".stripMargin,
    "dedup_incremental" -> incrementalOracleSql,
    // the table-backed form answers the SAME question through the
    // persisted index — one oracle proves both paths
    "dedup_incremental_table" -> incrementalOracleSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_survivorship" -> dedupSurvivorshipSql,
    // incremental merge == full recompute by construction (contracted
    // super-node propagation preserves component minima), so the
    // stored-state path is hash-checked against the same full-corpus
    // recursive-CTE recompute
    "dedup_clusters_incremental" -> dedupClustersSql,
    "dedup_passage" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        |c AS (SELECT doc_id, md5(array_to_string(toks[(k-1)*8+1:(k-1)*8+8],' ')) AS passage_hash
        |  FROM t, (SELECT unnest(generate_series(1,512)) AS k) g
        |  WHERE len(toks) >= (k-1)*8+8)
        |SELECT passage_hash, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs,
        | min(doc_id) AS rep_doc_id
        |FROM c GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    // all-offset duplicated 10-token windows coalesced into maximal
    // per-doc spans (exact substring dedup, Lee et al. 2022 shape)
    "dedup_spans" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        |w AS (SELECT doc_id, i - 1 AS pos, md5(array_to_string(toks[i:i+9],' ')) AS wh
        |  FROM t, (SELECT unnest(generate_series(1,4096)) AS i) s WHERE i <= len(toks)-9),
        |d AS (SELECT wh FROM w GROUP BY wh HAVING count(DISTINCT doc_id) > 1),
        |j AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (wh)),
        |m AS (SELECT doc_id, pos, max(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM j),
        |c AS (SELECT doc_id, pos,
        |  CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS chg FROM m),
        |isl AS (SELECT doc_id, pos, sum(chg) OVER (PARTITION BY doc_id ORDER BY pos
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM c)
        |SELECT doc_id, min(pos)::BIGINT AS span_start,
        | (max(pos) + 10 - min(pos))::BIGINT AS span_len,
        | count(*)::BIGINT AS n_windows
        |FROM isl GROUP BY doc_id, island""".stripMargin,
    // keep-first span removal: clean bytes hash-compared cross-engine
    "dedup_spans_scrub" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        |w AS (SELECT doc_id, i - 1 AS pos, md5(array_to_string(toks[i:i+9],' ')) AS wh
        |  FROM t, (SELECT unnest(generate_series(1,4096)) AS i) s WHERE i <= len(toks)-9),
        |f AS (SELECT wh, min(doc_id) AS first_doc FROM w GROUP BY 1),
        |rp AS (SELECT DISTINCT w.doc_id, w.pos + g.o AS p
        |  FROM w JOIN f USING (wh), (SELECT unnest(generate_series(0,9)) AS o) g
        |  WHERE w.doc_id > f.first_doc),
        |r AS (SELECT doc_id, list(p) AS rem FROM rp GROUP BY 1)
        |SELECT t.doc_id, len(toks)::BIGINT AS n_tokens,
        | coalesce(len(rem), 0)::BIGINT AS n_removed,
        | (len(toks) - coalesce(len(rem), 0))::BIGINT AS n_kept,
        | md5(coalesce(array_to_string([toks[i] for i in range(1, len(toks)+1)
        |   if NOT list_contains(coalesce(rem, []), i - 1)], ' '), '')) AS clean_md5
        |FROM t LEFT JOIN r USING (doc_id)""".stripMargin,
    // inverted-index (df-capped rare shingles) candidates + exact
    // directional containment ratios — the near-superset screen
    "dedup_containment" ->
      s"""WITH $sqlShingles,
        |dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        |rare AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN dfq USING (shingle) WHERE df <= 50),
        |cand AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
        |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |it AS (SELECT c.doc_id_1, c.doc_id_2, count(*) AS n_inter
        |  FROM cand c JOIN sh a ON a.doc_id = c.doc_id_1
        |  JOIN sh b ON b.doc_id = c.doc_id_2 AND b.shingle = a.shingle GROUP BY 1, 2)
        |SELECT it.doc_id_1, it.doc_id_2, it.n_inter,
        | it.n_inter / CAST(n1.n AS DOUBLE) AS containment_1,
        | it.n_inter / CAST(n2.n AS DOUBLE) AS containment_2
        |FROM it JOIN sz n1 ON n1.doc_id = it.doc_id_1
        |JOIN sz n2 ON n2.doc_id = it.doc_id_2
        |WHERE greatest(it.n_inter / CAST(n1.n AS DOUBLE),
        |  it.n_inter / CAST(n2.n AS DOUBLE)) >= 0.5""".stripMargin,
    "dedup_minhash_eval" ->
      s"""WITH $sqlShingles,
        |mh AS (SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS h
        |  FROM sh, (SELECT unnest(generate_series(0,15)) AS seed) s GROUP BY 1,2),
        |bands AS (SELECT doc_id, seed//4 AS band, md5(string_agg(h,'|' ORDER BY seed)) AS bh
        |  FROM mh GROUP BY 1,2),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
        |  FROM bands a JOIN bands b ON a.band=b.band AND a.bh=b.bh AND a.doc_id<b.doc_id),
        |agree AS (SELECT c.doc_id_1, c.doc_id_2,
        |  CAST(sum(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        |  FROM cand c JOIN mh ma ON ma.doc_id = c.doc_id_1
        |  JOIN mh mb ON mb.doc_id = c.doc_id_2 AND mb.seed = ma.seed GROUP BY 1,2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |it AS (SELECT c.doc_id_1, c.doc_id_2, count(*) AS n_inter
        |  FROM cand c JOIN sh a ON a.doc_id = c.doc_id_1
        |  JOIN sh b ON b.doc_id = c.doc_id_2 AND b.shingle = a.shingle GROUP BY 1,2)
        |SELECT g.doc_id_1, g.doc_id_2, g.n_agree,
        | CAST(g.n_agree AS DOUBLE) / 16.0 AS est_jaccard,
        | COALESCE(it.n_inter,0) / CAST(n1.n + n2.n - COALESCE(it.n_inter,0) AS DOUBLE) AS true_jaccard,
        | abs(CAST(g.n_agree AS DOUBLE) / 16.0
        |   - COALESCE(it.n_inter,0) / CAST(n1.n + n2.n - COALESCE(it.n_inter,0) AS DOUBLE)) AS abs_err
        |FROM agree g LEFT JOIN it ON it.doc_id_1 = g.doc_id_1 AND it.doc_id_2 = g.doc_id_2
        |JOIN sz n1 ON n1.doc_id = g.doc_id_1
        |JOIN sz n2 ON n2.doc_id = g.doc_id_2""".stripMargin,
    "dedup_minhash_tuning" -> {
      def cfg(nb: Int, r: Int) =
        s"""SELECT $nb AS n_bands, $r AS rows_per_band, count(*) AS n_pairs,
           | ${ExactAgg.exactMeanSql("est", 4)} AS mean_est_jaccard FROM (
           |  SELECT c.d1, c.d2, CAST(sum(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) AS DOUBLE) / 16.0 AS est
           |  FROM (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
           |    FROM (SELECT doc_id, seed // $r AS band, md5(string_agg(h,'|' ORDER BY seed)) AS bh
           |          FROM mh GROUP BY 1, 2) x
           |    JOIN (SELECT doc_id, seed // $r AS band, md5(string_agg(h,'|' ORDER BY seed)) AS bh
           |          FROM mh GROUP BY 1, 2) y
           |      ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id) c
           |  JOIN mh ma ON ma.doc_id = c.d1
           |  JOIN mh mb ON mb.doc_id = c.d2 AND mb.seed = ma.seed
           |  GROUP BY 1, 2)""".stripMargin
      s"""WITH $sqlShingles,
        |mh AS (SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS h
        |  FROM sh, (SELECT unnest(generate_series(0,15)) AS seed) s GROUP BY 1,2)
        |${cfg(2, 8)}
        |UNION ALL
        |${cfg(4, 4)}
        |UNION ALL
        |${cfg(8, 2)}""".stripMargin
    },
    // source-pair overlap: true string intersections (the Spark side
    // joins 64-bit shingle hashes — the dedup_ngram_jaccard collision
    // argument), truncating integer ppm
    "corpus_source_overlap" ->
      s"""WITH t AS (SELECT doc_id, source, $sqlToks AS toks FROM documents),
        |sh AS (SELECT DISTINCT source, array_to_string(toks[i:i+2],' ') AS shingle
        |  FROM t, (SELECT unnest(generate_series(1,4096)) AS i) g
        |  WHERE i <= len(toks)-2),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM sh GROUP BY 1),
        |c AS (SELECT a.source AS source_1, b.source AS source_2,
        |   CAST(count(*) AS BIGINT) AS common
        |  FROM sh a JOIN sh b
        |    ON a.shingle = b.shingle AND a.source < b.source GROUP BY 1, 2)
        |SELECT source_1, source_2, na.ns AS n_1, nb.ns AS n_2, common,
        | CAST(common * 1000000 // (na.ns + nb.ns - common) AS BIGINT)
        |   AS jaccard_ppm
        |FROM c JOIN n na ON na.source = c.source_1
        |JOIN n nb ON nb.source = c.source_2
        |ORDER BY 1, 2""".stripMargin,
    "corpus_dedup_weights" ->
      s"""WITH RECURSIVE $sqlShingles,
        |mh AS (SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS h
        |  FROM sh, (SELECT unnest(generate_series(0,15)) AS seed) s GROUP BY 1,2),
        |bands AS (SELECT doc_id, seed//4 AS band, md5(string_agg(h,'|' ORDER BY seed)) AS bh
        |  FROM mh GROUP BY 1,2),
        |pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |  FROM bands a JOIN bands b ON a.band=b.band AND a.bh=b.bh AND a.doc_id<b.doc_id),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
        |reach(doc_id, r) AS (
        |  SELECT doc_id, doc_id AS r FROM documents
        |  UNION
        |  SELECT e.a AS doc_id, reach.r FROM edges e JOIN reach ON reach.doc_id = e.b),
        |cl AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
        |ex AS (SELECT md5(text) AS eh, count(*) AS exact_n FROM documents GROUP BY 1),
        |nn AS (SELECT cluster_id, count(*) AS near_n FROM cl GROUP BY 1)
        |SELECT d.doc_id, ex.exact_n, nn.near_n,
        | 1 / CAST(nn.near_n AS DOUBLE) AS weight
        |FROM documents d
        |JOIN ex ON md5(d.text) = ex.eh
        |JOIN cl ON cl.doc_id = d.doc_id
        |JOIN nn ON nn.cluster_id = cl.cluster_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $sqlShingles,
        |shc AS (SELECT doc_id, shingle, count(*) AS cnt FROM sh GROUP BY 1,2),
        |bits AS (SELECT doc_id, b.i AS bit_pos,
        |  sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(shingle), 1 + b.i//4, 1)) - 1)
        |            >> (3 - (b.i % 4))) & 1 = 1 THEN cnt ELSE -cnt END) AS s
        | FROM shc, (SELECT unnest(generate_series(0,31)) AS i) b GROUP BY 1,2),
        |hs AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN 1::BIGINT << (31-bit_pos) ELSE 0 END)::BIGINT AS simhash
        |  FROM bits GROUP BY 1)
        |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        | CAST(bit_count(xor(a.simhash,b.simhash)) AS INTEGER) AS hamming
        |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash,b.simhash)) <= 3""".stripMargin,
    "dedup_embedding" ->
      """SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
        | round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),4) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""".stripMargin,
    "pipeline_ingest" ->
      """SELECT event_type, count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "stream_window_agg" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts, event_type,
        | count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1,2""".stripMargin,
    "stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    "stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin,
    "stream_sessionize" -> statefulSessionizeSql,
    // the transformWithState twin shares it verbatim (pair #28)
    "stream_tws_sessionize" -> statefulSessionizeSql,
    // the oracle recomputes the metadata from the GENERATOR's formulas
    // (dims/format from the text md5, byte_len = body + header length);
    // the Spark side PARSES the same values back out of the payload's
    // actual header bytes — generator vs parser is the cross-check
    "mm_exif_strip" ->
      """WITH m AS (SELECT doc_id, md5(text) AS h,
        |   octet_length(encode(text)) AS bl,
        |   len(CAST(doc_id AS VARCHAR)) AS idl FROM documents),
        |b AS (SELECT doc_id, bl, idl,
        |  16*(strpos('0123456789abcdef',substr(h,7,1))-1)+(strpos('0123456789abcdef',substr(h,8,1))-1) AS b3,
        |  16*(strpos('0123456789abcdef',substr(h,9,1))-1)+(strpos('0123456789abcdef',substr(h,10,1))-1) AS b4,
        |  16*(strpos('0123456789abcdef',substr(h,11,1))-1)+(strpos('0123456789abcdef',substr(h,12,1))-1) AS b5
        | FROM m),
        |c AS (SELECT doc_id,
        |  CASE b3%3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'gif' END AS fmt,
        |  b5 % 2 = 0 AS had_meta,
        |  CAST(bl + CASE b3%3 WHEN 0 THEN 39 WHEN 1 THEN 33
        |    ELSE 14 + 20*(1 + b4 % 8) END AS BIGINT) AS clean_len,
        |  CASE b3%3 WHEN 0 THEN 14 + idl WHEN 1 THEN 23 + idl
        |    ELSE 8 + idl END AS seg
        | FROM b)
        |SELECT doc_id, fmt, had_meta,
        | CAST(clean_len + CASE WHEN had_meta THEN seg ELSE 0 END AS BIGINT) AS orig_len,
        | CAST(CASE WHEN had_meta THEN seg ELSE 0 END AS BIGINT) AS meta_len,
        | clean_len AS stripped_len,
        | TRUE AS roundtrip_ok
        |FROM c""".stripMargin,
    "mm_decode_meta" ->
      """WITH m AS (SELECT doc_id, md5(text) AS h, octet_length(encode(text)) AS bl FROM documents),
        |b AS (SELECT doc_id, bl,
        |  16*(strpos('0123456789abcdef',substr(h,1,1))-1)+(strpos('0123456789abcdef',substr(h,2,1))-1) AS b0,
        |  16*(strpos('0123456789abcdef',substr(h,3,1))-1)+(strpos('0123456789abcdef',substr(h,4,1))-1) AS b1,
        |  16*(strpos('0123456789abcdef',substr(h,7,1))-1)+(strpos('0123456789abcdef',substr(h,8,1))-1) AS b3,
        |  16*(strpos('0123456789abcdef',substr(h,9,1))-1)+(strpos('0123456789abcdef',substr(h,10,1))-1) AS b4
        | FROM m)
        |SELECT doc_id,
        | (bl + CASE b3%3 WHEN 0 THEN 39 WHEN 1 THEN 33
        |    ELSE 14 + 20*(1 + b4 % 8) END)::BIGINT AS byte_len,
        | (16+b0)::INTEGER AS width, (16+b1)::INTEGER AS height,
        | (CASE WHEN b3%3 = 2 THEN 1 + b4 % 8 ELSE 1 END)::INTEGER AS n_frames,
        | CASE b3%3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'gif' END AS fmt
        |FROM b""".stripMargin,
    // the audio oracle recomputes the generator's md5-derived WAV
    // parameters; the Spark side parses them back from the RIFF bytes
    // aspect bucketing: argmin over the fixed ladder by exact
    // cross-multiplied distortion, ties to the first (squarest) bucket
    "mm_aspect_buckets" ->
      """WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
        |b AS (SELECT doc_id,
        |  16 + 16*(strpos('0123456789abcdef',substr(h,1,1))-1)+(strpos('0123456789abcdef',substr(h,2,1))-1) AS width,
        |  16 + 16*(strpos('0123456789abcdef',substr(h,3,1))-1)+(strpos('0123456789abcdef',substr(h,4,1))-1) AS height
        | FROM m),
        |k AS (SELECT * FROM (VALUES (0,1024,1024),(1,1152,896),(2,896,1152),
        |  (3,1216,832),(4,832,1216),(5,1344,768),(6,768,1344),
        |  (7,1536,640),(8,640,1536)) AS t(i, bw, bh)),
        |sc AS (SELECT doc_id, width, height, i, bw, bh,
        |  (abs(CAST(width AS BIGINT) * bh - CAST(height AS BIGINT) * bw)
        |    * 1000000) // (CAST(bw AS BIGINT) * bh) AS score
        | FROM b CROSS JOIN k),
        |best AS (SELECT doc_id, width, height, bw, bh FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score, i) = 1)
        |SELECT bw AS bucket_w, bh AS bucket_h,
        | CAST(count(*) AS BIGINT) AS n_images,
        | CAST(min((CAST(width AS BIGINT) * 1000000) // height) AS BIGINT)
        |   AS min_aspect_ppm,
        | CAST(max((CAST(width AS BIGINT) * 1000000) // height) AS BIGINT)
        |   AS max_aspect_ppm
        |FROM best GROUP BY 1, 2""".stripMargin,
    // chunk plan from the md5-derived WAV duration (ms-scale windows:
    // win 20ms, overlap 5ms, stride 15ms — the synthetic payloads are
    // sub-second; the arithmetic is scale-free)
    "mm_audio_chunk_plan" ->
      """WITH m AS (SELECT doc_id, md5(text) AS h, octet_length(encode(text)) AS bl FROM documents),
        |b AS (SELECT doc_id, bl,
        |  16*(strpos('0123456789abcdef',substr(h,1,1))-1)+(strpos('0123456789abcdef',substr(h,2,1))-1) AS b0,
        |  16*(strpos('0123456789abcdef',substr(h,3,1))-1)+(strpos('0123456789abcdef',substr(h,4,1))-1) AS b1,
        |  16*(strpos('0123456789abcdef',substr(h,5,1))-1)+(strpos('0123456789abcdef',substr(h,6,1))-1) AS b2
        | FROM m),
        |p AS (SELECT doc_id, bl,
        |  (1 + b0 % 2)::INTEGER AS channels,
        |  (CASE b1 % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050 ELSE 44100 END)::BIGINT AS sample_rate,
        |  (8 * (1 + b2 % 2))::INTEGER AS bits_per_sample
        | FROM b),
        |d AS (SELECT doc_id,
        |  floor(floor(bl * 8 / (channels * bits_per_sample)) * 1000000
        |    / sample_rate)::BIGINT AS duration_us FROM p),
        |f AS (SELECT doc_id, duration_us,
        |  (CASE WHEN duration_us <= 20000 THEN 1
        |    ELSE 1 + (duration_us - 20000 + 15000 - 1) // 15000
        |   END)::BIGINT AS n_chunks
        | FROM d WHERE duration_us > 0)
        |SELECT doc_id, duration_us, n_chunks,
        | ((n_chunks - 1) * 15000 + 20000 - duration_us)::BIGINT AS padded_us
        |FROM f""".stripMargin,
    "mm_audio_meta" ->
      """WITH m AS (SELECT doc_id, md5(text) AS h, octet_length(encode(text)) AS bl FROM documents),
        |b AS (SELECT doc_id, bl,
        |  16*(strpos('0123456789abcdef',substr(h,1,1))-1)+(strpos('0123456789abcdef',substr(h,2,1))-1) AS b0,
        |  16*(strpos('0123456789abcdef',substr(h,3,1))-1)+(strpos('0123456789abcdef',substr(h,4,1))-1) AS b1,
        |  16*(strpos('0123456789abcdef',substr(h,5,1))-1)+(strpos('0123456789abcdef',substr(h,6,1))-1) AS b2
        | FROM m),
        |p AS (SELECT doc_id, bl,
        |  (1 + b0 % 2)::INTEGER AS channels,
        |  (CASE b1 % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050 ELSE 44100 END)::BIGINT AS sample_rate,
        |  (8 * (1 + b2 % 2))::INTEGER AS bits_per_sample
        | FROM b),
        |d AS (SELECT *, floor(bl * 8 / (channels * bits_per_sample))::BIGINT AS n_samples FROM p)
        |SELECT doc_id, (bl + 44)::BIGINT AS byte_len, channels, sample_rate,
        | bits_per_sample, bl::BIGINT AS data_len, n_samples,
        | floor(n_samples * 1000000 / sample_rate)::BIGINT AS duration_us
        |FROM d""".stripMargin,
    // VAD replay from the generator's text (the Spark side extracts
    // the same bytes from the payload at the spec offset): 16-char
    // window char-code energies, strictly-above-mean activity via
    // integer cross-multiply, gaps-and-islands segments
    "mm_audio_vad" ->
      """WITH a AS (SELECT doc_id, text AS body FROM documents WHERE length(text) >= 16),
        |w AS (SELECT doc_id, i AS w, substr(body, i*16 + 1, 16) AS win
        |  FROM a, (SELECT unnest(generate_series(0, 255)) AS i) s
        |  WHERE i <= length(body) // 16 - 1),
        |en AS (SELECT doc_id, w, CAST(sum(ascii(substr(win, j, 1))) AS BIGINT) AS e
        |  FROM w, (SELECT unnest(generate_series(1, 16)) AS j) g GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(e) AS BIGINT) AS te,
        |  CAST(count(*) AS BIGINT) AS nw FROM en GROUP BY 1),
        |act AS (SELECT en.doc_id, en.w FROM en JOIN tot USING (doc_id)
        |  WHERE e * nw > te),
        |il AS (SELECT doc_id, w,
        |  w - row_number() OVER (PARTITION BY doc_id ORDER BY w) AS isl FROM act),
        |sg AS (SELECT doc_id, isl, count(*) AS seg_len FROM il GROUP BY 1, 2),
        |segs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(sum(seg_len) AS BIGINT) AS n_active,
        |  CAST(max(seg_len) AS BIGINT) AS longest_segment FROM sg GROUP BY 1)
        |SELECT t.doc_id, t.nw AS n_windows,
        | CAST(coalesce(s.n_active, 0) AS BIGINT) AS n_active,
        | CAST(coalesce(s.n_segments, 0) AS BIGINT) AS n_segments,
        | CAST(coalesce(s.longest_segment, 0) AS BIGINT) AS longest_segment
        |FROM tot t LEFT JOIN segs s USING (doc_id)""".stripMargin,
    // the oracle recomputes byte length + both size-field checks from
    // the generator's formulas; the Spark side READS the bytes —
    // generator-vs-parser in adversarial (injected-truncation) form
    "stream_integrity_audit" -> mmIntegrityAuditSql,
    "mm_integrity_audit" -> mmIntegrityAuditSql,

    // ALL-PAIRS oracle (the er_blocked_pairs discipline): the Spark
    // side generates candidates via 8-bit bands — pigeonhole-complete
    // at Hamming <= 7 — so any blocking hole fails this hash gate
    "mm_phash_pairs" ->
      """WITH m AS (SELECT doc_id, text AS b, length(text) AS len
        |  FROM documents WHERE length(text) >= 64),
        |p AS (SELECT doc_id, ((j - 1) * 64) // len AS cell,
        |  ascii(substr(b, j, 1)) AS v
        |  FROM m, (SELECT unnest(generate_series(1, 4096)) AS j) s
        |  WHERE j <= len),
        |cs AS (SELECT doc_id, cell, CAST(sum(v) AS BIGINT) AS s FROM p GROUP BY 1, 2),
        |tt AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS t FROM cs GROUP BY 1),
        |bits AS (SELECT cs.doc_id, cell,
        |  CASE WHEN s * 64 > t THEN 1 ELSE 0 END AS bit
        | FROM cs JOIN tt USING (doc_id)),
        |w AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN cell < 32 THEN bit * (1::BIGINT << cell) ELSE 0 END) AS BIGINT) AS w0,
        |  CAST(sum(CASE WHEN cell >= 32 THEN bit * (1::BIGINT << (cell - 32)) ELSE 0 END) AS BIGINT) AS w1
        | FROM bits GROUP BY 1)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS INT) AS hamming
        |FROM w a JOIN w b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= 7""".stripMargin,
    // the video oracle recomputes the generator's md5-derived MP4
    // movie-header fields; the Spark side walks the actual ISO-BMFF
    // boxes (ftyp size → moov → mvhd offsets) to read them back
    "mm_video_meta" ->
      """WITH m AS (SELECT doc_id, md5(text) AS h, octet_length(encode(text)) AS bl FROM documents),
        |b AS (SELECT doc_id, bl,
        |  16*(strpos('0123456789abcdef',substr(h,3,1))-1)+(strpos('0123456789abcdef',substr(h,4,1))-1) AS b1,
        |  16*(strpos('0123456789abcdef',substr(h,5,1))-1)+(strpos('0123456789abcdef',substr(h,6,1))-1) AS b2,
        |  16*(strpos('0123456789abcdef',substr(h,7,1))-1)+(strpos('0123456789abcdef',substr(h,8,1))-1) AS b3,
        |  16*(strpos('0123456789abcdef',substr(h,9,1))-1)+(strpos('0123456789abcdef',substr(h,10,1))-1) AS b4
        | FROM m),
        |p AS (SELECT doc_id, bl,
        |  (CASE b1 % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000 WHEN 2 THEN 30000 ELSE 90000 END)::BIGINT AS timescale,
        |  (1 + b2 % 30) AS dur_secs, b4, (1 + b3 % 3)::INTEGER AS n_tracks
        | FROM b),
        |d AS (SELECT *, (timescale * dur_secs + b4)::BIGINT AS duration_ticks FROM p)
        |SELECT doc_id, (bl + 144)::BIGINT AS byte_len, 'isom' AS brand,
        | timescale, duration_ticks,
        | floor(duration_ticks * 1000 / timescale)::BIGINT AS duration_ms,
        | n_tracks, bl::BIGINT AS data_len
        |FROM d""".stripMargin,
    // the router oracle recomputes each doc's generator-assigned
    // modality (md5 byte 10 mod 3) and its branch's exact byte count;
    // Spark routes by SNIFFING the payload bytes instead
    "mm_modality_router" -> mmModalityRouterSql,
    // the streaming front door shares the batch oracle verbatim —
    // stream/batch equivalence pair #6
    "stream_modality_router" -> mmModalityRouterSql,
    // the vision-token chain joined doc-keyed with caption token
    // counts; per-fmt conditional rollup of the curation flags
    "mm_caption_pairs" ->
      s"""WITH m AS (SELECT doc_id, md5(text) AS h,
        |  CAST(len($sqlToks) AS BIGINT) AS caption_tokens FROM documents),
        |b AS (SELECT doc_id, caption_tokens,
        |  16*(strpos('0123456789abcdef',substr(h,1,1))-1)+(strpos('0123456789abcdef',substr(h,2,1))-1) AS b0,
        |  16*(strpos('0123456789abcdef',substr(h,3,1))-1)+(strpos('0123456789abcdef',substr(h,4,1))-1) AS b1,
        |  16*(strpos('0123456789abcdef',substr(h,7,1))-1)+(strpos('0123456789abcdef',substr(h,8,1))-1) AS b3,
        |  16*(strpos('0123456789abcdef',substr(h,9,1))-1)+(strpos('0123456789abcdef',substr(h,10,1))-1) AS b4
        | FROM m),
        |d AS (SELECT doc_id, caption_tokens, 16+b0 AS width, 16+b1 AS height,
        |  CASE b3%3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'gif' END AS fmt,
        |  CASE WHEN b3%3 = 2 THEN 1 + b4 % 8 ELSE 1 END AS n_frames FROM b),
        |r AS (SELECT *, greatest(width, height) * 1.0 AS mx FROM d),
        |s AS (SELECT doc_id, fmt, n_frames, caption_tokens,
        |  floor(width * least(1.0, 224 / mx))::INT AS tw,
        |  floor(height * least(1.0, 224 / mx))::INT AS th FROM r),
        |g AS (SELECT fmt, caption_tokens,
        |  CAST(((tw + 15) // 16) * ((th + 15) // 16) * ((n_frames - 1) // 5 + 1) AS BIGINT) AS vision_tokens
        | FROM s)
        |SELECT fmt, CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(CASE WHEN caption_tokens < 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        | CAST(sum(CASE WHEN caption_tokens > 77 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlong,
        | CAST(sum(CASE WHEN vision_tokens > caption_tokens * 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_undercaptioned,
        | CAST(sum(vision_tokens) AS BIGINT) AS total_vision_tokens,
        | CAST(sum(caption_tokens) AS BIGINT) AS total_caption_tokens
        |FROM g GROUP BY 1""".stripMargin,
    "mm_token_budget" ->
      """WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
        |b AS (SELECT doc_id,
        |  16*(strpos('0123456789abcdef',substr(h,1,1))-1)+(strpos('0123456789abcdef',substr(h,2,1))-1) AS b0,
        |  16*(strpos('0123456789abcdef',substr(h,3,1))-1)+(strpos('0123456789abcdef',substr(h,4,1))-1) AS b1,
        |  16*(strpos('0123456789abcdef',substr(h,7,1))-1)+(strpos('0123456789abcdef',substr(h,8,1))-1) AS b3,
        |  16*(strpos('0123456789abcdef',substr(h,9,1))-1)+(strpos('0123456789abcdef',substr(h,10,1))-1) AS b4
        | FROM m),
        |d AS (SELECT doc_id, 16+b0 AS width, 16+b1 AS height,
        |  CASE b3%3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'gif' END AS fmt,
        |  CASE WHEN b3%3 = 2 THEN 1 + b4 % 8 ELSE 1 END AS n_frames FROM b),
        |r AS (SELECT *, greatest(width, height) * 1.0 AS mx FROM d),
        |s AS (SELECT doc_id, fmt, n_frames,
        |  floor(width * least(1.0, 224 / mx))::INT AS tw,
        |  floor(height * least(1.0, 224 / mx))::INT AS th FROM r),
        |g AS (SELECT doc_id, fmt, (tw + 15) // 16 AS tiles_x,
        |  (th + 15) // 16 AS tiles_y, (n_frames - 1) // 5 + 1 AS frames_sampled
        | FROM s)
        |SELECT doc_id, fmt, CAST(tiles_x AS INT) AS tiles_x,
        | CAST(tiles_y AS INT) AS tiles_y, CAST(frames_sampled AS INT) AS frames_sampled,
        | CAST(tiles_x * tiles_y * frames_sampled AS BIGINT) AS vision_tokens
        |FROM g""".stripMargin,
    "mm_resize_plan" ->
      """WITH m AS (SELECT doc_id, md5(text) AS h, octet_length(encode(text)) AS bl FROM documents),
        |b AS (SELECT doc_id, bl,
        |  16*(strpos('0123456789abcdef',substr(h,1,1))-1)+(strpos('0123456789abcdef',substr(h,2,1))-1) AS b0,
        |  16*(strpos('0123456789abcdef',substr(h,3,1))-1)+(strpos('0123456789abcdef',substr(h,4,1))-1) AS b1,
        |  16*(strpos('0123456789abcdef',substr(h,7,1))-1)+(strpos('0123456789abcdef',substr(h,8,1))-1) AS b3,
        |  16*(strpos('0123456789abcdef',substr(h,9,1))-1)+(strpos('0123456789abcdef',substr(h,10,1))-1) AS b4
        | FROM m),
        |d AS (SELECT bl + CASE b3%3 WHEN 0 THEN 39 WHEN 1 THEN 33
        |    ELSE 14 + 20*(1 + b4 % 8) END AS bl,
        |  16+b0 AS width, 16+b1 AS height,
        |  CASE b3%3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'gif' END AS fmt FROM b),
        |r AS (SELECT *, greatest(width, height) * 1.0 AS mx FROM d),
        |s AS (SELECT fmt, floor(log2(bl))::BIGINT AS len_bucket, bl,
        |  floor(width * least(1.0, 224 / mx))::INT AS tw,
        |  floor(height * least(1.0, 224 / mx))::INT AS th FROM r)
        |SELECT fmt, len_bucket, count(*) AS n_media, sum(bl)::BIGINT AS total_bytes,
        | sum(tw * th)::BIGINT AS total_pixels
        |FROM s GROUP BY 1, 2""".stripMargin,
    "corpus_pipeline" ->
      s"""WITH t AS (SELECT doc_id, text, $sqlToks AS toks FROM documents),
        |m AS (SELECT *, len(toks)::BIGINT AS n_toks,
        |  length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / nullif(length(text),0) AS pr,
        |  len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE
        |    / nullif(len(toks),0) AS sr
        | FROM t),
        |q AS (SELECT doc_id, text, toks, n_toks FROM m
        | WHERE round(0.4*coalesce(sr,0)+0.3*(1-coalesce(pr,0))+0.3*least(n_toks/100.0,1.0)+1e-9,4) >= 0.5),
        |d AS (SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM q)
        | WHERE doc_id = rep),
        |g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4],' ') AS g
        |  FROM t, (SELECT unnest(generate_series(1,4096)) AS i) s WHERE i <= len(toks)-4),
        |b AS (SELECT DISTINCT g FROM g WHERE doc_id < 10),
        |c AS (SELECT DISTINCT g.doc_id FROM g JOIN b USING (g) WHERE g.doc_id >= 10),
        |k AS (SELECT d.* FROM d WHERE doc_id >= 10
        |  AND doc_id NOT IN (SELECT doc_id FROM c)),
        |s AS (SELECT *, CASE WHEN substr(md5(doc_id::VARCHAR),1,1) IN ('0','1')
        |  THEN 'val' ELSE 'train' END AS split FROM k)
        |SELECT (SELECT count(*) FROM t) AS n_in,
        | (SELECT count(*) FROM q) AS n_quality,
        | (SELECT count(*) FROM d) AS n_dedup,
        | count(*) AS n_clean,
        | count(CASE WHEN split='train' THEN 1 END) AS n_train,
        | count(CASE WHEN split='val' THEN 1 END) AS n_val,
        | CAST(ceil(sum(n_toks)/2048.0) AS BIGINT) AS n_shards
        |FROM s""".stripMargin,
    "q_salted_agg" ->
      """SELECT event_type, count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "q_salted_join" ->
      """WITH u AS (SELECT o_custkey AS user_id, count(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT event_type, count(*) AS n, sum(n_orders)::BIGINT AS sum_orders,
        | round(sum(value),2) AS sum_value
        |FROM events JOIN u USING (user_id) GROUP BY 1""".stripMargin,
    // the banded rewrite must equal the plain inequality join
    "q_range_join_banded" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
        |SELECT a.user_id, count(*) AS n_pairs
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.us > a.us AND b.us - a.us <= 60000000
        |GROUP BY 1""".stripMargin,
    // the O(n²) NOT-EXISTS definition — affordable at oracle SF
    "q_skyline" ->
      """SELECT a.p_partkey, a.p_retailprice, CAST(a.p_size AS BIGINT) AS p_size
        |FROM part a
        |WHERE NOT EXISTS (SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        |   AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))""".stripMargin,
    // the abs-band optimizer-rule path: the oracle IS the naive
    // abs-difference join — the rewrite's exactness is its proof
    // obligation
    "q_abs_band_auto" ->
      """WITH s AS (SELECT s_suppkey,
        |  CAST(round(s_acctbal * 100) AS BIGINT) AS s_cents FROM supplier),
        |c AS (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS c_cents FROM customer)
        |SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_close_customers,
        | CAST(min(abs(s_cents - c_cents)) AS BIGINT) AS closest_cents
        |FROM s JOIN c ON abs(s_cents - c_cents) <= 500
        |GROUP BY 1""".stripMargin,
    // the optimizer-rule path: the oracle IS the naive inequality join
    "q_interval_overlap_auto" ->
      """WITH ss AS (SELECT l_suppkey,
        |  (CAST(min(l_shipdate) AS DATE) - DATE '1992-01-01') AS ss,
        |  (CAST(max(l_shipdate) AS DATE) - DATE '1992-01-01') AS se
        | FROM lineitem WHERE l_quantity >= 49 GROUP BY 1),
        |cs AS (SELECT o_custkey,
        |  (CAST(min(o_orderdate) AS DATE) - DATE '1992-01-01') AS cs,
        |  (CAST(max(o_orderdate) AS DATE) - DATE '1992-01-01') AS ce
        | FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
        |SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_overlapping_customers
        |FROM ss JOIN cs ON ss.ss <= cs.ce AND cs.cs <= ss.se
        |GROUP BY 1""".stripMargin,
    // the grid interval join must equal the plain overlap inequality join
    "q_interval_overlap" ->
      """WITH sp0 AS (SELECT o_orderkey AS k, o_custkey AS c,
        |  (CAST(o_orderdate AS DATE) - DATE '1992-01-01') AS s,
        |  (CAST(max(l_shipdate) AS DATE) - DATE '1992-01-01') AS ls
        | FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1, 2, 3),
        |sp AS (SELECT k, c, CAST(s AS BIGINT) AS s,
        |  CAST(greatest(s, ls) AS BIGINT) AS e FROM sp0)
        |SELECT a.c AS o_custkey, CAST(count(*) AS BIGINT) AS n_overlaps
        |FROM sp a JOIN sp b ON a.c = b.c AND a.k < b.k
        |  AND a.s <= b.e AND b.s <= a.e
        |GROUP BY 1""".stripMargin,
    "corpus_clean" ->
      s"""WITH lex(slang, word) AS (VALUES
        | ('en','the'),('en','a'),('en','of'),('en','and'),('en','to'),('en','in'),('en','is'),
        | ('de','der'),('de','die'),('de','das'),('de','und'),('de','ein'),
        | ('es','el'),('es','la'),('es','los'),('es','de'),('es','y'),
        | ('fr','le'),('fr','les'),('fr','et'),('fr','un'),('fr','dans')),
        |tk AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
        |sc AS (SELECT doc_id, slang, count(*) AS n FROM tk JOIN lex ON tok=word GROUP BY 1,2),
        |best AS (SELECT doc_id, slang FROM
        |  (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, slang) AS rn FROM sc)
        |  WHERE rn=1),
        |qm AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |  length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / nullif(length(text),0) AS pr,
        |  len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE
        |    / nullif(len(toks),0) AS sr
        | FROM (SELECT doc_id, text, $sqlToks AS toks FROM documents)),
        |qual AS (SELECT doc_id,
        |  round(0.4*coalesce(sr,0)+0.3*(1-coalesce(pr,0))+0.3*least(n_tokens/100.0,1.0)+1e-9,4) AS quality_score
        | FROM qm),
        |$sqlShingles,
        |mh AS (SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS h
        |  FROM sh, (SELECT unnest(generate_series(0,15)) AS seed) s GROUP BY 1,2),
        |bands AS (SELECT doc_id, seed//4 AS band, md5(string_agg(h,'|' ORDER BY seed)) AS bh
        |  FROM mh GROUP BY 1,2),
        |dups AS (SELECT DISTINCT b.doc_id
        |  FROM bands a JOIN bands b ON a.band=b.band AND a.bh=b.bh AND a.doc_id<b.doc_id)
        |SELECT d.doc_id, best.slang AS lang_pred, qual.quality_score
        |FROM documents d
        | JOIN best ON d.doc_id=best.doc_id AND best.slang='en'
        | JOIN qual ON d.doc_id=qual.doc_id AND qual.quality_score >= 0.5
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM dups)""".stripMargin,
    "mm_frame_sample" -> mmFrameSampleSql,
    // frame-level CONTENT dedup: the same stride/count frame chain,
    // hashing each frame's 64-byte body window — frames shared across
    // >1 payload with counts + min-doc rep
    "mm_frame_dedup" -> mmFrameDedupSql,
    // charset-Jaccard scene segmentation: the cut decision is an exact
    // integer rational (|∩| < ½|∪|), so every scene replays bit-exact
    "mm_video_scene_cut" ->
      """WITH fr AS (SELECT doc_id, i AS frame_idx,
        |  list_distinct(regexp_extract_all(substr(text, i*32 + 1, 32), '.')) AS cs
        |  FROM documents, (SELECT unnest(generate_series(0, 400)) AS i) g
        |  WHERE len(text) >= (i+1)*32),
        |l AS (SELECT doc_id, frame_idx, cs,
        |  lag(cs) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev FROM fr),
        |c AS (SELECT doc_id, frame_idx,
        |  CASE WHEN prev IS NULL THEN 1
        |   WHEN len(list_intersect(cs, prev)) < 0.5 * len(list_distinct(list_concat(cs, prev))) THEN 1
        |   ELSE 0 END AS cut FROM l),
        |isl AS (SELECT doc_id, frame_idx, sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene_idx FROM c)
        |SELECT doc_id, scene_idx::BIGINT AS scene_idx,
        | min(frame_idx)::BIGINT AS scene_start, count(*)::BIGINT AS scene_len
        |FROM isl GROUP BY doc_id, scene_idx""".stripMargin,
    // the streaming frame-dedup shares the batch oracle verbatim —
    // stream/batch equivalence pair #7
    "stream_frame_dedup" -> mmFrameDedupSql,
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
        |  list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS scale
        | FROM embeddings)
        |SELECT vec_id, (g.i - 1)::INT AS pos, scale,
        | CAST(round(emb[g.i] / scale * 127 + 1e-9) AS INTEGER) AS q
        |FROM e, (SELECT unnest(generate_series(1,64)) AS i) g""".stripMargin,
    "embed_project" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |hp AS (SELECT p.p, d.d,
        |  CASE WHEN (strpos('0123456789abcdef', substr(md5(p.p||':'||d.d),1,1)) - 1) % 2 = 1
        |    THEN 1.0 ELSE -1.0 END AS w
        |  FROM (SELECT unnest(generate_series(0,15)) AS p) p,
        |       (SELECT unnest(generate_series(0,63)) AS d) d)
        |SELECT vec_id, hp.p::INT AS pos,
        | round(sum(emb[hp.d + 1] * hp.w) / sqrt(16.0) + 1e-9, 4) AS proj
        |FROM e, hp GROUP BY 1, 2""".stripMargin,
    "embed_centroids" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |c AS (SELECT (vec_id - 10)::INT AS cell, emb AS cemb FROM e WHERE vec_id >= 10 AND vec_id < 26),
        |corp AS (SELECT * FROM e WHERE vec_id >= 10),
        |s AS (SELECT corp.vec_id, c.cell, list_cosine_similarity(corp.emb, c.cemb) AS sc
        |  FROM corp CROSS JOIN c),
        |a AS (SELECT vec_id, cell FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, cell DESC) AS rn FROM s)
        |  WHERE rn = 1),
        |x AS (SELECT a.cell, (g.i - 1)::INT AS pos, corp.emb[g.i] AS v
        |  FROM a JOIN corp USING (vec_id), (SELECT unnest(generate_series(1,64)) AS i) g),
        |m AS (SELECT cell, pos, ${ExactAgg.exactMeanSql("v", 4)} AS m FROM x GROUP BY 1,2),
        |n AS (SELECT cell, count(*) AS n_members FROM a GROUP BY 1)
        |SELECT m.cell, n.n_members, m.pos, m.m FROM m JOIN n USING (cell)""".stripMargin,
    "ann_bruteforce_topk" -> bruteForceSql,
    "ann_topk_agg" -> bruteForceSql,
    "ann_graph_topk" -> annGraphTopKSql,
    "ann_graph_recall_eval" -> annGraphRecallEvalSql,
    // graph-index append unrolled: band entries + one hop through the
    // stored history graph for arrivals, reverse band update for
    // history, per-segment recall vs the full exact truth
    "ann_nndescent_incremental" -> {
      def rank(src: String, out: String) =
        s"""$out AS (SELECT src, dst FROM (
           |  SELECT p.src, p.dst, row_number() OVER (PARTITION BY p.src
           |    ORDER BY round(list_cosine_similarity(sa.emb, sb.emb), 4) DESC, p.dst) AS rnk
           |  FROM $src p JOIN nd sa ON sa.vec_id = p.src JOIN nd sb ON sb.vec_id = p.dst)
           | WHERE rnk <= 8)""".stripMargin
      def bits(band: Int) = (0 until 4).map(p =>
        s"(CASE WHEN list_dot_product(emb, ${hyperplaneLit(4 * band + p)}) > 0 THEN ${1 << p} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |nd AS (SELECT vec_id, emb FROM e WHERE vec_id >= 10 AND vec_id % 4 = 0),
         |sg AS (SELECT vec_id, ${bits(0)} AS b0, ${bits(1)} AS b1 FROM nd),
         |hp AS (SELECT a.vec_id AS src, b.vec_id AS dst
         |  FROM nd a JOIN nd b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id % 5 <> 0 AND b.vec_id % 5 <> 0),
         |${rank("hp", "hg")},
         |sh AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
         |  FROM sg a JOIN sg b ON (a.b0 = b.b0 OR a.b1 = b.b1) AND a.vec_id <> b.vec_id),
         |sh_wh AS (SELECT src, dst FROM sh WHERE src % 5 = 0 AND dst % 5 <> 0),
         |sh_ww AS (SELECT src, dst FROM sh WHERE src % 5 = 0 AND dst % 5 = 0),
         |sh_hw AS (SELECT src, dst FROM sh WHERE src % 5 <> 0 AND dst % 5 = 0),
         |cn AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM sh_wh
         |  UNION ALL SELECT s.src, g.dst FROM sh_wh s JOIN hg g ON g.src = s.dst
         |  UNION ALL SELECT src, dst FROM sh_ww) WHERE src <> dst),
         |${rank("cn", "gn")},
         |ch AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM hg UNION ALL SELECT src, dst FROM sh_hw)),
         |${rank("ch", "gh")},
         |tp AS (SELECT a.vec_id AS src, b.vec_id AS dst
         |  FROM nd a JOIN nd b ON a.vec_id <> b.vec_id),
         |${rank("tp", "truth")},
         |ts AS (SELECT CASE WHEN src % 5 = 0 THEN 'new' ELSE 'history' END AS segment,
         |  src, dst FROM truth),
         |g AS (SELECT 'new' AS segment, src, dst FROM gn
         |  UNION ALL SELECT 'history', src, dst FROM gh),
         |tt AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_truth FROM ts GROUP BY 1),
         |ht AS (SELECT g.segment, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM g JOIN ts ON ts.segment = g.segment AND ts.src = g.src AND ts.dst = g.dst
         |  GROUP BY 1),
         |ed AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_edges FROM g GROUP BY 1)
         |SELECT ed.segment, n_edges, coalesce(n_hits, CAST(0 AS BIGINT)) AS n_hits,
         |  round(coalesce(n_hits, CAST(0 AS BIGINT)) / CAST(n_truth AS DOUBLE) + 1e-9, 4) AS recall
         |FROM ed LEFT JOIN ht USING (segment) JOIN tt USING (segment)""".stripMargin
    },
    // NN-descent build unrolled: LSH-bucket init, two two-hop
    // expand→re-rank rounds, recall vs the exact all-pairs truth
    "ann_nndescent_build" -> {
      def rank(src: String, out: String) =
        s"""$out AS (SELECT src, dst FROM (
           |  SELECT p.src, p.dst, row_number() OVER (PARTITION BY p.src
           |    ORDER BY round(list_cosine_similarity(sa.emb, sb.emb), 4) DESC, p.dst) AS rnk
           |  FROM $src p JOIN nd sa ON sa.vec_id = p.src JOIN nd sb ON sb.vec_id = p.dst)
           | WHERE rnk <= 8)""".stripMargin
      def hop(g: String, u: String, c: String) =
        s"""$u AS (SELECT src, dst FROM $g UNION SELECT dst, src FROM $g),
           |$c AS (SELECT DISTINCT src, dst FROM (
           |  SELECT x.src AS src, y.dst AS dst FROM $u x JOIN $u y ON x.dst = y.src
           |   WHERE x.src <> y.dst
           |  UNION ALL SELECT src, dst FROM $g))""".stripMargin
      def bits(band: Int) = (0 until 4).map(p =>
        s"(CASE WHEN list_dot_product(emb, ${hyperplaneLit(4 * band + p)}) > 0 THEN ${1 << p} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |nd AS (SELECT vec_id, emb FROM e WHERE vec_id >= 10 AND vec_id % 4 = 0),
         |sig AS (SELECT vec_id, ${bits(0)} AS bucket0, ${bits(1)} AS bucket1 FROM nd),
         |init AS (SELECT DISTINCT src, dst FROM (
         |  SELECT a.vec_id AS src, b.vec_id AS dst
         |   FROM sig a JOIN sig b ON a.bucket0 = b.bucket0 AND a.vec_id <> b.vec_id
         |  UNION ALL
         |  SELECT a.vec_id AS src, b.vec_id AS dst
         |   FROM sig a JOIN sig b ON a.bucket1 = b.bucket1 AND a.vec_id <> b.vec_id)),
         |${rank("init", "g0")},
         |${hop("g0", "u1", "c1")},
         |${rank("c1", "g1")},
         |${hop("g1", "u2", "c2")},
         |${rank("c2", "g2")},
         |truth AS (SELECT src, dst FROM (
         |  SELECT a.vec_id AS src, b.vec_id AS dst, row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY round(list_cosine_similarity(a.emb, b.emb), 4) DESC, b.vec_id) AS rnk
         |  FROM nd a JOIN nd b ON a.vec_id <> b.vec_id)
         | WHERE rnk <= 8),
         |all_r AS (SELECT 0 AS round, src, dst FROM g0
         |  UNION ALL SELECT 1, src, dst FROM g1
         |  UNION ALL SELECT 2, src, dst FROM g2),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         |ed AS (SELECT round, CAST(count(*) AS BIGINT) AS n_edges FROM all_r GROUP BY 1),
         |ht AS (SELECT round, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM all_r JOIN truth USING (src, dst) GROUP BY 1)
         |SELECT ed.round, n_edges, coalesce(n_hits, CAST(0 AS BIGINT)) AS n_hits,
         |  round(coalesce(n_hits, CAST(0 AS BIGINT)) / CAST(n_truth AS DOUBLE) + 1e-9, 4) AS recall
         |FROM ed LEFT JOIN ht USING (round), tt""".stripMargin
    },
    "embed_knn_graph" -> s"WITH $knnGraphChainSql\nSELECT src, dst, cos_sim, rnk FROM knn",
    "embed_hubness" ->
      s"""WITH $knnGraphChainSql,
        |occ AS (SELECT n.vec_id, CAST(count(k.dst) AS BIGINT) AS k_occ
        |  FROM n LEFT JOIN knn k ON k.dst = n.vec_id GROUP BY 1)
        |SELECT k_occ, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM occ GROUP BY 1""".stripMargin,
    // mutual-edge filter + recursive-CTE closure over the same knn
    // chain — the composed oracle of the graph consumer
    "embed_mutual_knn_clusters" ->
      s"""WITH RECURSIVE $knnGraphChainSql,
        |mut AS (SELECT a.src, a.dst FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src),
        |reach(k, r) AS (
        |  SELECT vec_id AS k, vec_id AS r FROM n
        |  UNION
        |  SELECT m.src AS k, reach.r FROM mut m JOIN reach ON reach.k = m.dst),
        |lab AS (SELECT k AS vec_id, min(r) AS cluster_id FROM reach GROUP BY 1),
        |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM lab GROUP BY 1)
        |SELECT lab.vec_id, lab.cluster_id, sz.cluster_size
        |FROM lab JOIN sz USING (cluster_id)""".stripMargin,
    // composed from the two existing oracles (DuckDB allows CTEs in
    // derived tables): the recall eval is definitionally their overlap
    // PQ-family recall: the stored-index refine path replayed in full
    // (subquery-composed), overlapped against the exact L2 top-k
    "ann_pq_recall_eval" ->
      s"""WITH hits AS (SELECT bf.q_id, count(*) AS n_hits
        |  FROM ($l2BruteForceSql) bf JOIN ($pqRefineSql) srv
        |    ON bf.q_id = srv.q_id AND bf.vec_id = srv.vec_id GROUP BY 1),
        |ks AS (SELECT q_id, count(*) AS k FROM ($l2BruteForceSql) GROUP BY 1)
        |SELECT ks.q_id, ks.k, COALESCE(hits.n_hits, 0) AS n_hits,
        | COALESCE(hits.n_hits, 0) / CAST(ks.k AS DOUBLE) AS recall
        |FROM ks LEFT JOIN hits ON hits.q_id = ks.q_id""".stripMargin,
    // the nProbe sweep: candidate recall (true-top-5 in a probed
    // cell) + admitted-candidate counts per probe depth, off the
    // replayed k-means cells and L2 assignment — exact counting
    "ann_pq_tuning" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |corp AS (SELECT vec_id, emb FROM e WHERE vec_id >= 10),
        |q AS (SELECT vec_id, emb FROM e WHERE vec_id < 10),
        |${kmeansIterCtesSql(3, "corp")},
        |cent AS (SELECT cell AS cid, cemb FROM c3),
        |asgd AS (SELECT corp.vec_id, cent.cid, ${l2FullSql("corp.emb", "cent.cemb")} AS d
        |  FROM corp CROSS JOIN cent),
        |asg AS MATERIALIZED (SELECT vec_id, cid AS cell FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM asgd) WHERE rn = 1),
        |prbd AS (SELECT q.vec_id AS q_id, cent.cid, ${l2FullSql("q.emb", "cent.cemb")} AS d
        |  FROM q CROSS JOIN cent),
        |prk AS MATERIALIZED (SELECT q_id, cid AS cell,
        |  row_number() OVER (PARTITION BY q_id ORDER BY d, cid) AS cell_rank FROM prbd),
        |cc AS (SELECT cell, count(*) AS n_in_cell FROM asg GROUP BY 1),
        |lv AS (SELECT unnest([1,2,4,8]) AS n_probe),
        |tr AS (SELECT q_id, vec_id FROM ($l2BruteForceSql)),
        |hits AS (SELECT lv.n_probe, count(*) AS n_hits
        |  FROM tr JOIN asg USING (vec_id)
        |  JOIN prk ON prk.q_id = tr.q_id AND prk.cell = asg.cell
        |  CROSS JOIN lv WHERE prk.cell_rank <= lv.n_probe GROUP BY 1),
        |cand AS (SELECT lv.n_probe, sum(n_in_cell) AS n_candidates
        |  FROM prk JOIN cc USING (cell) CROSS JOIN lv
        |  WHERE prk.cell_rank <= lv.n_probe GROUP BY 1)
        |SELECT lv.n_probe, COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
        | COALESCE(h.n_hits, 0) / CAST(50 AS DOUBLE) AS recall,
        | COALESCE(c.n_candidates, 0)::BIGINT AS n_candidates
        |FROM lv LEFT JOIN hits h USING (n_probe) LEFT JOIN cand c USING (n_probe)""".stripMargin,
    "ann_recall_eval" ->
      s"""WITH hits AS (SELECT bf.q_id, count(*) AS n_hits
        |  FROM ($bruteForceSql) bf JOIN ($ivfKmeansSql) iv
        |    ON bf.q_id = iv.q_id AND bf.vec_id = iv.vec_id GROUP BY 1),
        |ks AS (SELECT q_id, count(*) AS k FROM ($bruteForceSql) GROUP BY 1)
        |SELECT ks.q_id, ks.k, COALESCE(hits.n_hits, 0) AS n_hits,
        | COALESCE(hits.n_hits, 0) / CAST(ks.k AS DOUBLE) AS recall
        |FROM ks LEFT JOIN hits ON hits.q_id = ks.q_id""".stripMargin,
    // int8-quantized scoring replayed exactly: same max-abs scale and
    // round(+1e-9) mapping as embed_quantize; integer dots are exact on
    // both engines, so the reduced-precision path hash-checks too
    "ann_quantized_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |s AS (SELECT vec_id, emb,
        |  list_aggregate(list_transform(emb, x -> abs(x)), 'max') AS scale FROM e),
        |qv AS (SELECT vec_id,
        |  list_transform(emb, x -> CAST(round(x / scale * 127 + 1e-9) AS BIGINT)) AS qe FROM s),
        |q AS (SELECT vec_id AS q_id, qe AS qq FROM qv WHERE vec_id < 10),
        |c AS (SELECT vec_id, qe FROM qv WHERE vec_id >= 10),
        |sc AS (SELECT q_id, vec_id,
        |  round(list_dot_product(qq, qe) /
        |    (sqrt(list_dot_product(qq, qq)) * sqrt(list_dot_product(qe, qe))) + 1e-9, 4) AS cos_sim
        |  FROM q, c),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rnk FROM sc)
        |SELECT q_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5""".stripMargin,
    // binary-sign signatures (two 32-bit words), integer Hamming
    // shortlist, exact cosine rerank — every stage engine-portable
    "ann_hamming_topk" -> hammingSql,
    // the Hamming eval composes the two exact oracles — the same
    // recall harness as ann_recall_eval over the binary-sign path
    "ann_hamming_recall" ->
      s"""WITH hits AS (SELECT bf.q_id, count(*) AS n_hits
        |  FROM ($bruteForceSql) bf JOIN ($hammingSql) hm
        |    ON bf.q_id = hm.q_id AND bf.vec_id = hm.vec_id GROUP BY 1),
        |ks AS (SELECT q_id, count(*) AS k FROM ($bruteForceSql) GROUP BY 1)
        |SELECT ks.q_id, ks.k, COALESCE(hits.n_hits, 0) AS n_hits,
        | COALESCE(hits.n_hits, 0) / CAST(ks.k AS DOUBLE) AS recall
        |FROM ks LEFT JOIN hits ON hits.q_id = ks.q_id""".stripMargin,
    "ann_refine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |s AS (SELECT vec_id, emb,
        |  list_aggregate(list_transform(emb, x -> abs(x)), 'max') AS scale FROM e),
        |qv AS (SELECT vec_id,
        |  list_transform(emb, x -> CAST(round(x / scale * 127 + 1e-9) AS BIGINT)) AS qe FROM s),
        |q AS (SELECT vec_id AS q_id, qe AS qq FROM qv WHERE vec_id < 10),
        |c AS (SELECT vec_id, qe FROM qv WHERE vec_id >= 10),
        |sc AS (SELECT q_id, vec_id,
        |  round(list_dot_product(qq, qe) /
        |    (sqrt(list_dot_product(qq, qq)) * sqrt(list_dot_product(qe, qe))) + 1e-9, 4) AS q_sim
        |  FROM q, c),
        |sl AS (SELECT q_id, vec_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY q_sim DESC, vec_id) AS qrnk FROM sc)
        |  WHERE qrnk <= 20),
        |x AS (SELECT sl.q_id, sl.vec_id,
        |  round(list_cosine_similarity(eq.emb, ec.emb), 4) AS cos_sim
        |  FROM sl JOIN e eq ON eq.vec_id = sl.q_id JOIN e ec ON ec.vec_id = sl.vec_id),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rnk FROM x)
        |SELECT q_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5""".stripMargin,
    // hard negatives = the refine pipeline with the cross-label filter
    // applied before shortlisting; every stage is deterministic (exact
    // int8 arithmetic, rounded scores, vec_id tie-breaks), so the mined
    // set replays exactly
    "ann_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        |s AS (SELECT vec_id, label, emb,
        |  list_aggregate(list_transform(emb, x -> abs(x)), 'max') AS scale FROM e),
        |qv AS (SELECT vec_id, label,
        |  list_transform(emb, x -> CAST(round(x / scale * 127 + 1e-9) AS BIGINT)) AS qe FROM s),
        |q AS (SELECT vec_id AS q_id, label AS q_label, qe AS qq FROM qv WHERE vec_id < 10),
        |c AS (SELECT vec_id, label, qe FROM qv WHERE vec_id >= 10),
        |sc AS (SELECT q_id, q_label, vec_id,
        |  round(list_dot_product(qq, qe) /
        |    (sqrt(list_dot_product(qq, qq)) * sqrt(list_dot_product(qe, qe))) + 1e-9, 4) AS q_sim
        |  FROM q, c WHERE label <> q_label),
        |sl AS (SELECT q_id, q_label, vec_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY q_sim DESC, vec_id) AS qrnk FROM sc)
        |  WHERE qrnk <= 20),
        |x AS (SELECT sl.q_id, sl.q_label, sl.vec_id, ec.label AS neg_label,
        |  round(list_cosine_similarity(eq.emb, ec.emb), 4) AS cos_sim
        |  FROM sl JOIN e eq ON eq.vec_id = sl.q_id JOIN e ec ON ec.vec_id = sl.vec_id),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rnk FROM x)
        |SELECT q_id, q_label, vec_id, neg_label, cos_sim, rnk FROM r WHERE rnk <= 5""".stripMargin,
    // min/max are raw (no arithmetic — identical widened doubles on
    // both engines); mean/std via ExactAgg's order-independent
    // integer moments (SURVEY §6)
    "embed_isotropy" ->
      """WITH e AS (SELECT list_transform(embedding::DOUBLE[],
        |    x -> CAST(round(x * 10000) AS BIGINT)) AS qe FROM embeddings),
        |r AS (SELECT qe, list_sum(list_transform(qe, x -> x * x)) AS row_q2 FROM e),
        |x AS (SELECT (g.i - 1)::INT AS pos, qe[g.i] AS v
        |  FROM r, (SELECT unnest(generate_series(1,64)) AS i) g),
        |ds AS (SELECT pos, sum(v) AS s FROM x GROUP BY pos),
        |num AS (SELECT sum(CAST(s AS HUGEINT) * s) AS ss, count(*) AS dims FROM ds),
        |den AS (SELECT count(*) AS n, sum(row_q2) AS sq2 FROM r)
        |SELECT n AS n_vecs, CAST(dims AS INT) AS dims,
        | round(CAST(sq2 AS DOUBLE) / CAST(n * 100000000 AS DOUBLE), 6) AS mean_norm2,
        | round(CAST(ss AS DOUBLE) / (CAST(n * n AS DOUBLE) * 1e8), 6) AS centroid_norm2,
        | round(CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE)), 6) AS anisotropy
        |FROM den, num""".stripMargin,
    "embed_dim_stats" ->
      s"""WITH e AS (SELECT embedding::DOUBLE[] AS emb FROM embeddings),
        |x AS (SELECT (g.i - 1)::INT AS pos, emb[g.i] AS v
        |  FROM e, (SELECT unnest(generate_series(1,64)) AS i) g)
        |SELECT pos, count(*) AS n_vals,
        | ${ExactAgg.exactMeanSql("v", 4)} AS mean_v,
        | ${ExactAgg.exactStdSql("v", 4)} AS std_v,
        | min(v) AS min_v, max(v) AS max_v
        |FROM x GROUP BY pos""".stripMargin,
    // The LSH/IVF index builds are fully deterministic (md5-derived
    // hyperplanes / first-16-corpus-vector centroids), so the oracle
    // replays the EXACT candidate-generation semantics in SQL — a
    // stronger check than recall-vs-brute-force.
    "ann_lsh_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |b AS (SELECT vec_id, emb, ${(0 until 8).map(p =>
             s"(CASE WHEN list_dot_product(emb, ${hyperplaneLit(p)}) > 0 THEN ${1 << p} ELSE 0 END)")
             .mkString(" + ")} AS bucket FROM e),
        |q AS (SELECT vec_id AS q_id, emb AS qe, bucket FROM b WHERE vec_id < 10),
        |c AS (SELECT vec_id, emb, bucket FROM b WHERE vec_id >= 10),
        |s AS (SELECT q_id, c.vec_id, round(list_cosine_similarity(qe, c.emb), 4) AS cos_sim
        |  FROM q JOIN c USING (bucket)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rnk FROM s)
        |SELECT q_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5""".stripMargin,
    "ann_range_search" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS qe FROM e WHERE vec_id < 10),
        |c AS (SELECT vec_id, emb FROM e WHERE vec_id >= 10)
        |SELECT q_id, c.vec_id,
        | round(list_cosine_similarity(qe, c.emb), 4) AS cos_sim
        |FROM q, c WHERE round(list_cosine_similarity(qe, c.emb), 4) >= 0.3""".stripMargin,
    "ann_lsh_multiprobe_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |b AS (SELECT vec_id, emb, ${(0 until 8).map(p =>
             s"(CASE WHEN list_dot_product(emb, ${hyperplaneLit(p)}) > 0 THEN ${1 << p} ELSE 0 END)")
             .mkString(" + ")} AS bucket FROM e),
        |q AS (SELECT vec_id AS q_id, emb AS qe, bucket FROM b WHERE vec_id < 10),
        |p AS (SELECT q_id, qe, xor(CAST(bucket AS BIGINT), CAST(pr AS BIGINT)) AS bucket
        |  FROM q, (VALUES (0),(1),(2),(4),(8),(16),(32),(64),(128)) AS probes(pr)),
        |c AS (SELECT vec_id, emb, bucket FROM b WHERE vec_id >= 10),
        |s AS (SELECT q_id, c.vec_id, round(list_cosine_similarity(qe, c.emb), 4) AS cos_sim
        |  FROM p JOIN c ON p.bucket = c.bucket),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rnk FROM s)
        |SELECT q_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5""".stripMargin,
    // incremental SemDeDup: HISTORY-trained Lloyd chain (frozen
    // models), full-corpus assignment, asymmetric partner rule —
    // history precedes every arrival, history never self-compares
    "embed_semdedup_incremental" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |corp AS (SELECT vec_id, emb FROM e WHERE vec_id >= 10),
        |hist AS (SELECT vec_id, emb FROM corp WHERE vec_id % 5 <> 0),
        |${kmeansIterCtesSql(3, "hist")},
        |cent AS (SELECT cell, cemb FROM c3),
        |sca AS (SELECT corp.vec_id, cent.cell, list_cosine_similarity(corp.emb, cent.cemb) AS s
        |  FROM corp CROSS JOIN cent),
        |assign AS (SELECT vec_id, cell FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn FROM sca)
        |  WHERE rn = 1),
        |p AS (SELECT b2.vec_id AS vec_id, b2.cell AS cell, a2.vec_id AS dup_of,
        |  round(list_cosine_similarity(ca.emb, cb.emb), 4) AS cos
        | FROM assign a2 JOIN assign b2 ON a2.cell = b2.cell
        | JOIN corp ca ON ca.vec_id = a2.vec_id
        | JOIN corp cb ON cb.vec_id = b2.vec_id
        | WHERE b2.vec_id % 5 = 0
        |  AND (a2.vec_id % 5 <> 0 OR a2.vec_id < b2.vec_id))
        |SELECT vec_id, cell, min(dup_of) AS dup_of, max(cos) AS max_cos
        |FROM p WHERE cos >= 0.4 GROUP BY 1, 2""".stripMargin,
    // per-bin x1e9 quantization before the per-dim sum (the entropy
    // discipline applied to the PSI reduction); bins replay on the
    // identical stored floats
    "embed_drift_psi" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id >= 10),
        |g64 AS (SELECT unnest(generate_series(1, 64)) AS i),
        |x AS (SELECT vec_id % 2 AS sl, (g64.i - 1)::INT AS pos,
        |  emb[g64.i] + (CASE WHEN vec_id % 2 = 1 AND (g64.i - 1) % 8 = 0
        |    THEN 0.5 ELSE 0.0 END) AS v FROM e, g64),
        |b AS (SELECT sl, pos,
        |  least(greatest(CAST(floor((v + 1.0) * 5) AS INT), 0), 9) AS bin,
        |  count(*) AS c FROM x GROUP BY 1, 2, 3),
        |n AS (SELECT CAST(sum(CASE WHEN sl = 0 THEN c ELSE 0 END) / 64 AS BIGINT) AS nr,
        |  CAST(sum(CASE WHEN sl = 1 THEN c ELSE 0 END) / 64 AS BIGINT) AS nc FROM b),
        |j AS (SELECT pos, bin,
        |  coalesce(r.c, 0) AS cr, coalesce(c.c, 0) AS cc
        | FROM (SELECT pos, bin, c FROM b WHERE sl = 0) r
        | FULL OUTER JOIN (SELECT pos, bin, c FROM b WHERE sl = 1) c
        |  USING (pos, bin)),
        |q AS (SELECT pos,
        |  CAST(floor(((cr + 1) / CAST(n.nr + 10 AS DOUBLE) - (cc + 1) / CAST(n.nc + 10 AS DOUBLE))
        |    * ln(((cr + 1) / CAST(n.nr + 10 AS DOUBLE)) / ((cc + 1) / CAST(n.nc + 10 AS DOUBLE)))
        |    * 1e9 + 0.5) AS BIGINT) AS q
        | FROM j, n),
        |s AS (SELECT pos, CAST(sum(q) AS BIGINT) AS s FROM q GROUP BY 1)
        |SELECT pos, round(CAST(s AS DOUBLE) / 1e9 + 1e-9, 6) AS psi,
        | s > 100000000 AS drifted FROM s""".stripMargin,
    // SemDeDup replay: converged-centroid assignment (the shared
    // Lloyd chain), within-cell pairs only, keep-first pruning on the
    // 4-dp rounded cosine threshold
    "embed_semdedup" ->
      s"""WITH ${kmeansChainSql(3)},
        |cent AS (SELECT cell, cemb FROM c3),
        |sc AS (SELECT corp.vec_id, cent.cell, list_cosine_similarity(corp.emb, cent.cemb) AS s
        |  FROM corp CROSS JOIN cent),
        |assign AS (SELECT vec_id, cell FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn FROM sc)
        |  WHERE rn = 1),
        |p AS (SELECT b2.vec_id AS vec_id, b2.cell AS cell, a2.vec_id AS dup_of,
        |  round(list_cosine_similarity(ca.emb, cb.emb), 4) AS cos
        | FROM assign a2 JOIN assign b2 ON a2.cell = b2.cell AND a2.vec_id < b2.vec_id
        | JOIN corp ca ON ca.vec_id = a2.vec_id
        | JOIN corp cb ON cb.vec_id = b2.vec_id)
        |SELECT vec_id, cell, min(dup_of) AS dup_of, max(cos) AS max_cos
        |FROM p WHERE cos >= 0.4 GROUP BY 1, 2""".stripMargin,
    // embed_kmeans runs 4 Lloyd iterations (3 driver-collected rounded
    // updates + the distributed output step); the oracle replays the
    // identical chain and selects update 4's means + member counts
    "embed_kmeans" ->
      s"""WITH ${kmeansChainSql(4)},
        |n AS (SELECT cell, count(*) AS n_members FROM a4 GROUP BY 1)
        |SELECT m.cell, n.n_members, m.pos, m.m FROM m4 m JOIN n USING (cell)""".stripMargin,
    // chained-CTE replay of the 8 power steps over the rounded
    // covariance: normalize + 6-dp round each step, identical vectors
    // on both engines throughout (v0 = 1/8 exactly, unit norm)
    "embed_pca_power" -> {
      val steps = (1 to 8).map { k =>
        s"""u$k AS MATERIALIZED (SELECT c.i AS pos, sum(c.cv * v${k - 1}.v) AS u
           |  FROM c JOIN v${k - 1} ON v${k - 1}.pos = c.j GROUP BY 1),
           |n$k AS MATERIALIZED (SELECT sqrt(sum(u * u)) AS nm FROM u$k),
           |v$k AS MATERIALIZED (SELECT pos, round(u / nm + 1e-9, 6) AS v FROM u$k, n$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |g64 AS (SELECT unnest(generate_series(1,64)) AS i),
        |m AS (SELECT (g64.i - 1) AS pos, ${ExactAgg.exactMeanSql("emb[g64.i]", 4)} AS mv
        |  FROM e, g64 GROUP BY 1),
        |x AS (SELECT vec_id, (g64.i - 1) AS pos, emb[g64.i] AS xv FROM e, g64),
        |c AS MATERIALIZED (SELECT a.pos AS i, b.pos AS j,
        |  ${ExactAgg.exactMeanSql("(a.xv - ma.mv) * (b.xv - mb.mv)", 6)} AS cv
        | FROM x a JOIN x b USING (vec_id)
        | JOIN m ma ON ma.pos = a.pos JOIN m mb ON mb.pos = b.pos
        | GROUP BY 1, 2),
        |v0 AS (SELECT pos, 0.125 AS v FROM m),
        |$steps,
        |l AS (SELECT round(sum(a.v * c.cv * b.v) + 1e-9, 6) AS eigenvalue
        |  FROM c JOIN v8 a ON a.pos = c.i JOIN v8 b ON b.pos = c.j)
        |SELECT v8.pos, v8.v AS loading, l.eigenvalue FROM v8, l""".stripMargin
    },
    // top-3 PCA by orthogonal iteration: the same covariance + 8
    // power steps as embed_pca_power per component, but each multiply
    // output first subtracts its projection onto every ALREADY-FOUND
    // component (dots taken against the raw multiply output,
    // subtractions left-associated) before normalize+round — the
    // orthogonality is by construction; eigenvalues are Rayleigh
    // quotients on the ORIGINAL matrix. Every step replays as CTEs.
    "embed_pca_topk" -> {
      def sel(comp: Int) =
        s"SELECT $comp AS component, v.pos, v.v AS loading, l.ev AS eigenvalue FROM v8c$comp v CROSS JOIN l$comp l"
      s"""WITH $pcaChain3Sql
        |${sel(1)} UNION ALL ${sel(2)} UNION ALL ${sel(3)}""".stripMargin
    },
    // whitening = the flat (x−μ)·v/√λ projection onto the replayed
    // top-3 basis: the 64 terms fold in the same left-associated
    // order as the Spark expression, per row — no inter-row float
    // reduction anywhere in the projection
    "embed_whiten" -> {
      def sel(comp: Int) = {
        val terms = (1 to 64).map(i => s"(e.emb[$i] - mll.ml[$i]) * wl$comp.vl[$i]")
          .mkString(" + ")
        s"""SELECT e.vec_id, $comp AS component,
           |  round(($terms) / sqrt(l$comp.ev) + 1e-9, 4) AS coord
           |FROM e CROSS JOIN mll CROSS JOIN wl$comp CROSS JOIN l$comp""".stripMargin
      }
      s"""WITH $pcaChain3Sql,
        |mll AS MATERIALIZED (SELECT list(mv ORDER BY pos) AS ml FROM m),
        |wl1 AS MATERIALIZED (SELECT list(v ORDER BY pos) AS vl FROM v8c1),
        |wl2 AS MATERIALIZED (SELECT list(v ORDER BY pos) AS vl FROM v8c2),
        |wl3 AS MATERIALIZED (SELECT list(v ORDER BY pos) AS vl FROM v8c3)
        |${sel(1)} UNION ALL ${sel(2)} UNION ALL ${sel(3)}""".stripMargin
    },
    // outliers sit ≥1.5σ below their own cell's mean similarity; the
    // oracle replays the identical k-means chain and scores s4 (the
    // similarities against the converged c3 centroids)
    "embed_outliers" ->
      s"""WITH ${kmeansChainSql(4)},
        |b AS (SELECT vec_id, cell, round(s, 4) AS sim FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn FROM s4)
        |  WHERE rn = 1),
        |st AS (SELECT *, avg(sim) OVER (PARTITION BY cell) AS mu,
        |  stddev_pop(sim) OVER (PARTITION BY cell) AS sigma FROM b)
        |SELECT vec_id, cell, sim,
        | round((sim - mu) / sigma + 1e-9, 4) AS z_score
        |FROM st WHERE sigma > 0 AND (sim - mu) / sigma <= -1.5""".stripMargin,
    // IVF with the k-means quantizer: the same IVF probe/assign body
    // as ann_ivf_topk, centered on the replayed c3 centroids.
    // ann_ivf_table persists the identical index (cell-bucketed
    // catalog table + bucket-pruned probe) — same semantics by
    // construction, same oracle.
    "ann_ivf_kmeans_topk" -> ivfKmeansSql,
    "ann_ivf_table" -> ivfKmeansSql,
    "ann_ivf_shard_topk" -> ivfKmeansSql,
    // PQ: codebooks, codes and ADC tables all replay exactly — the
    // L2² folds are generated from the same index lists as the Spark
    // expressions, so the `+` chains associate identically
    "ann_pq_topk" -> pqSql,
    // online serving runs the full three-stage flagship path per
    // micro-batch off the same stored index — identical semantics to
    // the batch IVF-PQ serve, so the oracle is shared verbatim
    "stream_ann_serve" -> ivfPqSql,
    "ann_pq_refine_topk" -> pqRefineSql,
    "ann_ivf_pq_topk" -> ivfPqSql,
    // frozen-model incremental append: identical serving chain, every
    // model CTE trained on the history slice only
    "ann_index_incremental" -> annIndexIncrementalSql,
    // same serve chain with the tombstone predicate on the code
    // table: deleted means unservable, hash-checked
    "ann_index_delete" -> ivfPqSqlFor("hist", "c.vec_id % 9 <> 0"),
    // the lifecycle monitor: frozen-model serve at three increment
    // shares vs exact truth over the same indexed slice
    "ann_index_drift" -> annIndexDriftSql,
    // pre-filtered vector search: the same serving replay with the
    // label predicate applied to the code table before ADC scoring
    "ann_filtered_topk" -> annFilteredSql,
    "embed_matryoshka_eval" -> embedMatryoshkaSql,
    // same frozen models + codes, different arrival/layout: the
    // streaming append and the compacted rewrite must equal the
    // batch incremental result exactly
    "stream_index_append" -> annIndexIncrementalSql,
    "ann_index_compaction" -> annIndexIncrementalSql,
    "ann_ivf_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |cent AS (SELECT (vec_id - 10)::INT AS cell, emb AS cemb FROM e WHERE vec_id >= 10 AND vec_id < 26),
        |corp AS (SELECT vec_id, emb FROM e WHERE vec_id >= 10),
        |sc AS (SELECT corp.vec_id, cent.cell, list_cosine_similarity(corp.emb, cent.cemb) AS s
        |  FROM corp CROSS JOIN cent),
        |assign AS (SELECT vec_id, cell FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn FROM sc)
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, emb AS qe FROM e WHERE vec_id < 10),
        |qs AS (SELECT q.q_id, cent.cell, list_cosine_similarity(q.qe, cent.cemb) AS s
        |  FROM q CROSS JOIN cent),
        |probe AS (SELECT q_id, cell FROM
        |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY s DESC, cell DESC) AS rn FROM qs)
        |  WHERE rn <= 4),
        |s2 AS (SELECT p.q_id, a.vec_id, round(list_cosine_similarity(q.qe, corp.emb), 4) AS cos_sim
        |  FROM probe p JOIN assign a USING (cell) JOIN corp ON corp.vec_id = a.vec_id JOIN q ON q.q_id = p.q_id),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rnk FROM s2)
        |SELECT q_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5""".stripMargin,
    // the roundtrip legs must equal this aggregate over the ORIGINAL
    // table — one oracle row set per written/re-read format
    "q_csv_malformed_audit" ->
      """WITH h AS (SELECT source, n_chars,
        |  (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),6,1))-1) % 8 = 0 AS bad
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        | CAST(sum(CASE WHEN bad THEN 0 ELSE n_chars END) AS BIGINT) AS sum_chars
        |FROM h GROUP BY 1""".stripMargin,
    "q_source_roundtrip" ->
      """WITH a AS (SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price FROM orders GROUP BY 1)
        |SELECT a.*, f.fmt FROM a, (VALUES ('parquet'), ('csv')) f(fmt)""".stripMargin,
    "q_json_orc_roundtrip" ->
      """WITH a AS (SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price FROM orders GROUP BY 1)
        |SELECT a.*, f.fmt FROM a, (VALUES ('json'), ('orc')) f(fmt)""".stripMargin,
    // the z-ordered copy must preserve every row/value: 2-D range
    // filter + aggregate over the laid-out files vs the original
    "q_zorder_roundtrip" ->
      """SELECT event_type, count(*) AS n_events,
        | round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 10 AND 29
        |  AND date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) BETWEEN 7 AND 13
        |GROUP BY 1""".stripMargin,
    // Bloom file-skipping never drops a true match (no false
    // negatives) and the exact filter kills false positives, so the
    // oracle is the plain full-table point-lookup filter
    "q_bloom_file_skip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderkey % 1000 = 0 AND o_orderkey BETWEEN 1000 AND 600000""".stripMargin,
    // plain-table replay of the DSv2 connector scan: same integer
    // projections, same corpus-relative threshold (max user DIV 4)
    "q_shard_scan" ->
      """WITH e AS (SELECT user_id, event_type,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |m AS (SELECT max(user_id) // 4 AS thr FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM e, m WHERE user_id < thr GROUP BY 1 ORDER BY 1""".stripMargin,
    // write-path twin: same projections, top-quartile threshold
    "q_shard_write_roundtrip" ->
      """WITH e AS (SELECT user_id,
        |  CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |m AS (SELECT max(user_id) - max(user_id) // 4 AS thr FROM e)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM e, m WHERE user_id > thr GROUP BY 1 ORDER BY 1""".stripMargin,
    // the stats the manifest answers, recomputed from raw events
    "q_shard_stats" ->
      """WITH e AS (SELECT user_id,
        |  CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day
        | FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | min(user_id) AS user_min, max(user_id) AS user_max,
        | min(day) AS day_min, max(day) AS day_max
        |FROM e""".stripMargin,
    // string-tag twin of q_shard_scan: zero-padded tag, corpus-relative
    // lexicographic threshold (u + max user DIV 2) — ASCII-only tags,
    // so DuckDB and UTF8String binary order agree
    "q_shard_scan_string" ->
      """WITH e AS (SELECT user_id, event_type,
        |  printf('u%06d', user_id) AS user_tag,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |m AS (SELECT printf('u%06d', max(user_id) // 2) AS thr FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM e, m WHERE user_tag < thr GROUP BY 1 ORDER BY 1""".stripMargin,
    // the generational split replayed with a CASE NULL: rows below
    // the threshold predate the ADD COLUMN, so their day is NULL
    "q_shard_schema_evolution" ->
      """WITH e AS (SELECT user_id, event_type,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |  CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day
        | FROM events),
        |m AS (SELECT max(user_id) // 2 AS thr FROM e),
        |t AS (SELECT user_id, event_type, cents,
        |  CASE WHEN user_id >= thr THEN day ELSE NULL END AS day
        | FROM e, m)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(day) AS BIGINT) AS n_with_day,
        | CAST(sum(cents) AS BIGINT) AS value_cents,
        | CAST(sum(day) AS BIGINT) AS day_total
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // the SUM half of the metadata path, recomputed from raw events
    "q_shard_sum" ->
      """WITH e AS (SELECT
        |  CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(cents) AS BIGINT) AS cents_total,
        | CAST(sum(day) AS BIGINT) AS day_total
        |FROM e""".stripMargin,
    // double-predicate twin: corpus-relative double threshold — one
    // exact long→double conversion + one correctly-rounded division
    // on both engines, then identical double comparisons
    "q_shard_scan_double" ->
      """WITH e AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |  value, event_type FROM events),
        |m AS (SELECT CAST(max(cents) // 2 AS DOUBLE) / 100.0 AS thr FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM e, m WHERE value < thr GROUP BY 1 ORDER BY 1""".stripMargin,
    // nulls planted by modulo gates must survive the format's null
    // bitmaps bit for bit: count(*) keeps null rows, count(cents)
    // drops exactly the planted ones, sum sees only non-null values
    "q_shard_null_roundtrip" ->
      """WITH e AS (SELECT
        |  CASE WHEN event_id % 5 = 0 THEN NULL ELSE event_type END AS event_type,
        |  CASE WHEN event_id % 7 = 0 THEN NULL
        |       ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS cents
        | FROM events)
        |SELECT coalesce(event_type, '(null)') AS etype,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(cents) AS BIGINT) AS n_cents,
        | CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    // compaction must lose nothing: full-table rollup vs raw events
    "q_shard_compact" ->
      """WITH e AS (SELECT user_id, event_type,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(cents) AS BIGINT) AS value_cents,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    // the catalog CTAS + SELECT lands the same rollup
    "q_catalog_sql_roundtrip" -> shardRollupSql,
    // MERGE replayed as late ∪ (early ∖ late-keys) over the same
    // day split the Spark side upserts with — shared by the API-path
    // merge and the pure-SQL MERGE INTO (identical semantics by design)
    "q_shard_merge" -> shardMergeSql,
    "q_shard_sql_merge" -> shardMergeSql,
    // both rollups recomputed from raw events: the head part spans
    // all days (the dropped column is gone, the renamed one carries
    // the values), the v1 part replays the pre-drop early half
    "q_shard_schema_drop" ->
      """WITH e AS (SELECT user_id, event_type,
        |  (CAST(ts AS DATE) - DATE '2024-01-01') AS day,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |t AS (SELECT max(day) // 2 AS thr FROM e)
        |SELECT 'head_day' AS part, CAST(day AS VARCHAR) AS k,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM e GROUP BY day
        |UNION ALL
        |SELECT 'v1_type' AS part, event_type AS k,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM e, t WHERE day < thr GROUP BY event_type
        |ORDER BY part, k""".stripMargin,
    // snapshot-apply MERGE: late stats win, early-only users either
    // purge (n_events < 3) or keep with cents zeroed
    "q_shard_sql_merge_full" ->
      """WITH e AS (SELECT user_id,
        |  (CAST(ts AS DATE) - DATE '2024-01-01') AS day,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |t AS (SELECT max(day) // 2 AS thr FROM e),
        |early AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS cents
        | FROM e, t WHERE day < thr GROUP BY 1),
        |late AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS cents
        | FROM e, t WHERE day >= thr GROUP BY 1)
        |SELECT * FROM late
        |UNION ALL
        |SELECT user_id, n_events, CAST(0 AS BIGINT) AS cents
        | FROM early WHERE n_events >= 3 AND NOT EXISTS
        | (SELECT 1 FROM late WHERE late.user_id = early.user_id)
        |ORDER BY user_id""".stripMargin,
    // the string-keyed merge replayed over the derived natural key
    "q_shard_merge_string" ->
      """WITH e AS (SELECT
        |  'u' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS ukey,
        |  (CAST(ts AS DATE) - DATE '2024-01-01') AS day,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |t AS (SELECT max(day) // 2 AS thr FROM e),
        |early AS (SELECT ukey, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS cents
        | FROM e, t WHERE day < thr GROUP BY 1),
        |late AS (SELECT ukey, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS cents
        | FROM e, t WHERE day >= thr GROUP BY 1)
        |SELECT * FROM late
        |UNION ALL
        |SELECT * FROM early WHERE NOT EXISTS
        | (SELECT 1 FROM late WHERE late.ukey = early.ukey)
        |ORDER BY ukey""".stripMargin,
    // the generation diff reclassified from raw events under the
    // merge's day split: late-only users insert, both-sides users
    // with changed stats update (no deletes in this feed)
    "q_shard_generation_diff" -> shardGenDiffSql,
    // the SQL UPDATE's redaction recomputed over raw events
    "q_shard_sql_update" ->
      """WITH e AS (SELECT user_id, event_type,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |t AS (SELECT max(user_id) // 2 AS thr FROM e)
        |SELECT CASE WHEN user_id < thr THEN 'redacted' ELSE event_type END
        |   AS event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM e, t GROUP BY 1 ORDER BY 1""".stripMargin,
    // both generations recomputed from raw events under the same
    // day split: v0 = early slice, head = everything
    "q_shard_time_travel" ->
      """WITH e AS (SELECT event_type,
        |  (CAST(ts AS DATE) - DATE '2024-01-01') AS day FROM events),
        |t AS (SELECT max(day) // 2 AS thr FROM e)
        |SELECT event_type,
        | CAST(sum(CASE WHEN day < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_v0,
        | CAST(count(*) AS BIGINT) AS n_head,
        | CAST(sum(CASE WHEN day >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_added
        |FROM e, t GROUP BY 1 ORDER BY 1""".stripMargin,
    // every embedding element read back from the gshard catalog table
    // equals the raw parquet truth exactly (1-indexed in DuckDB; the
    // 4096 series cap is safe — dims are ≤ 4096 by corpus_len_guard's
    // much tighter corpus convention, and embeddings are dim 64)
    "q_shard_embed_roundtrip" ->
      """SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
        | CAST(embedding[i] AS DOUBLE) AS val
        |FROM embeddings, (SELECT unnest(generate_series(1, 4096)) AS i) g
        |WHERE i <= len(embedding)""".stripMargin,
    // per-doc recount of the whitespace tokenization that round-
    // tripped through the gshard string-list column: token count,
    // total token chars, and the order-sensitive fingerprint of the
    // space-rejoined list (md5 agrees byte-for-byte across engines)
    "q_shard_tokens_roundtrip" ->
      """SELECT doc_id,
        | CAST(len(toks) AS BIGINT) AS n_tok,
        | CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0)
        |   AS BIGINT) AS token_chars,
        | md5(array_to_string(toks, ' ')) AS tok_fp
        |FROM (SELECT doc_id,
        |  list_filter(regexp_split_to_array(coalesce(text, ''),
        |      '[ \t\n\f\r]+'),
        |    x -> len(x) > 0) AS toks
        |FROM documents)""".stripMargin,
    // token IDS recomputed from raw text with the same md5-prefix id
    // function ('0x' hex cast == Spark's conv(_,16,10), both exact
    // on the 28-bit domain) and the same order-sensitive fingerprint
    "q_shard_token_ids_roundtrip" ->
      """SELECT doc_id,
        | CAST(len(ids) AS BIGINT) AS n_tok,
        | CAST(coalesce(list_sum(ids), 0) AS BIGINT) AS id_sum,
        | md5(array_to_string(
        |   list_transform(ids, x -> CAST(x AS VARCHAR)), ',')) AS id_fp
        |FROM (SELECT doc_id,
        |  list_transform(
        |    list_filter(regexp_split_to_array(coalesce(text, ''),
        |        '[ \t\n\f\r]+'),
        |      x -> len(x) > 0),
        |    tk -> CAST(('0x' || substr(md5(tk), 1, 7)) AS BIGINT)) AS ids
        |FROM documents)""".stripMargin,
    // the pushed top-N replays as a plain ORDER BY ... LIMIT
    "q_shard_topn" ->
      """SELECT event_id,
        | CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |FROM events ORDER BY event_id DESC LIMIT 500""".stripMargin,
    // typed metadata-only stats recomputed from raw events
    "q_shard_stats_typed" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | MIN(CAST(ts AS TIMESTAMP)) AS ts_min,
        | MAX(CAST(ts AS TIMESTAMP)) AS ts_max,
        | CAST(MIN(CAST(ts AS DATE)) AS TIMESTAMP) AS day_min,
        | CAST(MAX(CAST(ts AS DATE)) AS TIMESTAMP) AS day_max,
        | CAST(MIN(EXTRACT(hour FROM CAST(ts AS TIMESTAMP))) AS BIGINT) AS hh_min,
        | CAST(MAX(EXTRACT(hour FROM CAST(ts AS TIMESTAMP))) AS BIGINT) AS hh_max
        |FROM events""".stripMargin,
    // the widened type surface: timestamp/date/int/boolean roundtrip
    // through the v3 long block — the path read and the catalog read
    // must land the identical typed rollup under the timestamp cutoff
    "q_shard_types_roundtrip" ->
      """WITH p AS (SELECT CAST(ts AS TIMESTAMP) AS ts,
        |  CAST(ts AS DATE) AS day,
        |  EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS hh,
        |  event_type = 'click' AS is_click,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        | FROM events),
        |f AS (SELECT * FROM p WHERE ts >=
        |  (SELECT MIN(CAST(ts AS TIMESTAMP)) + INTERVAL 7 DAY FROM events)),
        |r AS (SELECT CAST(day AS TIMESTAMP) AS day, is_click,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS value_cents,
        |  MIN(ts) AS ts_min, CAST(MAX(hh) AS BIGINT) AS hh_max
        | FROM f GROUP BY 1, 2)
        |SELECT day, is_click, n_events, value_cents, ts_min, hh_max,
        | 'columnar' AS fmt FROM r
        |UNION ALL
        |SELECT day, is_click, n_events, value_cents, ts_min, hh_max,
        | 'catalog' AS fmt FROM r""".stripMargin,
    // the streaming-sink twin: every micro-batch appended through the
    // connector must land the identical table (pair #24)
    "stream_shard_sink" -> shardRollupSql,
    // the streaming-SOURCE twin tails the same table back out through
    // the connector's MicroBatchStream (pair #27) — same oracle
    "stream_shard_source" -> shardRollupSql,
    "stream_shard_cdc" -> shardGenDiffSql,
    "stream_shard_cdc_rows" -> shardGenDiffSql,
    // the merged two-batch read must reconcile with the original table:
    // even-key rows (batch 1) have no o_custkey, odd-key rows (batch 2) do
    "q_schema_evolution" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        | count(*) FILTER (WHERE o_orderkey % 2 <> 0) AS n_with_cust,
        | round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,
    // the cascade audit's counts re-derived set-theoretically
    "q_delete_propagation" ->
      """WITH tomb AS (SELECT c_custkey FROM customer WHERE c_custkey % 13 = 0),
        |po AS (SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM tomb)),
        |pl AS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM po))
        |SELECT 'customer' AS table_name,
        |  (SELECT count(*) FROM customer) AS rows_before,
        |  (SELECT count(*) FROM tomb) AS rows_deleted,
        |  (SELECT count(*) FROM customer) - (SELECT count(*) FROM tomb) AS rows_after
        |UNION ALL
        |SELECT 'orders',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM po),
        |  (SELECT count(*) FROM orders) - (SELECT count(*) FROM po)
        |UNION ALL
        |SELECT 'lineitem',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM pl),
        |  (SELECT count(*) FROM lineitem) - (SELECT count(*) FROM pl)""".stripMargin,
    // ground truth scores ALL pairs — a blocking hole in the Spark
    // plan (a match no block key captures) breaks the hash gate
    "er_blocked_pairs" ->
      """WITH s AS (SELECT a.p_partkey AS key_1, b.p_partkey AS key_2,
        |  CAST(a.p_name = b.p_name AS INTEGER)
        |   + CAST(a.p_type = b.p_type AS INTEGER)
        |   + CAST(a.p_brand = b.p_brand AS INTEGER)
        |   + CAST(abs(a.p_size - b.p_size) <= 2 AS INTEGER) AS score
        | FROM part a JOIN part b ON a.p_partkey < b.p_partkey)
        |SELECT key_1, key_2, score FROM s WHERE score >= 3""".stripMargin,
    // pseudonymization + k-anonymity audit: md5 nibble-digit tokens,
    // $1000 bands, region generalization — pure replayable arithmetic
    // the 48-bit md5 word parses nibble-by-nibble (16^11 < 2^53, all
    // terms exact); trailing-ones of each 24-bit half via the
    // bit_count(x XOR x+1) identity — discrete-Laplace noise in pure
    // integer arithmetic, engine-identical by construction
    "corpus_dp_release" -> dpReleaseSql,
    // the continuous monitor shares the batch oracle verbatim (#25)
    "stream_dp_release" -> dpReleaseSql,
    "q_data_masking" -> {
      val digits = (1 to 9).map(i =>
        s"CAST((strpos('0123456789abcdef', substr(md5(c_name), $i, 1)) - 1) % 10 AS VARCHAR)")
        .mkString(" || ")
      s"""WITH m AS (SELECT r.r_name AS region,
         |  CAST(floor(c_acctbal / 1000) AS BIGINT) * 1000 AS acct_band,
         |  c_mktsegment, 'Customer#' || $digits AS name_token
         | FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey)
         |SELECT region, acct_band, c_mktsegment,
         |  CAST(count(*) AS BIGINT) AS k,
         |  CAST(count(DISTINCT name_token) AS BIGINT) AS n_tokens,
         |  count(*) < 5 AS risky
         |FROM m GROUP BY 1, 2, 3""".stripMargin
    },
    // ALL-PAIRS replay of the exactly-2 review band — the three
    // single-field blocks are pigeonhole-complete for it (≥1 of any
    // 2 agreements is an equality field), and any hole fails here
    "er_fuzzy_pairs" ->
      """SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
        | a.c_name AS a_name, b.c_name AS b_name,
        | CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    "er_review_queue" ->
      """SELECT a.p_partkey AS key_1, b.p_partkey AS key_2,
        | CAST(a.p_name = b.p_name AS INTEGER) AS name_agree,
        | CAST(a.p_type = b.p_type AS INTEGER) AS type_agree,
        | CAST(a.p_brand = b.p_brand AS INTEGER) AS brand_agree,
        | CAST(abs(a.p_size - b.p_size) <= 2 AS INTEGER) AS size_close
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE CAST(a.p_name = b.p_name AS INTEGER)
        |   + CAST(a.p_type = b.p_type AS INTEGER)
        |   + CAST(a.p_brand = b.p_brand AS INTEGER)
        |   + CAST(abs(a.p_size - b.p_size) <= 2 AS INTEGER) = 2""".stripMargin,
    "er_blocking_eval" -> erBlockingEvalSql,
    // ground truth: transitive closure of the ALL-pairs match set as a
    // recursive CTE — checks blocking completeness AND the distributed
    // CC against first principles, plus the survivorship rollup
    "er_resolve_clusters" -> erResolveSql,
    // the incremental merge against stored ER state must equal the
    // full re-resolve — same oracle verbatim, same discipline as
    // dedup_clusters_incremental / q_scd2_merge
    "er_resolve_incremental" -> erResolveSql,
    // merged (history rollup + increment) must equal the full recompute
    "q_incremental_rollup" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // the compacted rewrite must preserve every row and value exactly
    "q_compaction" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    // the dim join reduces to its filter semantics: keep Sunday rows
    // (DuckDB dayofweek: 0 = Sunday; Spark dayofweek: 1 = Sunday)
    "q_dpp" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_day,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events WHERE dayofweek(CAST(ts AS DATE)) = 0
        |GROUP BY 1""".stripMargin,
    // the bucketed-layout join must equal this join over the ORIGINAL tables
    "q_bucketed_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,
  )

  /** DuckDB DOUBLE[] literal of ±1 LSH hyperplane `p` — generated from
    * [[graft.operators.Similarity.hyperplane]] itself so the oracle's
    * bucketing can never drift from the Spark implementation.
    */
  private def hyperplaneLit(p: Int): String =
    Similarity.hyperplane(p, 64).map(w => if (w > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]")

  /** Chained-CTE replay of the deterministic Lloyd iterations
    * ([[graft.operators.Similarity.kmeansCentroids]]): defines `e`,
    * `corp`, `g64` and `c0..c{nUpdates}`, where `c{i}` are the
    * centroids after `i` exact-integer 4-dp mean updates
    * ([[graft.functions.ExactAgg.exactMeanSql]] — order-independent,
    * so partial-agg ordering can never flip a half-boundary) with the
    * (score desc, cell desc) assignment tie-break and empty cells
    * carried forward — bit-for-bit the Spark loop's semantics. Also
    * leaves `a{i}`/`m{i}` (assignment / rounded means of update i) in
    * scope for the caller's final select.
    */
  /** DuckDB oracle for the exact brute-force top-k — also the
    * ground-truth half of the composed `ann_recall_eval` oracle. */
  /** DuckDB oracle for `ann_hamming_topk`, composed into
    * `ann_hamming_recall`'s eval: binary-sign signatures as two
    * 32-bit words (signed-64-safe shifts), integer `bit_count(xor)`
    * Hamming shortlist, exact cosine rerank. */
  private lazy val hammingSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |s AS (SELECT vec_id,
      |  CAST(list_sum(list_transform(range(0,32), d -> CASE WHEN emb[d+1] >= 0 THEN (1::BIGINT << d) ELSE 0::BIGINT END)) AS BIGINT) AS sig_lo,
      |  CAST(list_sum(list_transform(range(0,32), d -> CASE WHEN emb[d+33] >= 0 THEN (1::BIGINT << d) ELSE 0::BIGINT END)) AS BIGINT) AS sig_hi
      | FROM e),
      |q AS (SELECT vec_id AS q_id, sig_lo AS q_lo, sig_hi AS q_hi FROM s WHERE vec_id < 10),
      |c AS (SELECT vec_id, sig_lo, sig_hi FROM s WHERE vec_id >= 10),
      |h AS (SELECT q_id, vec_id,
      |  CAST(bit_count(xor(sig_lo, q_lo)) + bit_count(xor(sig_hi, q_hi)) AS INTEGER) AS hamming
      | FROM q, c),
      |sl AS (SELECT q_id, vec_id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS hrnk FROM h)
      |  WHERE hrnk <= 50),
      |x AS (SELECT sl.q_id, sl.vec_id,
      |  round(list_cosine_similarity(eq.emb, ec.emb), 4) AS cos_sim
      |  FROM sl JOIN e eq ON eq.vec_id = sl.q_id JOIN e ec ON ec.vec_id = sl.vec_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rnk FROM x)
      |SELECT q_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5""".stripMargin

  /** Shared knn-graph chain: 1/16 node slice, all-pairs rounded
    * cosine, per-src rank — yields CTEs `n` (nodes) and `knn`
    * (edges with rnk ≤ 5). */
  private lazy val knnGraphChainSql =
    """n AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id % 16 = 0),
      |ks AS (SELECT a.vec_id AS src, b.vec_id AS dst,
      |  round(list_cosine_similarity(a.e, b.e), 4) AS cos_sim
      |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      |kr AS (SELECT *, CAST(row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS INTEGER) AS rnk FROM ks),
      |knn AS (SELECT src, dst, cos_sim, rnk FROM kr WHERE rnk <= 5)""".stripMargin

  /** Shared prefix of the graph-ANN oracles: embeddings, node sample,
    * stored kNN subgraph, queries, entry set. */
  private val annGraphPrefixSql =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |nd AS (SELECT vec_id, emb FROM e WHERE vec_id >= 10 AND vec_id % 4 = 0),
      |g0 AS (SELECT a.vec_id AS src, b.vec_id AS dst,
      |   round(list_cosine_similarity(a.emb, b.emb), 4) AS g_sim
      |  FROM nd a JOIN nd b ON a.vec_id <> b.vec_id),
      |knn AS (SELECT src, dst FROM (
      |  SELECT *, row_number() OVER (PARTITION BY src ORDER BY g_sim DESC, dst) AS rnk FROM g0)
      | WHERE rnk <= 8),
      |q AS (SELECT vec_id AS q_id, emb AS qe FROM e WHERE vec_id < 10),
      |ent AS (SELECT dst AS vec_id FROM (
      |  SELECT dst, count(*) AS deg FROM knn GROUP BY dst
      |  ORDER BY deg DESC, dst LIMIT 64))""".stripMargin

  /** One full beam-walk chain (suffixed CTE names so multiple beams
    * coexist in one WITH): entry scoring + two expand→score→cut
    * rounds, every rank on the 4-dp-rounded cosine, vec_id ties. */
  private def annGraphChainSql(beam: Int, k: Int, sfx: String): String = {
    def round(prev: String, i: Int, keep: Int, last: Boolean) = {
      val sel = if (last) s"SELECT q_id, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk"
        else s"SELECT q_id, vec_id"
      s"""x$i$sfx AS (SELECT DISTINCT q_id, vec_id FROM (
         |  SELECT $prev.q_id, knn.dst AS vec_id FROM $prev JOIN knn ON knn.src = $prev.vec_id
         |  UNION ALL SELECT q_id, vec_id FROM $prev)),
         |s$i$sfx AS (SELECT x$i$sfx.q_id, x$i$sfx.vec_id,
         |  round(list_cosine_similarity(q.qe, nd.emb), 4) AS cos_sim
         | FROM x$i$sfx JOIN nd ON nd.vec_id = x$i$sfx.vec_id JOIN q ON q.q_id = x$i$sfx.q_id),
         |b$i$sfx AS ($sel FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rnk FROM s$i$sfx)
         | WHERE rnk <= $keep)""".stripMargin
    }
    s"""s0$sfx AS (SELECT q.q_id, nd.vec_id,
       |   round(list_cosine_similarity(q.qe, nd.emb), 4) AS cos_sim
       |  FROM q CROSS JOIN ent JOIN nd ON nd.vec_id = ent.vec_id),
       |b0$sfx AS (SELECT q_id, vec_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rnk FROM s0$sfx)
       | WHERE rnk <= $beam),
       |${round(s"b0$sfx", 1, beam, last = false)},
       |${round(s"b1$sfx", 2, k, last = true)}""".stripMargin
  }

  /** `ann_graph_topk` — the beam walk unrolled. */
  private lazy val annGraphTopKSql: String =
    s"""WITH $annGraphPrefixSql,
       |${annGraphChainSql(8, 5, "")}
       |SELECT q_id, vec_id, cos_sim, rnk FROM b2""".stripMargin

  /** `ann_graph_recall_eval` — three beam chains + the exact truth
    * over the same node sample, hit-counted per beam. */
  private lazy val annGraphRecallEvalSql: String = {
    val beams = Seq(4, 8, 16)
    val chains = beams.map(b => annGraphChainSql(b, 5, s"_w$b")).mkString(",\n")
    val unions = beams.map(b =>
      s"SELECT $b AS beam, q_id, vec_id FROM b2_w$b").mkString("\n  UNION ALL ")
    s"""WITH $annGraphPrefixSql,
       |$chains,
       |truth AS (SELECT q_id, vec_id FROM (
       |  SELECT q.q_id, nd.vec_id,
       |    round(list_cosine_similarity(q.qe, nd.emb), 4) AS cos_sim,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY round(list_cosine_similarity(q.qe, nd.emb), 4) DESC, nd.vec_id) AS rnk
       |  FROM q CROSS JOIN nd)
       | WHERE rnk <= 5),
       |nt AS (SELECT count(*) AS n FROM truth),
       |served AS ($unions)
       |SELECT beam, CAST(count(*) AS BIGINT) AS n_hits,
       | round(CAST(count(*) AS DOUBLE) / CAST(nt.n AS DOUBLE) + 1e-9, 4) AS recall
       |FROM served JOIN truth USING (q_id, vec_id), nt
       |GROUP BY beam, nt.n""".stripMargin
  }

  private lazy val bruteForceSql =
    """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= 10),
      |s AS (SELECT q_id, vec_id, round(list_cosine_similarity(qe, e),4) AS cos_sim FROM q, c),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rnk FROM s)
      |SELECT q_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5""".stripMargin

  /** DuckDB oracle shared by `ann_ivf_kmeans_topk` and
    * `ann_ivf_table` (the latter persists the identical index as a
    * cell-bucketed catalog table — semantics unchanged by design). */
  private lazy val ivfKmeansSql =
    s"""WITH ${kmeansChainSql(3)},
      |cent AS (SELECT cell, cemb FROM c3),
      |sc AS (SELECT corp.vec_id, cent.cell, list_cosine_similarity(corp.emb, cent.cemb) AS s
      |  FROM corp CROSS JOIN cent),
      |assign AS (SELECT vec_id, cell FROM
      |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn FROM sc)
      |  WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, emb AS qe FROM e WHERE vec_id < 10),
      |qs AS (SELECT q.q_id, cent.cell, list_cosine_similarity(q.qe, cent.cemb) AS s
      |  FROM q CROSS JOIN cent),
      |probe AS (SELECT q_id, cell FROM
      |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY s DESC, cell DESC) AS rn FROM qs)
      |  WHERE rn <= 4),
      |cand AS (SELECT p.q_id, a.vec_id, round(list_cosine_similarity(q.qe, corp.emb), 4) AS cos_sim
      |  FROM probe p JOIN assign a USING (cell) JOIN corp ON corp.vec_id = a.vec_id JOIN q ON q.q_id = p.q_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rnk FROM cand)
      |SELECT q_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 5""".stripMargin

  /** DuckDB replay of [[graft.operators.Similarity.annPqTopK]]: the
    * per-subspace codebook TRAINING chain (Lloyd updates with
    * exact-integer means and empty-cell carry-forward — the
    * kmeansChainSql pattern per subspace), then code assignment by
    * (L2², cid) argmin and the query ADC tables, joined
    * code→table-entry and summed in the same left-associative order
    * as the Spark fold. */
  private lazy val pqSql: String =
    s"""WITH $pqChainSql,
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY approx_dist, vec_id) AS INTEGER) AS rnk FROM sc)
       |SELECT q_id, vec_id, approx_dist, rnk FROM r WHERE rnk <= 5""".stripMargin

  /** 64-term full-vector L2² chain in the fused kernel's
    * accumulation order. */
  private def l2FullSql(a: String, b: String): String =
    (0 until 64).map(d =>
      s"($a[${d + 1}]-$b[${d + 1}])*($a[${d + 1}]-$b[${d + 1}])").mkString(" + ")

  /** The hashed-doc-vector scoring chain (`tk` tokens → `hx` hashed
    * features → `v` sparse vectors → `semr` ranked cosines) shared by
    * `doc_ann_topk` and the hybrid-retrieval oracle. */
  private lazy val docAnnChainSql: String =
    s"""tk AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
      |hx AS (SELECT doc_id,
      |  (16*(strpos('0123456789abcdef',substr(md5(tok),1,1))-1)
      |    + (strpos('0123456789abcdef',substr(md5(tok),2,1))-1)) % 64 AS pos,
      |  CASE WHEN (strpos('0123456789abcdef',substr(md5(tok),3,1))-1) % 2 = 0
      |    THEN 1 ELSE -1 END AS s
      | FROM tk),
      |v AS MATERIALIZED (SELECT doc_id, pos, sum(s) AS val
      |  FROM hx GROUP BY 1, 2 HAVING sum(s) <> 0),
      |n AS (SELECT doc_id, sum(val*val) AS nn FROM v GROUP BY 1),
      |dt AS (SELECT q.doc_id AS q_doc, c.doc_id AS doc_id, sum(q.val*c.val) AS dp
      |  FROM v q JOIN v c USING (pos)
      |  WHERE q.doc_id < 10 AND c.doc_id >= 10 GROUP BY 1, 2),
      |sc AS (SELECT dt.q_doc, dt.doc_id,
      |  round(CAST(dp AS DOUBLE) / sqrt(CAST(nq.nn * nc.nn AS DOUBLE)) + 1e-9, 4) AS cos_sim
      |  FROM dt JOIN n nq ON nq.doc_id = dt.q_doc JOIN n nc ON nc.doc_id = dt.doc_id),
      |semr AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_doc ORDER BY cos_sim DESC, doc_id) AS INTEGER) AS rnk FROM sc)""".stripMargin

  /** Exact L2² brute-force top-k ids — the ground-truth half of the
    * composed `ann_pq_recall_eval` oracle (ranks on the raw fold, no
    * rounding: both engines sum the identical 64-term chain). */
  private lazy val l2BruteForceSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |q AS (SELECT vec_id AS q_id, emb AS qe FROM e WHERE vec_id < 10),
      |c AS (SELECT vec_id, emb FROM e WHERE vec_id >= 10),
      |s AS (SELECT q_id, c.vec_id, ${l2FullSql("qe", "c.emb")} AS d FROM q, c),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rnk FROM s)
      |SELECT q_id, vec_id FROM r WHERE rnk <= 5""".stripMargin

  /** The PQ shortlist + exact full-precision L2² rerank — the
    * `ann_pq_refine_topk` oracle. */
  private lazy val pqRefineSql: String =
    s"""WITH $pqChainSql,
       |sl AS (SELECT q_id, vec_id FROM
       |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY approx_dist, vec_id) AS qrnk FROM sc)
       |  WHERE qrnk <= 100),
       |x AS (SELECT sl.q_id, sl.vec_id, round(${l2FullSql("eq.emb", "ec.emb")} + 1e-9, 4) AS l2_sq
       |  FROM sl JOIN e eq ON eq.vec_id = sl.q_id JOIN e ec ON ec.vec_id = sl.vec_id),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY l2_sq, vec_id) AS INTEGER) AS rnk FROM x)
       |SELECT q_id, vec_id, l2_sq, rnk FROM r WHERE rnk <= 5""".stripMargin

  /** IVF-PQ + rerank (`ann_ivf_pq_topk` with `train = "corp"`,
    * `ann_index_incremental` with `train = "hist"`): the coarse
    * quantizer is the CONVERGED cosine-k-means centroid chain
    * (c3 — the same Lloyd replay as `ann_ivf_kmeans_topk`, trained on
    * `train`), L2 cell assignment/probe over it, candidate ADC scores
    * restricted to probed cells, shortlist, exact rerank — all stages
    * replayed on the shared PQ training chain. The incremental
    * variant trains models on the history slice only; encode and
    * serving cover the full corpus — exactly the Spark side's
    * frozen-model append. */
  private def ivfPqSqlFor(train: String, indexCond: String = "TRUE"): String = {
    val m = 8
    val qtJoins = (0 until m)
      .map(j => s"JOIN qt$j t$j ON t$j.cid = c.c$j AND t$j.q_id = prb.q_id")
      .mkString("\n|  ")
    val sumExpr = (0 until m).map(j => s"t$j.d").mkString(" + ")
    s"""WITH ${pqChainSqlFor(train)},
       |${kmeansIterCtesSql(3, train)},
       |cent AS (SELECT cell AS cid, cemb FROM c3),
       |asgd AS (SELECT corp.vec_id, cent.cid, ${l2FullSql("corp.emb", "cent.cemb")} AS d
       |  FROM corp CROSS JOIN cent),
       |asg AS MATERIALIZED (SELECT vec_id, cid AS cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM asgd) WHERE rn = 1),
       |prbd AS (SELECT q.vec_id AS q_id, cent.cid, ${l2FullSql("q.emb", "cent.cemb")} AS d
       |  FROM q CROSS JOIN cent),
       |prb AS MATERIALIZED (SELECT q_id, cid AS cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, cid) AS rn FROM prbd) WHERE rn <= 4),
       |scif AS MATERIALIZED (SELECT prb.q_id, c.vec_id, round($sumExpr + 1e-9, 4) AS approx_dist
       |  FROM codes c JOIN asg USING (vec_id)
       |  JOIN prb ON prb.cell = asg.cell
       |  $qtJoins
       |  WHERE $indexCond),
       |sl AS (SELECT q_id, vec_id FROM
       |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY approx_dist, vec_id) AS qrnk FROM scif)
       |  WHERE qrnk <= 50),
       |x AS (SELECT sl.q_id, sl.vec_id, round(${l2FullSql("eq.emb", "ec.emb")} + 1e-9, 4) AS l2_sq
       |  FROM sl JOIN e eq ON eq.vec_id = sl.q_id JOIN e ec ON ec.vec_id = sl.vec_id),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY l2_sq, vec_id) AS INTEGER) AS rnk FROM x)
       |SELECT q_id, vec_id, l2_sq, rnk FROM r WHERE rnk <= 5""".stripMargin
  }

  private lazy val ivfPqSql: String = ivfPqSqlFor("corp")
  private lazy val annIndexIncrementalSql: String = ivfPqSqlFor("hist")

  /** `ann_filtered_topk` — the flagship serve with the label
    * predicate filtering the code table BEFORE ADC scoring
    * (pre-filtered vector search); same chain otherwise. */
  private lazy val annFilteredSql: String =
    ivfPqSqlFor("corp", "c.vec_id % 7 < 3")

  /** `embed_matryoshka_eval` — brute-force top-k on each dimension
    * PREFIX vs the full-dimension exact top-k, recall per prefix. */
  private lazy val embedMatryoshkaSql: String = {
    def l2Pre(a: String, b: String, d: Int): String =
      (0 until d).map(i =>
        s"($a[${i + 1}]-$b[${i + 1}])*($a[${i + 1}]-$b[${i + 1}])").mkString(" + ")
    def topk(tag: String, d: Int): String =
      s"""sc_$tag AS (SELECT q.vec_id AS q_id, corp.vec_id, ${l2Pre("q.emb", "corp.emb", d)} AS d
         |  FROM q CROSS JOIN corp),
         |tk_$tag AS MATERIALIZED (SELECT q_id, vec_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rnk FROM sc_$tag) WHERE rnk <= 5)""".stripMargin
    def hit(tag: String): String =
      s"hit_$tag AS (SELECT count(*) AS n_hits FROM tk_p64 t JOIN tk_$tag s ON s.q_id = t.q_id AND s.vec_id = t.vec_id)"
    def out(tag: String, p: Int): String =
      s"SELECT $p AS prefix_dims, n_hits, round(n_hits / 50.0 + 1e-9, 4) AS recall_at_k FROM hit_$tag"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |corp AS (SELECT vec_id, emb FROM e WHERE vec_id >= 10),
       |q AS (SELECT vec_id, emb FROM e WHERE vec_id < 10),
       |${topk("p8", 8)},
       |${topk("p16", 16)},
       |${topk("p32", 32)},
       |${topk("p64", 64)},
       |${hit("p8")},
       |${hit("p16")},
       |${hit("p32")},
       |${hit("p64")}
       |${out("p8", 8)}
       |UNION ALL
       |${out("p16", 16)}
       |UNION ALL
       |${out("p32", 32)}
       |UNION ALL
       |${out("p64", 64)}""".stripMargin
  }

  /** `ann_index_drift` — the frozen-model serve replayed at three
    * increment shares (index membership filter per share), each scored
    * against the exact top-k over the SAME indexed slice: one shared
    * hist-trained model/probe chain, three filtered serve+truth
    * branches, unioned. */
  private lazy val annIndexDriftSql: String = {
    val m = 8
    val qtJoins = (0 until m)
      .map(j => s"JOIN qt$j t$j ON t$j.cid = c.c$j AND t$j.q_id = prb.q_id")
      .mkString("\n  ")
    val sumExpr = (0 until m).map(j => s"t$j.d").mkString(" + ")
    // membership of the indexed corpus at each increment share —
    // MUST mirror Similarity.annIndexDrift's vec_id arithmetic
    def blk(tag: String, cond: String => String): String =
      s"""scif_$tag AS MATERIALIZED (SELECT prb.q_id, c.vec_id, round($sumExpr + 1e-9, 4) AS approx_dist
         |  FROM codes c JOIN asg USING (vec_id)
         |  JOIN prb ON prb.cell = asg.cell
         |  $qtJoins
         |  WHERE ${cond("c.vec_id")}),
         |sl_$tag AS (SELECT q_id, vec_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY approx_dist, vec_id) AS qrnk FROM scif_$tag)
         |  WHERE qrnk <= 50),
         |x_$tag AS (SELECT sl.q_id, sl.vec_id, round(${l2FullSql("eq.emb", "ec.emb")} + 1e-9, 4) AS l2_sq
         |  FROM sl_$tag sl JOIN e eq ON eq.vec_id = sl.q_id JOIN e ec ON ec.vec_id = sl.vec_id),
         |srv_$tag AS (SELECT q_id, vec_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY l2_sq, vec_id) AS rnk FROM x_$tag) WHERE rnk <= 5),
         |trd_$tag AS (SELECT q.vec_id AS q_id, corp.vec_id, ${l2FullSql("q.emb", "corp.emb")} AS d
         |  FROM q CROSS JOIN corp WHERE ${cond("corp.vec_id")}),
         |tr_$tag AS (SELECT q_id, vec_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rnk FROM trd_$tag) WHERE rnk <= 5),
         |hit_$tag AS (SELECT count(*) AS n_hits FROM tr_$tag t JOIN srv_$tag s ON s.q_id = t.q_id AND s.vec_id = t.vec_id)""".stripMargin
    def out(tag: String, pct: Int): String =
      s"""SELECT $pct AS inc_share_pct, n_hits,
         | round(n_hits / 50.0 + 1e-9, 4) AS recall_at_k,
         | CAST(round(n_hits / 50.0 + 1e-9, 4) < 0.35 AS INTEGER) AS rebuild_needed
         |FROM hit_$tag""".stripMargin
    s"""WITH ${pqChainSqlFor("hist")},
       |${kmeansIterCtesSql(3, "hist")},
       |cent AS (SELECT cell AS cid, cemb FROM c3),
       |asgd AS (SELECT corp.vec_id, cent.cid, ${l2FullSql("corp.emb", "cent.cemb")} AS d
       |  FROM corp CROSS JOIN cent),
       |asg AS MATERIALIZED (SELECT vec_id, cid AS cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM asgd) WHERE rn = 1),
       |prbd AS (SELECT q.vec_id AS q_id, cent.cid, ${l2FullSql("q.emb", "cent.cemb")} AS d
       |  FROM q CROSS JOIN cent),
       |prb AS MATERIALIZED (SELECT q_id, cid AS cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, cid) AS rn FROM prbd) WHERE rn <= 4),
       |${blk("s0", v => s"$v % 5 <> 0")},
       |${blk("s50", v => s"($v % 5 <> 0 OR $v % 10 = 0)")},
       |${blk("s100", _ => "TRUE")}
       |${out("s0", 0)}
       |UNION ALL
       |${out("s50", 50)}
       |UNION ALL
       |${out("s100", 100)}""".stripMargin
  }

  /** Everything through the ADC score frame `sc` (q_id, vec_id,
    * approx_dist), incl. the per-subspace codebook-training chain;
    * also leaves `e`/`corp`/`q` in scope. */
  private lazy val pqChainSql: String = pqChainSqlFor("corp")

  private def pqChainSqlFor(train: String): String = {
    val m = 8; val subDims = 8; val nUpdates = 2 // nIters=3 → 2 updates
    // the incremental variant trains every model on the HISTORY slice
    val histCte = if (train == "corp") ""
      else s"\n$train AS (SELECT vec_id, emb FROM corp WHERE vec_id % 5 <> 0),"
    // L2² of corpus/query sub-vector j against an 8-dim codebook entry
    def l2(a: String, b: String, j: Int): String =
      (0 until subDims).map { d =>
        s"($a[${j * subDims + d + 1}]-$b[${d + 1}])*($a[${j * subDims + d + 1}]-$b[${d + 1}])"
      }.mkString(" + ")
    val trainCtes = (0 until m).flatMap { j =>
      val init =
        s"""cb0x$j AS (SELECT (rn - 1)::INT AS cid,
           |  emb[${j * subDims + 1}:${(j + 1) * subDims}] AS cemb
           |  FROM (SELECT emb, row_number() OVER (ORDER BY vec_id) AS rn FROM $train)
           |  WHERE rn <= 16)""".stripMargin
      val iters = (1 to nUpdates).map { i =>
        s"""ts${i}x$j AS (SELECT $train.vec_id, cb.cid, ${l2(s"$train.emb", "cb.cemb", j)} AS d
           |  FROM $train CROSS JOIN cb${i - 1}x$j cb),
           |ta${i}x$j AS (SELECT vec_id, cid FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM ts${i}x$j) WHERE rn = 1),
           |tm${i}x$j AS (SELECT a.cid, (g8.i - 1)::INT AS pos,
           |  ${ExactAgg.exactMeanSql(s"$train.emb[${j * subDims} + g8.i]", 4)} AS mv
           |  FROM ta${i}x$j a JOIN $train USING (vec_id), g8 GROUP BY 1, 2),
           |cb${i}x$j AS MATERIALIZED (SELECT p.cid, list(coalesce(tm.mv, p.v) ORDER BY p.pos) AS cemb
           |  FROM (SELECT cid, (g8.i - 1)::INT AS pos, cemb[g8.i] AS v FROM cb${i - 1}x$j, g8) p
           |  LEFT JOIN tm${i}x$j tm ON tm.cid = p.cid AND tm.pos = p.pos GROUP BY 1)""".stripMargin
      }
      init +: iters
    }.mkString(",\n")
    val codeCtes = (0 until m).map { j =>
      s"""d$j AS (SELECT corp.vec_id, cb.cid, ${l2("corp.emb", "cb.cemb", j)} AS d
         |  FROM corp CROSS JOIN cb${nUpdates}x$j cb),
         |k$j AS MATERIALIZED (SELECT vec_id, cid AS c$j FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d$j) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val qtCtes = (0 until m).map { j =>
      s"""qt$j AS MATERIALIZED (SELECT q.vec_id AS q_id, cb.cid, ${l2("q.emb", "cb.cemb", j)} AS d
         |  FROM q CROSS JOIN cb${nUpdates}x$j cb)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (0 until m).map(j => s"JOIN k$j USING (vec_id)").mkString(" ")
    val qtJoins = (1 until m)
      .map(j => s"JOIN qt$j t$j ON t$j.cid = c.c$j AND t$j.q_id = t0.q_id")
      .mkString("\n|  ")
    val sumExpr = (0 until m).map(j => s"t$j.d").mkString(" + ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |corp AS (SELECT vec_id, emb FROM e WHERE vec_id >= 10),$histCte
       |q AS (SELECT vec_id, emb FROM e WHERE vec_id < 10),
       |g8 AS (SELECT unnest(generate_series(1,$subDims)) AS i),
       |$trainCtes,
       |$codeCtes,
       |codes AS MATERIALIZED (SELECT corp.vec_id, ${(0 until m).map(j => s"c$j").mkString(", ")} FROM corp $codeJoins),
       |$qtCtes,
       |sc AS MATERIALIZED (SELECT t0.q_id, c.vec_id, round($sumExpr + 1e-9, 4) AS approx_dist
       |  FROM codes c JOIN qt0 t0 ON t0.cid = c.c0
       |  $qtJoins)""".stripMargin
  }

  /** The shared top-3 PCA replay (orthogonal power iteration,
    * [[graft.operators.Similarity.embedPcaTopK]]): covariance `cov`,
    * per-component step chains `v0c..v8c`, projection dots, and
    * Rayleigh quotients `l1..l3` — everything both `embed_pca_topk`
    * and `embed_whiten` build on. */
  private lazy val pcaChain3Sql: String = {
    def steps(comp: Int) = (1 to 8).map { k =>
      val priors = 1 until comp
      val proj = if (priors.isEmpty) "" else {
        val joins = priors.map(p => s"JOIN v8c$p w$p ON w$p.pos = u.pos").mkString(" ")
        val dots = priors.map(p => s"sum(u.u * w$p.v) AS d$p").mkString(", ")
        val sub = priors.map(p => s" - d.d$p * w$p.v").mkString
        s"""d${k}c$comp AS MATERIALIZED (SELECT $dots FROM u${k}c$comp u $joins),
           |g${k}c$comp AS MATERIALIZED (SELECT u.pos, u.u$sub AS u
           |  FROM u${k}c$comp u $joins CROSS JOIN d${k}c$comp d),
           |""".stripMargin
      }
      val src = if (priors.isEmpty) s"u${k}c$comp" else s"g${k}c$comp"
      s"""u${k}c$comp AS MATERIALIZED (SELECT c.i AS pos, sum(c.cv * v.v) AS u
         |  FROM cov c JOIN v${k - 1}c$comp v ON v.pos = c.j GROUP BY 1),
         |${proj}n${k}c$comp AS MATERIALIZED (SELECT sqrt(sum(u * u)) AS nm FROM $src),
         |v${k}c$comp AS MATERIALIZED (SELECT pos, round(u / nm + 1e-9, 6) AS v FROM $src, n${k}c$comp)""".stripMargin
    }.mkString(",\n")
    def chain(comp: Int) =
      s"""v0c$comp AS (SELECT pos, 0.125 AS v FROM m),
         |${steps(comp)},
         |l$comp AS MATERIALIZED (SELECT round(sum(a.v * c.cv * b.v) + 1e-9, 6) AS ev
         |  FROM cov c JOIN v8c$comp a ON a.pos = c.i JOIN v8c$comp b ON b.pos = c.j)""".stripMargin
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |g64 AS (SELECT unnest(generate_series(1,64)) AS i),
      |m AS (SELECT (g64.i - 1) AS pos, ${ExactAgg.exactMeanSql("emb[g64.i]", 4)} AS mv
      |  FROM e, g64 GROUP BY 1),
      |x AS (SELECT vec_id, (g64.i - 1) AS pos, emb[g64.i] AS xv FROM e, g64),
      |cov AS MATERIALIZED (SELECT a.pos AS i, b.pos AS j,
      |  ${ExactAgg.exactMeanSql("(a.xv - ma.mv) * (b.xv - mb.mv)", 6)} AS cv
      | FROM x a JOIN x b USING (vec_id)
      | JOIN m ma ON ma.pos = a.pos JOIN m mb ON mb.pos = b.pos
      | GROUP BY 1, 2),
      |${chain(1)},
      |${chain(2)},
      |${chain(3)}""".stripMargin
  }

  private def kmeansChainSql(nUpdates: Int): String = {
    val head =
      """e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |corp AS (SELECT vec_id, emb FROM e WHERE vec_id >= 10)""".stripMargin
    s"$head,\n${kmeansIterCtesSql(nUpdates, "corp")}"
  }

  /** The cosine-Lloyd iteration CTEs (g64, c0..c{n}) alone, trained
    * on `train` — assumes `e` and `corp` (and `train`, if different)
    * are already in scope, so the chain can compose with the PQ
    * training CTEs without redefining shared heads. */
  private def kmeansIterCtesSql(nUpdates: Int, train: String): String = {
    val head =
      s"""g64 AS (SELECT unnest(generate_series(1,64)) AS i),
         |c0 AS (SELECT (rn - 1)::INT AS cell, emb AS cemb FROM
         |  (SELECT emb, row_number() OVER (ORDER BY vec_id) AS rn FROM $train)
         |  WHERE rn <= 16)""".stripMargin
    val iters = (1 to nUpdates).map { i =>
      s"""s$i AS (SELECT $train.vec_id, c.cell, list_cosine_similarity($train.emb, c.cemb) AS s
         |  FROM $train CROSS JOIN c${i - 1} c),
         |a$i AS (SELECT vec_id, cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn FROM s$i)
         |  WHERE rn = 1),
         |m$i AS (SELECT a.cell, (g64.i - 1)::INT AS pos, ${ExactAgg.exactMeanSql(s"$train.emb[g64.i]", 4)} AS m
         |  FROM a$i a JOIN $train USING (vec_id), g64 GROUP BY 1, 2),
         |c$i AS (SELECT p.cell, list(coalesce(m.m, p.v) ORDER BY p.pos) AS cemb
         |  FROM (SELECT cell, (g64.i - 1)::INT AS pos, cemb[g64.i] AS v FROM c${i - 1}, g64) p
         |  LEFT JOIN m$i m ON m.cell = p.cell AND m.pos = p.pos GROUP BY 1)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }
}
