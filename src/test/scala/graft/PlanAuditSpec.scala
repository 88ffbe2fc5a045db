package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.operators._
import graft.sources.ShardTempRoot

/** Plan-shape audit: asserts the scale-critical physical-plan
  * properties (SURVEY.md §5) hold — filters and projections reach the
  * parquet scan, dimension joins broadcast, top-k avoids global sorts.
  * These are the properties that decide whether a query survives a
  * 100× scale-up, so they're pinned as tests, not just eyeballed.
  */
class PlanAuditSpec extends ShardTempRoot {

  private def plan(df: DataFrame): String = {
    df.collect() // force AQE to finalize the adaptive plan
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p: SparkPlan => p.toString
    }
  }

  test("q6: tight filters are pushed to the parquet scan") {
    val p = plan(Relational.q6RevenueDelta(tables))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"), p)
  }

  test("q6: scan reads only the needed columns") {
    val p = plan(Relational.q6RevenueDelta(tables))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_comment"),
      s"scan reads unneeded columns: $readSchema")
    assert(readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q5: dimension joins are broadcast, not shuffled") {
    val p = plan(Relational.q5LocalSupplier(tables))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q10: nation dim broadcast") {
    val p = plan(Relational.q10ReturnedItems(tables))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_topk: global top-k is TakeOrderedAndProject, not a full sort") {
    val p = plan(Relational.qTopK(tables))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan(Relational.q1PricingSummary(tables))
    assert(p.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("semi/anti joins use semi/anti physical joins (no row explosion)") {
    assert(plan(Relational.qSemiJoin(tables)).contains("LeftSemi"))
    assert(plan(Relational.qAntiJoin(tables)).contains("LeftAnti"))
  }

  test("ann brute force: query side broadcast (map-only scoring)") {
    val p = plan(Similarity.annBruteForceTopK(tables))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("ann brute force reads embeddings THROUGH the gshard catalog " +
      "(vector columns live in the flagship connector)") {
    val p = plan(Similarity.annBruteForceTopK(tables))
    assert(p.contains("gshard"), s"expected a gshard scan:\n$p")
  }

  test("q_shard_embed_roundtrip: map-only explode (no exchange), " +
      "label pruned from the vector scan") {
    val p = plan(graft.sources.SourceOps.qShardEmbedRoundtrip(tables))
    assert(!p.contains("Exchange"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse("")
    assert(!readSchema.contains("label"),
      s"label not pruned from the vector scan: $readSchema")
    assert(readSchema.contains("embedding"), readSchema)
  }

  test("ann_graph_topk: seed stage crossJoins a FIXED-cardinality " +
      "staged entry set (knn_entries hubs, ≤64 rows) — seeding is " +
      "O(Q·64) regardless of corpus size, not a stride-sample brute force") {
    val ents = Similarity.knnGraphEntries(tables, 8)
    assert(ents.count() <= 64, "entry set not bounded")
    val p = plan(Similarity.annGraphTopK(tables))
    assert(p.contains("knn_entries"),
      s"seed stage not reading the staged bounded entry artifact:\n$p")
  }

  test("ann_pq_topk: map-only encode, ADC tables broadcast, no sort-merge") {
    val p = plan(Similarity.annPqTopK(tables))
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("ann_ivf_pq_topk: candidates come from a cell-keyed equi-join, never all-pairs") {
    val p = plan(Similarity.annIvfPqTopK(tables))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("mm_decode_meta: map-only, no exchange") {
    val p = plan(Multimodal.mmDecodeMeta(tables))
    assert(!p.contains("Exchange"), p)
  }

  test("mm_frame_sample: map-only, no exchange (n_frames computed inline)") {
    val p = plan(Multimodal.mmFrameSample(tables))
    assert(!p.contains("Exchange"), p)
  }

  test("ann_filtered_topk: filtered serve keeps the flagship shape — keyed joins, no all-pairs") {
    val p = plan(Similarity.annFilteredTopK(tables))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("ann_graph_topk: neighbor expansions are keyed equi-joins, no sort-merge") {
    // the serve path's contract: beam→neighbor expansion joins on the
    // node id (equi), queries broadcast; the only nested-loop allowed
    // is the bounded entry cross (queries × entry sample)
    val p = plan(Similarity.annGraphTopK(tables))
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("events_pagerank: every round is a keyed join + partial-agg sum, never cartesian") {
    val p = plan(EventAnalytics.eventsPagerank(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_sum") || p.contains("partial_"), s"no map-side combine:\n$p")
  }

  test("events_triangles: wedge + closure are keyed equi-joins, never nested-loop") {
    // the forward algorithm's whole point is that every stage is an
    // equi-join (wedges on the source node, closure on the (x, y)
    // edge key) — a nested-loop/cartesian here means the orientation
    // got lost and the plan degenerates to all-pairs at scale
    val p = plan(EventAnalytics.eventsTriangles(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no map-side combine on the triangle rollup:\n$p")
  }

  test("events_kcore round body: degree count + survivor semi-joins are keyed, never nested-loop") {
    // the peel loop's per-round plan, reconstructed exactly as the
    // operator builds it (the operator itself returns a cut frame, a
    // bare LogicalRDD, so the loop body is pinned here): symmetric
    // degree partial-agg + two LEFT SEMI survivor filters — a
    // cartesian/nested-loop means the equi-keys got lost and a round
    // degenerates to all-pairs at scale
    val und = EventAnalytics.itemPairs(EventAnalytics.cappedDayItems(tables, 64),
      Seq("user_id", "day")).select(col("a"), col("b"))
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val surv = deg.filter(col("deg") >= 5)
    val round = und
      .join(surv.select(col("node").as("a")), Seq("a"), "left_semi")
      .join(surv.select(col("node").as("b")), Seq("b"), "left_semi")
    val p = plan(round)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no map-side combine on the degree count:\n$p")
  }

  test("round loops cut lineage: a result's plan has as many nodes at 6 rounds as at 2") {
    // every round of a distributed loop is cut to a LogicalRDD leaf,
    // so the returned plan must not grow with the rounds run; a loop
    // that stops cutting embeds each earlier round in the next.
    // ann_nndescent_build is left out: its recall union reads every
    // round by design, one branch per round
    import spark.implicits._
    def chainCc(n: Long): DataFrame =
      Dedup.connectedComponents(
        (0L until n).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("src", "dst"),
        maxIters = 100, localMaxEdges = 0).labels
    val loops: Seq[(String, DataFrame, DataFrame)] = Seq(
      // a 3-node chain converges in 2 rounds, a 64-node one in many more
      ("connected components", chainCc(2L), chainCc(63L)),
      ("events_kcore", EventAnalytics.eventsKcore(tables, rounds = 2, localMaxEdges = 0L),
        EventAnalytics.eventsKcore(tables, rounds = 6, localMaxEdges = 0L)),
      ("events_shortest_paths",
        EventAnalytics.eventsShortestPaths(tables, maxDist = 2, localMaxEdges = 0L),
        EventAnalytics.eventsShortestPaths(tables, maxDist = 6, localMaxEdges = 0L)),
      ("events_weighted_paths",
        EventAnalytics.eventsWeightedPaths(tables, budget = 4L, localMaxEdges = 0L),
        EventAnalytics.eventsWeightedPaths(tables, budget = 12L, localMaxEdges = 0L)))
    def nodes(df: DataFrame): Int = df.queryExecution.analyzed.collect { case n => n }.size
    try loops.foreach { case (name, short, long) =>
      assert(nodes(short) == nodes(long),
        s"$name: plan grew with the rounds run:\n${long.queryExecution.analyzed}")
    } finally loops.foreach { case (_, short, long) =>
      Rounds.release(short)
      Rounds.release(long)
    }
  }

  test("q_interval_overlap: grid rewrite is a (customer, cell) equi-join, never nested-loop") {
    // the whole point of the grid interval join: the raw overlap
    // inequality would plan as a per-key nested loop; the rewrite
    // must meet candidates in an equi-join on (customer, cell)
    val p = plan(Scale.qIntervalOverlap(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), s"no map-side combine on the pair count:\n$p")
  }

  test("events_neighbor_jaccard: rides the oriented wedge pass — keyed equi-joins only") {
    val p = plan(EventAnalytics.eventsNeighborJaccard(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), s"no map-side combine on the edge rollup:\n$p")
  }

  test("events_assortativity: degree decoration is keyed equi-joins + one global moment agg") {
    val p = plan(EventAnalytics.eventsAssortativity(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("dedup_url_canonicalize: synth + normalize fuse into the scan, one canonical-key shuffle") {
    val p = plan(Dedup.dedupUrlCanonicalize(tables))
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2, s"expected ≤2 exchanges (agg + countDistinct expand), got $shuffles:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_interval_overlap_auto: the optimizer rule turns the bare inequality join into a grid equi-join") {
    val p = plan(Scale.qIntervalOverlapAuto(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"IntervalOverlapRewrite did not fire:\n$p")
    assert(p.contains("__graft_ivl_bkt"), s"no grid-cell attribute in the plan:\n$p")
  }

  test("q_skyline: two-level prefix max, no cartesian, bucket-keyed windows") {
    val p = plan(Scale.qSkyline(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), s"no map-side combine on the per-price maxima:\n$p")
  }

  test("q_gap_fill: one raw-event rollup, spine windows run at metadata scale") {
    // exactly one scan of the events table may appear: the (type,hour)
    // rollup. The spine explode and the ffill/bfill windows must hang
    // off that rollup, never re-reading raw data per window pass
    val p = plan(Relational.qGapFill(tables))
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") || l.contains("Scan parquet"))
    assert(scans <= 2, s"expected ≤2 events scans (rollup + span reuse), got $scans:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("events_bot_detect: three keyed rollups with map-side combine, no raw-event windows") {
    val p = plan(EventAnalytics.eventsBotDetect(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
    assert(!p.contains("Window"), s"unexpected window over raw events:\n$p")
  }

  test("text_readability: map-only, zero exchanges (regex counts fuse into the scan)") {
    val p = plan(TextAnalysis.textReadability(tables))
    assert(!p.contains("Exchange"), p)
  }

  test("corpus_pii_scrub: map-only, zero exchanges (regex scrub fuses into the scan)") {
    val p = plan(TextAnalysis.corpusPiiScrub(tables))
    assert(!p.contains("Exchange"), p)
  }

  test("text_watermark_detect: map-only, zero exchanges (in-array z-test, no explode)") {
    val p = plan(TextAnalysis.textWatermarkDetect(tables))
    assert(!p.contains("Exchange") && !p.contains("Generate"), p)
  }

  test("text_contamination_bloom: the corpus screen is map-only, zero exchanges") {
    // the operator's whole point vs the exact join: after the (tiny)
    // bench bitset is built, screening any corpus size is scan →
    // project → filter with three literal-array bit probes per gram —
    // an Exchange here means the broadcast-bitset contract broke
    val p = plan(TextAnalysis.textContaminationBloom(tables))
    assert(!p.contains("Exchange"), p)
  }

  test("text_bpe_train: one pair-keyed shuffle with map-side combine, top-k never global-sorts") {
    val p = plan(TextAnalysis.textBpeTrain(tables))
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1, s"expected exactly 1 aggregation shuffle, got $shuffles:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no map-side combine on the pair rollup:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 fell back to a global sort:\n$p")
  }

  test("embed_knn_graph: node self-join broadcasts, scoring never shuffles rows") {
    // the node set is broadcast-sized by contract (blocked at scale);
    // the only row shuffle allowed is the per-src top-k window
    val p = plan(Similarity.embedKnnGraph(tables))
    assert(p.contains("BroadcastExchange"), s"node side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1, s"expected only the window shuffle, got $shuffles:\n$p")
  }

  test("dedup_spans: hash-keyed stages only, window text never joins by value") {
    val p = plan(Dedup.dedupSpans(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), s"no map-side combine on the dup rollup:\n$p")
  }

  test("q_scd2_merge: one user-keyed cogroup, no window, no all-pairs join") {
    // the merge must never pay a window or an all-pairs join: the
    // stored dimension and the increment cogroup by user for the one
    // SCD2 fold, and every exchange (the final ordering's included) is
    // keyed by user_id
    val p = plan(Scale.qScd2Merge(tables))
    assert(!p.contains("Window"), s"window in the merge:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(_.contains("partitioning(user_id#")),
      s"an exchange not keyed by user_id:\n$p")
  }

  test("q_point_in_time_join: equi-join on user with interval residual, no range nested-loop") {
    // the interval predicate must ride the user_id equi-join as a
    // residual filter — a BroadcastNestedLoopJoin means Spark saw
    // only the range condition and the join explodes at scale
    val p = plan(Scale.qPointInTimeJoin(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q21: one orderkey rollup + windows — no correlated self-joins of lineitem") {
    val p = plan(Relational.q21WaitingSuppliers(tables))
    // Q21's textbook form self-joins lineitem twice (EXISTS + NOT
    // EXISTS); the window form must scan lineitem ONCE
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans == 1, s"expected 1 lineitem scan, got $scans:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q11: nation slice + scalar total both broadcast; no sort-merge join") {
    val p = plan(Relational.q11ImportantStock(tables))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q20: part dim + supplier dim broadcast; window keyed by partkey, never global") {
    val p = plan(Relational.q20PartPromotion(tables))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the part-total window must carry a partition key — a global
    // (unpartitioned) window would single-partition the year's rollup
    assert(!p.contains("Window [") || !p.contains("windowspecdefinition()"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("ann_hamming_topk: sign words broadcast both stages — no sort-merge, no cartesian") {
    val p = plan(Similarity.annHammingTopK(tables))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("mm_modality_router: no self-join — filter-pushed synth branches + one rollup") {
    // the router unions three map-only synth branches selected by a
    // per-row md5 filter; the only exchange is the ≤4-group rollup's
    val p = plan(Multimodal.mmModalityRouter(tables))
    assert(!p.contains("Join"), s"router plan regained a join:\n$p")
  }

  test("dedup_embedding: bucket-keyed candidates, no NLJ/cartesian") {
    val p = plan(Dedup.dedupEmbedding(tables))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("near-dup pair generators: keyed joins only, never cartesian") {
    for (df <- Seq(Dedup.dedupNgramJaccard(tables), Dedup.dedupMinhashLsh(tables),
        Dedup.dedupSimhash(tables))) {
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    }
  }

  test("ann_ivf: cell-keyed candidate join, queries broadcast") {
    val p = plan(Similarity.annIvfTopK(tables))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("text_contamination: benchmark gram set broadcast, no payload shuffle") {
    val p = plan(TextAnalysis.textContamination(tables))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text_novelty / text_surprisal: frequency windows are key-partitioned") {
    // the df/tf count windows must shuffle by the gram/token key —
    // never collapse to a single-partition global window
    for ((df, key) <- Seq(
        (TextAnalysis.textNovelty(tables), "g"),
        (TextAnalysis.textSurprisal(tables), "tok"))) {
      val p = plan(df)
      val w = p.linesIterator.find(_.contains("Window")).getOrElse("")
      assert(w.contains(key), s"window not partitioned by $key: $w")
    }
  }

  test("q_range_join_banded: equi-join on (user, bucket), no nested loop") {
    val p = plan(Scale.qRangeJoinBanded(tables))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("embed_quantize: map-only, no exchange (per-row scale, no window)") {
    val p = plan(Similarity.embedQuantize(tables))
    assert(!p.contains("Exchange"), p)
  }

  test("corpus_token_shards: full-set window is bucket-partitioned, offsets broadcast") {
    val p = plan(TextAnalysis.corpusTokenShards(tables))
    // the per-doc cumsum window must be keyed by bucket (never a
    // global single-partition window over the corpus); the only
    // globally-ordered window runs over the small bucket list, whose
    // offsets then come back via broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    val docWindow = p.linesIterator.find(l =>
      l.contains("Window") && l.contains("local_cum")).getOrElse("")
    assert(docWindow.contains("bucket"), s"per-doc window not bucket-partitioned: $docWindow")
  }

  test("corpus_token_shards: no single-partition window exceeds the row bound (recursive prefix sum)") {
    // force recursion with a 2-row window bound: the result must be
    // IDENTICAL to the flat form, and every globally-ordered window in
    // the recursive plan must see at most 2 input rows — the pin that
    // the two-level prefix sum really does recurse instead of ever
    // widening a single task's window
    val default = TextAnalysis.corpusTokenShards(tables).collect().toSet
    val forced = TextAnalysis.corpusTokenShards(tables, maxWindowRows = 2)
    assert(forced.collect().toSet == default, "recursive prefix sum changed the result")
    val globalWindows = forced.queryExecution.analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w.child
    }
    assert(globalWindows.nonEmpty, "expected at least one (bounded) global window")
    for (child <- globalWindows) {
      val n = org.apache.spark.sql.graft.PlanBridge.ofRows(spark, child).count()
      assert(n <= 2, s"single-partition window over $n rows exceeds the 2-row bound")
    }
  }

  test("dedup_incremental_table: bucketed index side joins with no exchange") {
    // with broadcast off, the increment⋈index join must be a sort-merge
    // join whose index side reads the bucketed table layout directly:
    // exactly ONE exchange on the join keys (the increment side) —
    // an unbucketed index would force a second. (A cheap in-bucket
    // Sort may remain on the index side when a bucket spans several
    // files; the shuffle is the scale cost this layout removes.)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(Dedup.dedupIncrementalTable(tables))
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("Bucketed: true"), s"index side not read as bucketed:\n$p")
      val joinKeyExchanges = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(band"))
      assert(joinKeyExchanges == 1,
        s"expected exactly 1 join-key exchange (increment side only), got $joinKeyExchanges:\n$p")
    }
  }

  test("doc_ann_topk: every broadcast side is the bounded query slice, never corpus-sized") {
    // with auto-broadcast off, only the EXPLICIT broadcast() hints
    // survive — exactly the frames we assert are bounded. The corpus
    // norms join must stay shuffled: broadcasting a one-row-per-
    // document frame is the classic OOM-at-scale non-broadcastable
    // broadcast (round-9 finding, Search.scala docAnnRanked).
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = Search.docAnnTopK(tables)
      df.collect()
      val subtrees = broadcastSubtrees(df.queryExecution.executedPlan)
      assert(subtrees.nonEmpty, "expected explicit broadcast hints in the plan")
      subtrees.foreach { sub =>
        assert(sub.contains("< 10") || sub.contains("LessThan(doc_id,10)"),
          s"broadcast side not filtered to the query slice (doc_id < nQueries):\n$sub")
      }
    }
  }

  /** All materialized broadcast-exchange subtrees of an executed
    * (possibly adaptive) plan, recursing through query stages. */
  private def broadcastSubtrees(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => broadcastSubtrees(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      val nested = broadcastSubtrees(s.plan)
      s match {
        case _: org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec =>
          s.plan.toString +: nested
        case _ => nested
      }
    case other => other.children.flatMap(broadcastSubtrees)
  }

  private def withConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("text_contamination: oversized gram set falls back to a shuffled join") {
    val p = plan(TextAnalysis.textContamination(tables, maxBroadcastGrams = 0L))
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("corpus_split: map-only, no exchange") {
    val p = plan(TextAnalysis.corpusSplit(tables))
    assert(!p.contains("Exchange"), p)
  }

  test("corpus_clean: tokenized projection computed once (cached scan reused)") {
    val df = CorpusClean.corpusClean(tables)
    val p = plan(df)
    // every stage must read the cached projection (the parquet scan
    // only appears inside the InMemoryRelation's own build lineage)
    val scans = p.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(scans >= 2, s"expected >=2 cached-scan readers, got $scans:\n$p")
  }

  test("asof join: single shuffle, no range-explosion join") {
    val p = plan(Relational.qAsofJoin(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // union + one window over user partitioning: exchanges should be
    // bounded (union sides + window partitioning), far from a join blowup
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("embed_project: map-only, no exchange (codegen dot per output dim)") {
    val p = plan(Similarity.embedProject(tables))
    assert(!p.contains("Exchange"), p)
  }

  test("ann_refine: both stages broadcast, no sort-merge join anywhere") {
    val p = plan(Similarity.annRefineTopK(tables))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("corpus_mixture: rank and count share ONE source-keyed exchange") {
    val p = plan(TextAnalysis.corpusMixture(tables))
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1, s"expected 1 source-keyed exchange, got $shuffles:\n$p")
  }

  test("ann_ivf_table: stored-index scan is bucket-pruned (inverted-list read)") {
    val p = plan(Similarity.annIvfTableTopK(tables))
    // the isin(probedCells) filter must reach the bucketed scan as
    // bucket pruning — the plan advertises SelectedBucketsCount when
    // the pruning applies (vs a full scan of every bucket file)
    assert(p.contains("SelectedBucketsCount"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ann_ivf_pq_topk: stored code-table scan is bucket-pruned, all joins broadcast") {
    val p = plan(Similarity.annIvfPqTopK(tables))
    // serving reads the PERSISTED code table; the probed-cell isin
    // filter must prune buckets (the inverted-list read), and every
    // join in the three-stage path broadcasts the small side
    assert(p.contains("SelectedBucketsCount"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ann_index_incremental: history-index side is exchange-free") {
    val p = plan(Similarity.annIndexIncremental(tables))
    // the stored history index must be read bucketed (and pruned to
    // the probed cells); the only shuffles in the plan are the
    // per-query ranking windows (hashpartitioning on q_id) — the
    // index side never exchanges, so serving cost is scan + lookups
    // at any history size
    assert(p.contains("SelectedBucketsCount"), p)
    assert(p.contains("Bucketed: true"), s"history index not read as bucketed:\n$p")
    val nonWindowExchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .filterNot(_.contains("q_id")).toSeq
    assert(nonWindowExchanges.isEmpty,
      s"unexpected exchange on the index side: $nonWindowExchanges\n$p")
  }

  test("ann_index_compaction: serving returns to ONE bucket-pruned scan, no union") {
    val p = plan(Similarity.annIndexCompaction(tables))
    // after the merge-rewrite the shortlist stage reads a single
    // compacted bucketed table: the pre-compaction hist∪increment
    // union is gone and bucket pruning applies to the whole index
    assert(p.contains("SelectedBucketsCount"), p)
    assert(!p.contains("Union"), s"compacted serve still unions:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text_perplexity: windows and aggregates only — no join in the plan") {
    val p = plan(TextAnalysis.textPerplexity(tables))
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("partial_"), p)
  }

  test("text_tfidf: corpus N arrives broadcast; no sort-merge or cartesian") {
    val p = plan(TextAnalysis.textTfidf(tables))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("events_active_users: last-day scalar broadcast into the bounded explode") {
    val p = plan(EventAnalytics.eventsActiveUsers(tables))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate explode") || p.contains("Generate"), p)
  }

  test("q_unpivot: melt is a map-only Expand before the rollup") {
    val p = plan(Relational.qUnpivot(tables))
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_"), p)
  }

  test("events_anomaly: hourly rollup aggregates partially before its shuffle") {
    val p = plan(EventAnalytics.eventsAnomaly(tables))
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
  }

  test("bm25: top-k cut is TakeOrderedAndProject; df joins broadcast off a reused exchange") {
    val p = plan(Search.textBm25Search(tables))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    // the per-term df aggregate must NOT be a window over a handful of
    // term keys (one task per common term at corpus scale)
    assert(!p.contains("Window"), s"df computed via low-cardinality window:\n$p")
  }

  test("embed_dim_stats: one dims-keyed exchange, partial agg before it") {
    val p = plan(Similarity.embedDimStats(tables))
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("ann_hard_negatives: both stages broadcast, no sort-merge join") {
    val p = plan(Similarity.annHardNegatives(tables))
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q_delete_propagation: first hop broadcast semi; audit rows are one-row broadcasts") {
    val p = plan(Governance.deletePropagation(tables))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), s"audit cross-joins must broadcast:\n$p")
  }

  test("text_contamination_fuzzy: bench bands broadcast; corpus side never sort-merges") {
    val p = plan(TextAnalysis.textContaminationFuzzy(tables))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"corpus side must not shuffle for the probe:\n$p")
  }

  test("events_attribution_linear: banded range join stays an equi-join, never a nested loop") {
    val p = plan(EventAnalytics.eventsAttributionLinear(tables))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("er_blocked_pairs: both blocking passes are keyed joins, no cartesian") {
    val p = plan(Governance.erBlockedPairs(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocking must stay an equi-join:\n$p")
  }

  test("q_dpp: fact scan is dynamically partition-pruned by the dim values") {
    val p = plan(graft.sources.SourceOps.qDpp(tables))
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$p")
  }

  test("CBO join reorder: stats move the selective dim join ahead of the fact join") {
    import graft.sources.SourceOps
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.functions.{col, lit}
    val tFact = s"graft_cbo3_lineitem_${SourceOps.runId}"
    val tMid = s"graft_cbo3_orders_${SourceOps.runId}"
    val tDim = s"graft_cbo3_customer_${SourceOps.runId}"
    val all = Seq(tFact, tMid, tDim)
    all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    tables.lineitem.select("l_orderkey", "l_quantity")
      .write.mode("overwrite").saveAsTable(tFact)
    tables.orders.select("o_orderkey", "o_custkey")
      .write.mode("overwrite").saveAsTable(tMid)
    tables.customer.select("c_custkey", "c_mktsegment")
      .write.mode("overwrite").saveAsTable(tDim)
    val key = tables.customer.agg(org.apache.spark.sql.functions.min("c_custkey"))
      .collect()(0).getLong(0)
    // written in the WORST order: fact ⋈ mid first, the point-filtered
    // dim last — a cost-based reorder should pull the dim join in first
    def q = spark.table(tFact)
      .join(spark.table(tMid), col("l_orderkey") === col("o_orderkey"))
      .join(spark.table(tDim), col("o_custkey") === col("c_custkey"))
      .filter(col("c_custkey") === lit(key))
      .groupBy(col("c_mktsegment")).count()
    def tablesUnder(p: LogicalPlan): Set[String] = p.collectLeaves().flatMap {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.catalogTable.map(_.identifier.table)
      case r: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
        Some(r.tableMeta.identifier.table)
      case _ => None
    }.toSet
    // the FIRST-executed join: both subtrees join-free
    def bottomJoin: Set[String] = q.queryExecution.optimizedPlan.collect {
      case j: Join if j.left.collect { case jj: Join => jj }.isEmpty &&
        j.right.collect { case jj: Join => jj }.isEmpty => tablesUnder(j)
    }.headOption.getOrElse(Set.empty)
    val keys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
      "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // WITHOUT stats the reorder rule has no costs: written order
      // survives and the first join is fact ⋈ mid
      val before = bottomJoin
      assert(before == Set(tFact, tMid),
        s"expected written join order without stats, got $before")
      all.foreach(t => SourceOps.analyzeTable(spark, t,
        spark.table(t).columns.toSeq))
      // WITH stats the point filter prices the dim at ~1 row: the
      // cheapest first join is mid ⋈ dim, and the fact joins LAST
      val after = bottomJoin
      assert(after == Set(tMid, tDim),
        s"ANALYZE stats did not reorder the join tree, first join: $after")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("events_communities: every LPA round is keyed joins + partial aggs, no cartesian") {
    val p = plan(EventAnalytics.eventsCommunities(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the argmax is a partial-aggregating struct-max, never a
    // per-node sort: the only Sort operators belong to the final
    // community-size window and the basket self-join
    assert(p.contains("partial_max") || p.contains("partial_count"), p)
  }

  test("q_histogram_equidepth: the prefix split is two-level — no global window over values") {
    val df = Relational.qHistogramEquidepth(tables)
    val p = plan(df)
    // the in-group cumulative runs PARTITIONED by the coarse key; the
    // one unpartitioned window is the coarse prefix over DIV-262144
    // groups (metadata-scale) — assert the partitioned window exists
    // and the rank lookup broadcasts (8 rows), never sort-merges
    assert(p.contains("Window [") || p.contains("RunningWindowFunction") ||
      p.contains("windowspecdefinition(g#"), p.linesIterator.take(40).mkString("\n"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("mm_audio_vad: payload bytes never shuffle — exchanges carry window stats only") {
    val p = plan(Multimodal.mmAudioVad(tables))
    // every Exchange row set is (doc_id, w, e)-shaped or smaller:
    // neither the payload nor the extracted body appears past a scan
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(l => l.contains("payload") || l.contains("body")),
      s"payload bytes cross an exchange:\n${exchanges.mkString("\n")}")
  }

  test("ANALYZE stats feed the CBO: a selective filtered join flips to broadcast") {
    import graft.sources.SourceOps
    val tOrders = s"graft_cbo_orders_${SourceOps.runId}"
    val tLines = s"graft_cbo_lineitem_${SourceOps.runId}"
    spark.sql(s"DROP TABLE IF EXISTS $tOrders")
    spark.sql(s"DROP TABLE IF EXISTS $tLines")
    tables.orders.write.mode("overwrite").saveAsTable(tOrders)
    tables.lineitem.select("l_orderkey", "l_quantity")
      .write.mode("overwrite").saveAsTable(tLines)
    val key = tables.orders.agg(org.apache.spark.sql.functions.min("o_orderkey"))
      .collect()(0).getLong(0)
    import org.apache.spark.sql.functions.{col, lit}
    def q = spark.table(tOrders).filter(col("o_orderkey") === lit(key))
      .join(spark.table(tLines), col("o_orderkey") === col("l_orderkey"))
    // stash/override confs: CBO on, broadcast threshold below the raw
    // file-size estimate, AQE off so the pin reads the COMPILE-TIME
    // decision (AQE would re-plan from runtime sizes and mask the
    // stats effect)
    val keys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
      "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
      // WITHOUT statistics the filter can't shrink the size estimate:
      // both sides stay above the threshold and the join sort-merges
      val before = q.queryExecution.sparkPlan.toString
      assert(before.contains("SortMergeJoin"),
        s"expected SortMergeJoin without stats:\n$before")
      // the feedback edge: q_table_stats-class numbers into the catalog
      SourceOps.analyzeTable(spark, tOrders, Seq("o_orderkey"))
      val after = q.queryExecution.sparkPlan.toString
      assert(after.contains("BroadcastHashJoin"),
        s"ANALYZE stats did not flip the filtered join to broadcast:\n$after")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.sql(s"DROP TABLE IF EXISTS $tOrders")
      spark.sql(s"DROP TABLE IF EXISTS $tLines")
    }
  }

  // --- round-13 operator pins ---

  test("the ingest screens and the token budget are map-only (zero exchanges)") {
    for (df <- Seq(TextAnalysis.textCodeDetect(tables),
        TextAnalysis.textMojibake(tables),
        Multimodal.mmTokenBudget(tables))) {
      val p = plan(df)
      assert(!p.contains("Exchange"), s"screen shuffles:\n$p")
    }
  }

  test("text_heavy_hitters: partial MG sketch + broadcast candidate recount") {
    val p = plan(TextAnalysis.textHeavyHitters(tables))
    // pass 1: the sketch partial-aggregates (ObjectHashAggregate) so
    // the exchange carries <= m counters per task, never the domain
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_misra_gries") || p.contains("misra_gries"), p)
    // pass 2: the <= m candidates broadcast into the recount
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("events_acf: raw events hit ONE day-keyed partial agg; lags broadcast") {
    val p = plan(EventAnalytics.eventsAcf(tables))
    assert(p.contains("partial_count") || p.contains("partial_"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    // the pairing join runs on the metadata-scale daily table — the
    // raw scan must appear exactly once feeding an aggregate
    assert("Scan parquet".r.findAllIn(p).size <= 3, p)
  }

  test("er_fuzzy_pairs: variant-keyed equi-join, nothing cartesian") {
    val p = plan(Governance.erFuzzyPairs(tables))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_asof_tolerance executes through the native as-of operator") {
    val p = plan(Relational.qAsofJoinTolerance(tables))
    assert(p.contains("AsOfJoin"), p)
  }

  // ---- round-14 pins ----------------------------------------------

  test("ann_nndescent_build: band/two-hop joins are keyed, never cartesian") {
    val p = plan(Similarity.annNnDescentBuild(tables))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann_nndescent_incremental: append path keyed, never cartesian") {
    val p = plan(Similarity.annNnDescentIncremental(tables))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_data_masking: both hierarchy dims broadcast, one partial rollup") {
    val p = plan(Governance.qDataMasking(tables))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("events_srm: one exchange — partial conditional sums before it") {
    val p = plan(EventAnalytics.eventsSrm(tables))
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("events_did: ONE fold over raw events, zero joins") {
    val p = plan(EventAnalytics.eventsDid(tables))
    assert(!p.contains("Join"), s"DiD should be join-free:\n$p")
    assert(p.contains("partial_"), p)
  }

  test("events_audience_overlap: user-keyed intersection, sizes broadcast") {
    val p = plan(EventAnalytics.eventsAudienceOverlap(tables))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("dedup_survivorship: label join keyed; no cartesian anywhere") {
    val p = plan(graft.operators.Dedup.dedupSurvivorship(tables))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_heaps_law: token stream feeds exactly two keyed partial aggs") {
    val p = plan(TextAnalysis.textHeapsLaw(tables))
    assert(p.contains("partial_"), p)
    // the raw documents scan must not be re-read per bucket/fit stage
    assert("Scan parquet".r.findAllIn(p).size <= 3, p)
  }

  test("events_ooo_audit: one keyed window pass, partial type rollup") {
    val p = plan(EventAnalytics.eventsOooAudit(tables))
    assert(p.contains("Window"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mm_caption_pairs: metadata join keyed, never cartesian") {
    val p = plan(Multimodal.mmCaptionPairs(tables))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("q_join_view_maintenance: all three delta terms join keyed") {
    val p = plan(Scale.qJoinViewMaintenance(tables))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("q_abs_band_auto: the naive abs join planned as a banded equi-join") {
    val p = plan(Scale.qAbsBandAuto(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"AbsBandJoinRewrite did not fire:\n$p")
    assert(p.contains("Generate"), s"no band explode in the plan:\n$p")
  }

  test("ann_index_delete: tombstones filter via an anti-join pre-scoring") {
    val p = plan(Similarity.annIndexDelete(tables))
    assert(p.contains("LeftAnti"), s"no anti-join in the delete path:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }
  test("q_multi_distinct: all three distincts in ONE Expand pass over one scan") {
    val p = plan(Relational.qMultiDistinct(tables))
    assert(p.contains("Expand"), s"no Expand-based multi-distinct:\n$p")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"fact table scanned $scans times:\n$p")
  }

  test("q_bom_explode: doubling rounds are keyed equi-joins, no nested loop") {
    val p = plan(Relational.qBomExplode(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"closure fell back to a nested loop:\n$p")
  }

  test("events_shortest_paths: frontier probes are keyed joins, no nested loop") {
    val p = plan(EventAnalytics.eventsShortestPaths(tables))
    // the only permissible nested loop is the ONE-ROW broadcast of the
    // significance floor (the house one-row-crossJoin convention);
    // nothing may plan a shuffled cartesian
    assert(!p.contains("CartesianProduct"), p)
  }

  test("nb classify: model and prior lookups broadcast; scores partial-agg") {
    import graft.operators.TextAnalysis
    val t = tables
    val df = TextAnalysis.nbConfusionOf(
      TextAnalysis.nbScoresOf(TextAnalysis.nbEvalDocs(t), TextAnalysis.nbModel(t)),
      TextAnalysis.nbPriors(t))
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"model join not broadcast:\n$p")
    assert(p.contains("partial_"), s"score sum not map-side combined:\n$p")
  }

  test("corpus_dp_release: noise is map-only after the one count shuffle") {
    val p = plan(Governance.corpusDpRelease(tables))
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused"))
    // one partial-agg shuffle to the release grain + the final sort's
    // range exchange — the noise arithmetic itself adds none
    assert(exchanges <= 2, s"$exchanges exchanges:\n$p")
  }

  test("q_shard_scan: DSv2 scan shows pushed filters and pruned files") {
    val p = plan(graft.sources.SourceOps.qShardScan(tables))
    assert(p.contains("gshard"), s"not reading through the connector:\n$p")
    assert(p.contains("PushedFilters: [") && p.contains("LessThan(user_id"),
      s"filter not pushed:\n$p")
    val desc = p.linesIterator.find(_.contains("files=")).getOrElse("")
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    assert(m.isDefined, s"no pruning readout in scan description:\n$p")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"zone maps pruned nothing: $desc")
  }

  test("ann_ivf_shard_topk: the probed-cell filter pushes into the " +
      "gshard scan, and a cell-selective read prunes shard FILES " +
      "(the inverted-list mechanism)") {
    // the full query pushes its In(cell, ...) probe set
    val p = plan(Similarity.annIvfShardTopK(tables))
    assert(p.contains("In(cell"), s"probe set not pushed:\n$p")
    // at this tiny SF 10×4 probes cover nearly every cell, so pin the
    // MECHANISM at production selectivity: one probed cell must open
    // a strict subset of the cell-clustered files
    val one = tables.spark.read.format("gshard")
      .load(Similarity.shardIvfDir(tables))
      .filter(col("cell") === 0L)
    val d = plan(one)
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(
      d.linesIterator.find(_.contains("files=")).getOrElse(""))
    assert(m.isDefined, s"no pruning readout in scan description:\n$d")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"a single-cell probe pruned no shard files: $d")
  }

  test("q_shard_stats: aggregates answer metadata-only, zero files read") {
    val p = plan(graft.sources.SourceOps.qShardStats(tables))
    assert(p.contains("metadata-only"), s"stats query scanned data:\n$p")
    assert(p.contains("files=0/"), s"a shard file was planned:\n$p")
  }

  test("q_shard_delete_mor: the masked read-back goes through the " +
      "connector with ONE aggregation exchange (masking is reader-" +
      "side, never a plan-side anti-join)") {
    val p = plan(graft.sources.SourceOps.qShardDeleteMor(tables))
    assert(p.contains("gshard"), s"not reading through the connector:\n$p")
    // rollup + orderBy: one shuffle for the agg, one range exchange
    // for the sort — a DV mask must add NO join or extra exchange
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"$exchanges exchanges:\n$p")
    assert(!p.contains("Join"), s"DV masking leaked a plan-side join:\n$p")
  }

  test("q_shard_token_ids_roundtrip: map-only read-back — zero " +
      "exchanges, token ids decode in place") {
    val p = plan(graft.sources.SourceOps.qShardTokenIdsRoundtrip(tables))
    assert(p.contains("gshard"), s"not reading through the connector:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 0, s"read-back shuffled:\n$p")
  }

  test("q_shard_types_roundtrip: the TIMESTAMP predicate pushes down " +
      "into the scan (typed ReadSchema, normalized filter)") {
    val p = plan(graft.sources.SourceOps.qShardTypesRoundtrip(tables))
    assert(p.contains("gshard"), s"not reading through the connector:\n$p")
    assert(p.contains("GreaterThanOrEqual(ts"),
      s"timestamp filter not pushed:\n$p")
    assert(p.contains("ts:timestamp_ntz") && p.contains("day:date") &&
      p.contains("hh:int") && p.contains("is_click:boolean"),
      s"typed ReadSchema missing:\n$p")
  }

  test("timestamp zone maps prune shard files at planning time (files=k/n)") {
    import org.apache.spark.sql.functions.{floor, min, sum}
    val dir = tmp("ts_prune")
    tables.events.select(col("event_id"), col("ts"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .write.format("gshard").option("rangecol", "event_id")
      .option("shards", 8).mode("overwrite").save(dir)
    val cut = tables.events.agg(min(col("ts"))).head
      .getAs[java.time.LocalDateTime](0).plusDays(20)
    val p = plan(spark.read.format("gshard").load(dir)
      .filter(col("ts") >= lit(cut))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents")))
    val desc = p.linesIterator.find(_.contains("files=")).getOrElse("")
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    assert(m.isDefined, s"no pruning readout in scan description:\n$p")
    assert(m.get.group(2).toInt >= 8, s"degenerate table: $desc")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"timestamp zone maps pruned nothing: $desc")
  }

  test("rank statistics run their windows over the AGGREGATED value " +
      "grid, never over raw fact rows") {
    // the scale claim of events_ks_test / events_mann_whitney /
    // events_winsorized_mean: fact rows reduce to (key, cents) counts
    // FIRST; every ordered window sits above that aggregate, so the
    // sorted data is the value DOMAIN, not the event count
    def auditWindows(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val plan = df.queryExecution.optimizedPlan
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
      val windows = plan.collect { case w: Window => w }
      assert(windows.nonEmpty, s"$tag: expected a window over the grid")
      windows.foreach { w =>
        val aggBelow = w.child.collectFirst { case a: Aggregate => a }
        assert(aggBelow.isDefined,
          s"$tag: a window runs over raw fact rows:\n${w.treeString}")
      }
    }
    auditWindows(graft.operators.EventAnalytics.eventsKsTest(tables),
      "events_ks_test")
    auditWindows(graft.operators.EventAnalytics.eventsMannWhitney(tables),
      "events_mann_whitney")
    auditWindows(graft.operators.EventAnalytics.eventsWinsorizedMean(tables),
      "events_winsorized_mean")
    auditWindows(graft.operators.Relational.qModePerGroup(tables),
      "q_mode_per_group")
  }

  test("q_shard_topn: ORDER BY range-col LIMIT plans only the sorted " +
      "end of the manifest") {
    val p = plan(graft.sources.SourceOps.qShardTopn(tables))
    assert(p.contains("TopN: [event_id DESC limit 500]"),
      s"top-N not pushed:\n$p")
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(
      p.linesIterator.find(_.contains("files=")).getOrElse(""))
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"top-N pruned nothing:\n$p")
  }

  test("q_shard_stats_typed: typed aggregates answer metadata-only") {
    val p = plan(graft.sources.SourceOps.qShardStatsTyped(tables))
    assert(p.contains("metadata-only"), s"typed stats scanned data:\n$p")
    assert(p.contains("files=0/"), s"a shard file was planned:\n$p")
  }

  test("q_shard_scan_string: STRING zone maps prune files at planning time") {
    val p = plan(graft.sources.SourceOps.qShardScanString(tables))
    assert(p.contains("gshard"), s"not reading through the connector:\n$p")
    assert(p.contains("PushedFilters: [") && p.contains("LessThan(user_tag"),
      s"string filter not pushed:\n$p")
    val desc = p.linesIterator.find(_.contains("files=")).getOrElse("")
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    assert(m.isDefined, s"no pruning readout in scan description:\n$p")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"string zone maps pruned nothing: $desc")
  }

  test("q_shard_bloom_skip: blooms prune where zone maps cannot") {
    val p = plan(graft.sources.SourceOps.qShardBloomSkip(tables))
    val desc = p.linesIterator.find(_.contains("files=")).getOrElse("")
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    assert(m.isDefined, s"no pruning readout:\n$p")
    val (k, n) = (m.get.group(1).toInt, m.get.group(2).toInt)
    // the probe id lives in exactly one file; allow a couple of bloom
    // false positives but the mid-range point lookup must not scan
    // the table (zone maps alone would read ALL n files here)
    assert(k <= math.max(3, n / 4) && k < n,
      s"bloom pruned nothing: $desc")
  }

  test("mm_exif_strip: byte surgery is map-only, zero exchanges") {
    val p = plan(Multimodal.mmExifStrip(tables))
    assert(!p.contains("Exchange"), s"the scrub shuffled:\n$p")
  }

  test("ann_lsh_multiprobe: probe expansion stays on the broadcast side") {
    val p = plan(Similarity.annLshMultiprobeTopK(tables))
    assert(p.contains("BroadcastHashJoin"),
      s"bucket join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"probe join degenerated:\n$p")
  }

  test("q_surrogate_keys: no single-partition pass over the FACT rows") {
    // the one global window runs over the #buckets-row rollup; the
    // fact-side rank is partitioned by bucket and the offsets come
    // back via broadcast — pin that every SinglePartition exchange
    // sits above an aggregate, never directly above the scan
    val df = Relational.qSurrogateKeys(tables)
    df.collect()
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val singles = root.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 => e
    }
    singles.foreach { e =>
      val feedsFromAgg = e.child.collectFirst {
        case a if a.nodeName.contains("Aggregate") => a
      }.isDefined
      assert(feedsFromAgg,
        s"single-partition exchange over non-aggregated rows:\n$e")
    }
    val p = root.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop") ||
      p.contains("BroadcastExchange"), s"offsets not broadcast back:\n$p")
  }

  test("corpus_source_overlap joins on the 8-byte shingle hash — a " +
      "keyed equi-join, never a cartesian") {
    val df = graft.operators.Dedup.corpusSourceOverlap(tables)
    val plan = df.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty, "expected the pair join")
    // THE pair join must key on the 8-byte shingle hash column
    assert(joins.exists(_.condition.exists(
        _.references.exists(_.name == "h"))),
      s"no hash-keyed pair join:\n${plan.treeString}")
    val p = this.plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the overlap matrix planned a non-keyed join:\n$p")
  }

  test("events_bootstrap_ci combines map-side: the replicate grid " +
      "partially aggregates below the exchange") {
    // the users x 200 grid must reduce to per-(b) partial sums INSIDE
    // each task (the shuffle then carries ~200 rows per partition) —
    // so SOME physical aggregate keyed by b must run in PARTIAL mode;
    // a generic contains("partial_sum") would be vacuously true of
    // the query's unrelated 1-row fold
    val df = graft.operators.EventAnalytics.eventsBootstrapCi(tables)
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def aggs(p: SparkPlan): Seq[BaseAggregateExec] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => aggs(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          aggs(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          aggs(r.child)
        case b: BaseAggregateExec => Seq(b)
        case _ => Seq.empty
      }
      self ++ p.children.flatMap(aggs) ++
        p.subqueries.flatMap(aggs)
    }
    val gridPartials = aggs(df.queryExecution.executedPlan).filter { a =>
      a.groupingExpressions.exists(_.references.exists(_.name == "b")) &&
        a.aggregateExpressions.exists(_.mode ==
          org.apache.spark.sql.catalyst.expressions.aggregate.Partial)
    }
    assert(gridPartials.nonEmpty,
      s"no PARTIAL aggregate keyed by b:\n${plan(df)}")
  }

  test("events_theilsen pairs the AGGREGATED daily series, never " +
      "fact rows (windows sit above aggregates)") {
    val df = graft.operators.EventAnalytics.eventsTheilSen(tables)
    val plan = df.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    val windows = plan.collect { case w: Window => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"a window runs over raw fact rows:\n${w.treeString}")
    }
  }

  test("q_shard_tokens_roundtrip read-back is MAP-ONLY: one shard " +
      "scan, no shuffle (the per-doc recount is a projection)") {
    val p = plan(graft.sources.SourceOps.qShardTokensRoundtrip(tables))
    assert(!p.contains("Exchange"), s"tokens recount shuffles:\n$p")
    assert(p.contains("gshard") || p.contains("BatchScan"), p)
  }

  test("ShardCdc.classify is ONE keyed aggregation: no join, " +
      "map-side partial present (the foreachBatch consumer shape)") {
    val sess = spark
    import sess.implicits._
    val feed = Seq(
      (1L, "a", 1L, -1, 1L), (1L, "b", 2L, 1, 1L),
      (2L, "c", 3L, 1, 1L), (3L, "d", 4L, -1, 1L))
      .toDF("id", "tag", "score",
        graft.sources.shard.ShardCdc.SideCol,
        graft.sources.shard.ShardCdc.VersionCol)
    val df = graft.sources.shard.ShardCdc.classify(feed, "id")
    val p = plan(df)
    assert(!p.contains("Join"), s"classify self-joins:\n$p")
    assert(p.contains("partial"), s"no map-side partial:\n$p")
  }

  leavesNoTempDirs()
}
