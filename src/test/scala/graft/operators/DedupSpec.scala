package graft.operators

import graft.sources.ShardTempRoot

/** Dedup-suite invariants beyond the driver's DuckDB gate: the LSH
  * embedding-dedup scale path must reproduce the exact all-pairs
  * answer on this corpus (exhaustive recall at the chosen band
  * parameters), and the exact form stays spec-only ground truth.
  */
class DedupSpec extends ShardTempRoot {

  test("dedup_embedding (LSH path) equals the exact all-pairs ground truth") {
    val lsh = Dedup.dedupEmbedding(tables).collect().map(_.toSeq).toSet
    val exact = Dedup.dedupEmbeddingExact(tables).collect().map(_.toSeq).toSet
    assert(lsh == exact,
      s"missing=${(exact -- lsh).take(5)} extra=${(lsh -- exact).take(5)}")
    assert(exact.nonEmpty, "degenerate test: no true pairs at this SF")
  }

  test("dedup_embedding recall stays exhaustive with fewer bands removed than the margin") {
    // 25 bands is the empirical minimum for 100% recall on this
    // corpus; the default 28 carries a 3-band margin
    val lsh25 = Dedup.dedupEmbedding(tables, bitsPerBand = 4, nBands = 25)
      .collect().map(_.toSeq).toSet
    val exact = Dedup.dedupEmbeddingExact(tables).collect().map(_.toSeq).toSet
    assert(lsh25 == exact)
  }

  test("dedup_embedding recall is exhaustive at sf0.01 (the driver's verify SF)") {
    // the driver gate compares against the exact all-pairs oracle AT
    // sf0.01 — pin parity on that corpus too, not just the spec SF
    val t = graft.Tables(spark, "/root/testdata/sf0.01")
    val lsh = Dedup.dedupEmbedding(t).collect().map(_.toSeq).toSet
    val exact = Dedup.dedupEmbeddingExact(t).collect().map(_.toSeq).toSet
    assert(lsh == exact,
      s"missing=${(exact -- lsh).take(5)} extra=${(lsh -- exact).take(5)}")
  }

  test("dedup_clusters: every near-dup pair lands in one cluster, labels are component minima") {
    val cluster = Dedup.dedupClusters(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.dedupMinhashLsh(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "degenerate test: no near-dup pairs at this SF")
    pairs.foreach { case (a, b) =>
      assert(cluster(a) == cluster(b), s"pair ($a,$b) split across clusters")
    }
    // a label is always a member of its own cluster and is its minimum
    cluster.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min == lbl, s"cluster $lbl labelled above its min member")
    }
  }

  test("connected components: adaptive path halving closes a 64-node chain in O(log d) rounds") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // the adversarial shape for min-label propagation: a pure path
    // 0-1-2-…-63 (diameter 63), where the min label walks ONE hop per
    // plain round
    val chain = (0L until 63L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst")
    val Dedup.Components(plainLabels, plainIters, _) =
      Dedup.connectedComponents(chain, maxIters = 100, halveFrom = Int.MaxValue,
        localMaxEdges = 0)
    val Dedup.Components(halvedLabels, halvedIters, _) =
      Dedup.connectedComponents(chain, maxIters = 100, localMaxEdges = 0)
    try {
      // both converge to the single component labelled by node 0
      assert(plainLabels.filter(col("cluster_id") =!= 0L).count() == 0)
      assert(halvedLabels.filter(col("cluster_id") =!= 0L).count() == 0)
      // plain propagation pays ~diameter rounds; the compounding
      // pointer hop collapses the tail once it engages at round 3
      assert(plainIters >= 60, s"chain should take ~diameter rounds plain: $plainIters")
      assert(halvedIters <= 16, s"path halving did not accelerate: $halvedIters")
      assert(halvedIters * 3 < plainIters,
        s"expected ≥3× fewer rounds: $halvedIters vs $plainIters")
    } finally {
      plainLabels.unpersist()
      halvedLabels.unpersist()
      ()
    }
  }

  test("dedup_clusters: near-clique corpus graphs converge before halving engages (no overhead)") {
    // on THIS corpus the LSH pair graph is near-clique (diameter ≤ 2):
    // the adaptive trigger must never fire, so the accelerated
    // operator runs the identical plan as plain propagation
    val (df, iters) = Dedup.dedupClustersWithIters(tables)
    assert(df.count() > 0)
    assert(iters <= 2, s"shallow pair graph took $iters rounds — halving overhead engaged")
    spark.catalog.clearCache() // release the pinned final-labels cache
  }

  test("connected components: local union-find fallback labels exactly like the distributed loop") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // seeded random graph: 300 nodes, 400 edges — components of mixed
    // shape (chains, merged stars, singleton-free by construction)
    val rnd = new scala.util.Random(42)
    val half = (0 until 400).map { _ =>
      val a = rnd.nextInt(300).toLong; val b = rnd.nextInt(300).toLong
      if (a == b) (a, a + 1) else (a, b)
    }
    val edges = (half ++ half.map(p => (p._2, p._1))).toDF("src", "dst")
    val Dedup.Components(localLabels, localIters, local) =
      Dedup.connectedComponents(edges)
    val Dedup.Components(distLabels, distIters, distLocal) =
      Dedup.connectedComponents(edges, localMaxEdges = 0)
    try {
      assert(local && localIters == 0, "small graph did not take the local path")
      assert(!distLocal && distIters > 0)
      val l = localLabels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val d = distLabels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(l == d, s"missing=${(d -- l).take(5)} extra=${(l -- d).take(5)}")
    } finally {
      Rounds.release(distLabels)
      localLabels.unpersist(); ()
    }
  }

  /** Every distributed round loop, forced off its driver-local path
    * (`localMaxEdges = 0`): connected components over a 32-node chain,
    * the k-core peel and both seeded walks. */
  private val roundLoops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    "connected components" -> { () =>
      import spark.implicits._
      val chain = (0L until 32L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
        .toDF("src", "dst")
      Dedup.connectedComponents(chain, maxIters = 100, localMaxEdges = 0).labels
    },
    "events_kcore" -> (() => EventAnalytics.eventsKcore(tables, localMaxEdges = 0L)),
    "events_shortest_paths" ->
      (() => EventAnalytics.eventsShortestPaths(tables, localMaxEdges = 0L)),
    "events_weighted_paths" ->
      (() => EventAnalytics.eventsWeightedPaths(tables, localMaxEdges = 0L)))

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  roundLoops.foreach { case (name, loop) =>
    test(s"$name: reliable-checkpoint mode converges through the configured dir") {
      // the preemptible-fleet story: graft.cc.checkpointDir switches
      // every round's cut from executor-local to a RELIABLE
      // checkpoint, so executor loss costs one round, not the run
      val local = loop()
      val expected = sortedRows(local)
      Rounds.release(local)
      val dir = tmp("graft_cc_ckpt_")
      spark.conf.set("graft.cc.checkpointDir", dir)
      try {
        val reliable = loop()
        assert(sortedRows(reliable) == expected,
          s"$name: reliable-checkpoint rows differ from the local-cut run")
        def countFiles(p: java.io.File): Int =
          Option(p.listFiles())
            .map(_.map(f => if (f.isDirectory) countFiles(f) else 1).sum).getOrElse(0)
        assert(countFiles(new java.io.File(dir)) > 0,
          s"no checkpoint files landed under $dir — rounds bypassed the reliable path")
        Rounds.release(reliable)
      } finally spark.conf.unset("graft.cc.checkpointDir")
    }

    test(s"$name: superseded rounds' blocks are released, nothing leaks") {
      // cut RDDs sit outside the CacheManager (clearCache is a no-op
      // for them): the loop must free each superseded round through
      // the RDD handle, so once the result is collected at most the
      // cut behind it is live, and Rounds.release frees that one
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val result = loop()
      result.collect()
      val live = spark.sparkContext.getPersistentRDDs.keySet -- before
      Rounds.release(result)
      assert(live.size <= 1, s"$name kept ${live.size} persistent RDDs live: $live")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$name leaked persistent RDDs: $leaked")
    }
  }

  test("dedup_clusters_incremental: stored-state merge equals the full recompute") {
    // the whole point of the operator: label propagation over the
    // contracted merge graph (stored history labels + new edges only)
    // must land on EXACTLY the labels a full-corpus recompute produces
    val full = Dedup.dedupClusters(tables).collect().map(_.toSeq).toSet
    val inc = Dedup.dedupClustersIncremental(tables).collect().map(_.toSeq).toSet
    assert(inc == full,
      s"merge != recompute: only-inc=${(inc -- full).take(3)} " +
        s"only-full=${(full -- inc).take(3)}")
    spark.catalog.clearCache()
  }

  test("dedup_clusters_incremental is split-invariant, including degenerate splits") {
    // the driver gate pins only splitId = 400; the contraction argument
    // must hold at ANY split — empty history (0) and empty increment
    // (past the 500-doc corpus) included
    val full = Dedup.dedupClusters(tables).collect().map(_.toSeq).toSet
    Seq(0L, 123L, 499L, 1000L).foreach { split =>
      val inc = Dedup.dedupClustersIncremental(tables, splitId = split)
        .collect().map(_.toSeq).toSet
      assert(inc == full, s"splitId=$split: merge != recompute " +
        s"(only-inc=${(inc -- full).take(3)} only-full=${(full -- inc).take(3)})")
    }
    spark.catalog.clearCache()
  }

  test("dedup_clusters_incremental: increment edges read the stored index bucketed, never cartesian") {
    val df = Dedup.ccIncrementEdges(tables, 400)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // both stored state tables (band index + labels) serve their
    // bucketed layout — the history side never re-shuffles
    assert(p.contains("Bucketed: true"), s"stored state not read bucketed:\n$p")
  }

  test("dedup_minhash_eval covers exactly the LSH candidate pairs with sane errors") {
    // sf0.01: sf0.001 has no candidate pairs
    val t = graft.Tables(spark, "/root/testdata/sf0.01")
    val eval = Dedup.dedupMinhashEval(t).collect()
    assert(eval.nonEmpty, "degenerate test: no candidate pairs at sf0.01")
    val evalPairs = eval.map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshPairs = Dedup.dedupMinhashLsh(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(evalPairs == lshPairs, "eval rows must be the LSH candidate set")
    eval.foreach { r =>
      val (nAgree, est, tru, err) =
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(nAgree >= 1 && nAgree <= 16) // band collision implies ≥4 agreeing, ≥1 suffices here
      assert(est == nAgree / 16.0)
      assert(tru >= 0.0 && tru <= 1.0)
      assert(err == math.abs(est - tru))
    }
  }

  test("corpus_dedup_weights: cluster weights sum to 1 per near-dup cluster") {
    val rows = Dedup.corpusDedupWeights(tables).collect()
    assert(rows.length == tables.documents.count())
    rows.foreach { r =>
      val (exactN, nearN, w) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(exactN >= 1 && nearN >= 1 && w > 0.0 && w <= 1.0)
      assert(w == 1.0 / nearN)
    }
  }

  test("dedup_spans equals a naive all-offset window + interval-merge replay") {
    val k = 10
    val docs = tables.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
    val wins = docs.flatMap { case (id, toks) =>
      toks.sliding(k).zipWithIndex.collect {
        case (w, pos) if w.length == k => (id, pos, w.mkString(" "))
      }
    }
    val dupWindows = wins.groupBy(_._3)
      .filter(_._2.map(_._1).distinct.length > 1).keySet
    val expected = wins.filter(w => dupWindows(w._3))
      .groupBy(_._1).flatMap { case (id, ws) =>
        // merge [pos, pos+k) intervals, adjacency included
        val spans = scala.collection.mutable.ListBuffer.empty[(Int, Int, Long)]
        ws.map(_._2).sorted.foreach { p =>
          spans.lastOption match {
            case Some((s, e, n)) if p <= e =>
              spans.update(spans.length - 1, (s, math.max(e, p + k), n + 1))
            case _ => spans += ((p, p + k, 1L))
          }
        }
        spans.map { case (s, e, n) => (id, s.toLong, (e - s).toLong, n) }
      }.toSet
    val actual = Dedup.dedupSpans(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(expected.nonEmpty, "degenerate corpus: no cross-doc duplicated span")
    assert(actual == expected)
  }

  test("dedup_cross_source equals a naive source-pair window intersection") {
    val k = 10
    val bySource = tables.documents.select("source", "text").collect()
      .map(r => r.getString(0) ->
        r.getString(1).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
      .groupBy(_._1)
      .map { case (s, docs) =>
        s -> docs.flatMap(_._2.sliding(k).collect {
          case w if w.length == k => w.mkString(" ")
        }).toSet
      }
    val sources = bySource.keys.toList.sorted
    val expected = (for {
      a <- sources; b <- sources if a < b
      shared = (bySource(a) & bySource(b)).size if shared > 0
    } yield (a, b, shared.toLong)).toSet
    val got = Dedup.dedupCrossSource(tables).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected,
      s"matrix drift: ${(got -- expected).take(3)} vs ${(expected -- got).take(3)}")
    // the matrix must be non-trivial: some pairs share, some don't
    assert(expected.nonEmpty, "no cross-source sharing — vacuous")
    assert(expected.size < sources.size * (sources.size - 1) / 2,
      "every pair shares — the matrix discriminates nothing")
  }

  test("dedup_spans_scrub: keep-first removal replays naively, bytes and counts") {
    val k = 10
    val docs = tables.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
      .sortBy(_._1)
    val wins = docs.flatMap { case (id, toks) =>
      toks.sliding(k).zipWithIndex.collect {
        case (w, pos) if w.length == k => (id, pos, w.mkString(" "))
      }
    }
    val firstDoc = wins.groupBy(_._3).map { case (w, os) => w -> os.map(_._1).min }
    val expected = docs.map { case (id, toks) =>
      val removed = wins.filter(w => w._1 == id && firstDoc(w._3) < id)
        .flatMap(w => w._2 until w._2 + k).toSet
      val clean = toks.zipWithIndex.collect {
        case (tok, i) if !removed(i) => tok
      }
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(clean.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (id, toks.length.toLong, removed.size.toLong,
        (toks.length - removed.size).toLong, md5)
    }.toSet
    val actual = Dedup.dedupSpansScrub(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    assert(actual == expected)
    // the scrub must actually remove something on this near-dup corpus
    assert(expected.exists(_._3 > 0), "nothing removed — degenerate test")
    // corpus-wide keep-first: every duplicated window survives somewhere
    assert(expected.map(_._4).sum > 0)
  }

  test("dedup_survivorship keeps the longest member, not the CC label") {
    val labels = Dedup.dedupClusters(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chars = tables.documents
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("n_chars"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = labels.toSeq.groupBy(_._2)
      .filter(_._2.length >= 2)
      .map { case (c, ms) =>
        val docs = ms.map(_._1)
        val kept = docs.minBy(d => (-chars(d), d))
        (c, kept, docs.length.toLong, docs.map(chars).sum,
          docs.map(chars).sum - chars(kept))
      }.toSet
    val got = Dedup.dedupSurvivorship(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == expected,
      s"survivor drift: ${(got -- expected).take(3)} vs ${(expected -- got).take(3)}")
    assert(expected.nonEmpty, "no multi-member cluster — vacuous")
    // the POLICY must differ from the CC's min-id label somewhere on
    // this corpus, or the operator is just re-reporting cluster_id
    assert(got.exists { case (c, kept, _, _, _) => kept != c },
      "keep-longest never disagreed with min-id — policy untested")
    // dropping survivors costs nothing: saved < total, and saved = 0
    // only if all members tie on the kept length
    got.foreach { case (_, _, _, total, saved) =>
      assert(saved >= 0 && saved < total)
    }
  }

  test("dedup_url_canonicalize equals a driver-side synth + normalize replay") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    val ids = tables.documents.select("doc_id").collect().map(_.getLong(0))
    val rows = ids.map { id =>
      val h = md5hex(id.toString)
      def nib(i: Int) = "0123456789abcdef".indexOf(h(i - 1))
      val raw = (if (nib(1) % 2 == 0) "http://" else "https://") +
        (if (nib(2) % 2 == 0) "www." else "") +
        { val site = s"site${nib(4) % 8}"
          if (nib(3) % 2 == 0) site.toUpperCase else site } +
        ".example.org" +
        (if (nib(5) % 2 == 0) ":443" else "") +
        s"/p/${id % 37}" +
        (if (nib(6) % 2 == 0) "/" else "") +
        s"?utm_source=s${nib(7) % 4}" +
        (if (nib(8) % 4 == 0) s"&id=${id % 5}" else "")
      val canon = raw.toLowerCase
        .replaceAll("^http://", "https://")
        .replaceAll("^https://www\\.", "https://")
        .replaceAll(":(443|80)/", "/")
        .replaceAll(":(443|80)\\?", "?")
        .replaceAll("(utm_[a-z]+|ref)=[^&]*&?", "")
        .replaceAll("[?&]$", "")
        .replaceAll("/(\\?|$)", "$1")
      (id, raw, canon)
    }
    val expect = rows.groupBy(_._3).map { case (c, g) =>
      c -> ((g.length.toLong, g.map(_._2).distinct.length.toLong, g.map(_._1).min))
    }
    val got = Dedup.dedupUrlCanonicalize(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect,
      s"canon drift: ${(got.toSet -- expect.toSet).take(3)} vs ${(expect.toSet -- got.toSet).take(3)}")
    // the canonicalizer must actually MERGE distinct raw spellings of
    // one resource — a group with >1 doc and >1 raw variant
    assert(expect.values.exists(v => v._1 > 1 && v._2 > 1),
      "no group merged distinct raw URLs — canonicalization is dead code")
  }

  leavesNoTempDirs()
}
