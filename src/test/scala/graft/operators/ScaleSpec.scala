package graft.operators

import org.apache.spark.sql.functions._

import graft.sources.ShardTempRoot

class ScaleSpec extends ShardTempRoot {

  test("q_interval_overlap: grid join equals the naive all-pairs replay, any grid width") {
    val t = tables
    // driver replay: per-order fulfillment spans, then per-customer
    // all-pairs overlap — the quadratic shape the grid join avoids
    val spans = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1992-01-01")).cast("long").as("s"))
      .agg(max(datediff(to_date(col("l_shipdate")), lit("1992-01-01"))
        .cast("long")).as("ls"))
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2),
        math.max(r.getLong(2), r.getLong(3))))
    val expect = spans.groupBy(_._1).map { case (cust, os) =>
      val n = (for {
        a <- os; b <- os
        if a._2 < b._2 && a._3 <= b._4 && b._3 <= a._4
      } yield 1).size.toLong
      cust -> n
    }.filter(_._2 > 0)
    def got(w: Int) = Scale.qIntervalOverlap(t, bucketDays = w).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val g = got(640)
    assert(g == expect,
      s"overlap mismatch: ${(g.toSet -- expect.toSet).take(3)} vs ${(expect.toSet -- g.toSet).take(3)}")
    // exactness must be independent of the grid width: the later-start
    // cell dedup makes every pair count exactly once at ANY w
    assert(got(97) == expect && got(5000) == expect)
    assert(expect.nonEmpty && expect.values.sum > 0, "no overlapping spans — vacuous")
  }

  test("q_skyline equals the naive domination scan and is a complete frontier") {
    val t = tables
    val pts = t.part.select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    def dominates(b: (Long, Double, Int), a: (Long, Double, Int)): Boolean =
      b._2 <= a._2 && b._3 >= a._3 && (b._2 < a._2 || b._3 > a._3)
    val expect = pts.filter(a => !pts.exists(b => dominates(b, a)))
      .map(p => (p._1, p._2, p._3.toLong)).toSet
    val got = Scale.qSkyline(t).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == expect,
      s"skyline drift: ${(got -- expect).take(3)} vs ${(expect -- got).take(3)}")
    assert(expect.nonEmpty && expect.size < pts.length, "degenerate frontier")
    // frontier completeness: every excluded point is dominated by some
    // skyline member (the skyline really is the full Pareto set)
    val sky = expect.map(p => (p._1, p._2, p._3.toInt))
    pts.filterNot(p => expect.contains((p._1, p._2, p._3.toLong))).foreach { a =>
      assert(sky.exists(b => dominates(b, a)), s"$a not dominated by any skyline point")
    }
  }

  test("salted aggregation equals plain aggregation") {
    val t = tables
    val salted = Scale.qSaltedAgg(t)
    val plain = t.events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
  }

  test("q_late_arriving_dim partitions orders exactly and flags real inferred members") {
    val t = tables
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val lateKeys = t.customer.select("c_custkey").collect()
      .map(_.getLong(0)).filter(k => md5hex(k.toString).startsWith("1")).toSet
    val orders = t.orders.select("o_custkey").collect().map(_.getLong(0))
    val expInferred = orders.count(lateKeys)
    val got = Relational.qLateArrivingDim(t).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("inferred")._2 == expInferred.toLong)
    assert(got("present")._2 + got("inferred")._2 == orders.length.toLong,
      "status rollup must partition the fact table exactly")
    assert(got("inferred")._1 > 0, "no late members at spec SF — vacuous")
    assert(got("inferred")._1 == orders.filter(lateKeys).distinct.length.toLong)
  }

  test("q_histogram_equidepth equals a naive sorted order-statistic replay") {
    val t = tables
    val cents = t.lineitem.select(col("l_extendedprice")).collect()
      .map(r => math.floor(r.getDouble(0) * 100 + 0.5).toLong).sorted
    val n = cents.length.toLong
    val expect = (1 to 8).map { j =>
      val r = (j * n) / 8
      val v = cents(r.toInt - 1) // value at rank r (1-based)
      val cumLe = cents.count(_ <= v).toLong
      (j, v / 100.0, r, cumLe)
    }.toSet
    val got = Relational.qHistogramEquidepth(t).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect,
      s"histogram drift: ${(got -- expect).take(3)} vs ${(expect -- got).take(3)}")
    // boundaries are monotone and the last one is the column max
    val bounds = got.toSeq.sortBy(_._1).map(_._2)
    assert(bounds.zip(bounds.tail).forall { case (a, b) => a <= b })
    assert(bounds.last == cents.max / 100.0)
    // equi-depth really discriminates: >1 distinct boundary
    assert(bounds.distinct.size > 1, "all boundaries equal — degenerate column")
  }

  test("approx sketches land near the exact answers") {
    val t = tables
    val exact = t.events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("users"),
        percentile(col("value"), lit(0.5)).as("median"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    Scale.qApproxStats(t).collect().foreach { r =>
      val (users, median) = exact(r.getString(0))
      val approxUsers = r.getLong(1)
      val approxMedian = r.getDouble(3)
      assert(math.abs(approxUsers - users).toDouble / users < 0.1,
        s"HLL off by >10%: $approxUsers vs $users")
      assert(math.abs(approxMedian - median) / math.max(math.abs(median), 1e-9) < 0.2,
        s"approx median far off: $approxMedian vs $median")
    }
  }

  test("q_table_stats_approx: HLL NDV within 15% of the exact profile, rest identical") {
    val t = tables
    val exact = Relational.qTableStats(t).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    val approx = Relational.qTableStatsApprox(t).collect()
    assert(approx.length == exact.size, "one profile row per column")
    approx.foreach { r =>
      val (ndv, nNull, mn, mx) = exact(r.getString(0))
      val est = r.getLong(2)
      assert(math.abs(est - ndv).toDouble / math.max(ndv, 1L) < 0.15,
        s"${r.getString(0)}: HLL NDV off by >15%: $est vs $ndv")
      // everything that is not the sketch must stay EXACT
      assert(r.getLong(3) == nNull && r.getString(4) == mn && r.getString(5) == mx,
        s"${r.getString(0)}: non-sketch fields drifted")
    }
  }

  test("events_value_percentiles_approx lands inside exact quantile brackets per type") {
    // the right sketch eval is a RANK bound, not a value tolerance:
    // percentile_approx returns an OBSERVED value, so on a sparse
    // jumpy tail (a few hundred rows per type at this SF) the nearest
    // observation can sit far from the exact INTERPOLATED quantile in
    // value terms while being rank-perfect. Pin each estimate inside
    // the exact bracket [q−ε, q+ε] instead.
    val t = tables
    val brackets = t.events.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.45)).as("lo50"),
        percentile(col("value"), lit(0.55)).as("hi50"),
        percentile(col("value"), lit(0.85)).as("lo90"),
        percentile(col("value"), lit(0.95)).as("hi90"),
        percentile(col("value"), lit(0.97)).as("lo99"),
        max(col("value")).as("hi99"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))
      .toMap
    val approx = EventAnalytics.eventsValuePercentilesApprox(t).collect()
    assert(approx.length == brackets.size, "one row per event type")
    approx.foreach { r =>
      val (lo50, hi50, lo90, hi90, lo99, hi99) = brackets(r.getString(0))
      Seq((r.getDouble(2), lo50, hi50, "p50"), (r.getDouble(3), lo90, hi90, "p90"),
        (r.getDouble(4), lo99, hi99, "p99")).foreach { case (est, lo, hi, lbl) =>
        assert(est >= lo && est <= hi,
          s"${r.getString(0)} $lbl: $est outside exact bracket [$lo, $hi]")
      }
    }
  }

  test("q_scd2_history versions tile each user's timeline exactly") {
    // SCD2 structural invariants, checked on every user of the spec
    // corpus: versions chain (valid_to == next valid_from, exclusive),
    // exactly one open version per user, consecutive versions always
    // CHANGE status (a run-length compression that emits two adjacent
    // identical statuses has failed), and observed-day counts add up
    // to the user's distinct active days
    val rows = Scale.qScd2History(tables).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)), r.getBoolean(4),
        r.getLong(5)))
    assert(rows.nonEmpty)
    val activeDays = tables.events
      .select(col("user_id"), col("ts").cast("date").as("d")).distinct()
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (u, vs) =>
      val sorted = vs.toList.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Seq((_, s1, _, to1, cur1, _), (_, s2, from2, _, _, _)) =>
          assert(to1.contains(from2), s"user $u: gap/overlap in chain")
          assert(!cur1, s"user $u: non-terminal version marked current")
          assert(s1 != s2, s"user $u: uncompressed adjacent runs of $s1")
        case _ => ()
      }
      assert(sorted.last._4.isEmpty && sorted.last._5,
        s"user $u: last version must be open and current")
      assert(sorted.count(_._5) == 1, s"user $u: multiple current versions")
      assert(sorted.map(_._6).sum == activeDays(u),
        s"user $u: observed days don't partition active days")
    }
  }

  test("q_scd2_merge equals the full rebuild and exercises both boundary paths") {
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)), r.getBoolean(4),
        r.getLong(5))).toSet
    val merged = asSet(Scale.qScd2Merge(tables))
    val rebuilt = asSet(Scale.qScd2History(tables))
    assert(merged == rebuilt,
      s"missing=${(rebuilt -- merged).take(5)} extra=${(merged -- rebuilt).take(5)}")
    // non-vacuousness: at this SF the increment must actually exercise
    // the merge — users active on both sides of the day-25 boundary
    // whose open version EXTENDED (open version starts before the
    // boundary) and versions APPENDED (start at/after it)
    val incUsers = tables.events
      .filter(datediff(col("ts").cast("date"),
        lit(java.sql.Date.valueOf("2024-01-01"))) >= 25)
      .select(col("user_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(incUsers.nonEmpty, "degenerate corpus: empty increment")
    // a version STARTING before the boundary and still valid after it
    // (valid_to > 25 or open) of an increment-active user can only
    // come from the extend path
    assert(merged.exists(v => incUsers(v._1) && v._3 < 25 && v._4.forall(_ > 25)),
      "no open version extended across the boundary")
    assert(merged.exists(v => incUsers(v._1) && v._3 >= 25),
      "no version appended from the increment")
  }

  test("q_join_view_maintenance: IVM identity holds; all three terms fire") {
    // maintained view == full recompute (the identity itself)
    val maintained = Scale.qJoinViewMaintenance(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val full = tables.orders
      .join(tables.lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(maintained == full,
      s"IVM drift: ${(maintained -- full).take(3)} vs ${(full -- maintained).take(3)}")
    // the delta design must exercise all three identity terms: new
    // orders with old lines, old orders with late lines, and
    // new-with-new — otherwise the test degrades to a plain rollup
    val dO = col("o_orderkey") % 7 === 0
    val dL = (col("l_orderkey") + col("l_linenumber")) % 5 === 0
    val j = tables.orders.join(tables.lineitem,
      col("o_orderkey") === col("l_orderkey"))
    assert(j.filter(dO && !dL).count() > 0, "ΔO ⋈ L_old term empty")
    assert(j.filter(!dO && dL).count() > 0, "O_old ⋈ ΔL term empty")
    assert(j.filter(dO && dL).count() > 0, "ΔO ⋈ ΔL term empty")
  }

  test("q_dim_time_travel classifies the version diff exactly (driver replay)") {
    // independent replay: pull both snapshots directly (the stored
    // pre-CDC dimension and the full merge), classify each
    // (user, valid_from) row driver-side with the same closed-wins
    // order, and match the audit counts
    def dimMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(2)) ->
        (r.getBoolean(4), r.getLong(5))).toMap
    val v0 = dimMap(spark.table(Scale.scd2State(tables, 25)))
    val head = dimMap(Scale.qScd2Merge(tables))
    // the invariant the full-outer diff leans on: no stored version
    // row ever vanishes across a CDC merge
    assert(v0.keySet.subsetOf(head.keySet),
      s"vanished rows: ${(v0.keySet -- head.keySet).take(3)}")
    val expected = head.toSeq.map { case (k, (cur, n)) =>
      v0.get(k) match {
        case None => "added"
        case Some((true, _)) if !cur => "closed"
        case Some((true, n0)) if cur && n0 != n => "extended"
        case _ => "unchanged"
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expectedUsers = head.toSeq.map { case (k @ (u, _), (cur, n)) =>
      val c = v0.get(k) match {
        case None => "added"
        case Some((true, _)) if !cur => "closed"
        case Some((true, n0)) if cur && n0 != n => "extended"
        case _ => "unchanged"
      }
      (c, u)
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    val got = Scale.qDimTimeTravel(tables).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.view.mapValues(_._1).toMap == expected,
      s"row counts drift: $got vs $expected")
    assert(got.view.mapValues(_._2).toMap == expectedUsers,
      s"user counts drift: $got vs $expectedUsers")
    // the audit must partition the head dimension completely
    assert(got.values.map(_._1).sum == head.size.toLong)
    // non-vacuous: the CDC day must have actually changed something
    assert(got.contains("added") || got.contains("closed") ||
      got.contains("extended"), "degenerate diff — nothing changed")
  }

  test("q_scd2_merge is split-invariant: merge == rebuild at every boundary") {
    // the oracle pins only the default split (day 25); the merge logic
    // must hold at ANY boundary, including the degenerate ones — empty
    // history (0), early/late interior days, and empty increment (31)
    val rebuilt = Scale.qScd2History(tables).collect()
      .map(_.toSeq).toSet
    Seq(0, 1, 15, 29, 31).foreach { split =>
      val merged = Scale.qScd2Merge(tables, splitDay = split).collect()
        .map(_.toSeq).toSet
      assert(merged == rebuilt, s"splitDay=$split: merge != rebuild " +
        s"(missing=${(rebuilt -- merged).take(3)} extra=${(merged -- rebuilt).take(3)})")
    }
  }

  test("q_point_in_time_join matches every fact to exactly one version") {
    // the leakage-free property point-in-time joins exist for: the
    // per-status event counts must PARTITION the fact table — no
    // event dropped (a gap in the interval chain) and none duplicated
    // (overlapping versions)
    val out = Scale.qPointInTimeJoin(tables).collect()
    val joined = out.map(_.getLong(1)).sum
    val total = tables.events.count()
    assert(joined == total,
      s"joined $joined events vs $total facts — intervals leak or overlap")
    // exact-cents conservation: the per-status sums add to the corpus total
    val cents = tables.events
      .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long")))
      .collect()(0).getLong(0)
    assert(out.map(_.getLong(2)).sum == cents)
  }

  test("bucketed tables join without a shuffle") {
    val t = tables
    val wh = tmp("warehouse")
    val n = 8
    // bucket both sides on the join key → co-located join (via the
    // production writer API)
    graft.sources.Sources.writeBucketed(
      t.orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "orders_b", Seq("o_orderkey"), n, Seq("o_orderkey"), Some(s"$wh/orders_b"))
    graft.sources.Sources.writeBucketed(
      t.lineitem.select(col("l_orderkey"), col("l_extendedprice")),
      "lineitem_b", Seq("l_orderkey"), n, Seq("l_orderkey"), Some(s"$wh/lineitem_b"))
    // force a shuffled join (tiny test tables would auto-broadcast and
    // hide the bucket co-location being demonstrated)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey")).agg(sum(col("l_extendedprice")).as("s"))
      joined.collect()
      // AQE's toString appends the pre-adaptive "Initial Plan"; audit
      // only the final executed section
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // the join itself must not introduce a shuffle: both sides are
      // pre-partitioned by bucket (only the final groupBy may exchange)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      val exchanges = plan.linesIterator.count(l => l.contains("Exchange hashpartitioning"))
      assert(exchanges <= 1, s"expected no join-side exchanges (≤1 for final agg), got $exchanges:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("runtime bloom filter from the selective dim side prunes the fact scan") {
    // the non-partition-column analog of q_dpp's dynamic pruning: a
    // selective filter on one join side injects a bloom filter that
    // discards fact rows BEFORE the join's shuffle — at 100 TB this
    // cuts the dominant exchange, not just the probe
    val s = spark
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "8MB")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // shuffle join: worth filtering
      val t = tables
      val dim = t.orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val fact = t.lineitem.select(col("l_orderkey"), col("l_quantity"))
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .agg(sum(col("l_quantity")).as("s"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.toLowerCase.contains("bloom"),
        s"no runtime bloom filter on the fact side:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  test("AQE splits a skewed join partition at runtime (config-side complement to salting)") {
    // q_salted_join is the EXPLICIT skew mitigation; this pins the
    // runtime one — AQE detecting an oversized post-shuffle partition
    // and fanning the sort-merge join out over its splits. Both must
    // hold at 100 TB: salting for known-hot keys, AQE for the long tail.
    val s = spark
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // keep the SMJ
      // 95% of the big side lands on key 7 → one hot shuffle partition
      val big = s.range(200000)
        .select(when(col("id") % 20 === 0, pmod(col("id"), lit(100)))
          .otherwise(lit(7L)).as("k"), col("id").as("v"))
      val small = s.range(100).select(col("id").as("k"), (col("id") * 10).as("w"))
      // a global (two-stage) agg: its partial stage imposes NO
      // distribution requirement on the join output, so AQE is free to
      // split the hot partition (a groupBy(k) downstream would demand
      // hashpartitioning(k) and veto the split as an extra shuffle)
      val joined = big.join(small, "k").agg(sum(col("v") + col("w")).as("s"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("isSkewJoin=true") || plan.contains("skew=true"),
        s"AQE did not mark the join skewed:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }
  test("q_bom_explode equals a driver-side parent-chain climb") {
    val t = tables
    val got = Relational.qBomExplode(t).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = t.part.select(col("p_partkey")).collect().map(_.getLong(0))
      .map { k =>
        var node = k; var d = 0L
        while (node >= 7) { node /= 7; d += 1 }
        k -> ((node, d))
      }.toMap
    assert(got == want)
    assert(got.values.forall(_._1 < 7), "a non-root survived the closure")
    // non-vacuous: real depth that needs more than one doubling round
    assert(got.values.map(_._2).max >= 2L)
  }

  test("q_bom_explode: 2 doubling rounds already cover depth 4") {
    // pointer doubling resolves depth <= 2^rounds: the sf's max depth
    // fits in 2 rounds, so rounds=2 must give the identical closure
    val full = Relational.qBomExplode(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val two = Relational.qBomExplode(tables, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == two)
  }

  test("q_multi_distinct matches independently recomputed measures") {
    val t = tables
    val got = Relational.qMultiDistinct(t).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    got.foreach { case (flag, (ndp, nds, ndo, n)) =>
      val slice = t.lineitem.filter(col("l_returnflag") === flag)
      assert(ndp == slice.select(col("l_partkey")).distinct().count())
      assert(nds == slice.select(col("l_suppkey")).distinct().count())
      assert(ndo == slice.select(col("l_orderkey")).distinct().count())
      assert(n == slice.count())
    }
    assert(got.nonEmpty)
  }

  test("q_merge_cdf: v0 + feed reconstructs the merged head (apply closure)") {
    val t = tables
    type DimRow = (Long, Int, String, Option[Int], Boolean, Long)
    def dimRow(r: org.apache.spark.sql.Row, iU: Int, iF: Int, iS: Int,
        iT: Int, iC: Int, iN: Int): DimRow =
      (r.getLong(iU), r.getInt(iF), r.getString(iS),
        if (r.isNullAt(iT)) None else Some(r.getInt(iT)),
        r.getBoolean(iC), r.getLong(iN))
    val feed = Scale.qMergeCdf(t).collect()
      .map(r => (dimRow(r, 0, 1, 2, 3, 4, 5), r.getString(6)))
    assert(Set("insert", "update_preimage", "update_postimage")
      .subsetOf(feed.map(_._2).toSet), s"missing change types at this SF")
    val v0 = t.spark.table(Scale.scd2State(t, 25)).collect()
      .map(r => dimRow(r,
        r.fieldIndex("user_id"), r.fieldIndex("valid_from"),
        r.fieldIndex("status"), r.fieldIndex("valid_to"),
        r.fieldIndex("is_current"), r.fieldIndex("n_days_observed"))).toSet
    val head = Scale.qScd2Merge(t).collect()
      .map(r => dimRow(r,
        r.fieldIndex("user_id"), r.fieldIndex("valid_from"),
        r.fieldIndex("status"), r.fieldIndex("valid_to"),
        r.fieldIndex("is_current"), r.fieldIndex("n_days_observed"))).toSet
    val pre = feed.collect { case (row, "update_preimage") => row }.toSet
    val post = feed.collect { case (row, "update_postimage") => row }.toSet
    val ins = feed.collect { case (row, "insert") => row }.toSet
    // the subscriber's apply rule: drop preimages, add postimages+inserts
    val reconstructed = (v0 -- pre) ++ post ++ ins
    assert(reconstructed == head,
      s"missing=${(head -- reconstructed).take(3)} extra=${(reconstructed -- head).take(3)}")
    // preimages must come FROM v0 and never survive to the head verbatim
    assert(pre.subsetOf(v0), "preimage not a v0 row")
    assert(pre.intersect(head).isEmpty, "stale preimage still in head")
    // untouched rows stay out of the feed: feed is change-sized
    assert(feed.length < v0.size + head.size)
  }

  leavesNoTempDirs()
}
