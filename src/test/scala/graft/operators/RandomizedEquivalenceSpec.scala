package graft.operators

import graft.sources.ShardTempRoot

/** Randomized equivalence: the engine's custom machinery run over
  * seeded random inputs and compared against straightforward in-memory
  * reference implementations. Deterministic (fixed seeds), but far
  * broader input coverage than the hand-picked spec cases — the
  * property-test complement to the DuckDB oracles, aimed at the code
  * paths DuckDB can't replay (the native as-of exec's merge loop, the
  * prefix-sum recursion's level math, the greedy regex tokenizer).
  */
class RandomizedEquivalenceSpec extends ShardTempRoot {

  test("exactMean/exactStd are bit-identical across partitionings at half boundaries") {
    import org.apache.spark.sql.functions.col
    import graft.functions.ExactAgg
    val sess = spark
    import sess.implicits._
    // driver-side replication of the exact-integer formulas — the
    // same single-IEEE-op pipeline the column expressions run
    def refMean(vs: Seq[Double]): Double = {
      val qs = vs.map(v => math.floor(v * 1e4 + 0.5).toLong)
      val s = qs.sum; val n = qs.size.toLong
      math.floor((2.0 * s + n) / (2.0 * n)) / 1e4
    }
    def refStd(vs: Seq[Double]): Double = {
      val qs = vs.map(v => math.floor(v * 1e4 + 0.5).toLong)
      val s = qs.sum; val s2 = qs.map(q => q * q).sum; val n = qs.size.toLong
      math.floor(math.sqrt((n * s2 - s * s).toDouble / (n * n)) + 0.5) / 1e4
    }
    val rnd = new scala.util.Random(99)
    // half-unit values (k/2·10⁴): group means land EXACTLY on .xxxx5
    // half boundaries — the adversarial case where round(avg(double))
    // flipped on summation order (embed_kmeans, round 7)
    val vs = (1 to 1000).map(_ => rnd.nextInt(20001).toDouble / 2e4)
    val em = refMean(vs); val es = refStd(vs)
    for (parts <- Seq(1, 7, 32)) {
      val row = vs.toDF("v").repartition(parts)
        .agg(ExactAgg.exactMean(col("v"), 4).as("m"),
          ExactAgg.exactStd(col("v"), 4).as("s")).collect()(0)
      def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
      assert(bits(row.getDouble(0)) == bits(em),
        s"mean drifted at parts=$parts: ${row.getDouble(0)} vs $em")
      assert(bits(row.getDouble(1)) == bits(es),
        s"std drifted at parts=$parts: ${row.getDouble(1)} vs $es")
    }
  }

  test("zValue Morton interleave matches the reference bit math on random ints") {
    import org.apache.spark.sql.functions.col
    val sess = spark
    import sess.implicits._
    def refZ(a: Int, b: Int, bits: Int): Long =
      (0 until bits).map { i =>
        (((a >> i) & 1).toLong << (2 * i)) | (((b >> i) & 1).toLong << (2 * i + 1))
      }.sum
    val rnd = new scala.util.Random(20260813)
    val rows = Seq.fill(500)((rnd.nextInt(1 << 16), rnd.nextInt(1 << 16)))
    val got = rows.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.sources.SourceOps.zValue(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    rows.foreach { case (a, b) =>
      assert(got((a, b)) == refZ(a, b, 16), s"zValue($a, $b)")
    }
    // monotone locality sanity: identical high halves ⇒ z prefixes agree
    assert(refZ(0xAB00, 0xCD00, 16) >> 16 == refZ(0xABFF, 0xCDFF, 16) >> 16)
  }

  test("native as-of join matches the in-memory reference on random data") {
    val rnd = new scala.util.Random(42)
    val sess = spark
    import sess.implicits._
    val left = (1 to 400).map(i =>
      (rnd.nextInt(20).toLong, rnd.nextInt(500).toLong, i.toLong))
    // right deduped on (key, time): tie order inside the merge is an
    // implementation detail, and real feeds (ns event streams) are
    // unique — keep the generator honest about that contract
    val right = (1 to 600).map(i =>
        (rnd.nextInt(20).toLong, rnd.nextInt(500).toLong, i.toLong))
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val out = graft.plans.AsOfJoinOps.asofJoin(
        left.toDF("k", "t", "lid"), right.toDF("rk", "rt", "rid"),
        "k", "t", "rk", "rt")
      .select("k", "t", "lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val byKey = right.groupBy(_._1)
    val expected = left.map { case (k, t, lid) =>
      val cand = byKey.getOrElse(k, Seq.empty).filter(_._2 <= t)
      val rid = if (cand.isEmpty) -1L else cand.maxBy(_._2)._3
      (k, t, lid, rid)
    }.toSet
    assert(out == expected)
  }

  test("recursive exclusive prefix sum matches scanLeft at every window bound") {
    val rnd = new scala.util.Random(7)
    val sess = spark
    import sess.implicits._
    val tots = (0L until 300L).map(k => (k, rnd.nextInt(50).toLong + 1L))
    val df = rnd.shuffle(tots).toDF("key", "tot")
    // 1<<20 = single window level; 8 and 4 force 2- and 3-deep recursion
    for (bound <- Seq(1L << 20, 8L, 4L)) {
      val got = TextAnalysis.exclusivePrefixSum(df, 300, fanout = 4,
          maxWindowRows = bound)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var acc = 0L
      tots.foreach { case (k, n) =>
        assert(got(k) == acc, s"key=$k bound=$bound: ${got(k)} != $acc")
        acc += n
      }
    }
  }

  test("banded linear attribution matches the naive range join on random events") {
    val rnd = new scala.util.Random(101)
    val sess = spark
    import sess.implicits._
    val types = Seq("view", "click", "purchase")
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val events = (1 to 400).map { i =>
      (i.toLong,
        new java.sql.Timestamp(base + rnd.nextInt(20 * 86400) * 1000L),
        rnd.nextInt(30).toLong,
        types(rnd.nextInt(3)),
        (rnd.nextInt(20000) + 1) / 100.0,
        """{"k": 1}""")
    }
    val dir = tmp("graft_attr_")
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")

    val got = EventAnalytics.eventsAttributionLinear(graft.Tables(spark, dir))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

    // naive reference: full range scan per purchase, equal split
    val winMs = 7L * 86400 * 1000
    val purchases = events.filter(_._4 == "purchase")
    val touches = events.filter(e => e._4 == "view" || e._4 == "click")
    var credits = Map.empty[String, (Long, Double)].withDefaultValue((0L, 0.0))
    purchases.foreach { p =>
      val m = touches.filter(tc => tc._3 == p._3 &&
        tc._2.getTime < p._2.getTime && tc._2.getTime >= p._2.getTime - winMs)
      if (m.isEmpty) {
        val (n, v) = credits("none"); credits += "none" -> (n + 1, v + p._5)
      } else m.foreach { tc =>
        val (n, v) = credits(tc._4)
        credits += tc._4 -> (n + 1, v + p._5 / m.size)
      }
    }
    assert(got.keySet == credits.keySet, s"${got.keySet} vs ${credits.keySet}")
    credits.foreach { case (tt, (n, v)) =>
      assert(got(tt)._1 == n, s"$tt credits: ${got(tt)._1} != $n")
      assert(math.abs(got(tt)._2 - v) < 0.01, s"$tt value: ${got(tt)._2} != $v")
    }
  }

  test("markov stationary vector is a near-fixpoint simplex point") {
    val pi = EventAnalytics.eventsMarkovStationary(tables).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pi.nonEmpty)
    pi.values.foreach(p => assert(p >= 0.0 && p <= 1.0))
    // mass ≈ 1 (per-iteration 4-dp matrix rounding decays it slightly)
    val mass = pi.values.sum
    assert(math.abs(mass - 1.0) < 0.01, s"mass=$mass")
    // one more application of P moves the vector by < 1e-2 per state
    val p = EventAnalytics.eventsTransitions(tables).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    val next = p.collect { case (i, j, pij) if pi.contains(i) => (j, pi(i) * pij) }
      .groupBy(_._1).map { case (j, xs) => j -> xs.map(_._2).sum }
    next.foreach { case (j, v) =>
      assert(math.abs(v - pi.getOrElse(j, 0.0)) < 0.01,
        s"state $j moved ${math.abs(v - pi.getOrElse(j, 0.0))}")
    }
  }

  test("greedy regex subword tokenizer matches the iterative greedy reference") {
    val rnd = new scala.util.Random(13)
    val sess = spark
    import sess.implicits._
    val vocabLongestFirst = TextAnalysis.bpeVocab.sortBy(u => (-u.length, u))
    def greedyCount(s: String): Long = {
      var i = 0; var n = 0L
      while (i < s.length) {
        vocabLongestFirst.find(v => s.startsWith(v, i)) match {
          case Some(v) => n += 1; i += v.length
          case None =>
            if (s(i).isLetter || s(i).isDigit) n += 1
            i += 1
        }
      }
      n
    }
    def genString(): String = (1 to 40).map { _ =>
      rnd.nextInt(3) match {
        case 0 => TextAnalysis.bpeVocab(rnd.nextInt(TextAnalysis.bpeVocab.size))
        case 1 => ('a' + rnd.nextInt(26)).toChar.toString
        case 2 => " "
      }
    }.mkString
    val strs = (1 to 100).map(_ => genString())
    val got = strs.toDF("text")
      .select(TextAnalysis.bpeTokenCount.as("n")).collect().map(_.getLong(0))
    got.zip(strs).foreach { case (n, s) =>
      assert(n == greedyCount(s), s"mismatch on: '$s'")
    }
  }

  leavesNoTempDirs()
}
