package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GovernanceSpec extends SparkSpec {

  test("delete propagation audit balances and cascades consistently") {
    val rows = Governance.deletePropagation(tables).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("customer", "orders", "lineitem"))
    rows.values.foreach { case (before, deleted, after) =>
      assert(after == before - deleted)
      assert(deleted >= 0 && deleted <= before)
    }
    // the cascade must actually fire at this SF: tombstoned customers
    // exist, and their orders/lineitems are swept with them
    assert(rows("customer")._2 > 0)
    assert(rows("orders")._2 > 0)
    assert(rows("lineitem")._2 >= rows("orders")._2) // ≥1 line per order
  }

  test("no orphaned references survive the cascade") {
    val t = tables
    val tomb = t.customer.filter(col("c_custkey") % 13 === 0)
      .select(col("c_custkey"))
    val keptOrders = t.orders
      .join(tomb, col("o_custkey") === col("c_custkey"), "left_anti")
    // surviving orders never reference a tombstoned customer (fresh
    // renamed tombstone frame: tomb is already in keptOrders' lineage)
    val tomb2 = t.customer.filter(col("c_custkey") % 13 === 0)
      .select(col("c_custkey").as("tomb_key"))
    assert(keptOrders.join(tomb2,
      col("o_custkey") === col("tomb_key"), "left_semi").count() == 0)
  }

  test("er_blocked_pairs equals the unblocked all-pairs ground truth") {
    val t = tables
    val blocked = Governance.erBlockedPairs(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val p = t.part.select(col("p_partkey"), col("p_name"), col("p_type"),
      col("p_brand"), col("p_size"))
    val brute = p.as("a")
      .join(p.as("b"), col("a.p_partkey") < col("b.p_partkey"))
      .select(col("a.p_partkey").as("k1"), col("b.p_partkey").as("k2"),
        ((col("a.p_name") === col("b.p_name")).cast("int")
          + (col("a.p_type") === col("b.p_type")).cast("int")
          + (col("a.p_brand") === col("b.p_brand")).cast("int")
          + (abs(col("a.p_size") - col("b.p_size")) <= 2).cast("int")).as("score"))
      .filter(col("score") >= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "degenerate test: no matching pairs at this SF")
    assert(blocked == brute,
      s"missing=${(brute -- blocked).take(5)} extra=${(blocked -- brute).take(5)}")
  }

  test("er_resolve_clusters matches a driver-side union-find of the pairs") {
    val t = tables
    // independent ground truth: plain union-find over the match pairs
    val pairs = Governance.erBlockedPairs(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical name/brand for a cluster come from its min-key member
    val canon = t.part.select(col("p_partkey"), col("p_name"), col("p_brand"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .groupBy(find).map { case (_, ms) =>
        val root = ms.min
        (root, ms.length.toLong, canon(root)._1, canon(root)._2)
      }
      .filter(_._2 >= 2).toSet
    val got = Governance.erResolveClusters(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("er_resolve_clusters: a forced-distributed result outlives a later call") {
    // each call stages its own labels: a second call must not replace
    // the files the first call's frame still reads
    val first = Governance.erResolveClusters(tables, localMaxEdges = 0L)
    val n = first.count()
    assert(n > 0, "degenerate: no multi-member entity at this SF")
    val second = Governance.erResolveClusters(tables, localMaxEdges = 0L)
    assert(second.count() == n)
    assert(first.count() == n, "the first result changed after a second call")
    assert(first.collect().toSet == Governance.erResolveClusters(tables).collect().toSet)
  }

  test("er_resolve_incremental equals the full re-resolve and crosses the split") {
    val t = tables
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getInt(4), r.getInt(5), r.getDouble(6), r.getDouble(7))).toSet
    val full = asSet(Governance.erResolveClusters(t))
    val inc = asSet(Governance.erResolveIncremental(t))
    assert(inc == full,
      s"missing=${(full -- inc).take(3)} extra=${(inc -- full).take(3)}")
    // non-vacuousness: the 80/20 key split must actually be exercised —
    // at least one match pair crosses it (so contraction + re-roll ran)
    // and at least one entity lies entirely below it (pass-through ran)
    val splitKey = t.part.agg(max(col("p_partkey"))).first().getLong(0) * 4 / 5
    val pairs = Governance.erBlockedPairs(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.exists(p => p._1 <= splitKey && p._2 > splitKey),
      "no match pair crosses the split — merge path untested at this SF")
    assert(full.exists(_._1 <= splitKey), "no history-side entity")
  }

  test("er_blocking_eval replays naively; union is complete, singles trade recall") {
    case class P(k: Long, name: String, typ: String, brand: String, size: Int)
    val parts = tables.part
      .select(col("p_partkey"), col("p_name"), col("p_type"),
        col("p_brand"), col("p_size")).collect()
      .map(r => P(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getInt(4)))
    def score(a: P, b: P): Int =
      (if (a.name == b.name) 1 else 0) + (if (a.typ == b.typ) 1 else 0) +
      (if (a.brand == b.brand) 1 else 0) +
      (if (math.abs(a.size - b.size) <= 2) 1 else 0)
    val allPairs = for {
      a <- parts; b <- parts if a.k < b.k
    } yield (a, b)
    val matches = allPairs.filter { case (a, b) => score(a, b) >= 3 }
    def eval(block: (P, P) => Boolean): (Long, Long) = {
      val cands = allPairs.filter(block.tupled)
      (cands.length.toLong,
        cands.count { case (a, b) => score(a, b) >= 3 }.toLong)
    }
    val expect = Map(
      "name" -> eval((a, b) => a.name == b.name),
      "type_brand" -> eval((a, b) => a.typ == b.typ && a.brand == b.brand),
      "union" -> eval((a, b) =>
        a.name == b.name || (a.typ == b.typ && a.brand == b.brand)))
    val got = Governance.erBlockingEval(tables).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (s, (nc, nf)) =>
      val (gc, gf, gm, _) = got(s)
      assert((gc, gf) == (nc, nf), s"$s: got ($gc,$gf) want ($nc,$nf)")
      assert(gm == matches.length.toLong)
    }
    // the union scheme is COMPLETE against ground truth (it found the
    // full all-pairs match set), so its measured recall is exactly 1
    assert(got("union")._4 == 1.0)
    assert(got("union")._2 == matches.length.toLong)
  }

  test("er_fuzzy_pairs equals all-pairs levenshtein (deletion blocking is complete)") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = tables.customer
      .select(org.apache.spark.sql.functions.col("c_custkey").cast("long"),
        org.apache.spark.sql.functions.col("c_name"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expect = (for {
      (ia, na) <- names; (ib, nb) <- names
      if ia < ib && lev(na, nb) <= 1
    } yield (ia, ib, na, nb, lev(na, nb))).toSet
    val got = Governance.erFuzzyPairs(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getInt(4))).toSet
    assert(got == expect,
      s"fuzzy drift: ${(got -- expect).take(3)} vs ${(expect -- got).take(3)}")
    // non-vacuous, and the verify filter actually prunes shared-variant
    // false candidates (distance-2 names sharing a deletion exist here)
    assert(got.nonEmpty)
  }

  test("q_data_masking: token replay, format preserved, audit partitions") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def token(name: String): String =
      "Customer#" + md5hex(name).take(9)
        .map(c => ("0123456789abcdef".indexOf(c) % 10).toString).mkString
    val cust = tables.customer
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3),
        r.getString(4)))
    val nat = tables.nation.select(col("n_nationkey"), col("n_regionkey"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val reg = tables.region.select(col("r_regionkey"), col("r_name"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val expected = cust
      .map { case (_, name, nk, bal, seg) =>
        ((reg(nat(nk)), math.floor(bal / 1000).toLong * 1000, seg),
          token(name))
      }
      .groupBy(_._1).map { case (k, xs) =>
        (k._1, k._2, k._3, xs.length.toLong,
          xs.map(_._2).distinct.length.toLong, xs.length < 5)
      }.toSet
    val got = Governance.qDataMasking(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet
    assert(got == expected,
      s"audit drift: ${(got -- expected).take(3)} vs ${(expected -- got).take(3)}")
    // format preserved AND deterministic-injective on this register:
    // distinct tokens == distinct names (a collision would silently
    // merge two identities in the release)
    val tokens = cust.map(c => token(c._2))
    tokens.foreach(t => assert(t.matches("Customer#\\d{9}"), t))
    assert(tokens.distinct.length == cust.map(_._2).distinct.length,
      "token collision on the register")
    // the audit partitions the register completely
    assert(got.toSeq.map(_._4).sum == cust.length.toLong)
  }

  test("size-band windows cover every |Δsize| ≤ 2 pair (exhaustive 1..50)") {
    // the overlap-2 band scheme's cover proof, replayed exhaustively
    // over the full TPC-H size domain THROUGH THE SHIPPED COLUMN
    // EXPRESSION (Governance.sizeBands), so the query and the proof
    // can never drift: any two sizes within 2 share a (family, window)
    // key; any two sizes further than 3 apart never do (the band join
    // can't silently degrade toward all-pairs)
    val sess = tables.part.sparkSession
    import sess.implicits._
    val keys = (1 to 50).toDF("size")
      .select(col("size"), explode(Governance.sizeBands(col("size"))).as("b"))
      .select(col("size"), col("b.fam"), col("b.w"))
      .collect()
      .map(r => r.getInt(0) -> (r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (x <- 1 to 50; y <- 1 to 50) {
      val shared = keys(x).intersect(keys(y)).nonEmpty
      if (math.abs(x - y) <= 2)
        assert(shared, s"band hole: $x vs $y share no window")
      if (math.abs(x - y) > 3)
        assert(!shared, s"band too coarse: $x vs $y share ${keys(x).intersect(keys(y))}")
    }
    // each size sits in exactly its two family windows (fan-out bound)
    keys.values.foreach(ks => assert(ks.size == 2, ks))
  }

  test("er_review_queue plan: every block is an equi-join (no cartesian)") {
    val p = Governance.erReviewQueue(tables).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("er_review_queue equals the all-pairs exactly-2 band (blocks are complete)") {
    val parts = tables.part
      .select("p_partkey", "p_name", "p_type", "p_brand", "p_size")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getInt(4)))
    val expected = (for {
      a <- parts; b <- parts if a._1 < b._1
      na = if (a._2 == b._2) 1 else 0
      ty = if (a._3 == b._3) 1 else 0
      br = if (a._4 == b._4) 1 else 0
      sz = if (math.abs(a._5 - b._5) <= 2) 1 else 0
      if na + ty + br + sz == 2
    } yield (a._1, b._1, na, ty, br, sz)).toSet
    val gotRows = Governance.erReviewQueue(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5)))
    val got = gotRows.toSet
    // the four blocks partition the band by agreement pattern and the
    // famOnce residual de-duplicates the window fan-out, so the query
    // ships NO distinct — each pair must therefore emit EXACTLY once
    assert(gotRows.length == got.size,
      s"duplicate emission: ${gotRows.length} rows, ${got.size} distinct")
    // equality against the ALL-PAIRS replay proves the three
    // single-field blocks surface every exactly-2 pair (pigeonhole)
    assert(got == expected,
      s"queue drift: ${(got -- expected).take(3)} vs ${(expected -- got).take(3)}")
    assert(expected.nonEmpty, "empty review band — vacuous")
    // the band is disjoint from the auto-match set
    val matches = Governance.erBlockedPairs(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(p => (p._1, p._2)).intersect(matches).isEmpty)
  }
  test("corpus_dp_release: clamped, deterministic, noise inside the geometric tail") {
    val t = tables
    val rel = Governance.corpusDpRelease(t).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val truth = t.documents.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rel.keySet == truth.keySet) // post-processing never drops a group
    assert(rel.values.forall(_ >= 0L)) // clamp holds
    // each draw is g1 - g2 with gi ~ Geometric(1/2) capped at 24
    val noise = rel.map { case (k, v) => v - truth(k) }
    assert(noise.forall(n => math.abs(n) <= 48))
    // Σ|noise| concentrates: E|g1-g2| = 4/3, so 3× mean is a lax bound
    // that still catches a broken bit-trick (which skews magnitudes)
    assert(noise.map(math.abs).sum <= 4L * rel.size,
      s"total |noise| ${noise.map(math.abs).sum} over ${rel.size} groups")
    // replay-deterministic (seeded mechanism): second run identical
    val again = Governance.corpusDpRelease(t).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(again == rel)
  }

}
