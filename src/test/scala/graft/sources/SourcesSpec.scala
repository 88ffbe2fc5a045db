package graft.sources

import org.apache.spark.sql.functions._

class SourcesSpec extends ShardTempRoot {

  private def roundtrip(fmt: String): Unit = {
    val t = tables
    val base = tmp("graft-sources")
    val src = t.nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val path = s"$base/nation.$fmt"
    Sources.write(src, path)
    val back = Sources.read(spark, path, Some(src.schema))
    assert(back.count() == src.count(), s"$fmt roundtrip lost rows")
    assert(back.columns.sorted.sameElements(src.columns.sorted))
  }

  test("parquet roundtrip")(roundtrip("parquet"))
  test("csv roundtrip")(roundtrip("csv"))
  test("json roundtrip")(roundtrip("json"))
  test("orc roundtrip")(roundtrip("orc"))

  test("partitioned write produces directory partitions + pruning") {
    val t = tables
    val base = tmp("graft-sources-part")
    val path = s"$base/orders.parquet"
    Sources.write(t.orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
      path, partitionBy = Seq("o_orderstatus"))
    assert(new java.io.File(path).listFiles().exists(_.getName.startsWith("o_orderstatus=")))
    val pruned = Sources.read(spark, path).filter(col("o_orderstatus") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filter must reach the scan, not a post-scan Filter
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"), plan)
  }

  test("range-partitioned write yields disjoint per-file key ranges (file-level pruning)") {
    val base = tmp("graft-sources-range")
    val path = s"$base/orders_range.parquet"
    Sources.writeRangePartitioned(
      tables.orders.select(col("o_orderkey"), col("o_totalprice")),
      path, Seq("o_orderkey"), numFiles = 4)
    val files = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 2, s"expected multiple range files, got ${files.length}")
    val ranges = files.toSeq.map { f =>
      val r = spark.read.parquet(f.getPath)
        .agg(org.apache.spark.sql.functions.min(col("o_orderkey")),
          org.apache.spark.sql.functions.max(col("o_orderkey"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, prevMax), (nextMin, _)) =>
        assert(prevMax < nextMin, s"overlapping file ranges: $ranges")
      case _ => ()
    }
  }

  test("z-order layout bounds BOTH dimensions per file; a single-dim sort leaves day unpruned") {
    import org.apache.spark.sql.functions.{datediff, lit, max, min}
    val base = tmp("graft-sources-zorder")
    val zPath = s"$base/events_z.parquet"
    graft.sources.SourceOps.writeZOrderedEvents(tables, zPath, nFiles = 16)
    val uPath = s"$base/events_u.parquet"
    tables.events
      .withColumn("day", datediff(col("ts").cast("date"), lit(java.sql.Date.valueOf("2024-01-01"))))
      .repartitionByRange(16, col("user_id")).sortWithinPartitions(col("user_id"))
      .write.parquet(uPath)
    def spans(p: String, c: String): Seq[(Long, Long)] =
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        .map { f =>
          val r = spark.read.parquet(f.getPath)
            .agg(min(col(c).cast("long")), max(col(c).cast("long"))).head()
          (r.getLong(0), r.getLong(1))
        }
    val zSpans = spans(zPath, "day").map { case (a, b) => (a.toInt, b.toInt) }
    val uSpans = spans(uPath, "day").map { case (a, b) => (a.toInt, b.toInt) }
    // the single-dim (user) sort leaves every file spanning ~the whole
    // month: a date predicate can prune NOTHING from its footers
    assert(uSpans.forall { case (lo, hi) => hi - lo >= 25 },
      s"user-sorted files unexpectedly day-clustered: $uSpans")
    // the BALANCED max-scaled interleave bounds files in BOTH
    // dimensions at once (16 files ≈ 4×4 z-cells). Equal-COUNT range
    // cuts on a Morton curve can straddle a top-bit cell edge, so a
    // straggler file may span a whole dim — the pin is on the bulk:
    // ≥ 3/4 of files bounded to half the range in EACH dim. The old
    // day<<3 layout pinned tighter day spans only because day
    // dominated the top bits — a day-major sort in disguise that left
    // user spans unbounded.
    val dayOk = zSpans.count { case (lo, hi) => hi - lo <= 15 }
    assert(dayOk * 4 >= zSpans.length * 3,
      s"z-ordered day spans too wide in $dayOk/${zSpans.length} files: $zSpans")
    val zUser = spans(zPath, "user_id")
    val uMax = tables.events
      .agg(max(col("user_id").cast("long"))).head().getLong(0)
    val userOk = zUser.count { case (lo, hi) => hi - lo <= (uMax + 1) / 2 }
    assert(userOk * 4 >= zUser.length * 3,
      s"z-ordered user spans exceed half the id range ($uMax) in " +
        s"${zUser.length - userOk}/${zUser.length} files: $zUser")
    // the concrete payoff on the roundtrip query's TWO-dimension
    // predicate (user ∈ [10,29] AND day ∈ [7,13]): a candidate file
    // must intersect BOTH footer ranges — the balanced layout admits
    // at most half the files, while the user-sorted layout admits
    // every file for any day-only predicate (and the z layout still
    // prunes some files on day alone)
    val zHit2d = zSpans.zip(zUser).count { case ((dlo, dhi), (ulo, uhi)) =>
      dhi >= 7 && dlo <= 13 && uhi >= 10 && ulo <= 29 }
    val zHitDay = zSpans.count { case (lo, hi) => hi >= 7 && lo <= 13 }
    val uHit = uSpans.count { case (lo, hi) => hi >= 7 && lo <= 13 }
    assert(uHit == uSpans.length, "single-dim sort should admit every file")
    assert(zHit2d * 2 <= zSpans.length,
      s"expected ≤half the z files to survive the 2-D predicate: $zHit2d/${zSpans.length}")
    assert(zHitDay < zSpans.length,
      s"z layout pruned nothing on the day predicate: $zHitDay/${zSpans.length}")
  }

  test("schema evolution: merged read NULLs the new column for pre-evolution rows") {
    val df = SourceOps.schemaEvolution(tables)
    assert(df.columns.toSet == Set("o_orderpriority", "n_rows", "n_with_cust", "sum_price"))
    val totals = df.agg(
      org.apache.spark.sql.functions.sum(col("n_rows")),
      org.apache.spark.sql.functions.sum(col("n_with_cust"))).head()
    val nOrders = tables.orders.count()
    assert(totals.getLong(0) == nOrders)          // no rows lost across batches
    assert(totals.getLong(1) < nOrders)           // batch-1 rows carry NULL
    assert(totals.getLong(1) > 0)                 // batch-2 rows carry values
  }

  test("compaction rewrites the fragmented directory into fewer, size-targeted files") {
    val t = tables
    // drive the query once so the staged dirs exist, then re-run the
    // compact step alone to read back its file-count arithmetic
    SourceOps.qCompaction(t).collect()
    val in = SourceOps.staging("lineitem_fragmented.parquet")
    val out = SourceOps.staging("lineitem_compacted_spec.parquet")
    val (before, after) = SourceOps.compact(t.spark, in, out, targetFileBytes = 8L << 20)
    assert(before == 64, s"fragmented input should be 64 shards, got $before")
    assert(after < before, s"compaction must reduce file count: $before -> $after")
    // ceil(bytes / target) files, and never zero
    assert(after >= 1)
    // lossless: compacted copy has every row
    val n = graft.sources.Sources.read(t.spark, out).count()
    assert(n == t.lineitem.count())
  }

  test("registered SQL function cosine_similarity resolves via extensions") {
    val r = spark.sql(
      "SELECT cosine_similarity(array(1.0d, 2.0d), array(1.0d, 2.0d)) AS c").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
  }

  test("bloom file-skip: exact result, real pruning, no false negatives") {
    import org.apache.spark.sql.functions._
    import graft.sources.SourceOps
    // value correctness: the index path must equal the plain filter
    val got = SourceOps.qBloomFileSkip(tables).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val want = tables.orders
      .filter(col("o_orderkey") % 1000 === 0 &&
        col("o_orderkey").between(1000, 600000))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == want,
      s"skip drift: ${(got -- want).take(3)} vs ${(want -- got).take(3)}")
    assert(want.nonEmpty, "no probe key present — vacuous")
    // pruning is PINNED, not assumed: the index must admit strictly
    // fewer than the 16 laid-out files for the probe set...
    val keys = spark.range(1, 601).select((col("id") * 1000).as("k"))
    val cands = SourceOps.bloomCandidateFiles(tables, keys)
    assert(cands.length < 16,
      s"no pruning: ${cands.length}/16 files admitted")
    // ...and no false negative: every file that truly holds a probe
    // key must be admitted (bloom's one-sided guarantee)
    val (dataPath, _) = SourceOps.bloomFileIndex(tables)
    val trueFiles = spark.read.parquet(dataPath)
      .filter(col("o_orderkey") % 1000 === 0 &&
        col("o_orderkey").between(1000, 600000))
      .select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(trueFiles.subsetOf(cands.toSet),
      s"FALSE NEGATIVE: ${(trueFiles -- cands.toSet).take(2)}")
  }

  test("malformed-CSV audit quarantines exactly the planted rows") {
    import org.apache.spark.sql.functions._
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val docs = tables.documents.select(col("doc_id"), col("source"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expect = docs.groupBy(_._2).map { case (src, rows) =>
      val bad = rows.count(r => "0123456789abcdef".indexOf(md5hex(r._1.toString)(5)) % 8 == 0)
      (src, rows.size.toLong, bad.toLong,
        rows.filter(r => "0123456789abcdef".indexOf(md5hex(r._1.toString)(5)) % 8 != 0)
          .map(_._3).sum)
    }.toSet
    val got = graft.sources.SourceOps.qCsvMalformedAudit(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect,
      s"audit drift: ${(got -- expect).take(3)} vs ${(expect -- got).take(3)}")
    // the injection must actually plant rows, and never all of a source
    assert(expect.exists(_._3 > 0))
    assert(expect.forall { case (_, n, bad, _) => bad < n })
  }

  leavesNoTempDirs()
}
