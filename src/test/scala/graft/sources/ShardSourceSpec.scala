package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.sources.shard.ShardFormat

/** B20 — the gshard DSv2 connector: byte-level roundtrip, zone-map
  * file skipping (soundness AND effectiveness), column pruning, and
  * the empty-table edge. */
class ShardSourceSpec extends ShardTempRoot {

  private lazy val dir: String = {
    val d = tmp("graft_gshard_spec_")
    ShardFormat.write(eventsProjected, d, "user_id", 8)
    d
  }

  private def eventsProjected: DataFrame =
    tables.events.select(col("user_id"), col("event_type"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))

  private def viaShard: DataFrame = spark.read.format("gshard").load(dir)

  private def rowsOf(df: DataFrame): Set[(Long, String, Long)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("full roundtrip: every row and byte survives write -> DSv2 read") {
    assert(rowsOf(viaShard.select(col("user_id"), col("event_type"),
      col("cents"))) == rowsOf(eventsProjected))
  }

  test("manifest zone maps cover exactly the file contents") {
    val m = ShardFormat.readManifest(dir)
    assert(m.entries.nonEmpty)
    m.entries.foreach { e =>
      assert(e.zMin("user_id") <= e.zMax("user_id"))
      assert(e.rows > 0)
    }
    // zone maps PARTITION the range space (range-clustered writer):
    // consecutive files never overlap on the cluster column
    val sorted = m.entries.sortBy(_.zMin("user_id"))
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.zMax("user_id") < b.zMin("user_id"))
      case _ => ()
    }
    val total = m.entries.map(_.rows).sum
    assert(total == eventsProjected.count())
  }

  test("zone-map skipping plans only the surviving shard files") {
    val m = ShardFormat.readManifest(dir)
    val thr = m.entries.map(_.zMax("user_id")).max / 4
    val filtered = viaShard.filter(col("user_id") < thr)
    val expected = m.entries.count(_.zMin("user_id") < thr)
    assert(expected < m.entries.size,
      "degenerate test: the threshold prunes nothing at this SF")
    assert(filtered.rdd.getNumPartitions == expected,
      s"planned ${filtered.rdd.getNumPartitions} partitions, " +
        s"zone maps admit $expected of ${m.entries.size}")
  }

  test("skipping is sound for every comparison shape (vs parquet truth)") {
    val truth = eventsProjected
    val m = ShardFormat.readManifest(dir)
    val mid = m.entries.map(_.zMax("user_id")).max / 2
    val cases = Seq[(DataFrame => DataFrame, String)](
      (df => df.filter(col("user_id") < mid), "lt"),
      (df => df.filter(col("user_id") <= mid), "le"),
      (df => df.filter(col("user_id") > mid), "gt"),
      (df => df.filter(col("user_id") >= mid), "ge"),
      (df => df.filter(col("user_id") === mid), "eq"),
      (df => df.filter(col("user_id").isin(0L, mid, mid * 2)), "in"),
      (df => df.filter(col("user_id") < mid && col("cents") > 0), "conj"))
    cases.foreach { case (f, tag) =>
      assert(rowsOf(f(viaShard).select(col("user_id"), col("event_type"),
        col("cents"))) == rowsOf(f(truth)), s"case $tag diverged")
    }
  }

  test("pushdown and pruning are visible in the executed plan") {
    val df = viaShard.filter(col("user_id") < 5)
      .select(col("user_id"), col("cents"))
    df.collect()
    val p = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }).toString
    assert(p.contains("gshard"), p)
    assert(p.contains("LessThan(user_id,5)"), s"filter not pushed:\n$p")
    assert(p.contains("files="), p)
    // pruned read schema: the string column must not be materialized
    assert(!p.contains("event_type"), s"column not pruned:\n$p")
  }

  test("column pruning decodes only the requested columns") {
    // a projection that drops the (largest) string column must still
    // be value-correct — the reader skipped those bytes entirely
    val got = viaShard.select(col("cents")).agg(sum(col("cents"))).head.getLong(0)
    val want = eventsProjected.agg(sum(col("cents"))).head.getLong(0)
    assert(got == want)
    // count(*) pushes an EMPTY required schema: rows still enumerate
    assert(viaShard.count() == eventsProjected.count())
  }

  test("an empty table writes a valid zero-file manifest and reads back empty") {
    val d = tmp("graft_gshard_empty_")
    ShardFormat.write(eventsProjected.limit(0), d, "user_id", 8)
    val back = spark.read.format("gshard").load(d)
    assert(back.schema.fieldNames.toSeq ==
      Seq("user_id", "event_type", "cents"))
    assert(back.count() == 0)
  }

  test("deterministic bytes: writing twice yields identical manifests") {
    val d2 = tmp("graft_gshard_det_")
    ShardFormat.write(eventsProjected, d2, "user_id", 8)
    assert(ShardFormat.readManifest(d2) == ShardFormat.readManifest(dir))
  }
  // ── DSv2 WRITE path ────────────────────────────────────────────────

  private def writeVia(df: DataFrame, d: String, mode: String): Unit =
    df.write.format("gshard").option("rangecol", "user_id")
      .option("shards", 8).mode(mode).save(d)

  test("DSv2 write roundtrip: Spark-planned range exchange, values exact") {
    val d = tmp("graft_gshard_w_")
    writeVia(eventsProjected, d, "overwrite")
    assert(rowsOf(spark.read.format("gshard").load(d)
      .select(col("user_id"), col("event_type"), col("cents")))
      == rowsOf(eventsProjected))
  }

  test("DSv2-written zone maps are range-disjoint (the required distribution held)") {
    val d = tmp("graft_gshard_wz_")
    writeVia(eventsProjected, d, "overwrite")
    val m = ShardFormat.readManifest(d)
    assert(m.entries.size > 1, "degenerate: one shard")
    val sorted = m.entries.sortBy(_.zMin("user_id"))
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.zMax("user_id") < b.zMin("user_id"),
        s"overlapping shards: $a / $b — range distribution not enforced")
      case _ => ()
    }
  }

  test("append mode merges manifests; overwrite truncates the old generation") {
    val d = tmp("graft_gshard_am_")
    val lo = eventsProjected.filter(col("user_id") % 2 === 0)
    val hi = eventsProjected.filter(col("user_id") % 2 === 1)
    writeVia(lo, d, "append")
    writeVia(hi, d, "append")
    assert(rowsOf(spark.read.format("gshard").load(d)
      .select(col("user_id"), col("event_type"), col("cents")))
      == rowsOf(eventsProjected))
    // overwrite with the small half: result replaced, old files swept
    writeVia(hi, d, "overwrite")
    assert(rowsOf(spark.read.format("gshard").load(d)
      .select(col("user_id"), col("event_type"), col("cents")))
      == rowsOf(hi))
    val m = ShardFormat.readManifest(d)
    // retention: the truncated generation's files survive the
    // overwrite (its archived manifest still references them — time
    // travel); vacuum(0) reclaims them, after which disk == manifest
    ShardFormat.vacuum(d, 0)
    val onDisk = new java.io.File(d).list()
      .count(f => f.startsWith("part-") && f.endsWith(".gshard"))
    assert(onDisk == m.entries.size,
      s"orphan files survive overwrite+vacuum: disk=$onDisk manifest=${m.entries.size}")
  }

  test("the freshly written table serves skipping scans like the manual one") {
    val d = tmp("graft_gshard_ws_")
    writeVia(eventsProjected, d, "overwrite")
    val m = ShardFormat.readManifest(d)
    val thr = m.entries.map(_.zMax("user_id")).max / 2
    val scan = spark.read.format("gshard").load(d)
      .filter(col("user_id") < thr)
    assert(scan.rdd.getNumPartitions < m.entries.size,
      "zone maps of the DSv2 writer prune nothing")
    assert(rowsOf(scan.select(col("user_id"), col("event_type"), col("cents")))
      == rowsOf(eventsProjected.filter(col("user_id") < thr)))
  }

  test("compaction: fragmented appends -> fewer files, disjoint maps, same bytes") {
    val d = tmp("graft_gshard_cm_")
    // two independently-ranged generations: overlapping maps by design
    writeVia(eventsProjected.filter(col("user_id") % 2 === 0), d, "overwrite")
    writeVia(eventsProjected.filter(col("user_id") % 2 === 1), d, "append")
    val before = ShardFormat.readManifest(d)
    val overlapping = before.entries.sortBy(_.zMin("user_id")).sliding(2).exists {
      case Seq(a, b) => a.zMax("user_id") >= b.zMin("user_id")
      case _ => false
    }
    assert(overlapping, "degenerate: appends did not fragment the range space")
    // compact: connector read -> connector overwrite, same dir
    spark.read.format("gshard").load(d).write.format("gshard")
      .option("rangecol", "user_id").option("shards", 4)
      .mode("overwrite").save(d)
    val after = ShardFormat.readManifest(d)
    assert(after.entries.size < before.entries.size,
      s"no file-count drop: ${before.entries.size} -> ${after.entries.size}")
    after.entries.sortBy(_.zMin("user_id")).sliding(2).foreach {
      case Seq(a, b) => assert(a.zMax("user_id") < b.zMin("user_id"),
        "compaction did not restore range disjointness")
      case _ => ()
    }
    assert(rowsOf(spark.read.format("gshard").load(d)
      .select(col("user_id"), col("event_type"), col("cents")))
      == rowsOf(eventsProjected))
    // old generations retained for time travel; vacuum(0) reclaims
    // them — then no orphan files from either old generation
    ShardFormat.vacuum(d, 0)
    val onDisk = new java.io.File(d).list()
      .count(f => f.startsWith("part-") && f.endsWith(".gshard"))
    assert(onDisk == after.entries.size)
  }

  // ── streaming SOURCE path ──────────────────────────────────────────

  test("streaming source: admission control paces batches; offsets resume across appends") {
    val d = tmp("graft_gshard_src_")
    val cp = tmp("graft_gshard_srccp_")
    val gen1 = eventsProjected.filter(col("user_id") % 2 === 0)
    val gen2 = eventsProjected.filter(col("user_id") % 2 === 1)
    writeVia(gen1, d, "overwrite")
    val nFiles1 = ShardFormat.readManifest(d).entries.size
    assert(nFiles1 >= 4, s"degenerate: only $nFiles1 files staged")

    // foreachBatch sink: the memory sink refuses checkpoint recovery,
    // and the resume-over-appends half of this test needs it
    def drain(): (Long, Int) = {
      val rows = new java.util.concurrent.atomic.AtomicLong(0)
      val batches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = spark.readStream.format("gshard")
        .option("maxfilespertrigger", "2").load(d)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count()
          if (n > 0) { rows.addAndGet(n); batches.incrementAndGet() }
          ()
        }
        .start()
      q.awaitTermination()
      (rows.get(), batches.get())
    }

    val (rows1, batches1) = drain()
    assert(batches1 >= nFiles1 / 2,
      s"admission control ignored: $batches1 batches for $nFiles1 files at max 2/trigger")
    assert(rows1 == gen1.count())

    // append a second generation; a NEW run on the SAME checkpoint
    // must read ONLY the appended files (offset resume over the log)
    writeVia(gen2, d, "append")
    val (rows2, _) = drain()
    assert(rows2 == gen2.count(),
      "resumed stream re-read or missed the appended generation")
  }

  // ── columnar (vectorized) read path ────────────────────────────────

  test("columnar scan is the only read path and equals the input frame") {
    val colDf = viaShard.select(col("user_id"), col("event_type"), col("cents"))
    val got = rowsOf(colDf)
    val p = colDf.queryExecution.executedPlan.toString
    assert(p.contains("ColumnarToRow"),
      s"vectorized path not active (no ColumnarToRow transition):\n$p")
    assert(got == rowsOf(eventsProjected))
    // count() exercises the empty-projection batch
    assert(viaShard.count() == eventsProjected.count())
  }

  test("columnar scan: a one-file table of ~6k rows reads back exactly") {
    val d = tmp("graft_gshard_chunk_")
    // lineitem (~6k rows at this SF) into ONE file crosses the 4096 boundary
    val li = tables.lineitem.select(col("l_orderkey"), col("l_returnflag"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("cents"))
    ShardFormat.write(li, d, "l_orderkey", 1)
    val m = ShardFormat.readManifest(d)
    assert(m.entries.size == 1 && m.entries.head.rows > 4096,
      s"degenerate: ${m.entries} does not cross the chunk boundary")
    val back = spark.read.format("gshard").load(d)
    assert(back.count() == li.count())
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
      == li.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted)
  }

  // ── aggregate pushdown (metadata-only queries) ─────────────────────

  test("count/min/max answer from the manifest without opening a file") {
    val agg = viaShard.agg(count(lit(1)).as("n"),
      min(col("user_id")).as("lo"), max(col("user_id")).as("hi"))
    val row = agg.head
    val m = ShardFormat.readManifest(dir)
    assert(row.getLong(0) == m.entries.map(_.rows).sum)
    assert(row.getLong(1) == m.entries.map(_.zMin("user_id")).min)
    assert(row.getLong(2) == m.entries.map(_.zMax("user_id")).max)
    // truth check against the raw data too
    val t = eventsProjected.agg(count(lit(1)), min(col("user_id")),
      max(col("user_id"))).head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ==
      ((t.getLong(0), t.getLong(1), t.getLong(2))))
    // metadata-only: the plan carries the marker and ONE partition
    agg.collect()
    val p = agg.queryExecution.executedPlan.toString
    assert(p.contains("metadata-only"), s"aggregate not pushed:\n$p")
  }

  test("filters, grouping, or other aggregates disable the pushdown") {
    // a filtered count must scan (filters are residual here): values
    // still exact, no metadata-only marker
    val filtered = viaShard.filter(col("user_id") < 5).agg(count(lit(1)))
    assert(filtered.head.getLong(0) ==
      eventsProjected.filter(col("user_id") < 5).count())
    filtered.collect()
    assert(!filtered.queryExecution.executedPlan.toString.contains("metadata-only"))
    // grouped aggregation: normal scan path
    val grouped = viaShard.groupBy(col("event_type")).agg(count(lit(1)))
    grouped.collect()
    assert(!grouped.queryExecution.executedPlan.toString.contains("metadata-only"))
    // sum is not manifest-answerable
    val summed = viaShard.agg(sum(col("cents")))
    assert(summed.head.getLong(0) ==
      eventsProjected.agg(sum(col("cents"))).head.getLong(0))
  }

  test("metadata-only aggregates on an empty table: count 0, null min/max") {
    val d = tmp("graft_gshard_aggempty_")
    ShardFormat.write(eventsProjected.limit(0), d, "user_id", 4)
    val row = spark.read.format("gshard").load(d)
      .agg(count(lit(1)), min(col("user_id")), max(col("user_id"))).head
    assert(row.getLong(0) == 0L)
    assert(row.isNullAt(1) && row.isNullAt(2))
  }

  test("reported statistics drive broadcast join selection") {
    // a small gshard dimension joined to the parquet fact: without
    // SupportsReportStatistics the DSv2 scan defaults to the
    // worst-case size and the planner picks sort-merge; with the
    // manifest stats it broadcasts
    val d = tmp("graft_gshard_stats_")
    val dim = tables.events.select(col("user_id")).distinct()
      .withColumn("seg", (col("user_id") % 5).cast("long"))
    ShardFormat.write(dim, d, "user_id", 2)
    val joined = tables.events
      .join(spark.read.format("gshard").load(d), Seq("user_id"))
      .groupBy(col("seg")).agg(count(lit(1)).as("n"))
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"manifest stats did not flip the join to broadcast:\n$p")
    // and the values are right
    val got = joined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = tables.events.withColumn("seg", (col("user_id") % 5).cast("long"))
      .groupBy(col("seg")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("runtime filtering: join-key sets prune shard files after planning") {
    // fact side: the gshard table; build side: a SELECTIVE dim whose
    // user set lives in the low shards only -> Spark materializes the
    // dim keys and the scan must re-prune before execution
    val m = ShardFormat.readManifest(dir)
    val loMax = m.entries.map(_.zMax("user_id")).min // smallest shard's max
    val dim = tables.events.select(col("user_id")).distinct()
      .filter(col("user_id") <= loMax)
      .withColumn("tag", lit("keep"))
    val joined = viaShard
      .join(dim.hint("broadcast"), Seq("user_id"))
      .groupBy(col("tag")).agg(count(lit(1)).as("n"))
    val got = joined.collect()
    // values first: runtime pruning must lose nothing
    val want = tables.events.select(col("user_id"), col("event_type"))
      .join(dim, Seq("user_id")).count()
    assert(got.map(_.getLong(1)).sum == want)
    // the scan declares runtime-filter attributes and the plan carries
    // the dynamic pruning expression on the DSv2 scan
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("RuntimeFilters"), s"no runtime filter slot:\n$p")
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning") ||
      p.contains("RuntimeFilters: [i"), // in-filter rendering
      s"runtime filter never planned:\n$p")
  }

  test("randomized predicate sweep: skipping is sound for 60 seeded filters") {
    // the hand-picked shapes above catch the classic edges; this sweep
    // drives thresholds OUTSIDE the data range, on shard boundaries,
    // and in random interiors — seeded, so failures replay
    val truth = eventsProjected
    val m = ShardFormat.readManifest(dir)
    val hi = m.entries.map(_.zMax("user_id")).max
    val rnd = new scala.util.Random(42)
    (1 to 60).foreach { i =>
      val v = rnd.nextLong(2 * hi + 5) - 2 // in [-2, 2*hi+2]
      val (f, tag): (DataFrame => DataFrame, String) = rnd.nextInt(6) match {
        case 0 => (df => df.filter(col("user_id") < v), s"lt $v")
        case 1 => (df => df.filter(col("user_id") <= v), s"le $v")
        case 2 => (df => df.filter(col("user_id") > v), s"gt $v")
        case 3 => (df => df.filter(col("user_id") >= v), s"ge $v")
        case 4 => (df => df.filter(col("user_id") === v), s"eq $v")
        case _ =>
          val vs = Seq.fill(3)(rnd.nextLong(2 * hi + 5) - 2)
          (df => df.filter(col("user_id").isin(vs: _*)), s"in $vs")
      }
      assert(rowsOf(f(viaShard).select(col("user_id"), col("event_type"),
        col("cents"))) == rowsOf(f(truth)), s"case #$i: $tag diverged")
    }
  }

  leavesNoTempDirs()
}
