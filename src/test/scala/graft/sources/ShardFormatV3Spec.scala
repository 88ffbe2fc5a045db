package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.shard.ShardFormat
import graft.sources.shard.tests.ReadProbe

/** The gshard v3 format contract on top of v2's (ShardFormatV2Spec):
  * the WIDENED logical-type surface (timestamp/timestamp_ntz/date/
  * int/boolean riding the physically-long block), chunk-level STRING
  * zone maps (string predicates skip chunks inside surviving files),
  * MEASURED delta-varint long blocks (a sorted cluster column lands
  * well under 8 bytes/row, high-entropy stays plain), bloom
  * bits-per-value sizing audit in the manifest, per-APP txn
  * namespacing (independent writers never dedupe each other), the
  * truncate-bypasses-replay rule, and the loud rejection of v1/v2
  * manifests. */
class ShardFormatV3Spec extends ShardTempRoot {

  // ── widened type surface ───────────────────────────────────────────

  /** Events with every new logical type, plus deterministic nulls in
    * each (event_id stays non-null: it's the range column). */
  private def typed: DataFrame =
    tables.events.select(col("event_id"),
      when(col("event_id") % 5 =!= 0, col("ts")).as("ts"),
      when(col("event_id") % 7 =!= 0, col("ts").cast("date")).as("day"),
      when(col("event_id") % 3 =!= 0, hour(col("ts"))).as("hh"),
      when(col("event_id") % 11 =!= 0, col("event_type") === lit("click"))
        .as("is_click"))

  private def rowsOf(df: DataFrame): Set[(Long, Option[java.time.LocalDateTime],
      Option[java.sql.Date], Option[Int], Option[Boolean])] =
    df.select(col("event_id"), col("ts"), col("day"), col("hh"),
      col("is_click")).collect().map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None
          else Some(r.getAs[java.time.LocalDateTime](1)),
          if (r.isNullAt(2)) None else Some(r.getDate(2)),
          if (r.isNullAt(3)) None else Some(r.getInt(3)),
          if (r.isNullAt(4)) None else Some(r.getBoolean(4)))
      }.toSet

  test("timestamp/date/int/boolean roundtrip exactly (with nulls), " +
      "both write paths") {
    val want = rowsOf(typed)
    assert(want.exists(_._2.isEmpty) && want.exists(_._3.isEmpty) &&
      want.exists(_._4.isEmpty) && want.exists(_._5.isEmpty),
      "degenerate: no nulls planted")
    // DSv2 write path
    val d1 = tmp("gshard_typed_w_")
    typed.write.format("gshard").option("rangecol", "event_id")
      .option("shards", 6).mode("overwrite").save(d1)
    // manual (ShardFormat.write) path
    val d2 = tmp("gshard_typed_m_")
    ShardFormat.write(typed, d2, "event_id", 6)
    for (d <- Seq(d1, d2)) {
      val got = rowsOf(spark.read.format("gshard").load(d))
      assert(got == want, s"divergence: dir=$d")
    }
    // the manifest schema line carries the logical tags
    val m = ShardFormat.readManifest(d1)
    assert(m.schema("ts").dataType == TimestampNTZType)
    assert(m.schema("day").dataType == DateType)
    assert(m.schema("hh").dataType == IntegerType)
    assert(m.schema("is_click").dataType == BooleanType)
  }

  test("a TIMESTAMP predicate prunes files off micros zone maps, exact") {
    val d = tmp("gshard_typed_p_")
    // ts correlates with event_id in the corpus, so range clustering
    // on event_id separates the micros bounds across files
    typed.filter(col("ts").isNotNull).write.format("gshard")
      .option("rangecol", "event_id").option("shards", 8)
      .mode("overwrite").save(d)
    val cut = tables.events.agg(min(col("ts"))).head
      .getAs[java.time.LocalDateTime](0).plusDays(20)
    val scan = spark.read.format("gshard").load(d)
      .filter(col("ts") >= lit(cut))
    val m = ShardFormat.readManifest(d)
    assert(scan.rdd.getNumPartitions < m.entries.size,
      s"timestamp zone maps pruned nothing: " +
        s"${scan.rdd.getNumPartitions}/${m.entries.size}")
    assert(rowsOf(scan) ==
      rowsOf(typed.filter(col("ts").isNotNull).filter(col("ts") >= lit(cut))))
    // date and int predicates stay value-exact through normalization
    val dayCut = java.sql.Date.valueOf(cut.toLocalDate)
    assert(rowsOf(spark.read.format("gshard").load(d)
        .filter(col("day") >= lit(dayCut))) ==
      rowsOf(typed.filter(col("ts").isNotNull)
        .filter(col("day") >= lit(dayCut))))
    assert(rowsOf(spark.read.format("gshard").load(d)
        .filter(col("hh") === 3 && col("is_click"))) ==
      rowsOf(typed.filter(col("ts").isNotNull)
        .filter(col("hh") === 3 && col("is_click"))))
  }

  test("DECIMAL(p≤18, s) rides the long block: exact roundtrip with " +
      "nulls, zone pruning, filter normalization") {
    val d = tmp("gshard_dec_")
    // exact cents → DECIMAL(12,2): unscaled = the cents themselves
    val src = tables.events.select(col("event_id"),
      when(col("event_id") % 6 =!= 0,
        (floor(col("value") * 100 + lit(0.5)) / 100)
          .cast(DecimalType(12, 2))).as("price"))
    src.write.format("gshard").option("rangecol", "event_id")
      .option("shards", 6).mode("overwrite").save(d)
    val m = ShardFormat.readManifest(d)
    assert(m.schema("price").dataType == DecimalType(12, 2))
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString))).toSet
    val want = rows(src)
    assert(want.exists(_._2.isEmpty), "degenerate: no nulls planted")
    assert(rows(spark.read.format("gshard").load(d)) == want)
    // a decimal predicate normalizes to the unscaled-long domain and
    // stays value-exact; unscaled zone maps exist in the manifest
    assert(m.entries.exists(_.zMin.contains("price")))
    val thr = new java.math.BigDecimal("50.00")
    assert(rows(spark.read.format("gshard").load(d)
        .filter(col("price") >= lit(thr))) ==
      rows(src.filter(col("price") >= lit(thr))))
    // a literal with MORE fractional digits than the scale cannot be
    // normalized; skipping must degrade (admit) rather than misprune
    val odd = new java.math.BigDecimal("50.005")
    assert(rows(spark.read.format("gshard").load(d)
        .filter(col("price") > lit(odd))) ==
      rows(src.filter(col("price") > lit(odd))))
  }

  test("IsNull/IsNotNull prune files off the manifest null counts") {
    val d = tmp("gshard_nullskip_")
    // cluster on event_id so null-ness of `v` SEPARATES by file: the
    // low event range is all-null, the high range null-free
    val src = tables.events.select(col("event_id"),
      when(col("event_id") > tables.events
          .agg(max(col("event_id"))).head.getLong(0) / 2,
        col("user_id")).as("v"))
    src.write.format("gshard").option("rangecol", "event_id")
      .option("shards", 8).mode("overwrite").save(d)
    val m = ShardFormat.readManifest(d)
    assert(m.entries.size >= 8)
    def parts(f: DataFrame => DataFrame): Int =
      f(spark.read.format("gshard").load(d)).rdd.getNumPartitions
    val nullParts = parts(_.filter(col("v").isNull))
    val notNullParts = parts(_.filter(col("v").isNotNull))
    assert(nullParts < m.entries.size,
      s"IsNull pruned nothing: $nullParts/${m.entries.size}")
    assert(notNullParts < m.entries.size,
      s"IsNotNull pruned nothing: $notNullParts/${m.entries.size}")
    // values stay exact through the skipping
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(rows(spark.read.format("gshard").load(d)
      .filter(col("v").isNull)) == rows(src.filter(col("v").isNull)))
    assert(rows(spark.read.format("gshard").load(d)
      .filter(col("v").isNotNull)) == rows(src.filter(col("v").isNotNull)))
  }

  test("typed metadata-only min/max: timestamp/date/int answers come " +
      "back in their logical types, zero files read") {
    val d = tmp("gshard_typedagg_")
    tables.events.select(col("event_id"), col("ts"),
        col("ts").cast("date").as("day"), hour(col("ts")).as("hh"))
      .write.format("gshard").option("rangecol", "event_id")
      .option("shards", 4).mode("overwrite").save(d)
    val df = spark.read.format("gshard").load(d)
      .agg(count(lit(1)), min(col("ts")), max(col("ts")),
        min(col("day")), max(col("hh")))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("metadata-only") && plan.contains("files=0/"),
      s"typed aggregate was not answered from the manifest:\n$plan")
    val r = df.head()
    val truth = tables.events.agg(count(lit(1)), min(col("ts")),
      max(col("ts")), min(col("ts").cast("date")),
      max(hour(col("ts")))).head()
    assert(r.getLong(0) == truth.getLong(0))
    assert(r.getAs[java.time.LocalDateTime](1) ==
      truth.getAs[java.time.LocalDateTime](1))
    assert(r.getAs[java.time.LocalDateTime](2) ==
      truth.getAs[java.time.LocalDateTime](2))
    assert(r.getDate(3) == truth.getDate(3))
    assert(r.getInt(4) == truth.getInt(4))
  }

  // ── chunk-level string zone maps ───────────────────────────────────

  test("a string predicate skips CHUNKS inside a surviving file, exact") {
    val d = tmp("gshard_strchunk_")
    // one file, many chunks; tag clusters with the range column so
    // per-chunk string bounds genuinely separate
    val df = tables.events.select(col("user_id"),
      format_string("u%06d", col("user_id")).as("tag"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    ShardFormat.write(df, d, "user_id", 1, chunkRows = 128)
    val m = ShardFormat.readManifest(d)
    val maxUser = m.entries.head.zMax("user_id")
    val thr = "u%06d".format(maxUser - maxUser / 8)
    val dec = ReadProbe.read(s"$d/${m.entries.head.file}",
      m.schema, m.schema.fieldNames.toIndexedSeq,
      Seq(org.apache.spark.sql.sources.GreaterThan("tag", thr)))
    assert(dec.chunksTotal > 4, s"degenerate: ${dec.chunksTotal} chunks")
    assert(dec.chunksRead < dec.chunksTotal,
      s"no chunk skipped on the string predicate: " +
        s"${dec.chunksRead}/${dec.chunksTotal}")
    // end-to-end exactness through the connector
    def rows(x: DataFrame) = x.select(col("user_id"), col("tag"),
      col("cents")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows(spark.read.format("gshard").load(d)
        .filter(col("tag") > thr)) ==
      rows(df.filter(col("tag") > thr)))
  }

  test("oversized string bounds degrade to admit-always, never unsound") {
    val d = tmp("gshard_strbig_")
    val df = tables.events.limit(2000).select(col("user_id"),
      // > 64-byte values: the chunk slots must write hasValues=0
      concat(format_string("u%06d", col("user_id")),
        lit("x" * 80)).as("tag"))
    ShardFormat.write(df, d, "user_id", 1, chunkRows = 256)
    val m = ShardFormat.readManifest(d)
    val thr = "u000000" + ("x" * 80)
    val dec = ReadProbe.read(s"$d/${m.entries.head.file}",
      m.schema, m.schema.fieldNames.toIndexedSeq,
      Seq(org.apache.spark.sql.sources.GreaterThan("tag", thr)))
    // no chunk bounds -> nothing skipped, and every row decodes
    assert(dec.chunksRead == dec.chunksTotal)
    assert(dec.nRows == df.count())
    def rows(x: DataFrame) = x.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(spark.read.format("gshard").load(d)
        .filter(col("tag") > thr)) == rows(df.filter(col("tag") > thr)))
  }

  // ── delta-varint long blocks ───────────────────────────────────────

  test("the sorted range column delta-encodes well under 8 bytes/row; " +
      "values exact; high-entropy longs stay plain-sized") {
    val sess = spark
    import sess.implicits._
    // sorted-ish range column + a HIGH-ENTROPY column in one table
    val n = 50000
    val df = spark.range(n.toLong).select(col("id").as("k"),
      xxhash64(col("id")).as("noise"))
    val d = tmp("gshard_delta_")
    ShardFormat.write(df, d, "k", 1, chunkRows = 8192)
    val m = ShardFormat.readManifest(d)
    val fileBytes = Files.size(Paths.get(d, m.entries.head.file))
    // plain would cost ≥ 16 B/row for the two long columns; the k
    // column (deltas of 1 -> 1 varint byte/row) must pull the total
    // to ~9 B/row + headers. Assert the delta engaged: total well
    // under plain's 16n.
    assert(fileBytes < 12L * n,
      s"delta encoding never engaged: $fileBytes bytes for $n rows")
    // and the noise column kept its 8 B/row (plain): the file can't
    // be SMALLER than that, proving no lossy trick
    assert(fileBytes > 8L * n, s"impossible: $fileBytes bytes for $n rows")
    // byte-exact roundtrip against the input frame
    val want = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = spark.read.format("gshard").load(d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // negatives and irregular gaps (zigzag path) roundtrip too
    val d2 = tmp("gshard_delta_neg_")
    val df2 = Seq((0L, -5L), (1L, 5000000000L), (2L, -5000000000L),
      (3L, 0L), (4L, Long.MaxValue / 2), (5L, Long.MinValue / 2))
      .toDF("k", "v")
    ShardFormat.write(df2, d2, "k", 1)
    assert(spark.read.format("gshard").load(d2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      df2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  // ── bloom bits-per-value audit ─────────────────────────────────────

  test("the manifest records achieved bloom bits-per-value and the " +
      "scan description reports expected FP") {
    val d = tmp("gshard_bpv_")
    tables.events.select(col("user_id"), col("event_id"))
      .write.format("gshard").option("rangecol", "user_id")
      .option("shards", 4).option("bloomcol", "event_id")
      .mode("overwrite").save(d)
    val m = ShardFormat.readManifest(d)
    m.entries.foreach { e =>
      val bpv = e.bloomBpv.get("event_id")
      assert(bpv.isDefined, s"${e.file}: no bits-per-value recorded")
      // sizing targets ~16 bits/value (power-of-two rounded, so ≥ 8
      // whenever the 1 MB cap is not hit — and it can't be here)
      assert(bpv.get >= 8L, s"${e.file}: bloom under-sized: ${bpv.get}")
      // audit consistency: recorded bpv == stored bits / 8 per byte
      val bits = 8L * ShardFormat.unb64(e.bloom("event_id")).length
      assert(bpv.get <= bits, s"${e.file}: bpv exceeds stored bits")
    }
    val probe = tables.events.agg(min(col("event_id"))).head.getLong(0)
    val scan = spark.read.format("gshard").load(d)
      .filter(col("event_id") === probe)
    val desc = scan.queryExecution.executedPlan.toString()
    assert(desc.contains("bpv="), s"description lacks the bloom audit:\n$desc")
    assert(desc.contains("fp~"), s"description lacks the FP estimate:\n$desc")
    assert(!desc.contains("CAPPED"), s"spuriously flagged as capped:\n$desc")
  }

  // ── per-app txn namespacing ────────────────────────────────────────

  test("two writers with independent txnid sequences never dedupe " +
      "each other; a same-app replay still no-ops") {
    val d = tmp("gshard_txnapp_")
    val ev = tables.events.select(col("user_id"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    def append(app: String, txn: Long, gate: Int): Unit =
      ev.filter(col("user_id") % 4 === gate).write.format("gshard")
        .option("rangecol", "user_id").option("shards", 2)
        .option("txnappid", app).option("txnid", txn)
        .mode("append").save(d)
    append("alpha", 0L, 0)
    // a SECOND app starting its own sequence at 0 must apply, not
    // no-op against alpha's id (the single-global-txn bug)
    append("beta", 0L, 1)
    val after2 = spark.read.format("gshard").load(d).count()
    assert(after2 == ev.filter(col("user_id") % 4 <= 1).count(),
      "independent apps deduped each other")
    // same-app replay: no-op, no orphans
    append("beta", 0L, 1)
    assert(spark.read.format("gshard").load(d).count() == after2,
      "a same-app replay double-appended")
    val m = ShardFormat.readManifest(d)
    assert(m.txns == Map("alpha" -> 0L, "beta" -> 0L))
    // data files only: archived generation manifests are .gshard too
    val onDisk = new java.io.File(d).list()
      .count(f => f.startsWith("part-") && f.endsWith(".gshard"))
    assert(onDisk == m.entries.size, "replay left orphan files")
    // and each app advances independently
    append("alpha", 1L, 2)
    assert(ShardFormat.readManifest(d).txns ==
      Map("alpha" -> 1L, "beta" -> 0L))
  }

  test("a truncating write bypasses the replay no-op: a fresh query " +
      "restarting at batch 0 with overwrite wins over stale state") {
    val d = tmp("gshard_txntrunc_")
    val ev = tables.events.select(col("user_id"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    def write(mode: String, txn: Long, gate: Int): Unit =
      ev.filter(col("user_id") % 4 === gate).write.format("gshard")
        .option("rangecol", "user_id").option("shards", 2)
        .option("txnid", txn).mode(mode).save(d)
    // old query ran to txn 5
    write("overwrite", 0L, 0)
    write("append", 5L, 1)
    // a FRESH query reuses the dir: batch ids restart at 0, overwrite
    // semantics on batch 0 — it must replace the table, not silently
    // no-op and delete its own data
    write("overwrite", 0L, 2)
    val got = spark.read.format("gshard").load(d).count()
    assert(got == ev.filter(col("user_id") % 4 === 2).count(),
      s"truncating batch-0 write was swallowed by the replay no-op: $got")
    // and the restart's OWN replays then dedupe against the reset slot
    write("append", 1L, 3)
    val after = spark.read.format("gshard").load(d).count()
    write("append", 1L, 3)
    assert(spark.read.format("gshard").load(d).count() == after)
  }

  test("randomized TYPED predicate sweep: 48 seeded timestamp/date/int/" +
      "boolean filters stay value-exact through normalization + skipping") {
    val d = tmp("gshard_typed_sweep_")
    val src = typed.filter(col("ts").isNotNull)
    src.write.format("gshard").option("rangecol", "event_id")
      .option("shards", 8).mode("overwrite").save(d)
    val via = spark.read.format("gshard").load(d)
    val tsLo = tables.events.agg(min(col("ts"))).head
      .getAs[java.time.LocalDateTime](0)
    val rnd = new scala.util.Random(1714)
    (1 to 48).foreach { i =>
      // random instants straddle the corpus (including out-of-range),
      // random days, random hours incl. impossible ones
      val (f, tag): (DataFrame => DataFrame, String) = rnd.nextInt(6) match {
        case 0 =>
          val cut = tsLo.plusMinutes(rnd.between(-1440L, 46 * 1440L))
          (df => df.filter(col("ts") >= lit(cut)), s"ts ge $cut")
        case 1 =>
          val cut = tsLo.plusMinutes(rnd.between(-1440L, 46 * 1440L))
          (df => df.filter(col("ts") < lit(cut)), s"ts lt $cut")
        case 2 =>
          val day = java.sql.Date.valueOf(
            tsLo.toLocalDate.plusDays(rnd.between(-2L, 40L)))
          (df => df.filter(col("day") === lit(day)), s"day eq $day")
        case 3 =>
          val day = java.sql.Date.valueOf(
            tsLo.toLocalDate.plusDays(rnd.between(-2L, 40L)))
          (df => df.filter(col("day") > lit(day)), s"day gt $day")
        case 4 =>
          val h = rnd.between(-3, 30)
          (df => df.filter(col("hh") <= h), s"hh le $h")
        case _ =>
          val b = rnd.nextBoolean()
          (df => df.filter(col("is_click") === b), s"click eq $b")
      }
      assert(rowsOf(f(via)) == rowsOf(f(src)), s"case #$i: $tag diverged")
    }
  }

  // ── limit / top-N pushdown ─────────────────────────────────────────

  test("LIMIT plans a file prefix; TOP-N on the range column plans the " +
      "sorted end; both exact") {
    val d = tmp("gshard_topn_")
    val src = tables.events.select(col("event_id"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    src.write.format("gshard").option("rangecol", "event_id")
      .option("shards", 8).mode("overwrite").save(d)
    val m = ShardFormat.readManifest(d)
    assert(m.entries.size >= 8)
    def load = spark.read.format("gshard").load(d)
    // LIMIT: fewer files planned, row count honored
    val lim = load.limit(10)
    assert(lim.rdd.getNumPartitions < m.entries.size,
      "LIMIT planned every file")
    assert(lim.count() == 10)
    // TOP-N ascending: exact versus the parquet truth
    val bottom = load.orderBy(asc("event_id")).limit(25)
    val pAsc = bottom.queryExecution.executedPlan.toString()
    assert(pAsc.contains("TopN: [event_id ASC limit 25]"),
      s"top-N not pushed:\n$pAsc")
    assert("files=(\\d+)/(\\d+)".r.findFirstMatchIn(pAsc)
      .exists(x => x.group(1).toInt < x.group(2).toInt),
      s"top-N pruned nothing:\n$pAsc")
    assert(bottom.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      src.orderBy(asc("event_id")).limit(25).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // ... and descending mirrors off zMax
    val top = load.orderBy(desc("event_id")).limit(25)
    assert(top.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      src.orderBy(desc("event_id")).limit(25).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("TOP-N REFUSES when the manifest can't prove the order: " +
      "overlapping append generations, nullable or unmapped sort keys") {
    val sess = spark
    import sess.implicits._
    // overlapping generations: two appends each spanning the full key
    // range -> files overlap -> the file prefix can't bound the top-N
    val d = tmp("gshard_topn_ref_")
    val ev = tables.events.select(col("event_id"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    ev.filter(col("event_id") % 2 === 0).write.format("gshard")
      .option("rangecol", "event_id").option("shards", 4)
      .mode("overwrite").save(d)
    ev.filter(col("event_id") % 2 === 1).write.format("gshard")
      .option("rangecol", "event_id").option("shards", 4)
      .mode("append").save(d)
    val p = spark.read.format("gshard").load(d)
      .orderBy(asc("event_id")).limit(10)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("TopN: ["),
      s"top-N accepted over overlapping files:\n$p")
    // values still exact (Spark's own sort+limit does the work)
    assert(spark.read.format("gshard").load(d)
      .orderBy(asc("event_id")).limit(10).collect().map(_.getLong(0)).toSeq ==
      ev.orderBy(asc("event_id")).limit(10).collect()
        .map(_.getLong(0)).toSeq)
    // nullable sort key: refuse (null ordering can't be proven)
    val d2 = tmp("gshard_topn_null_")
    tables.events.select(col("event_id"),
        when(col("event_id") % 7 =!= 0, col("user_id")).as("v"))
      .write.format("gshard").option("rangecol", "event_id")
      .option("shards", 4).mode("overwrite").save(d2)
    val p2 = spark.read.format("gshard").load(d2)
      .orderBy(asc("v")).limit(10)
      .queryExecution.executedPlan.toString()
    assert(!p2.contains("TopN: ["),
      s"top-N accepted on a nullable key:\n$p2")
  }

  // ── old-generation rejection ───────────────────────────────────────

  test("v1/v2 manifests are rejected up front with a rewrite-required " +
      "error, not accepted into a mid-scan failure") {
    val d = tmp("gshard_v2rej_")
    Files.write(Paths.get(d, "_manifest.gshard"),
      "gshard v2\nschema k:long\nfile part-00000.gshard 10 k=0:9\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[IllegalArgumentException] {
      ShardFormat.readManifest(d)
    }
    assert(e.getMessage.contains("rewrite required"),
      s"unhelpful error: ${e.getMessage}")
  }

  leavesNoTempDirs()
}
