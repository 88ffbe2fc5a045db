package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.shard.ShardFormat
import graft.sources.shard.tests.ReadProbe

/** The gshard v4 format contract on top of v3's (ShardFormatV3Spec):
  * DOUBLE zone maps at both grains (file-level manifest bounds as raw
  * IEEE bits, per-chunk slots) with NaN-safe admission — a region
  * holding any NaN carries NO bounds, because Spark orders NaN above
  * every double and evaluates NaN = NaN as true, so bounds that
  * ignored it would prune unsoundly — and FOR-BITPACKED long blocks
  * (values re-based to the chunk min at the minimal bit width, the
  * parquet RLE/bit-packing idea): a boolean column lands at ~1
  * BIT/row, a constant column at ~0 bytes, both chosen by MEASURED
  * size against plain and delta-varint. Older manifest generations
  * (now including v3) reject up front. */
class ShardFormatV4Spec extends ShardTempRoot {

  // ── double zone maps: file-level pruning ───────────────────────────

  /** value correlated with the range column (cents = round(v*100)), so
    * range clustering makes the per-file double bounds selective. */
  private def priced: DataFrame =
    tables.events.select(
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"),
      col("value").as("v"), col("event_type"))

  test("double zone maps prune shard files at planning time and the " +
      "filtered read stays exact") {
    val d = tmp("gshard_dbl_prune_")
    priced.write.format("gshard").option("rangecol", "cents")
      .option("shards", 8).mode("overwrite").save(d)
    val m = ShardFormat.readManifest(d)
    assert(m.entries.size >= 8, s"degenerate table: ${m.entries.size} files")
    // every file carries double bounds (no NaN in the corpus)
    assert(m.entries.forall(e => e.dMin.contains("v") && e.dMax.contains("v")),
      "manifest lost the double bounds")
    val thr = priced.agg(expr("percentile(v, 0.25)")).head.getDouble(0)
    val q = spark.read.format("gshard").load(d).filter(col("v") < thr)
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v") * 100 + lit(0.5)).cast("long")).as("cents"))
    val p = q.queryExecution.executedPlan.toString()
    val desc = p.linesIterator.find(_.contains("files=")).getOrElse("")
    val fm = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    assert(fm.isDefined, s"no pruning readout:\n$p")
    assert(fm.get.group(1).toInt < fm.get.group(2).toInt,
      s"double zone maps pruned nothing: $desc")
    assert(p.contains("LessThan(v"), s"double filter not pushed:\n$p")
    // values exact vs the parquet source under the same filter
    val want = priced.filter(col("v") < thr)
      .agg(count(lit(1)), sum(floor(col("v") * 100 + lit(0.5)).cast("long")))
      .head
    val got = q.head
    assert((got.getLong(0), got.getLong(1)) ==
      (want.getLong(0), want.getLong(1)))
  }

  // ── double zone maps: chunk-level skipping + NaN soundness ─────────

  test("double predicates skip chunks inside surviving files; NaN " +
      "chunks and NaN literals always admit; NaN/null rows roundtrip") {
    val sess = spark
    import sess.implicits._
    val n = 40000
    // v == k exactly, so chunk bounds are exact; chunk 2 (rows
    // 16384..24575) gets NaN planted, chunk 4 nulls
    val df = spark.range(n.toLong).select(col("id").as("k"),
      when(col("id") === (2L * 8192 + 17), lit(Double.NaN))
        .when(col("id") === (4L * 8192 + 23), lit(null).cast("double"))
        .otherwise(col("id").cast("double")).as("v"))
    val d = tmp("gshard_dbl_chunk_")
    ShardFormat.write(df, d, "k", 1, chunkRows = 8192)
    val m = ShardFormat.readManifest(d)
    // the NaN poisons the FILE bounds (sound: no entry, always admit)
    assert(!m.entries.head.dMin.contains("v"),
      "file-level double bounds survived a NaN")
    val schema = m.schema
    val path = s"$d/${m.entries.head.file}"
    // a selective predicate reads only the matching chunks — the NaN
    // chunk admits too (its slot is empty), everything else skips
    val dec = ReadProbe.read(path, schema, Seq("k", "v"),
      Seq(org.apache.spark.sql.sources.GreaterThan("v", (n - 100).toDouble)))
    assert(dec.chunksTotal == (n + 8191) / 8192)
    // surviving: the last chunk (matches) + the NaN chunk (no bounds)
    assert(dec.chunksRead == 2,
      s"expected last+NaN chunks, read ${dec.chunksRead}/${dec.chunksTotal}")
    // through the DataFrame: NaN and null rows both roundtrip, and a
    // NaN equality literal finds its row (Spark: NaN = NaN is true)
    val back = spark.read.format("gshard").load(d)
    assert(back.filter(col("v").isNaN).select(col("k")).head.getLong(0) ==
      2L * 8192 + 17)
    assert(back.filter(col("v") === lit(Double.NaN)).count() == 1L)
    assert(back.filter(col("v").isNull).select(col("k")).head.getLong(0) ==
      4L * 8192 + 23)
    assert(back.count() == n.toLong)
    // and the selective filter stays exact despite all the skipping
    assert(back.filter(col("v") > (n - 100).toDouble).count() ==
      df.filter(col("v") > (n - 100).toDouble).count())
  }

  test("manifest double bounds roundtrip exact raw bits (subnormals, " +
      "-0.0, extremes)") {
    val schema = StructType(Seq(StructField("v", DoubleType)))
    val tricky = Seq(-0.0, 4.9e-324, 1e-308, Double.MaxValue,
      -Double.MaxValue, 0.1 + 0.2)
    val entries = tricky.zipWithIndex.map { case (x, i) =>
      ShardFormat.ShardEntry(f"part-$i%05d.gshard", 1L,
        Map.empty, Map.empty, dMin = Map("v" -> x), dMax = Map("v" -> x))
    }
    val d = tmp("gshard_dbl_bits_")
    ShardFormat.writeManifest(d, ShardFormat.Manifest(schema, entries))
    val back = ShardFormat.readManifest(d)
    tricky.zipWithIndex.foreach { case (x, i) =>
      val e = back.entries(i)
      assert(java.lang.Double.doubleToRawLongBits(e.dMin("v")) ==
        java.lang.Double.doubleToRawLongBits(x), s"bit drift at $x")
    }
  }

  // ── FOR-bitpacked long blocks ──────────────────────────────────────

  test("boolean columns bitpack to ~1 bit/row and constant columns " +
      "to ~0; values (with nulls) roundtrip exactly") {
    val n = 50000
    val df = spark.range(n.toLong).select(col("id").as("k"),
      when(col("id") % 11 =!= 0, col("id") % 3 === 0).as("flag"),
      lit(42L).as("konst"))
    val d = tmp("gshard_bitpack_")
    ShardFormat.write(df, d, "k", 1, chunkRows = 8192)
    val m = ShardFormat.readManifest(d)
    val fileBytes = Files.size(Paths.get(d, m.entries.head.file))
    // plain would cost 24 B/row. Budget: k delta-varints at 1 B/row,
    // flag bitpacks at 1 BIT/row, konst at ~0, three null bitmaps at
    // 3 bits/row — ~1.5 B/row plus chunk headers. Well under 2 B/row
    // proves both bitpack engagements; well over 1 B/row proves no
    // lossy trick.
    assert(fileBytes < 2L * n,
      s"bitpack never engaged: $fileBytes bytes for $n rows")
    assert(fileBytes > 1L * n, s"impossible: $fileBytes bytes for $n rows")
    def rows(x: DataFrame) = x.collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getBoolean(1)),
        r.getLong(2))
    }.toSet
    val want = rows(df)
    assert(want.exists(_._2.isEmpty), "degenerate: no nulls planted")
    assert(rows(spark.read.format("gshard").load(d)) == want)
  }

  test("bitpack handles wide offsets, negative bases, and all-null " +
      "columns; width > 56 falls back") {
    val sess = spark
    import sess.implicits._
    // base negative, range just under 2^20; plus an all-null column
    val df = (0 until 2000).map { i =>
      (i.toLong, -1000000L + (i.toLong * 524L) % 1048575L,
        Option.empty[Long])
    }.toDF("k", "v", "allnull")
    val d = tmp("gshard_bitpack_wide_")
    ShardFormat.write(df, d, "k", 1)
    val back = spark.read.format("gshard").load(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2))).toSet
    assert(back == df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2))).toSet)
    // full-range longs (width 64) must stay plain-sized, not corrupt
    val d2 = tmp("gshard_bitpack_full_")
    val df2 = Seq((0L, Long.MinValue), (1L, Long.MaxValue), (2L, 0L))
      .toDF("k", "v")
    ShardFormat.write(df2, d2, "k", 1)
    assert(spark.read.format("gshard").load(d2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, Long.MinValue), (1L, Long.MaxValue), (2L, 0L)))
  }

  // ── double metadata DELETE + old-generation rejection ──────────────

  test("metadata DELETE decides double predicates from the double " +
      "bounds: file-aligned drops, straddling rejects") {
    val cat = "gshard_v4del"
    val wh = tmp("gshard_v4del_")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    // v == k exactly, so each inserted quartile lands as (at least)
    // one file with contiguous, file-aligned double bounds
    spark.range(1000).select(col("id").as("k"),
        col("id").cast("double").as("v"))
      .createOrReplaceTempView("v4del_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.td")
    spark.sql(s"CREATE TABLE $cat.main.td AS " +
      "SELECT * FROM v4del_src WHERE k < 250")
    Seq("k >= 250 AND k < 500", "k >= 500 AND k < 750", "k >= 750")
      .foreach(p => spark.sql(
        s"INSERT INTO $cat.main.td SELECT * FROM v4del_src WHERE $p"))
    val tdir = s"$wh/main/td"
    val before = ShardFormat.readManifest(tdir)
    assert(before.entries.size > 1, "degenerate: one file")
    // threshold = some file's exact dMin: files strictly below are
    // COVERED, the boundary file and above are DISJOINT
    val thr = before.entries.flatMap(_.dMin.get("v")).sorted.drop(1).head
    val dropped = before.entries
      .filter(e => e.dMax.get("v").exists(_ < thr)).map(_.file)
    assert(dropped.nonEmpty, "no file lies entirely below the threshold")
    spark.sql(s"DELETE FROM $cat.main.td WHERE v < $thr")
    val after = ShardFormat.readManifest(tdir)
    assert(after.entries.map(_.file).toSet ==
      before.entries.map(_.file).toSet -- dropped)
    assert(spark.table(s"$cat.main.td").count() == 1000L -
      before.entries.filter(e => dropped.contains(e.file)).map(_.rows).sum)
    // a threshold strictly inside a surviving file straddles: the
    // METADATA path refuses (canDeleteWhere false — the sound
    // half-decision), and the statement falls back to the row-level
    // copy-on-write rewrite, which deletes exactly the matching rows
    import org.apache.spark.sql.sources.{LessThan => LT}
    assert(!new graft.sources.shard.tests.TableProbe(tdir)
      .canDeleteWhere(Array(LT("v", thr + 0.5))),
      "a straddling double predicate must stay metadata-undecidable")
    val preCount = spark.table(s"$cat.main.td").count()
    spark.sql(s"DELETE FROM $cat.main.td WHERE v < ${thr + 0.5}")
    // exactly one row (v == thr, the boundary file's minimum) matched
    assert(spark.table(s"$cat.main.td").count() == preCount - 1)
    assert(spark.table(s"$cat.main.td")
      .agg(org.apache.spark.sql.functions.min(col("v"))).head.getDouble(0)
      == thr + 1.0)
  }

  test("ADD COLUMN widens the manifest without touching data: old " +
      "files read NULL, pruning still fires, " +
      "and every non-appendable ALTER rejects") {
    val cat = "gshard_v4evo"
    val wh = tmp("gshard_v4evo_")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.range(1000).select(col("id").as("k"),
        (col("id") % 7).as("g"))
      .createOrReplaceTempView("v4evo_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.te")
    spark.sql(s"CREATE TABLE $cat.main.te AS " +
      "SELECT * FROM v4evo_src WHERE k < 500")
    val tdir = s"$wh/main/te"
    val gen1Files = ShardFormat.readManifest(tdir).entries.map(_.file).toSet
    val gen1Bytes = gen1Files.map(f => f -> Files.size(Paths.get(tdir, f)))
    spark.sql(s"ALTER TABLE $cat.main.te ADD COLUMN extra BIGINT")
    // ZERO rewrite: the same files, byte for byte
    assert(gen1Bytes.forall { case (f, sz) =>
      Files.size(Paths.get(tdir, f)) == sz })
    spark.sql(s"INSERT INTO $cat.main.te " +
      "SELECT k, g, k * 10 AS extra FROM v4evo_src WHERE k >= 500")
    val back = spark.read.format("gshard").load(tdir)
    assert(back.count() == 1000L)
    // the old generation reads NULL, the new one its values
    assert(back.filter(col("extra").isNull).count() == 500L)
    assert(back.filter(col("extra") === col("k") * 10).count() == 500L)
    // zone pruning on the ORIGINAL column still fires across mixed
    // generations
    val q = spark.table(s"$cat.main.te").filter(col("k") < 100)
      .agg(count(lit(1)))
    val p = q.queryExecution.executedPlan.toString()
    val fm = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(
      p.linesIterator.find(_.contains("files=")).getOrElse(""))
    assert(fm.exists(x => x.group(1).toInt < x.group(2).toInt),
      s"mixed-generation pruning died:\n$p")
    assert(q.head.getLong(0) == 100L)
    // count(extra) must SCAN (old files lack the null count) and
    // still be exact
    val qc = spark.table(s"$cat.main.te").agg(count(col("extra")))
    assert(!qc.queryExecution.executedPlan.toString()
      .contains("metadata-only"),
      "evolved-column count answered from incomplete metadata")
    assert(qc.head.getLong(0) == 500L)
    // the rewrite-needing ALTERs still reject, loudly (DROP and
    // RENAME became zero-rewrite evolutions — ShardDropRenameSpec)
    Seq(s"ALTER TABLE $cat.main.te ALTER COLUMN g TYPE STRING",
      s"ALTER TABLE $cat.main.te ADD COLUMN bad BIGINT NOT NULL")
      .foreach { ddl =>
        val ex = intercept[Exception] { spark.sql(ddl) }
        assert(ex.getMessage != null, ddl)
      }
    // ...and the schema is still the evolved 3-column one
    assert(spark.table(s"$cat.main.te").columns.toSeq ==
      Seq("k", "g", "extra"))
  }

  test("compaction heals an evolved table: the rewrite materializes " +
      "the NULLs, every file carries the full schema, and the " +
      "metadata COUNT answers again") {
    val d = tmp("gshard_evo_heal_")
    val sess = spark
    import sess.implicits._
    // generation 1: narrow (written via the path API, schema k only)
    spark.range(400).select(col("id").as("k"))
      .write.format("gshard").option("rangecol", "k")
      .option("shards", 2).mode("overwrite").save(d)
    // widen the manifest the way the catalog ALTER does
    val m = ShardFormat.readManifest(d)
    ShardFormat.writeManifest(d, m.copy(schema =
      org.apache.spark.sql.types.StructType(m.schema.fields :+
        org.apache.spark.sql.types.StructField("extra", LongType))))
    // generation 2: widened append
    spark.range(400, 600).select(col("id").as("k"),
        (col("id") * 2).as("extra"))
      .write.format("gshard").option("rangecol", "k")
      .option("shards", 2).mode("append").save(d)
    // pre-heal: COUNT(extra) must scan (old files lack the stat)
    def countExtra = spark.read.format("gshard").load(d)
      .agg(count(col("extra")).as("n"))
    assert(!countExtra.queryExecution.executedPlan.toString()
      .contains("metadata-only"))
    assert(countExtra.head.getLong(0) == 200L)
    // HEAL: connector read -> connector overwrite (the q_shard_compact
    // maintenance shape) materializes the NULLs into real columns
    spark.read.format("gshard").load(d)
      .write.format("gshard").option("rangecol", "k")
      .option("shards", 2).mode("overwrite").save(d)
    val healed = ShardFormat.readManifest(d)
    assert(healed.entries.forall(_.nullCnt.contains("extra")),
      "healed files still missing the evolved column's stats")
    val q2 = countExtra
    assert(q2.queryExecution.executedPlan.toString()
      .contains("metadata-only"),
      "healed table still refuses the metadata count")
    assert(q2.head.getLong(0) == 200L)
    assert(spark.read.format("gshard").load(d).count() == 600L)
  }

  test("a v3 manifest rejects up front with the rewrite-required error") {
    val d = tmp("gshard_v3_reject_")
    Files.write(Paths.get(d, "_manifest.gshard"),
      "gshard v3\nschema k:long\nfile part-00000.gshard 10 k=0:9\n"
        .getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException] {
      ShardFormat.readManifest(d)
    }
    assert(ex.getMessage.contains("rewrite required"), ex.getMessage)
  }

  test("double MIN/MAX answer metadata-only when every file is " +
      "provably NaN-free; a NaN anywhere forces the scan and keeps " +
      "Spark's NaN-max semantics") {
    // clean table: every file carries double bounds -> pushdown fires
    val d1 = tmp("gshard_dbl_agg_")
    priced.write.format("gshard").option("rangecol", "cents")
      .option("shards", 6).mode("overwrite").save(d1)
    val q1 = spark.read.format("gshard").load(d1)
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))
    val p1 = q1.queryExecution.executedPlan.toString()
    assert(p1.contains("metadata-only") && p1.contains("files=0/"),
      s"double aggregate not answered from the manifest:\n$p1")
    val want = priced.agg(count(lit(1)), min(col("v")), max(col("v"))).head
    val got = q1.head
    assert(got.getLong(0) == want.getLong(0))
    assert(java.lang.Double.doubleToRawLongBits(got.getDouble(1)) ==
      java.lang.Double.doubleToRawLongBits(want.getDouble(1)))
    assert(got.getDouble(2) == want.getDouble(2))
    // poisoned table: one NaN -> that file has NO bounds and is not
    // provably all-null -> the aggregate must SCAN (refusing is what
    // keeps max = NaN under Spark's ordering)
    val d2 = tmp("gshard_dbl_agg_nan_")
    ShardFormat.write(
      spark.range(1000).select(col("id").as("k"),
        when(col("id") === 500, lit(Double.NaN))
          .otherwise(col("id").cast("double")).as("v")),
      d2, "k", 2)
    val q2 = spark.read.format("gshard").load(d2)
      .agg(max(col("v")).as("hi"))
    val p2 = q2.queryExecution.executedPlan.toString()
    assert(!p2.contains("metadata-only"),
      s"NaN-ambiguous aggregate answered from metadata:\n$p2")
    assert(q2.head.getDouble(0).isNaN, "Spark orders NaN largest")
  }

  test("SUM answers metadata-only from exact per-file sums; all-null " +
      "columns answer SQL NULL; negatives fold exactly") {
    val sess = spark
    import sess.implicits._
    val n = 20000
    val df = spark.range(n.toLong).select(col("id").as("k"),
      (col("id") * -3 + lit(7)).as("v"),
      when(col("id") % 2 === 0, col("id") * 2).as("half"),
      lit(null).cast("long").as("dead"))
    val d = tmp("gshard_sum_")
    df.write.format("gshard").option("rangecol", "k")
      .option("shards", 4).mode("overwrite").save(d)
    val q = spark.read.format("gshard").load(d)
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("half")).as("sh"), sum(col("dead")).as("sd"),
        count(col("half")).as("nh"))
    val p = q.queryExecution.executedPlan.toString()
    assert(p.contains("metadata-only") && p.contains("files=0/"),
      s"SUM/COUNT(col) not answered from the manifest:\n$p")
    val want = df.agg(count(lit(1)), sum(col("v")), sum(col("half")),
      sum(col("dead")), count(col("half"))).head
    val got = q.head
    assert(got.getLong(0) == want.getLong(0))
    assert(got.getLong(1) == want.getLong(1), "negative sums drifted")
    assert(got.getLong(2) == want.getLong(2), "null-skipping sums drifted")
    assert(got.isNullAt(3) && want.isNullAt(3),
      "an all-null column must sum to SQL NULL, not 0")
    assert(got.getLong(4) == want.getLong(4),
      "COUNT(col) must count exactly the non-null rows")
    // DISTINCT sums never ride the metadata path
    val pd = spark.read.format("gshard").load(d)
      .agg(sum_distinct(col("half")).as("sdh"))
      .queryExecution.executedPlan.toString()
    assert(!pd.contains("metadata-only"),
      s"DISTINCT sum answered from metadata:\n$pd")
  }

  test("randomized long-block shapes roundtrip byte-exact through " +
      "every encoding (seeded sweep: constant/boolean/narrow/sorted/" +
      "wide/negative × null densities × chunk sizes)") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(0xB17B0C5L)
    (0 until 12).foreach { i =>
      val n = 500 + rnd.nextInt(4000)
      val shape = rnd.nextInt(6)
      val nullDen = rnd.nextInt(4) // 0 = no nulls .. 3 = dense nulls
      val base = rnd.nextLong() % 1000000L
      val vals: IndexedSeq[Option[Long]] = (0 until n).map { r =>
        if (nullDen > 0 && rnd.nextInt(4) < nullDen) None
        else Some(shape match {
          case 0 => 42L                       // constant
          case 1 => rnd.nextInt(2).toLong     // boolean-domain
          case 2 => base + rnd.nextInt(1000)  // narrow FOR window
          case 3 => r.toLong * 3              // sorted (delta)
          case 4 => rnd.nextLong()            // full width (plain)
          case _ => -5000000000L + rnd.nextInt(1 << 20) // negative base
        })
      }
      val df = vals.zipWithIndex
        .map { case (v, k) => (k.toLong, v) }.toDF("k", "v")
      val d = tmp(s"gshard_encsweep_$i")
      ShardFormat.write(df, d, "k", 1, chunkRows = 256 + rnd.nextInt(2048))
      val want = vals.zipWithIndex.map { case (v, k) => (k.toLong, v) }.toSet
      val got = spark.read.format("gshard").load(d)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      assert(got == want, s"case #$i shape=$shape nulls=$nullDen diverged")
    }
  }

  test("randomized double predicates never diverge from the parquet " +
      "truth (seeded sweep over pruned scans)") {
    val d = tmp("gshard_dbl_sweep_")
    priced.write.format("gshard").option("rangecol", "cents")
      .option("shards", 8).mode("overwrite").save(d)
    val via = spark.read.format("gshard").load(d)
    val src = priced
    val (lo, hi) = {
      val r = src.agg(min(col("v")), max(col("v"))).head
      (r.getDouble(0), r.getDouble(1))
    }
    val rnd = new scala.util.Random(0xD0B1E5L)
    def agg(x: DataFrame) = {
      val r = x.agg(count(lit(1)).as("n"),
        sum(floor(col("v") * 1000 + lit(0.5)).cast("long")).as("s")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    (0 until 24).foreach { i =>
      // straddle and EXCEED the corpus range on both sides
      val t = lo + (hi - lo) * (rnd.nextDouble() * 1.6 - 0.3)
      val f: DataFrame => DataFrame = rnd.nextInt(4) match {
        case 0 => _.filter(col("v") < t)
        case 1 => _.filter(col("v") >= t)
        case 2 => _.filter(col("v") > t && col("v") <= t + (hi - lo) / 7)
        case _ => _.filter(col("v") <= t || col("v") > hi - (hi - lo) / 9)
      }
      assert(agg(f(via)) == agg(f(src)), s"case #$i diverged at t=$t")
    }
  }

  leavesNoTempDirs()
}
