package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.shard.ShardFormat
import graft.sources.shard.tests.ReadProbe

/** The gshard v2 format contract: NULL roundtrip through the null
  * bitmaps, chunked row groups with bounded
  * writer memory and intra-file chunk skipping, string zone maps with
  * file pruning, replay-idempotent txn appends, the per-trigger
  * manifest cache, and the EOF-safe skip on corrupt files. */
class ShardFormatV2Spec extends ShardTempRoot {

  // ── nulls ──────────────────────────────────────────────────────────

  /** Events projection with a deterministic null in every column type:
    * cents null on %7, event_type null on %5, extra double null on %3.
    * user_id (the range column) stays non-null. */
  private def nullable: DataFrame =
    tables.events.select(col("user_id"),
      when(col("event_id") % 5 =!= 0, col("event_type")).as("event_type"),
      when(col("event_id") % 7 =!= 0,
        floor(col("value") * 100 + lit(0.5)).cast("long")).as("cents"),
      when(col("event_id") % 3 =!= 0, col("value")).as("value"))

  private def rowsOf(df: DataFrame): Set[(Long, Option[String], Option[Long],
      Option[Double])] =
    df.select(col("user_id"), col("event_type"), col("cents"), col("value"))
      .collect().map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))
      }.toSet

  test("nulls roundtrip exactly through the manual writer") {
    val d = tmp("graft_gshard_null_")
    ShardFormat.write(nullable, d, "user_id", 6)
    val want = rowsOf(nullable)
    assert(want.exists(_._2.isEmpty) && want.exists(_._3.isEmpty) &&
      want.exists(_._4.isEmpty), "degenerate: no nulls in the fixture")
    assert(rowsOf(spark.read.format("gshard").load(d)) == want,
      "the columnar reader corrupted nulls")
  }

  test("nulls roundtrip exactly through the DSv2 write path") {
    val d = tmp("graft_gshard_nullw_")
    nullable.write.format("gshard").option("rangecol", "user_id")
      .option("shards", 6).mode("overwrite").save(d)
    assert(rowsOf(spark.read.format("gshard").load(d)) == rowsOf(nullable))
  }

  test("zone maps cover only non-null values; null-heavy skipping stays sound") {
    val d = tmp("graft_gshard_nullz_")
    ShardFormat.write(nullable, d, "user_id", 6)
    val m = ShardFormat.readManifest(d)
    // cents has nulls but also values in every shard at this SF: the
    // maps exist and bound the NON-NULL values
    val truthMin = nullable.agg(min(col("cents"))).head.getLong(0)
    assert(m.entries.flatMap(_.zMin.get("cents")).min == truthMin)
    // a filter over the nullable column stays value-exact
    val got = spark.read.format("gshard").load(d)
      .filter(col("cents") > 5000L)
    assert(rowsOf(got) == rowsOf(nullable.filter(col("cents") > 5000L)))
  }

  test("metadata-only min/max ignore nulls; an all-null column answers NULL") {
    val sess = spark
    import sess.implicits._
    val d = tmp("graft_gshard_nullagg_")
    val df = Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]),
      (3L, Option.empty[Long])).toDF("k", "v")
    df.write.format("gshard").option("rangecol", "k").option("shards", 1)
      .mode("overwrite").save(d)
    val row = spark.read.format("gshard").load(d)
      .agg(count(lit(1)), min(col("k")), max(col("k")), min(col("v"))).head
    assert(row.getLong(0) == 3L)
    assert(row.getLong(1) == 1L && row.getLong(2) == 3L)
    assert(row.isNullAt(3), "min over an all-null column must be NULL")
    // and the all-null column is absent from the zone maps
    val m = ShardFormat.readManifest(d)
    assert(m.entries.forall(e => !e.zMin.contains("v")))
  }

  test("a null range column fails loudly in the manual writer") {
    val sess = spark
    import sess.implicits._
    val df = Seq((Option.empty[Long], 1L), (Some(2L), 2L)).toDF("k", "v")
    val d = tmp("graft_gshard_nullrc_")
    val e = intercept[org.apache.spark.SparkException] {
      ShardFormat.write(df, d, "k", 2)
    }
    assert(e.getMessage.contains("range column") ||
      Option(e.getCause).exists(_.getMessage.contains("range column")) ||
      e.toString.contains("range column"))
  }

  // ── chunked row groups ─────────────────────────────────────────────

  test("chunked writer: bounded memory, multiple chunks, byte-equal roundtrip") {
    val d = tmp("graft_gshard_chunks_")
    val li = tables.lineitem.select(col("l_orderkey"), col("l_returnflag"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("cents"))
    // one shard ≫ chunk size: the writer must flush per 512 rows, so
    // the file carries many self-delimiting chunks
    ShardFormat.write(li, d, "l_orderkey", 1, chunkRows = 512)
    val m = ShardFormat.readManifest(d)
    assert(m.entries.size == 1 && m.entries.head.rows > 512 * 4)
    val schema = m.schema
    val dec = ReadProbe.read(s"$d/${m.entries.head.file}",
      schema, schema.fieldNames.toIndexedSeq)
    assert(dec.chunksTotal >= (m.entries.head.rows / 512).toInt,
      s"expected many chunks, got ${dec.chunksTotal}")
    assert(dec.chunksRead == dec.chunksTotal)
    // values survive chunking, through the connector
    val back = spark.read.format("gshard").load(d)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sorted ==
      li.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq.sorted)
  }

  test("point lookups read fewer chunks than the file holds (chunk skipping)") {
    val d = tmp("graft_gshard_cskip_")
    val li = tables.lineitem.select(col("l_orderkey"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("cents"))
    ShardFormat.write(li, d, "l_orderkey", 1, chunkRows = 512)
    val m = ShardFormat.readManifest(d)
    val file = s"$d/${m.entries.head.file}"
    val target = li.agg(max(col("l_orderkey"))).head.getLong(0)
    val dec = ReadProbe.read(file, m.schema,
      m.schema.fieldNames.toIndexedSeq,
      Seq(org.apache.spark.sql.sources.EqualTo("l_orderkey", target)))
    assert(dec.chunksTotal > 4, s"degenerate: ${dec.chunksTotal} chunks")
    assert(dec.chunksRead < dec.chunksTotal,
      s"no chunk skipped: ${dec.chunksRead}/${dec.chunksTotal}")
    // the rows that survive include every true match (residual exact)
    val wantRows = li.filter(col("l_orderkey") === target).count()
    val gotRows = dec.cols(0).count {
      case v: Long => v == target
      case _ => false
    }
    assert(gotRows.toLong == wantRows)
    // and the end-to-end scan is value-exact
    val got = spark.read.format("gshard").load(d)
      .filter(col("l_orderkey") === target).agg(sum(col("cents")))
      .head.getLong(0)
    assert(got == li.filter(col("l_orderkey") === target)
      .agg(sum(col("cents"))).head.getLong(0))
  }

  test("DSv2 chunkrows option streams multi-chunk files") {
    val d = tmp("graft_gshard_wchunk_")
    val li = tables.lineitem.select(col("l_orderkey"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("cents"))
    li.write.format("gshard").option("rangecol", "l_orderkey")
      .option("shards", 1).option("chunkrows", "256")
      .mode("overwrite").save(d)
    val m = ShardFormat.readManifest(d)
    val dec = ReadProbe.read(s"$d/${m.entries.head.file}",
      m.schema, m.schema.fieldNames.toIndexedSeq)
    assert(dec.chunksTotal > 8, s"chunkrows ignored: ${dec.chunksTotal}")
    assert(spark.read.format("gshard").load(d).count() == li.count())
  }

  // ── string zone maps ───────────────────────────────────────────────

  /** A string column CORRELATED with the range column, so string
    * bounds genuinely separate across range-clustered files. */
  private def tagged: DataFrame =
    tables.events.select(col("user_id"), col("event_type"),
      format_string("u%06d", col("user_id")).as("user_tag"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))

  test("manifest carries string zone maps in unsigned-byte order") {
    val d = tmp("graft_gshard_str_")
    ShardFormat.write(tagged, d, "user_id", 8)
    val m = ShardFormat.readManifest(d)
    m.entries.foreach { e =>
      assert(e.sMin.contains("user_tag") && e.sMax.contains("user_tag"))
      assert(java.util.Arrays.compareUnsigned(
        ShardFormat.unb64(e.sMin("user_tag")),
        ShardFormat.unb64(e.sMax("user_tag"))) <= 0)
    }
    // bounds really bound: global min/max match the data
    val lo = new String(ShardFormat.unb64(
      m.entries.map(_.sMin("user_tag")).min))
    assert(lo == tagged.agg(min(col("user_tag"))).head.getString(0))
  }

  test("string predicates prune files at planning time, values exact") {
    val d = tmp("graft_gshard_strp_")
    ShardFormat.write(tagged, d, "user_id", 8)
    val m = ShardFormat.readManifest(d)
    assert(m.entries.size >= 4, "degenerate: too few files")
    val thr = new String(ShardFormat.unb64(
      m.entries.map(_.sMin("user_tag")).sorted.apply(m.entries.size / 2)))
    val scan = spark.read.format("gshard").load(d)
      .filter(col("user_tag") < thr)
    assert(scan.rdd.getNumPartitions < m.entries.size,
      s"string zone maps pruned nothing: ${scan.rdd.getNumPartitions}" +
        s"/${m.entries.size}")
    def rows(df: DataFrame) = df.select(col("user_id"), col("user_tag"),
      col("cents")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows(scan) == rows(tagged.filter(col("user_tag") < thr)))
  }

  test("string skipping is sound for every comparison shape") {
    val d = tmp("graft_gshard_strs_")
    ShardFormat.write(tagged, d, "user_id", 8)
    val via = spark.read.format("gshard").load(d)
    val mid = tagged.agg(max(col("user_tag"))).head.getString(0)
      .replaceAll("\\d{3}$", "000")
    def rows(df: DataFrame) = df.select(col("user_id"), col("user_tag"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val cases = Seq[(DataFrame => DataFrame, String)](
      (df => df.filter(col("user_tag") < mid), "lt"),
      (df => df.filter(col("user_tag") <= mid), "le"),
      (df => df.filter(col("user_tag") > mid), "gt"),
      (df => df.filter(col("user_tag") >= mid), "ge"),
      (df => df.filter(col("user_tag") === mid), "eq"),
      (df => df.filter(col("user_tag").isin("u000000", mid, "zzz")), "in"))
    cases.foreach { case (f, tag) =>
      assert(rows(f(via)) == rows(f(tagged)), s"case $tag diverged")
    }
  }

  // ── txn idempotence ────────────────────────────────────────────────

  test("a replayed txnid append is a no-op with no orphan files") {
    val d = tmp("graft_gshard_txn_")
    val ev = tagged.select(col("user_id"), col("cents"))
    def append(txn: Long, half: Int): Unit =
      ev.filter(col("user_id") % 2 === half).write.format("gshard")
        .option("rangecol", "user_id").option("shards", 4)
        .option("txnid", txn).mode("append").save(d)
    append(0L, 0)
    append(1L, 1)
    val before = spark.read.format("gshard").load(d).count()
    assert(before == ev.count())
    // restart replays batch 1: same txnid, must not double-append
    append(1L, 1)
    val m = ShardFormat.readManifest(d)
    assert(m.lastTxn == 1L)
    assert(spark.read.format("gshard").load(d).count() == before,
      "replayed txn double-appended")
    // count DATA files only (archived generation manifests also end
    // in .gshard now): a replayed commit must delete its staged parts
    val onDisk = new java.io.File(d).list()
      .count(f => f.startsWith("part-") && f.endsWith(".gshard"))
    assert(onDisk == m.entries.size,
      s"replay left orphan files: disk=$onDisk manifest=${m.entries.size}")
    // a NEW txn still applies
    append(2L, 0)
    assert(spark.read.format("gshard").load(d).count() ==
      before + ev.filter(col("user_id") % 2 === 0).count())
  }

  // ── manifest caching in the streaming source ───────────────────────

  test("the streaming source reads the manifest O(1) times per drain, not per call") {
    val d = tmp("graft_gshard_mcache_")
    tagged.select(col("user_id"), col("cents")).write.format("gshard")
      .option("rangecol", "user_id").option("shards", 8)
      .mode("overwrite").save(d)
    val nFiles = ShardFormat.readManifest(d).entries.size
    assert(nFiles >= 8)
    val before = ShardFormat.manifestReads.get()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.format("gshard")
      .option("maxfilespertrigger", "1").load(d)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (b.count() > 0) batches.incrementAndGet(); ()
      }
      .start()
    q.awaitTermination()
    val reads = ShardFormat.manifestReads.get() - before
    assert(batches.get() >= nFiles, s"expected $nFiles batches")
    // source setup (schema inference + scan builder + prepare) costs a
    // handful of reads; per-BATCH cost must be zero under AvailableNow
    // (the cap froze the manifest) — 8+ batches at ≤6 total reads
    assert(reads <= 6L,
      s"manifest re-read per planning call: $reads reads for " +
        s"${batches.get()} batches")
  }

  // ── corruption safety ──────────────────────────────────────────────

  test("a truncated shard file fails loudly instead of hanging") {
    val d = tmp("graft_gshard_trunc_")
    ShardFormat.write(tagged, d, "user_id", 1, chunkRows = 512)
    val m = ShardFormat.readManifest(d)
    val f = Paths.get(d, m.entries.head.file)
    val bytes = Files.readAllBytes(f)
    Files.write(f, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    val e = intercept[Exception] {
      // prune to a non-string column so the reader SKIPS blocks (the
      // skip path is the one that used to spin on skip()==0 at EOF)
      ReadProbe.read(f.toString, m.schema, Seq("cents"))
    }
    assert(e.isInstanceOf[java.io.EOFException] ||
      e.getMessage != null, s"unexpected: $e")
  }

  // ── bloom filters ──────────────────────────────────────────────────

  test("blooms have NO false negatives and genuinely prune mid-range ids") {
    val dir = tmp("gshard_bloom_spec_")
    val proj = tables.events.select(col("user_id"), col("event_id"))
    proj.write.format("gshard").option("rangecol", "user_id")
      .option("shards", 8).option("bloomcol", "event_id")
      .mode("overwrite").save(dir)
    val m = ShardFormat.readManifest(dir)
    assert(m.entries.forall(_.bloom.contains("event_id")),
      "a file is missing its bloom")
    // soundness: every id present in a file MUST hit that file's bloom
    import ShardFormat.Bloom
    val perFile = m.entries.map { e =>
      val ids = ReadProbe
        .read(s"$dir/${e.file}", m.schema, Seq("event_id"))
        .cols(0).map(_.asInstanceOf[Long])
      val bits = ShardFormat.unb64(e.bloom("event_id"))
      ids.foreach { id =>
        assert(Bloom.mightContain(bits, Bloom.hash64(Bloom.longBytes(id))),
          s"FALSE NEGATIVE: id $id missing from ${e.file}'s bloom")
      }
      (e.file, ids.toSet, bits)
    }
    // effectiveness: each id admits few files (its own + rare FPs),
    // though its event_id zone range spans nearly every file
    val all = perFile.flatMap(_._2)
    val sample = all.toSeq.sorted
      .grouped(math.max(1, all.size / 64)).map(_.head).toSeq
    val admitted = sample.map { id =>
      perFile.count { case (_, _, bits) =>
        Bloom.mightContain(bits, Bloom.hash64(Bloom.longBytes(id))) }
    }
    assert(admitted.sum.toDouble / admitted.size < 2.0,
      s"blooms admit too many files on average: ${admitted.sum}/${admitted.size}")
  }

  // ── string dictionary encoding ─────────────────────────────────────

  test("low-cardinality string chunks dictionary-encode; exact roundtrip; " +
      "high-cardinality stays plain") {
    val dir = tmp("gshard_dict_")
    // 30-byte tags from a 5-value set over the events slice: a plain
    // chunk costs ≥30 B/row, the dictionary costs ~1 B/row + 150 B once
    val src = tables.events.select(col("user_id"),
      rpad(col("event_type"), 30, "x").as("tag"),
      when(col("event_id") % 9 === 0, lit(null).cast("string"))
        .otherwise(col("event_type")).as("nullable_tag"))
    src.write.format("gshard").option("rangecol", "user_id")
      .option("shards", 2).mode("overwrite").save(dir)
    val n = src.count()
    var total = 0L
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".gshard"))
      .filterNot(_.getFileName.toString.startsWith("_"))
      .foreach(p => total += Files.size(p))
    // plain encoding of `tag` alone would cost ≥ 30n bytes; the whole
    // file (user_id longs + both string columns + headers) must come
    // in well under that — only the dictionary can achieve it
    assert(total < 30L * n,
      s"dictionary never engaged: $total bytes for $n rows")
    // value-exact roundtrip against the input frame
    val got = spark.read.format("gshard").load(dir)
      .select(col("user_id"), col("tag"), col("nullable_tag"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)))).toSet
    val want = src.collect().map(r => (r.getLong(0), r.getString(1),
      Option(r.getString(2)))).toSet
    assert(got == want)
    // high-cardinality strings must NOT pay the dictionary probe's
    // failure: md5 tags (all distinct) still roundtrip exactly
    val dir2 = tmp("gshard_plain_")
    val hi = tables.events.select(col("user_id"),
      md5(col("event_id").cast("string")).as("tag"))
    hi.write.format("gshard").option("rangecol", "user_id")
      .option("shards", 2).mode("overwrite").save(dir2)
    val got2 = spark.read.format("gshard").load(dir2)
      .select(col("user_id"), col("tag"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got2 == hi.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet)
  }

  leavesNoTempDirs()
}
