package graft.sources

import java.nio.file.{Files, Paths}

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Scale
import graft.sources.shard.{ShardCdc, ShardFormat, ShardOps}

/** MERGE through the gshard catalog + generational TIME TRAVEL +
  * vacuum retention: matched keys update, unmatched insert, untouched
  * files stay physically untouched (metadata-first touched-file
  * discovery off the key zone maps), replay is idempotent via the txn
  * slots, every mutation archives a readable generation, and vacuum
  * reclaims bytes under retention with vacuumed versions failing
  * loudly. The `merge:` cases drive [[ShardOps.merge]] with per-key
  * functions other than the upsert — the versioned-sink contract a
  * `foreachBatch` CDC consumer relies on: atomic commit, pinned
  * reads, replay no-ops, crash invisibility, lost-race detection. */
class ShardMergeSpec extends ShardTempRoot {
  import ShardMergeSpec._

  private def base(n: Int) = {
    val sess = spark
    import sess.implicits._
    (0L until n.toLong).map(i => (i, s"v$i", i * 10L))
      .toDF("id", "tag", "score")
  }

  test("upsert: matched keys update, unmatched insert, untouched " +
      "files stay physically untouched") {
    val sess = spark
    import sess.implicits._
    val d = tmp("basic")
    ShardFormat.write(base(1000), d, "id", 8)
    val before = ShardFormat.readManifest(d)
    // updates: keys 990..1009 — 10 matched (one file's range), 10 new
    val updates = (990L until 1010L).map(i => (i, s"UPD$i", i * 100L))
      .toDF("id", "tag", "score")
    ShardOps.upsert(spark, d, updates, "id")
    val after = ShardFormat.readManifest(d)
    // untouched entries carried over verbatim (same file names)
    val touched = before.entries.filter(e =>
      e.zMax("id") >= 990L).map(_.file).toSet
    assert(touched.nonEmpty && touched.size < before.entries.size)
    assert(after.entries.map(_.file).toSet
      .intersect(before.entries.map(_.file).toSet) ==
      before.entries.map(_.file).toSet -- touched)
    // rows: merge semantics exact
    val got = spark.read.format("gshard").load(d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = ((0L until 990L).map(i => (i, s"v$i", i * 10L)) ++
      (990L until 1010L).map(i => (i, s"UPD$i", i * 100L))).toSet
    assert(got == want)
    // untouched files' BYTES untouched: still on disk, still named
    (before.entries.map(_.file).toSet -- touched).foreach(f =>
      assert(Files.exists(Paths.get(d, f)), f))
  }

  test("upsert replay is idempotent via the txn slot; duplicate and " +
      "NULL source keys reject") {
    val sess = spark
    import sess.implicits._
    val d = tmp("txn")
    ShardFormat.write(base(100), d, "id", 2)
    val u = Seq((5L, "X", 1L)).toDF("id", "tag", "score")
    ShardOps.upsert(spark, d, u, "id", txnId = 1, txnApp = Some("cdc"))
    val gen1 = ShardFormat.readManifest(d).gen
    // replay: same app, same txn — a no-op (no new generation)
    ShardOps.upsert(spark, d, u, "id", txnId = 1, txnApp = Some("cdc"))
    assert(ShardFormat.readManifest(d).gen == gen1)
    assert(spark.read.format("gshard").load(d)
      .filter(col("id") === 5L).head.getString(1) == "X")
    // next txn applies
    ShardOps.upsert(spark, d, Seq((5L, "Y", 2L)).toDF("id", "tag", "score"),
      "id", txnId = 2, txnApp = Some("cdc"))
    assert(spark.read.format("gshard").load(d)
      .filter(col("id") === 5L).head.getString(1) == "Y")
    // duplicate source keys reject loudly
    val dup = Seq((7L, "a", 1L), (7L, "b", 2L)).toDF("id", "tag", "score")
    val ex = intercept[IllegalArgumentException] {
      ShardOps.upsert(spark, d, dup, "id")
    }
    assert(ex.getMessage.contains("duplicate or NULL key"))
  }

  test("upsert over an INT-keyed table works (the key family the " +
      "require blesses must not crash in writeData)") {
    val sess = spark
    import sess.implicits._
    val d = tmp("intkey")
    val base = (0 until 100).map(i => (i, s"v$i")).toDF("id", "tag")
    base.write.format("gshard").option("rangecol", "id")
      .option("shards", 2).mode("overwrite").save(d)
    ShardOps.upsert(spark, d,
      Seq((5, "X"), (200, "NEW")).toDF("id", "tag"), "id")
    val got = spark.read.format("gshard").load(d).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got.size == 101)
    assert(got(5) == "X" && got(200) == "NEW" && got(6) == "v6")
  }

  test("time travel: every mutation archives a readable generation; " +
      "VERSION AS OF through SQL; vacuumed versions fail loudly; " +
      "writes to pinned versions reject") {
    val sess = spark
    import sess.implicits._
    val wh = tmp("tt_wh")
    spark.conf.set("spark.sql.catalog.gshard_tt",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_tt.warehouse", wh)
    base(50).createOrReplaceTempView("tt_src_a")
    base(50).withColumn("id", col("id") + 100L)
      .createOrReplaceTempView("tt_src_b")
    spark.sql("DROP TABLE IF EXISTS gshard_tt.main.t")
    spark.sql("CREATE TABLE gshard_tt.main.t AS SELECT * FROM tt_src_a")
    spark.sql("INSERT INTO gshard_tt.main.t SELECT * FROM tt_src_b")
    val d = s"$wh/main/t"
    val head = ShardFormat.readManifest(d)
    assert(head.gen == 2L) // gen0 empty create, gen1 CTAS data, gen2 append
    // SQL VERSION AS OF: the pre-append generation
    assert(spark.sql(
      "SELECT count(*) FROM gshard_tt.main.t VERSION AS OF 1")
      .head.getLong(0) == 50L)
    assert(spark.sql("SELECT count(*) FROM gshard_tt.main.t")
      .head.getLong(0) == 100L)
    // the path API equivalent
    assert(spark.read.format("gshard").option("versionAsOf", "1")
      .load(d).count() == 50L)
    // a version beyond head: not committed
    val exHi = intercept[Exception] {
      spark.sql("SELECT count(*) FROM gshard_tt.main.t VERSION AS OF 9")
        .collect()
    }
    assert(exHi.getMessage.contains("not committed"))
    // vacuum with retention 1: v0 drops, v1 survives
    ShardFormat.vacuum(d, keepVersions = 1)
    assert(spark.read.format("gshard").option("versionAsOf", "1")
      .load(d).count() == 50L)
    val exV = intercept[Exception] {
      spark.read.format("gshard").option("versionAsOf", "0").load(d).count()
    }
    assert(exV.getMessage.contains("vacuumed"))
    // pinned versions are read-only
    val exW = intercept[Exception] {
      spark.sql("DELETE FROM gshard_tt.main.t VERSION AS OF 1")
    }
    assert(exW.getMessage != null)
  }

  test("upsert over a VECTOR table: embedding rows update/insert " +
      "bit-exactly (MERGE composed with vector columns)") {
    val d = tmp("vec")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("emb",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false))))
    def frame(ids: Seq[Long], scale: Float) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(i =>
          org.apache.spark.sql.Row(i,
            Array.tabulate(8)(j => (i * 8 + j) * scale))), 2), schema)
    ShardFormat.write(frame(0L until 100L, 0.5f), d, "id", 4)
    // update ids 90..99, insert 200..204, with a different scale
    ShardOps.upsert(spark, d,
      frame((90L until 100L) ++ (200L until 205L), 2.0f), "id")
    val got = spark.read.format("gshard").load(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(got.size == 105)
    assert(got(5L) == Seq.tabulate(8)(j => (5 * 8 + j) * 0.5f))
    assert(got(95L) == Seq.tabulate(8)(j => (95 * 8 + j) * 2.0f))
    assert(got(202L) == Seq.tabulate(8)(j => (202 * 8 + j) * 2.0f))
  }

  test("CALL vacuum from pure SQL: sweeps under retention and " +
      "reports (n_swept, n_retained); unknown procedures reject") {
    val sess = spark
    import sess.implicits._
    val wh = tmp("proc_wh")
    spark.conf.set("spark.sql.catalog.gshard_proc",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_proc.warehouse", wh)
    base(60).createOrReplaceTempView("proc_src_a")
    base(60).withColumn("id", col("id") + 100L)
      .createOrReplaceTempView("proc_src_b")
    spark.sql("DROP TABLE IF EXISTS gshard_proc.main.t")
    spark.sql("CREATE TABLE gshard_proc.main.t AS SELECT * FROM proc_src_a")
    spark.sql("INSERT INTO gshard_proc.main.t SELECT * FROM proc_src_b")
    spark.sql("DELETE FROM gshard_proc.main.t WHERE id >= 100")
    val d = s"$wh/main/t"
    assert(ShardFormat.archivedGens(d).size == 3) // v0 empty, v1, v2
    // keep 1: the newest archive (the pre-delete generation) still
    // references the deleted files — nothing sweeps yet, by design
    val r1 = spark.sql(
      "CALL gshard_proc.vacuum(table => 'main.t', keep_versions => 1)")
      .head
    assert(r1.getLong(0) == 0L)
    assert(r1.getLong(1) == 2L) // 1 archive + head
    assert(ShardFormat.archivedGens(d).size == 1)
    // keep 0: the pre-delete generation drops, its files sweep
    val r0 = spark.sql(
      "CALL gshard_proc.vacuum(table => 'main.t', keep_versions => 0)")
      .head
    assert(r0.getLong(0) >= 1L, "nothing swept")
    assert(r0.getLong(1) == 1L) // head only
    assert(spark.table("gshard_proc.main.t").count() == 60L)
    val ex = intercept[Exception] {
      spark.sql("CALL gshard_proc.nonsense()").collect()
    }
    assert(ex.getMessage != null)
  }

  test("upsert keeps a version readable: pre-merge generation reads " +
      "the pre-merge rows; vacuum(0) then sweeps the rewritten files") {
    val sess = spark
    import sess.implicits._
    val d = tmp("ttm")
    ShardFormat.write(base(200), d, "id", 4)
    val preGen = ShardFormat.readManifest(d).gen
    val u = Seq((0L, "Z", 999L), (500L, "NEW", 1L)).toDF("id", "tag", "score")
    ShardOps.upsert(spark, d, u, "id")
    // pre-merge generation: original row 0, no row 500
    val v0 = spark.read.format("gshard")
      .option("versionAsOf", preGen.toString).load(d)
    assert(v0.filter(col("id") === 0L).head.getString(1) == "v0")
    assert(v0.filter(col("id") === 500L).count() == 0L)
    // head: merged
    val h = spark.read.format("gshard").load(d)
    assert(h.filter(col("id") === 0L).head.getString(1) == "Z")
    assert(h.filter(col("id") === 500L).count() == 1L)
    // vacuum reclaims the replaced file's bytes
    val swept = ShardFormat.vacuum(d, 0)
    assert(swept.nonEmpty)
    assert(spark.read.format("gshard").load(d).count() == 201L)
  }

  test("STRING-keyed upsert: lexicographic zone maps bound the " +
      "touched set, untouched files stay physically identical, " +
      "replay is idempotent") {
    val sess = spark
    import sess.implicits._
    val d = tmp("strkey")
    // keys k0000..k0999 — zero-padded so lexicographic == numeric
    val base = (0 until 1000).map(i => (f"k$i%04d", i.toLong))
      .toDF("key", "score")
    base.write.format("gshard").option("rangecol", "key")
      .option("shards", 8).mode("overwrite").save(d)
    val before = ShardFormat.readManifest(d)
    assert(before.entries.forall(_.sMin.contains("key")),
      "string zone maps must fold at write")
    // updates hit only the TOP of the key space + one new key
    val upd = ((990 until 1000).map(i => (f"k$i%04d", -1L)) :+
      (("zz_new", 7L))).toDF("key", "score")
    ShardOps.upsert(spark, d, upd, "key", txnId = 1, txnApp = Some("s"))
    val after = ShardFormat.readManifest(d)
    // untouched files carried over verbatim (lexicographic bounding)
    val touched = before.entries.filter(e =>
      new String(ShardFormat.unb64(e.sMax("key")), "UTF-8") >= "k0990")
      .map(_.file).toSet
    assert(touched.nonEmpty && touched.size < before.entries.size)
    assert(after.entries.map(_.file).toSet
      .intersect(before.entries.map(_.file).toSet) ==
      before.entries.map(_.file).toSet -- touched)
    val got = spark.read.format("gshard").load(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 1001)
    assert(got("k0995") == -1L && got("zz_new") == 7L && got("k0100") == 100L)
    // replay no-ops on the txn slot
    val gen = after.gen
    ShardOps.upsert(spark, d, upd, "key", txnId = 1, txnApp = Some("s"))
    assert(ShardFormat.readManifest(d).gen == gen)
  }

  test("DATE- and DECIMAL-keyed upserts merge in the storage-long " +
      "domain (days / unscaled)") {
    val sess = spark
    import sess.implicits._
    val dd = tmp("datekey")
    val dbase = (0 until 200).map(i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
        .plusDays(i.toLong)), i.toLong)).toDF("day", "n")
    dbase.write.format("gshard").option("rangecol", "day")
      .option("shards", 4).mode("overwrite").save(dd)
    val before = ShardFormat.readManifest(dd)
    ShardOps.upsert(spark, dd, Seq(
      (java.sql.Date.valueOf("2024-01-05"), -5L),
      (java.sql.Date.valueOf("2025-12-31"), 99L)).toDF("day", "n"), "day")
    val after = ShardFormat.readManifest(dd)
    // only the file holding 2024-01-05 rewrote
    assert(after.entries.map(_.file).toSet
      .intersect(before.entries.map(_.file).toSet).size ==
      before.entries.size - 1)
    val gotD = spark.read.format("gshard").load(dd).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(gotD.size == 201 && gotD("2024-01-05") == -5L &&
      gotD("2025-12-31") == 99L && gotD("2024-01-06") == 5L)

    val dc = tmp("deckey")
    val cbase = (0 until 100).map(i =>
      (BigDecimal(i) / 100, i.toLong)).toDF("price", "n")
      .select(col("price").cast("decimal(10,2)").as("price"), col("n"))
    cbase.write.format("gshard").option("rangecol", "price")
      .option("shards", 4).mode("overwrite").save(dc)
    ShardOps.upsert(spark, dc,
      Seq((BigDecimal("0.05"), -1L), (BigDecimal("9.99"), 42L))
        .toDF("price", "n")
        .select(col("price").cast("decimal(10,2)").as("price"), col("n")),
      "price")
    val gotC = spark.read.format("gshard").load(dc).collect()
      .map(r => r.getDecimal(0).toPlainString -> r.getLong(1)).toMap
    assert(gotC.size == 101 && gotC("0.05") == -1L && gotC("9.99") == 42L &&
      gotC("0.06") == 6L)
  }

  test("unsupported merge key types reject with a named error") {
    val sess = spark
    import sess.implicits._
    val d = tmp("badkey")
    val base = Seq((1.5, 1L), (2.5, 2L)).toDF("v", "n")
    base.write.format("gshard").option("rangecol", "n")
      .mode("overwrite").save(d)
    val ex = intercept[IllegalArgumentException] {
      ShardOps.upsert(spark, d, Seq((1.5, 9L)).toDF("v", "n"), "v")
    }
    assert(ex.getMessage.contains("merge key"))
  }

  // ── ShardOps.merge with general per-key functions ─────────────────

  private def kv(rows: (Long, Long)*): DataFrame = {
    val sess = spark
    import sess.implicits._
    rows.toDF("k", "v")
  }

  private def kvTable(name: String, n: Long, shards: Int): String = {
    val d = SourceOps.staging(name)
    ShardFormat.write(kv((0L until n).map(k => (k, k * 10L)): _*), d, "k",
      shards)
    d
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def head(d: String) = pairs(spark.read.format("gshard").load(d))

  private def at(d: String, v: Long) = pairs(spark.read.format("gshard")
    .option("versionAsOf", v.toString).load(d))

  private def gen(d: String) = ShardFormat.readManifest(d).gen

  private def files(d: String) =
    ShardFormat.readManifest(d).entries.map(_.file).toSet

  /** Every file name in `d`. */
  private def listing(d: String) = ShardFormat.listDir(Paths.get(d)).toSet

  private def mergeKv(d: String, rows: Seq[(Long, Long)], txnId: Long = -1L,
      app: Option[String] = None): Unit =
    ShardOps.merge(spark, d, kv(rows: _*), "k", 0, txnId, app)(latest)

  test("merge: the per-key function runs once per source key and sees " +
      "only that key's touched and source rows") {
    val d = kvTable("sm_perkey", 64, 4)
    calls.clear()
    // key 3 twice in the source, 17 once, 64 is new; the touched files
    // hold keys 0..31, all but 3 and 17 of them absent from the source
    ShardOps.merge(spark, d, kv((3L, 1L), (3L, 2L), (17L, 1000L),
      (64L, 640L)), "k", 0, -1L, None)(logged)
    val got = calls.asScala.toSeq.sortBy(_._1)
    assert(got.map(_._1) == Seq(3L, 17L, 64L), got)
    assert(got == Seq(
      (3L, Seq((3L, 30L)), Set((3L, 1L), (3L, 2L))),
      (17L, Seq((17L, 170L)), Set((17L, 1000L))),
      (64L, Seq.empty, Set((64L, 640L)))), got)
    val h = head(d).toMap
    assert(h.size == 65 && h(3L) == 30L && h(17L) == 1000L && h(64L) == 640L)
    assert((0L until 64L).filterNot(Set(3L, 17L)).forall(k => h(k) == k * 10L))
  }

  test("merge: a key past the per-key row bound fails the commit, " +
      "naming the key") {
    val d = kvTable("sm_bound", 64, 4)
    val listed = listing(d)
    val big = spark.range(ShardFormat.DefaultChunkRows.toLong + 1)
      .select(lit(5L).as("k"), col("id").as("v"))
    val ex = intercept[Exception] {
      ShardOps.merge(spark, d, big, "k", 0, -1L, None)(latest)
    }
    assert(ex.getMessage.contains(
      s"key 5 brings more than ${ShardFormat.DefaultChunkRows}"), ex.getMessage)
    assert(gen(d) == 0L && head(d).toMap.apply(5L) == 50L)
    assert(listing(d) == listed, "the failed rewrite left its staged files")
  }

  test("merge: a per-key output that does not match the table's columns " +
      "or its key fails the commit") {
    val d = kvTable("sm_badout", 64, 4)
    val listed = listing(d)
    val wrongType: ShardOps.PerKey = (_, s) =>
      Seq(InternalRow(s.head.getLong(0), UTF8String.fromString("x")))
    val wrongKey: ShardOps.PerKey = (_, s) =>
      Seq(InternalRow(s.head.getLong(0) + 1, 1L))
    Seq(wrongType, wrongKey).foreach { f =>
      val ex = intercept[Exception] {
        ShardOps.merge(spark, d, kv((7L, 1L)), "k", 0, -1L, None)(f)
      }
      assert(ex.getMessage.contains("does not match"), ex.getMessage)
      assert(listing(d) == listed, "the failed rewrite left its staged files")
    }
    assert(gen(d) == 0L && head(d).toMap.apply(7L) == 70L)
  }

  test("merge: a failed rewrite deletes the files its other tasks " +
      "wrote, before and after the failure") {
    val d = kvTable("sm_late", 64, 4)
    val listed = listing(d)
    // 5 shards of 13 keys over [0, 64]: keys 7, 30 and 64 fall in
    // shards 0, 2 and 4, which hash to three different write tasks.
    // Key 30's task writes its files before key 7's task fails; key 64
    // is its task's last row, so its per-key call runs after the
    // task's input ends, and that task writes after the job has failed
    val ex = intercept[Exception] {
      ShardOps.merge(spark, d, kv((7L, 1L), (30L, 1L), (64L, 1L)), "k", 5,
        -1L, None)(slowFailOn7)
    }
    assert(ex.getMessage.contains("fail at 7"), ex.getMessage)
    Thread.sleep(2500) // key 64's files land about 1 s after the failure
    assert(listing(d) == listed, "the failed rewrite left its staged files")
    assert(gen(d) == 0L)
  }

  test("merge: a key-local function applies and bumps the generation") {
    val d = kvTable("sm_basic", 2, 1)
    assert(gen(d) == 0L)
    mergeKv(d, Seq((1L, 25L), (2L, 30L)))
    assert(gen(d) == 1L)
    assert(head(d) == Set((0L, 0L), (1L, 25L), (2L, 30L)))
  }

  test("merge: a reader pinned to a generation is snapshot-isolated") {
    val d = kvTable("sm_snapshot", 2, 1)
    val pinned = spark.read.format("gshard").option("versionAsOf", "0").load(d)
    mergeKv(d, Seq((1L, 99L)))
    assert(gen(d) == 1L)
    assert(pairs(pinned) == Set((0L, 0L), (1L, 10L)),
      "the pinned frame leaked a later commit")
  }

  test("merge: a replayed txn id is a no-op") {
    val d = kvTable("sm_idem", 2, 1)
    mergeKv(d, Seq((1L, 11L)), txnId = 0L, app = Some("sink"))
    val (g1, v1) = (gen(d), head(d))
    // a restart replays batch 0 with a larger value: must not apply
    mergeKv(d, Seq((1L, 12L)), txnId = 0L, app = Some("sink"))
    assert(gen(d) == g1 && head(d) == v1)
  }

  test("merge: a crash before the commit is invisible; the retry commits") {
    val d = kvTable("sm_crash", 64, 4)
    val before = head(d)
    // the merge dies inside its data write, after the touched read
    intercept[Exception] {
      ShardOps.merge(spark, d, kv((7L, 777L)), "k", 0, -1L, None)(crashOn7)
    }
    assert(gen(d) == 0L && head(d) == before)
    mergeKv(d, Seq((7L, 777L)))
    assert(gen(d) == 1L && head(d) == before - ((7L, 70L)) + ((7L, 777L)))
    // whatever the crash staged is unreferenced: vacuum sweeps it
    ShardFormat.vacuum(d, keepVersions = 0)
    val onDisk = ShardFormat.listDir(Paths.get(d))
      .filter(f => f.startsWith("part-") || f.startsWith("chg-")).toSet
    val m = ShardFormat.readManifest(d)
    assert(onDisk == m.entries.map(_.file).toSet ++ m.changes.map(_._1))
  }

  test("merge generations: vacuum keeps the retained window readable") {
    val d = kvTable("sm_vacuum", 2, 1)
    (0 to 2).foreach(b => mergeKv(d, Seq((1L, 100L + b))))
    assert(gen(d) == 3L)
    ShardFormat.vacuum(d, keepVersions = 1)
    assert(head(d)((1L, 102L)) && at(d, 2L)((1L, 101L)))
    val ex = intercept[Exception](at(d, 1L))
    assert(ex.getMessage.contains("vacuumed"))
    assert(ShardFormat.vacuum(d, keepVersions = 1).isEmpty) // nothing left
    mergeKv(d, Seq((9L, 9L))) // the vacuumed table still commits
    assert(gen(d) == 4L)
  }

  test("merge rewrites only touched files: untouched names survive") {
    val d = kvTable("sm_touched", 64, 4)
    val before = ShardFormat.readManifest(d)
    mergeKv(d, Seq((7L, 777L)))
    val touched = before.entries
      .filter(e => e.zMin("k") <= 7L && 7L <= e.zMax("k")).map(_.file).toSet
    assert(touched.size == 1)
    val old = before.entries.map(_.file).toSet
    assert(files(d).intersect(old) == old -- touched)
    val got = head(d).toMap
    assert(got(7L) == 777L && got(8L) == 80L && got.size == 64)
  }

  test("merge results do not depend on the table's shard count") {
    val d8 = kvTable("sm_eq8", 64, 8)
    val d1 = kvTable("sm_eq1", 64, 1)
    Seq(Seq((3L, 1000L), (17L, 1001L)),
        Seq((3L, 1002L), (64L, 1003L)), // 64 = brand-new key
        Seq((40L, 1004L))).zipWithIndex.foreach { case (b, i) =>
      mergeKv(d8, b, txnId = i.toLong)
      mergeKv(d1, b, txnId = i.toLong)
    }
    assert(head(d8) == head(d1))
    assert(gen(d8) == gen(d1))
  }

  test("time travel reads every merge generation exactly") {
    val d = kvTable("sm_tt", 64, 4)
    mergeKv(d, Seq((1L, 111L)))
    mergeKv(d, Seq((2L, 222L)))
    def v(g: Long) = at(d, g).toMap
    assert(v(0L)(1L) == 10L && v(0L)(2L) == 20L)
    assert(v(1L)(1L) == 111L && v(1L)(2L) == 20L)
    assert(v(2L)(1L) == 111L && v(2L)(2L) == 222L)
    ShardFormat.vacuum(d, keepVersions = 1) // gen 0 drops
    intercept[Exception](at(d, 0L))
    assert(v(1L)(1L) == 111L && v(2L)(2L) == 222L)
  }

  test("merge replay no-ops are per txn app: another app's id applies") {
    val d = kvTable("sm_apps", 64, 4)
    mergeKv(d, Seq((5L, 555L)), txnId = 0L, app = Some("a"))
    mergeKv(d, Seq((5L, 999L)), txnId = 0L, app = Some("a"))
    assert(gen(d) == 1L && head(d).toMap.apply(5L) == 555L)
    mergeKv(d, Seq((6L, 666L)), txnId = 0L, app = Some("b"))
    assert(gen(d) == 2L && head(d).toMap.apply(6L) == 666L)
    assert(ShardFormat.readManifest(d).txns == Map("a" -> 0L, "b" -> 0L))
  }

  test("two interleaved merges: the loser fails loudly, the winner stands") {
    val d = kvTable("sm_race", 2, 1)
    // the lost-update interleaving: A plans against gen 0 and waits in
    // its per-key function while B commits a whole merge
    val a = Future(intercept[java.util.ConcurrentModificationException] {
      ShardOps.merge(spark, d, kv((3L, 30L)), "k", 0, -1L, None)(gated)
    })(ExecutionContext.global)
    assert(entered.await(2, TimeUnit.MINUTES), "merge A never ran")
    try mergeKv(d, Seq((9L, 90L))) finally release.countDown()
    Await.result(a, Duration(2, TimeUnit.MINUTES))
    assert(gen(d) == 1L && head(d) == Set((0L, 0L), (1L, 10L), (9L, 90L)))
    mergeKv(d, Seq((3L, 30L))) // the loser re-plans against the new head
    assert(head(d) == Set((0L, 0L), (1L, 10L), (9L, 90L), (3L, 30L)))
  }

  test("merge with no file to touch sees an empty table and inserts") {
    val e = SourceOps.staging("sm_empty")
    ShardFormat.write(kv(), e, "k", 4)
    mergeKv(e, Seq((1L, 10L), (2L, 20L)))
    assert(gen(e) == 1L && head(e) == Set((1L, 10L), (2L, 20L)))
    // keys outside every file's range: nothing rewritten
    val d = kvTable("sm_outside", 64, 4)
    val old = files(d)
    mergeKv(d, Seq((1000L, 1L)))
    assert(old.subsetOf(files(d)) && head(d).size == 65)
  }

  test("vacuum sweeps only files no retained generation references") {
    val d = kvTable("sm_vac_share", 64, 4)
    val old = files(d)
    mergeKv(d, Seq((7L, 777L)))
    val replaced = old -- files(d)
    // two empty merges: new generations that rewrite nothing
    mergeKv(d, Seq.empty)
    mergeKv(d, Seq.empty)
    assert(gen(d) == 3L && replaced.size == 1)
    // retaining gens 1..3 leaves only gen 0's replaced file unreferenced
    assert(ShardFormat.vacuum(d, keepVersions = 2).toSet == replaced)
    assert(at(d, 1L).toMap.apply(7L) == 777L)
    intercept[Exception](at(d, 0L))
    assert(ShardFormat.vacuum(d, keepVersions = 2).isEmpty)
  }

  test("a merge commit is one new generation record, no temp residue") {
    val d = kvTable("sm_commit", 2, 1)
    mergeKv(d, Seq((1L, 11L)))
    val names = ShardFormat.listDir(Paths.get(d)).toSet
    assert(Set("_manifest.gshard", "_manifest.v0.gshard",
      "_manifest.v1.gshard").subsetOf(names))
    assert(!names.exists(_.startsWith("_manifest.v2")))
    assert(!names.exists(_.endsWith(".tmp")), s"temp residue: $names")
  }

  test("merge: an SCD2 merge emits several rows per key (beyond upsert)") {
    val sess = spark
    import sess.implicits._
    val d = SourceOps.staging("sm_scd2")
    // user 1 and 2 each hold one open version from day 0
    val dim = Seq((1L, "a", 0, 3L), (2L, "a", 0, 2L))
      .toDF("user_id", "status", "valid_from", "n_days_observed")
      .select(col("user_id"), col("status"), col("valid_from"),
        lit(null).cast("int").as("valid_to"), lit(true).as("is_current"),
        col("n_days_observed"))
    ShardFormat.write(dim, d, "user_id", 2)
    // day 10: user 1 changes status (close + append), user 3 is new
    val incr = Seq((1L, 10, "b", 1L, 1L), (3L, 10, "a", 2L, 2L))
      .toDF("user_id", "day", "event_type", "us", "event_id")
    ShardOps.merge(spark, d, incr, "user_id", 0, -1L, None)(Scale.scd2PerKey)
    def dimRows(df: DataFrame) = df.collect().map(r => (r.getLong(0),
      r.getString(1), r.getInt(2), Option(r.get(3)), r.getBoolean(4),
      r.getLong(5))).toSet
    val closed = (1L, "a", 0, Some(10), false, 3L)
    val opened = (1L, "b", 10, None, true, 1L)
    val fresh = (3L, "a", 10, None, true, 1L)
    val user2 = (2L, "a", 0, None, true, 2L)
    assert(dimRows(spark.read.format("gshard").load(d)) ==
      Set(closed, opened, fresh, user2))
    // the commit's change rows are the net difference: user 1's old
    // open version out, its two versions and user 3 in, user 2 absent
    val q = spark.readStream.format("gshard-cdc").option("rowlevel", "true")
      .option("startingversion", "0").load(d)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", SourceOps.staging("sm_scd2_ck"))
      .format("memory").queryName("sm_scd2_cdc").start()
    q.awaitTermination()
    val changes = spark.table("sm_scd2_cdc")
    val side = changes.collect().map(r =>
      (r.getLong(0), r.getInt(2), r.getAs[Int](ShardCdc.SideCol))).toSet
    assert(side == Set((1L, 0, -1), (1L, 0, 1), (1L, 10, 1), (3L, 10, 1)),
      side.toString)
  }

  // ── per-commit job budget ─────────────────────────────────────────

  test("job budget: an upsert of driver-held rows into an 8-file table " +
      "with untouched files runs at most 2 Spark jobs (the fused " +
      "rewrite; the source pass runs on the driver)") {
    val sess = spark
    import sess.implicits._
    val d = tmp("jobs_upsert")
    ShardFormat.write(base(1000), d, "id", 8)
    val before = ShardFormat.readManifest(d).entries.map(_.file).toSet
    val updates = (990L until 1010L).map(i => (i, s"UPD$i", i * 100L))
      .toDF("id", "tag", "score")
    val jobs = JobCount(spark)(ShardOps.upsert(spark, d, updates, "id"))
    val after = ShardFormat.readManifest(d)
    assert(before.size == 8 &&
      after.entries.map(_.file).toSet.intersect(before).size == 7)
    assert(after.changes.map(_._2).sum == 30L) // 10 updated ×2, 10 new
    assert(jobs <= 2, s"upsert ran $jobs Spark jobs")
  }

  test("job budget: the SCD2 merge (Scale.scd2PerKey) of driver-held " +
      "rows runs at most 2 Spark jobs") {
    val sess = spark
    import sess.implicits._
    val d = tmp("jobs_scd2")
    val dim = (1L to 40L).map(u => (u, "a", 0, u))
      .toDF("user_id", "status", "valid_from", "n_days_observed")
      .select(col("user_id"), col("status"), col("valid_from"),
        lit(null).cast("int").as("valid_to"), lit(true).as("is_current"),
        col("n_days_observed"))
    ShardFormat.write(dim, d, "user_id", 8)
    val incr = Seq((1L, 10, "b", 1L, 1L), (2L, 10, "a", 2L, 2L),
      (90L, 10, "a", 3L, 3L))
      .toDF("user_id", "day", "event_type", "us", "event_id")
    val jobs = JobCount(spark)(ShardOps.merge(spark, d, incr, "user_id", 0,
      -1L, None)(Scale.scd2PerKey))
    assert(spark.read.format("gshard").load(d).count() == 42L)
    assert(jobs <= 2, s"SCD2 merge ran $jobs Spark jobs")
  }

  // ── the source pass: driver-held versus distributed sources ───────

  /** Upserts `updates` (driver-held) into one fresh copy of `table`,
    * and the same rows as a distributed frame into another; returns
    * per side (jobs run, the key bounds of each file rewritten, the
    * table's rows after). Both copies are written alike, so equal
    * bounds mean the same files. */
  private def upsertBothWays(tag: String, table: DataFrame, key: String,
      shards: Int, updates: DataFrame) = {
    val distributed = spark.createDataFrame(updates.rdd, updates.schema)
    Seq(updates, distributed).zipWithIndex.map { case (u, i) =>
      val d = tmp(s"${tag}_$i")
      table.write.format("gshard").option("rangecol", key)
        .option("shards", shards.toLong).mode("overwrite").save(d)
      val before = ShardFormat.readManifest(d).entries
      val jobs = JobCount(spark)(ShardOps.upsert(spark, d, u, key))
      val kept = files(d)
      val touched = before.filterNot(e => kept(e.file)).map(e =>
        (e.zMin.get(key), e.zMax.get(key), e.sMin.get(key), e.sMax.get(key)))
      (jobs, touched.toSet, spark.read.format("gshard").load(d)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq)
    } match { case Seq(local, dist) => (local, dist) }
  }

  test("source pass: a distributed source upserts in at most 4 jobs " +
      "and leaves the table the driver-held upsert leaves") {
    val sess = spark
    import sess.implicits._
    val updates = (990L until 1010L).map(i => (i, s"UPD$i", i * 100L))
      .toDF("id", "tag", "score")
    val ((lJobs, lTouched, lRows), (dJobs, dTouched, dRows)) =
      upsertBothWays("both_long", base(1000), "id", 8, updates)
    assert(lJobs <= 2, s"driver-held upsert ran $lJobs Spark jobs")
    assert(dJobs <= 4, s"distributed upsert ran $dJobs Spark jobs")
    assert(lTouched.nonEmpty && lTouched.size < 8 && dTouched == lTouched,
      (lTouched, dTouched))
    assert(lRows.size == 1010 && dRows == lRows)
  }

  test("source pass: a STRING-keyed driver-held upsert rewrites the " +
      "files the distributed pass marks") {
    val sess = spark
    import sess.implicits._
    val table = (0 until 1000).map(i => (f"k$i%04d", i.toLong))
      .toDF("key", "score")
    // keys in two files' ranges, one past every file
    val updates = ((100 until 105).map(i => (f"k$i%04d", -1L)) ++
      (990 until 995).map(i => (f"k$i%04d", -2L)) :+ (("zz_new", 7L)))
      .toDF("key", "score")
    val ((lJobs, lTouched, lRows), (_, dTouched, dRows)) =
      upsertBothWays("both_str", table, "key", 8, updates)
    assert(lJobs <= 2, s"driver-held upsert ran $lJobs Spark jobs")
    assert(lTouched.size >= 2 && lTouched.size < 8 && dTouched == lTouched,
      (lTouched, dTouched))
    assert(lRows.size == 1001 && dRows == lRows)
  }

  test("source pass: driver-held duplicate and NULL keys reject before " +
      "any file is written") {
    val sess = spark
    import sess.implicits._
    val d = tmp("local_dup")
    ShardFormat.write(base(100), d, "id", 2)
    val listed = listing(d)
    val dup = Seq((7L, "a", 1L), (7L, "b", 2L)).toDF("id", "tag", "score")
    val nul = Seq[(java.lang.Long, String, Long)]((null, "a", 1L),
      (8L, "b", 2L)).toDF("id", "tag", "score")
    for (bad <- Seq(dup, nul)) {
      val ex = intercept[IllegalArgumentException] {
        ShardOps.upsert(spark, d, bad, "id")
      }
      assert(ex.getMessage.contains("duplicate or NULL key"), ex.getMessage)
      assert(listing(d) == listed)
    }
    assert(gen(d) == 0L)
  }

  leavesNoTempDirs()
}

/** The spec's per-key functions. They live outside the suite so a write
  * task's closure never captures it; local-mode tasks run in the test
  * JVM, so the call log and the latches are shared with the test. */
object ShardMergeSpec {

  /** Latest-version-wins over one key of a (k, v) table: one (k, max v)
    * row. */
  val latest: ShardOps.PerKey = (touched, source) => {
    val rows = touched ++ source
    Seq(InternalRow(rows.head.getLong(0), rows.map(_.getLong(1)).max))
  }

  /** [[latest]], except that key 7 crashes its write task. */
  val crashOn7: ShardOps.PerKey = (touched, source) =>
    if (source.head.getLong(0) == 7L) throw new IllegalStateException("crash")
    else latest(touched, source)

  /** Key 7 fails its write task after 0.5 s, key 64 merges as
    * [[latest]] after 1.5 s, and every other key at once. The waits
    * spin: a cancelled task's interrupt does not cut them short. */
  val slowFailOn7: ShardOps.PerKey = (touched, source) => {
    def spin(ms: Long): Unit = {
      val until = System.nanoTime + ms * 1000L * 1000L
      while (System.nanoTime < until) {}
    }
    source.head.getLong(0) match {
      case 7L => spin(500); throw new IllegalStateException("fail at 7")
      case 64L => spin(1500); latest(touched, source)
      case _ => latest(touched, source)
    }
  }

  /** Every call of [[logged]]: (key, touched (k, v) rows, source (k, v)
    * rows). */
  val calls = new ConcurrentLinkedQueue[(Long, Seq[(Long, Long)], Set[(Long, Long)])]

  private def kvs(rows: Seq[InternalRow]) = rows.map(r => (r.getLong(0), r.getLong(1)))

  /** [[latest]], logging each call in [[calls]]. */
  val logged: ShardOps.PerKey = (touched, source) => {
    calls.add((source.head.getLong(0), kvs(touched), kvs(source).toSet))
    latest(touched, source)
  }

  /** [[latest]] that signals `entered`, then waits for `release`. */
  val entered = new CountDownLatch(1)
  val release = new CountDownLatch(1)
  val gated: ShardOps.PerKey = (touched, source) => {
    entered.countDown()
    release.await(2, TimeUnit.MINUTES)
    latest(touched, source)
  }
}
