package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.shard.{ShardCdc, ShardFormat, ShardOps}
import graft.sources.shard.tests.ChangeProbe

/** Streaming CHANGE DATA FEED over gshard generations (r15 verdict
  * task #5): `readStream.format("gshard-cdc")` — offsets ARE
  * generations, each batch is the net ±file delta between two
  * retained manifests, and [[ShardCdc.classify]] folds a ±batch into
  * B60's insert/update/delete rows. Checkpoint resume across upserts
  * is the load-bearing property: each commit's changes are emitted
  * EXACTLY ONCE across restarts. */
class ShardCdcSpec extends ShardTempRoot {

  private def base(n: Int) = {
    val sess = spark
    import sess.implicits._
    (0L until n.toLong).map(i => (i, s"v$i", i * 10L))
      .toDF("id", "tag", "score")
  }

  /** Drain all available CDC batches once (AvailableNow), appending
    * raw ± rows to an in-memory table; returns the drained rows. */
  private def drain(dir: String, ckpt: String, name: String,
      startingVersion: Option[Long] = None, rowLevel: Boolean = false)
      : Seq[(Long, String, Long, Int, Long)] = {
    var r = spark.readStream.format("gshard-cdc")
    if (rowLevel) r = r.option("rowlevel", "true")
    startingVersion.foreach(v => r = r.option("startingversion", v))
    val q = r.load(dir).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName(name).start()
    q.awaitTermination()
    spark.table(name).collect().toSeq.map(row =>
      (row.getLong(0), row.getString(1), row.getLong(2),
        row.getInt(3), row.getLong(4)))
  }

  test("offsets are generations; classify() over the ±feed equals " +
      "the batch generation diff") {
    val d = tmp("diff")
    ShardFormat.write(base(300), d, "id", 4) // gen 0
    val sess = spark
    import sess.implicits._
    val upd = ((290L until 310L).map(i => (i, s"U$i", -1L))).toDF(
      "id", "tag", "score")
    ShardOps.upsert(spark, d, upd, "id") // gen 1
    val rows = drain(d, tmp("ck_diff"), "cdc_diff", Some(0L))
    assert(rows.nonEmpty)
    assert(rows.forall(_._5 == 1L)) // one batch: commit_version 1
    // classify the drained ±batch and compare to the B60 batch diff
    val feed = rows.toDF("id", "tag", "score", ShardCdc.SideCol,
      ShardCdc.VersionCol)
    val got = ShardCdc.classify(feed, "id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), if (r.isNullAt(3)) -999L else r.getLong(3)))
      .toSet
    val want = ((290L until 300L).map(i =>
        (i, "update", s"U$i", -1L)) ++ // matched: replaced
      (300L until 310L).map(i => (i, "insert", s"U$i", -1L))).toSet
    assert(got == want, s"diff mismatch: ${got.size} vs ${want.size}")
    // upsert SURVIVORS (rewritten-but-unchanged rows) were suppressed
    assert(!got.exists(_._2 == "delete"))
  }

  test("checkpoint resume across upserts: each commit's changes emit " +
      "exactly once") {
    val d = tmp("resume")
    val ck = tmp("ck_resume")
    val out = tmp("out_resume")
    ShardFormat.write(base(100), d, "id", 2) // gen 0
    val sess = spark
    import sess.implicits._
    // durable sink (parquet) — the memory sink cannot recover from a
    // checkpoint; exactly-once across restarts is the point here
    def drainFile(): Seq[(Long, String, Long, Int, Long)] = {
      val q = spark.readStream.format("gshard-cdc").load(d)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .format("parquet").option("path", out).start()
      q.awaitTermination()
      spark.read.parquet(out).collect().toSeq.map(row =>
        (row.getLong(0), row.getString(1), row.getLong(2),
          row.getInt(3), row.getLong(4)))
    }
    // first drain from the head (no startingversion): nothing yet
    assert(drainFile().isEmpty)
    // commit 1: upsert
    ShardOps.upsert(spark, d,
      Seq((5L, "A", 1L), (200L, "B", 2L)).toDF("id", "tag", "score"), "id")
    val r2 = drainFile()
    assert(r2.nonEmpty && r2.forall(_._5 == 1L))
    val c2 = ShardCdc.classify(
      r2.toDF("id", "tag", "score", ShardCdc.SideCol, ShardCdc.VersionCol),
      "id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(c2 == Set((5L, "update"), (200L, "insert")))
    // commit 2: append (new file, pure inserts)
    Seq((500L, "C", 3L)).toDF("id", "tag", "score")
      .write.format("gshard").option("rangecol", "id")
      .mode("append").save(d)
    val r3 = drainFile()
    // cumulative sink: the NEW rows are exactly key 500 at version 2,
    // and the version-1 rows did NOT re-emit (counts unchanged)
    val newRows = r3.filter(_._5 == 2L)
    assert(newRows.map(_._1).toSet == Set(500L) &&
      newRows.forall(_._4 == 1))
    assert(r3.filter(_._5 == 1L).size == r2.size,
      "resume re-emitted version-1 changes")
    // nothing new: a fresh drain adds no rows
    assert(drainFile().size == r3.size)
  }

  test("a vacuumed starting generation fails loudly, never a " +
      "partial feed") {
    val d = tmp("vac")
    ShardFormat.write(base(50), d, "id", 1) // gen 0
    val sess = spark
    import sess.implicits._
    ShardOps.upsert(spark, d, Seq((1L, "X", 0L)).toDF("id", "tag", "score"),
      "id") // gen 1
    ShardOps.upsert(spark, d, Seq((2L, "Y", 0L)).toDF("id", "tag", "score"),
      "id") // gen 2
    ShardFormat.vacuum(d, keepVersions = 1) // drops archived gen 0
    val ex = intercept[Exception] {
      drain(d, tmp("ck_vac"), "cdc_vac", Some(0L))
    }
    def chain(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    assert(chain(ex).contains("vacuumed"))
    // a retained start still works
    assert(drain(d, tmp("ck_vac2"), "cdc_vac2", Some(1L))
      .forall(_._5 == 2L))
  }

  test("multi-generation batch nets the file delta (names never " +
      "recur, so set difference composes)") {
    val d = tmp("net")
    ShardFormat.write(base(100), d, "id", 2) // gen 0
    val sess = spark
    import sess.implicits._
    ShardOps.upsert(spark, d, Seq((5L, "A", 1L)).toDF("id", "tag", "score"),
      "id") // gen 1
    ShardOps.upsert(spark, d, Seq((5L, "B", 2L)).toDF("id", "tag", "score"),
      "id") // gen 2
    // one drain spanning both commits: the NET change for key 5 is
    // old v5 -> B (the intermediate A image never surfaces)
    val rows = drain(d, tmp("ck_net"), "cdc_net", Some(0L))
    val c = ShardCdc.classify(
      rows.toDF("id", "tag", "score", ShardCdc.SideCol, ShardCdc.VersionCol),
      "id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(c == Set((5L, "update", "B")))
  }

  test("startingversion replay crosses a later ADD COLUMN: the old " +
      "generation's rows read the added column as NULL (drop/rename " +
      "still fails)") {
    val d = tmp("addcol")
    ShardFormat.write(base(60), d, "id", 1) // gen 0
    val sess = spark
    import sess.implicits._
    // evolve: add a trailing nullable column (gen 1) — the same
    // append-only schema publish the catalog's ALTER performs — then
    // append a file that carries it (gen 2)
    val m0 = ShardFormat.readManifest(d)
    import org.apache.spark.sql.types._
    ShardFormat.publishManifest(d, m0.copy(schema =
      StructType(m0.schema.fields :+ StructField("extra", LongType))),
      basedOn = m0.gen) // gen 1: ADD COLUMN extra
    Seq((900L, "n", 1L, 7L)).toDF("id", "tag", "score", "extra")
      .write.format("gshard").option("rangecol", "id")
      .mode("append").save(d) // gen 2
    // the feed starts BEFORE the ADD: replay must decode gen-0 files
    // (which predate `extra`) as NULL there, not fail the anchors
    val q = spark.readStream.format("gshard-cdc")
      .option("startingversion", "0").load(d)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmp("ck_addcol"))
      .format("memory").queryName("cdc_addcol").start()
    q.awaitTermination()
    val rows = spark.table("cdc_addcol").collect()
    assert(rows.length == 1) // net delta: only the appended file
    val r = rows(0)
    assert(r.getLong(0) == 900L && r.getLong(3) == 7L)
    // rename mid-stream STILL fails loudly: re-anchor a fresh feed,
    // rename the column, and replay across the rename
    val m2 = ShardFormat.readManifest(d)
    val pos = m2.schema.fieldNames.indexOf("tag")
    ShardFormat.publishManifest(d, m2.copy(schema = StructType(
      m2.schema.fields.updated(pos,
        m2.schema.fields(pos).copy(name = "label")))), basedOn = m2.gen)
    val ex = intercept[Exception] {
      val q2 = spark.readStream.format("gshard-cdc")
        .option("startingversion", "0").load(d)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmp("ck_addcol2"))
        .format("memory").queryName("cdc_addcol2").start()
      q2.awaitTermination()
    }
    def chain(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    assert(chain(ex).contains("dropped, renamed, or retyped"))
  }

  // ── r17: ROWLEVEL feed off the commits' change files ─────────────

  test("rowlevel feed AMPLIFICATION: a 1-row upsert into a 1000-row " +
      "file emits 2 rows, not 2000") {
    val d = tmp("amp")
    ShardFormat.write(base(1000), d, "id", 1) // gen 0: one big file
    val sess = spark
    import sess.implicits._
    ShardOps.upsert(spark, d,
      Seq((5L, "NEW", -1L)).toDF("id", "tag", "score"), "id") // gen 1
    val rows = drain(d, tmp("ck_amp"), "cdc_amp", Some(0L),
      rowLevel = true)
    assert(rows.size == 2, s"amplified: ${rows.size} rows")
    assert(rows.map(_._5).toSet == Set(1L))
    assert(rows.map(r => (r._1, r._2, r._4)).toSet ==
      Set((5L, "v5", -1), (5L, "NEW", 1)))
    // the plain file-grain feed on the same commit streams the whole
    // rewritten file — the amplification the change files remove
    val fileGrain = drain(d, tmp("ck_amp2"), "cdc_amp2", Some(0L))
    assert(fileGrain.size >= 2000, s"expected 2N rows: ${fileGrain.size}")
  }

  test("rowlevel feed: unchanged upsert survivors never emit; a " +
      "same-value re-upsert emits nothing") {
    val d = tmp("net0")
    ShardFormat.write(base(100), d, "id", 1)
    val sess = spark
    import sess.implicits._
    // re-upsert an IDENTICAL row: the net change set is empty
    ShardOps.upsert(spark, d,
      Seq((7L, "v7", 70L)).toDF("id", "tag", "score"), "id")
    val rows = drain(d, tmp("ck_net0"), "cdc_net0", Some(0L),
      rowLevel = true)
    assert(rows.isEmpty, s"no-op upsert emitted: $rows")
  }

  test("rowlevel feed: multi-commit batches tag each commit's rows; " +
      "classifyPerCommit folds per commit; append and MoR-delete " +
      "steps ride their own grain") {
    val d = tmp("multi")
    ShardFormat.write(base(200), d, "id", 1) // gen 0
    val sess = spark
    import sess.implicits._
    ShardOps.upsert(spark, d,
      Seq((5L, "A", 1L)).toDF("id", "tag", "score"), "id") // gen 1
    ShardOps.upsert(spark, d,
      Seq((5L, "B", 2L)).toDF("id", "tag", "score"), "id") // gen 2
    Seq((900L, "app", 9L)).toDF("id", "tag", "score")
      .write.format("gshard").option("rangecol", "id")
      .mode("append").save(d) // gen 3: append (no change file)
    ShardOps.deleteMor(spark, d, col("id") === 13L) // gen 4: MoR delete
    val rows = drain(d, tmp("ck_multi"), "cdc_multi", Some(0L),
      rowLevel = true)
    // per-commit grain: v1 2 rows, v2 2 rows, v3 1 row (append
    // fallback: the new file is all inserts), v4 1 row (the deleted
    // row from the commit's change file)
    val byV = rows.groupBy(_._5).view.mapValues(_.size).toMap
    assert(byV == Map(1L -> 2, 2L -> 2, 3L -> 1, 4L -> 1), byV.toString)
    val c = ShardCdc.classifyPerCommit(
      rows.toDF("id", "tag", "score", ShardCdc.SideCol,
        ShardCdc.VersionCol), "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSet
    assert(c == Set(
      (5L, 1L, "update", "A"),
      (5L, 2L, "update", "B"),
      (900L, 3L, "insert", "app"),
      (13L, 4L, "delete", null)), c.toString)
  }

  test("rowlevel feed: replay across a later ADD COLUMN reads the " +
      "added column as NULL from pre-ADD change files (no reader " +
      "crash on the unresolvable name)") {
    val d = tmp("rladd")
    ShardFormat.write(base(80), d, "id", 1) // gen 0
    val sess = spark
    import sess.implicits._
    ShardOps.upsert(spark, d,
      Seq((5L, "PRE", 1L)).toDF("id", "tag", "score"), "id") // gen 1
    val m1 = ShardFormat.readManifest(d)
    import org.apache.spark.sql.types._
    ShardFormat.publishManifest(d, m1.copy(schema =
      StructType(m1.schema.fields :+ StructField("extra", LongType)),
      changes = Seq.empty, cdf = false), basedOn = m1.gen) // gen 2: ADD
    Seq((901L, "app", 2L, 7L)).toDF("id", "tag", "score", "extra")
      .write.format("gshard").option("rangecol", "id")
      .mode("append").save(d) // gen 3
    val q = spark.readStream.format("gshard-cdc")
      .option("rowlevel", "true").option("startingversion", "0").load(d)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmp("ck_rladd"))
      .format("memory").queryName("cdc_rladd").start()
    q.awaitTermination()
    val rows = spark.table("cdc_rladd").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3)),
        r.getInt(4), r.getLong(5))).toSeq
    // gen 1's change file predates `extra`: its rows read it as NULL
    val v1 = rows.filter(_._5 == 1L)
    assert(v1.map(r => (r._1, r._2, r._4)).toSet ==
      Set((5L, "v5", -1), (5L, "PRE", 1)), v1.toString)
    assert(v1.forall(_._3 == null))
    // gen 3's appended file carries the value
    val v3 = rows.filter(_._5 == 3L)
    assert(v3 == Seq((901L, "app", java.lang.Long.valueOf(7L), 1, 3L)))
    // the ALTER generation itself emitted nothing
    assert(!rows.exists(_._5 == 2L))
  }

  test("rowlevel feed on a duplicate-keyed target: preimages keep " +
      "both old rows, the postimage lands ONCE") {
    val d = tmp("rldup")
    val sess = spark
    import sess.implicits._
    // plain appends don't enforce key uniqueness: key 1 twice
    Seq((1L, "a", 1L), (1L, "b", 2L), (2L, "c", 3L))
      .toDF("id", "tag", "score")
      .write.format("gshard").option("rangecol", "id")
      .mode("overwrite").save(d)
    ShardOps.upsert(spark, d,
      Seq((1L, "NEW", 9L)).toDF("id", "tag", "score"), "id")
    val rows = drain(d, tmp("ck_rldup"), "cdc_rldup", Some(0L),
      rowLevel = true)
    val pre = rows.filter(_._4 == -1).map(r => (r._1, r._2)).sorted
    val post = rows.filter(_._4 == 1).map(r => (r._1, r._2))
    assert(pre == Seq((1L, "a"), (1L, "b")), pre.toString)
    assert(post == Seq((1L, "NEW")), post.toString)
  }

  test("a truncated compressed block FAILS loudly instead of " +
      "hanging the reader") {
    import graft.sources.shard.tests.FormatProbe
    val raw = ("the quick brown fox " * 40).getBytes("UTF-8")
    val comp = FormatProbe.maybeDeflate(raw)
      .getOrElse(fail("payload should deflate"))
    assert(FormatProbe.inflate(comp).sameElements(raw))
    // chop DATA, not just the zlib trailer: half the stream
    val truncated = java.util.Arrays.copyOf(comp, comp.length / 2)
    val ex = intercept[IllegalArgumentException] {
      FormatProbe.inflate(truncated)
    }
    assert(ex.getMessage.contains("truncated compressed block"))
  }

  test("rowlevel feed: checkpoint resume emits each commit's change " +
      "rows exactly once") {
    val d = tmp("rlresume")
    val ck = tmp("ck_rlresume")
    val out = tmp("out_rlresume")
    ShardFormat.write(base(100), d, "id", 1)
    val sess = spark
    import sess.implicits._
    def drainFile(): Seq[(Long, Long)] = {
      val q = spark.readStream.format("gshard-cdc")
        .option("rowlevel", "true").load(d)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .format("parquet").option("path", out).start()
      q.awaitTermination()
      spark.read.parquet(out).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(4)))
    }
    assert(drainFile().isEmpty)
    ShardOps.upsert(spark, d,
      Seq((5L, "X", 1L)).toDF("id", "tag", "score"), "id")
    val r1 = drainFile()
    assert(r1.size == 2 && r1.forall(_._2 == 1L))
    ShardOps.upsert(spark, d,
      Seq((6L, "Y", 2L)).toDF("id", "tag", "score"), "id")
    val r2 = drainFile()
    assert(r2.count(_._2 == 1L) == 2, "version-1 rows re-emitted")
    assert(r2.count(_._2 == 2L) == 2)
    assert(drainFile().size == r2.size)
  }

  // ── change capture in the fused rewrite ───────────────────────────

  /** The commit's net change multiset as Spark's own grouping computes
    * it: the previous generation's rows −1 and the head's +1, grouped
    * on every visible column, non-zero nets kept. */
  private def sparkNet(d: String): Seq[String] = {
    val g = ShardFormat.readManifest(d).gen
    val post = spark.read.format("gshard").load(d)
    val pre = spark.read.format("gshard")
      .option("versionAsOf", (g - 1).toString).load(d)
    val cols = post.columns.toSeq.map(col)
    pre.select(cols :+ lit(-1L).as("s"): _*)
      .union(post.select(cols :+ lit(1L).as("s"): _*))
      .groupBy(cols: _*).agg(sum(col("s")).as("net"))
      .filter(col("net") =!= 0L)
      .collect().toSeq.flatMap { r =>
        val net = r.getLong(cols.size)
        Seq.fill(math.abs(net).toInt)(ChangeProbe.show(
          (0 until cols.size).map(r.get) :+ math.signum(net)))
      }.sorted
  }

  private def changes(d: String): Seq[String] =
    ChangeProbe.headRows(d).map(ChangeProbe.show).sorted

  test("a value-identical re-upsert writes zero change rows and still " +
      "marks the commit captured (cdf 1)") {
    val d = tmp("cdf0")
    ShardFormat.write(base(100), d, "id", 2)
    val sess = spark
    import sess.implicits._
    ShardOps.upsert(spark, d,
      Seq((7L, "v7", 70L), (8L, "v8", 80L)).toDF("id", "tag", "score"), "id")
    val m = ShardFormat.readManifest(d)
    assert(m.gen == 1L && m.cdf)
    assert(m.changes.isEmpty, m.changes.toString)
    assert(java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(d, "_manifest.gshard")).contains("cdf 1"))
  }

  test("change capture groups doubles as Spark does: NaN = NaN and " +
      "−0.0 = 0.0 net out, the data keeps the written value") {
    val d = tmp("nan")
    val sess = spark
    import sess.implicits._
    Seq((1L, Double.NaN), (2L, -0.0), (3L, 0.0), (4L, 1.5), (5L, 2.5))
      .toDF("id", "x")
      .write.format("gshard").option("rangecol", "id")
      .mode("overwrite").save(d)
    ShardOps.upsert(spark, d, Seq((1L, Double.NaN), (2L, 0.0), (3L, -0.0),
      (4L, Double.NaN), (6L, -0.0)).toDF("id", "x"), "id")
    // Seq[Any]: a Seq(4L, 1.5) literal would widen the longs to doubles
    val want = Seq(Seq[Any](4L, 1.5, -1L), Seq[Any](4L, Double.NaN, 1L),
      Seq[Any](6L, 0.0, 1L)).map(ChangeProbe.show).sorted
    assert(changes(d) == want)
    assert(sparkNet(d) == want)
    val x = spark.read.format("gshard").load(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(1.0 / x(2L) > 0 && 1.0 / x(3L) < 0 && 1.0 / x(6L) < 0)
    assert(x(1L).isNaN && x(4L).isNaN && x(5L) == 2.5)
  }

  test("change capture on a STRING merge key") {
    val d = tmp("strkey")
    val sess = spark
    import sess.implicits._
    (0 until 200).map(i => (f"k$i%03d", s"v$i", i.toLong))
      .toDF("key", "tag", "n")
      .write.format("gshard").option("rangecol", "key")
      .option("shards", 4).mode("overwrite").save(d)
    ShardOps.upsert(spark, d, Seq(("k005", "X", 5L), ("k006", "v6", 6L),
      ("zzz", "new", 1L)).toDF("key", "tag", "n"), "key")
    val want = Seq(Seq("k005", "v5", 5L, -1L), Seq("k005", "X", 5L, 1L),
      Seq("zzz", "new", 1L, 1L)).map(ChangeProbe.show).sorted
    assert(changes(d) == want)
    assert(sparkNet(d) == want)
  }

  test("change capture on a table with a DROPPED (tombstoned) column: " +
      "change rows carry the visible columns only") {
    val wh = tmp("evo_wh")
    spark.conf.set("spark.sql.catalog.gshard_cdc_evo",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_cdc_evo.warehouse", wh)
    base(100).createOrReplaceTempView("cdc_evo_src")
    spark.sql("DROP TABLE IF EXISTS gshard_cdc_evo.main.t")
    spark.sql("CREATE TABLE gshard_cdc_evo.main.t AS SELECT * FROM cdc_evo_src")
    spark.sql("ALTER TABLE gshard_cdc_evo.main.t DROP COLUMN tag")
    val d = s"$wh/main/t"
    assert(ShardFormat.readManifest(d).schema.fieldNames
      .exists(_.startsWith("__dropped_")))
    val sess = spark
    import sess.implicits._
    ShardOps.upsert(spark, d,
      Seq((5L, -5L), (6L, 60L), (500L, 1L)).toDF("id", "score"), "id")
    val want = Seq(Seq(5L, 50L, -1L), Seq(5L, -5L, 1L), Seq(500L, 1L, 1L))
      .map(ChangeProbe.show).sorted
    assert(changes(d) == want)
    assert(sparkNet(d) == want)
    val got = spark.table("gshard_cdc_evo.main.t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 101 && got(5L) == -5L && got(500L) == 1L &&
      got(7L) == 70L)
  }

  leavesNoTempDirs()
}
