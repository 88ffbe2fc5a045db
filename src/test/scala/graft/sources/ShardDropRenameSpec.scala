package graft.sources

import org.apache.spark.sql.functions._

import graft.sources.shard.{ShardFormat, ShardOps}

/** DROP COLUMN / RENAME COLUMN schema evolution (r15 verdict task
  * #6) — both ZERO-REWRITE, exploiting the format's positional
  * blocks: RENAME rekeys the manifest schema + per-entry stats in
  * place; DROP tombstones the position (`__dropped_<pos>`, storage
  * type kept) so old files still decode, while new files write an
  * all-null block in the slot. Generation-pinned schemas give time
  * travel the pre-evolution shape for free. */
class ShardDropRenameSpec extends ShardTempRoot {

  private lazy val warehouse: String = {
    val wh = tmp("evo2_wh_")
    spark.conf.set("spark.sql.catalog.gshard_evo2",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_evo2.warehouse", wh)
    wh
  }
  private val ns = "gshard_evo2.main"

  private def fresh(name: String, n: Int): (String, String) = {
    val sess = spark
    import sess.implicits._
    warehouse
    val t = s"$ns.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    (0L until n.toLong).map(i => (i, s"v$i", i % 7, i * 10L))
      .toDF("id", "tag", "grp", "score")
      .createOrReplaceTempView(s"evo2_src_$name")
    spark.sql(s"CREATE TABLE $t AS SELECT * FROM evo2_src_$name")
    (t, s"$warehouse/main/$name")
  }

  test("DROP COLUMN: zero data rewrite, head hides the column, " +
      "VERSION AS OF reads the pre-drop shape and values") {
    val (t, d) = fresh("drop", 500)
    val filesBefore = ShardFormat.readManifest(d).entries.map(_.file).toSet
    val genBefore = ShardFormat.readManifest(d).gen
    spark.sql(s"ALTER TABLE $t DROP COLUMN grp")
    val m = ShardFormat.readManifest(d)
    // zero rewrite: identical file set, stats for grp stripped
    assert(m.entries.map(_.file).toSet == filesBefore)
    assert(m.entries.forall(e => !e.zMin.contains("grp")))
    assert(spark.table(t).columns.toSeq == Seq("id", "tag", "score"))
    // old files still decode: every surviving value exact
    val got = spark.table(t).filter(col("id") === 42L).head
    assert(got.getString(1) == "v42" && got.getLong(2) == 420L)
    // time travel shows (and reads) the dropped column
    val v0 = spark.sql(
      s"SELECT grp FROM $t VERSION AS OF $genBefore WHERE id = 42")
    assert(v0.head.getLong(0) == 0L)
  }

  test("appends and upserts after a DROP write null tombstone " +
      "blocks; old and new files stay positionally compatible") {
    val sess = spark
    import sess.implicits._
    val (t, d) = fresh("dropapp", 300)
    spark.sql(s"ALTER TABLE $t DROP COLUMN tag")
    // INSERT through the catalog (visible schema: id, grp, score)
    Seq((1000L, 1L, 1L), (1001L, 2L, 2L)).toDF("id", "grp", "score")
      .createOrReplaceTempView("evo2_app")
    spark.sql(s"INSERT INTO $t SELECT * FROM evo2_app")
    // upsert through the API (visible schema)
    ShardOps.upsert(spark, d,
      Seq((5L, 99L, 99L), (2000L, 3L, 3L)).toDF("id", "grp", "score"), "id")
    val got = spark.table(t).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == 303) // 300 base + 2 inserts + 1 upsert-insert
    assert(got(1000L) == ((1L, 1L)) && got(5L) == ((99L, 99L)) &&
      got(2000L) == ((3L, 3L)) && got(7L) == ((0L, 70L)))
    // SQL UPDATE (row-level rewrite) still lands exactly
    spark.sql(s"UPDATE $t SET score = -1 WHERE id = 1001")
    assert(spark.table(t).filter(col("id") === 1001L).head.getLong(2) == -1L)
  }

  test("RENAME COLUMN rekeys schema and zone stats in place; " +
      "pruning fires on the new name; time travel shows the old") {
    val (t, d) = fresh("ren", 400)
    val before = ShardFormat.readManifest(d)
    val genBefore = before.gen
    spark.sql(s"ALTER TABLE $t RENAME COLUMN id TO item_id")
    val after = ShardFormat.readManifest(d)
    assert(after.entries.map(_.file).toSet ==
      before.entries.map(_.file).toSet)
    // stats rekeyed: zone maps live under the NEW name
    assert(after.entries.forall(e =>
      e.zMin.contains("item_id") && !e.zMin.contains("id")))
    assert(spark.table(t).columns.toSeq ==
      Seq("item_id", "tag", "grp", "score"))
    val got = spark.table(t).filter(col("item_id") === 399L).head
    assert(got.getString(1) == "v399")
    assert(spark.sql(
      s"SELECT id FROM $t VERSION AS OF $genBefore WHERE id = 3")
      .head.getLong(0) == 3L)
  }

  test("DROP then ADD of the same name appends a FRESH column: old " +
      "bytes never resurrect") {
    val sess = spark
    import sess.implicits._
    val (t, _) = fresh("readd", 100)
    spark.sql(s"ALTER TABLE $t DROP COLUMN tag")
    spark.sql(s"ALTER TABLE $t ADD COLUMN tag STRING")
    // every pre-existing row reads NULL for the re-added name
    assert(spark.table(t).filter(col("tag").isNotNull).count() == 0L)
    Seq((5000L, 1L, 1L, "fresh")).toDF("id", "grp", "score", "tag")
      .createOrReplaceTempView("evo2_readd")
    spark.sql(s"INSERT INTO $t SELECT * FROM evo2_readd")
    assert(spark.table(t).filter(col("tag") === "fresh").count() == 1L)
  }

  test("user columns named __dropped_* reject at write; dropping " +
      "the last visible column rejects") {
    val sess = spark
    import sess.implicits._
    val ex = intercept[Exception] {
      Seq((1L, "x")).toDF("id", "__dropped_0")
        .write.format("gshard").option("rangecol", "id")
        .mode("overwrite")
        .save(tmp("evo2_bad"))
    }
    assert(ex.getMessage.contains("reserved"))
    val (t2, _) = fresh("lastcol", 10)
    spark.sql(s"ALTER TABLE $t2 DROP COLUMN tag")
    spark.sql(s"ALTER TABLE $t2 DROP COLUMN grp")
    spark.sql(s"ALTER TABLE $t2 DROP COLUMN score")
    val ex2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t2 DROP COLUMN id")
    }
    assert(ex2.getMessage.contains("last visible column"))
  }

  leavesNoTempDirs()
}
