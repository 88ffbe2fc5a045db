package graft.sources

import org.apache.spark.sql.functions._

import graft.sources.shard.ShardFormat

/** SQL row-level operations on gshard tables — the group-based
  * (copy-on-write) `SupportsRowLevelOperations` contract: `UPDATE`,
  * `MERGE INTO`, and non-metadata-decidable `DELETE` from pure SQL.
  * Spark plans ReplaceData over the operation's scan; commit swaps
  * exactly the scanned files for the rewritten ones (generational —
  * time travel reads the pre-op table). File-aligned DELETEs still
  * take the metadata-only path via OptimizeMetadataOnlyDeleteFromTable.
  */
class ShardRowLevelSpec extends ShardTempRoot {

  private lazy val warehouse: String = {
    val wh = tmp("gshard_rls_wh_")
    spark.conf.set("spark.sql.catalog.gshard_rls",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_rls.warehouse", wh)
    wh
  }
  private val ns = "gshard_rls.main"

  private def freshTable(name: String, n: Int): String = {
    val sess = spark
    import sess.implicits._
    warehouse
    val t = s"$ns.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    (0L until n.toLong).map(i => (i, s"v$i", i % 7))
      .toDF("id", "tag", "grp").createOrReplaceTempView(s"rls_src_$name")
    spark.sql(s"CREATE TABLE $t AS SELECT * FROM rls_src_$name")
    t
  }

  test("SQL UPDATE rewrites only the touched files (copy-on-write), " +
      "values exact, pre-op generation readable") {
    val sess = spark
    import sess.implicits._
    // two appends → at least two files with disjoint id ranges, so
    // the touched-file assertion has something untouched to check
    warehouse
    val t = s"$ns.upd"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    def half(lo: Long, hi: Long, view: String) = {
      (lo until hi).map(i => (i, s"v$i", i % 7))
        .toDF("id", "tag", "grp").createOrReplaceTempView(view)
    }
    half(0L, 500L, "rls_upd_lo"); half(500L, 1000L, "rls_upd_hi")
    spark.sql(s"CREATE TABLE $t AS SELECT * FROM rls_upd_lo")
    spark.sql(s"INSERT INTO $t SELECT * FROM rls_upd_hi")
    val d = s"$warehouse/main/upd"
    val before = ShardFormat.readManifest(d)
    spark.sql(s"UPDATE $t SET tag = 'X' WHERE id >= 990")
    val after = ShardFormat.readManifest(d)
    assert(after.gen == before.gen + 1)
    // only the file(s) whose id range reaches 990 were replaced
    val untouched = before.entries.filter(e => e.zMax("id") < 990L)
    assert(untouched.nonEmpty)
    assert(untouched.map(_.file).toSet.subsetOf(
      after.entries.map(_.file).toSet),
      "an untouched file was rewritten")
    // values: exactly ids >= 990 updated, row count preserved
    val got = spark.table(t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 1000)
    assert((0L until 990L).forall(i => got(i) == s"v$i"))
    assert((990L until 1000L).forall(i => got(i) == "X"))
    // the pre-op generation still reads the original values
    assert(spark.sql(
      s"SELECT tag FROM $t VERSION AS OF ${before.gen} WHERE id = 995")
      .head.getString(0) == "v995")
  }

  test("SQL MERGE INTO: matched update, not-matched insert, " +
      "not-matched-by-source delete-free; values exact") {
    val sess = spark
    import sess.implicits._
    val t = freshTable("mrg", 500)
    ((480L until 520L).map(i => (i, s"M$i", 99L)))
      .toDF("id", "tag", "grp").createOrReplaceTempView("rls_mrg_updates")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING rls_mrg_updates AS src
         |ON tgt.id = src.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = ((0L until 480L).map(i => (i, s"v$i", i % 7)) ++
      (480L until 520L).map(i => (i, s"M$i", 99L))).toSet
    assert(got == want)
  }

  test("a straddling DELETE now rewrites copy-on-write instead of " +
      "rejecting; a file-aligned DELETE stays metadata-only") {
    val t = freshTable("del", 1000)
    val d = s"$warehouse/main/del"
    val m0 = ShardFormat.readManifest(d)
    // pick a threshold strictly inside some file's id range
    val e = m0.entries.find(e => e.zMin("id") < e.zMax("id")).get
    val mid = (e.zMin("id") + e.zMax("id")) / 2 + 1
    spark.sql(s"DELETE FROM $t WHERE id < $mid")
    assert(spark.table(t).count() == 1000 - mid)
    assert(spark.table(t).agg(min(col("id"))).head.getLong(0) == mid)
    // file-aligned (whole-table here): metadata path — no data write
    // (manifest empties without any fresh rewrite files)
    spark.sql(s"DELETE FROM $t")
    val m2 = ShardFormat.readManifest(d)
    assert(m2.entries.isEmpty)
    assert(spark.table(t).count() == 0L)
  }

  test("a pure-insert MERGE (no key matches any target row) rewrites " +
      "NO existing file — an empty runtime group filter prunes all") {
    val sess = spark
    import sess.implicits._
    warehouse
    val t = s"$ns.insonly"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // two appends → multiple files, so "no file rewritten" is
    // distinguishable from "the single file was rewritten"
    (0L until 200L).map(i => (i, s"v$i", i % 7))
      .toDF("id", "tag", "grp").createOrReplaceTempView("rls_ins_lo")
    (200L until 400L).map(i => (i, s"v$i", i % 7))
      .toDF("id", "tag", "grp").createOrReplaceTempView("rls_ins_hi")
    spark.sql(s"CREATE TABLE $t AS SELECT * FROM rls_ins_lo")
    spark.sql(s"INSERT INTO $t SELECT * FROM rls_ins_hi")
    val d = s"$warehouse/main/insonly"
    val before = ShardFormat.readManifest(d)
    assert(before.entries.size >= 2)
    (5000L until 5020L).map(i => (i, s"N$i", 0L))
      .toDF("id", "tag", "grp").createOrReplaceTempView("rls_ins_src")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING rls_ins_src AS src
         |ON tgt.id = src.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = ShardFormat.readManifest(d)
    assert(before.entries.map(_.file).toSet.subsetOf(
      after.entries.map(_.file).toSet),
      "a no-match MERGE copy-on-wrote an existing file")
    assert(spark.table(t).count() == 420)
  }

  test("a data column named _file rejects at write (it would be " +
      "silently shadowed by the metadata column on every read)") {
    val sess = spark
    import sess.implicits._
    val bad = Seq((1L, "x")).toDF("id", "_file")
    val ex = intercept[IllegalArgumentException] {
      bad.write.format("gshard").option("rangecol", "id")
        .mode("overwrite").save(
          tmp("gshard_rls_badname"))
    }
    assert(ex.getMessage.contains("reserved metadata column"))
  }

  test("_file metadata column matches the manifest entries") {
    val t = freshTable("meta", 300)
    val d = s"$warehouse/main/meta"
    val entries = ShardFormat.readManifest(d).entries.map(_.file).toSet
    val got = spark.read.format("gshard").load(d)
      .select(col("_file")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(got == entries, "_file mismatch")
    // per-file row counts via _file agree with the manifest
    val counts = spark.table(t).groupBy(col("_file")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    ShardFormat.readManifest(d).entries.foreach(e =>
      assert(counts(e.file) == e.rows, e.file))
  }

  test("MERGE with WHEN NOT MATCHED BY SOURCE THEN DELETE: the " +
      "snapshot-apply shape — update, insert, and delete-by-absence " +
      "in one statement; pre-op generation still readable") {
    val sess = spark
    import sess.implicits._
    val t = freshTable("fullsync", 100)
    val d = s"$warehouse/main/fullsync"
    val genBefore = ShardFormat.readManifest(d).gen
    // source snapshot: keys 50..119 — 50..99 update, 100..119 insert,
    // target rows 0..49 are absent from the source -> DELETE
    (50L until 120L).map(i => (i, s"S$i", 99L))
      .toDF("id", "tag", "grp").createOrReplaceTempView("rls_sync_src")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING rls_sync_src AS src
         |ON tgt.id = src.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == (50L until 120L).map(i => (i, s"S$i", 99L)).toSet)
    // the pre-sync generation still reads the full pre-merge table
    val pre = spark.sql(
      s"SELECT count(*) FROM $t VERSION AS OF $genBefore").head.getLong(0)
    assert(pre == 100L)
  }

  test("conditional NOT MATCHED BY SOURCE (UPDATE and guarded " +
      "DELETE) lands exact rows") {
    val sess = spark
    import sess.implicits._
    val t = freshTable("condsync", 60)
    (40L until 50L).map(i => (i, s"S$i", 1L))
      .toDF("id", "tag", "grp").createOrReplaceTempView("rls_cond_src")
    // absent rows: id < 10 delete; 10 <= id < 40 get tag='stale';
    // 50..59 also absent -> 'stale'
    spark.sql(
      s"""MERGE INTO $t AS tgt USING rls_cond_src AS src
         |ON tgt.id = src.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED BY SOURCE AND tgt.id < 10 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'""".stripMargin)
    val got = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 50)
    assert(!got.contains(0L) && !got.contains(9L))
    assert(got(10L) == "stale" && got(39L) == "stale" && got(55L) == "stale")
    assert(got(45L) == "S45")
  }

  leavesNoTempDirs()
}
