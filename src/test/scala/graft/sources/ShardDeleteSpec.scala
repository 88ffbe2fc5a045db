package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.shard.ShardFormat

/** B32 — the gshard metadata-only DELETE contract: a `DELETE FROM …
  * WHERE` is executed purely against the manifest (drop fully-covered
  * files, keep provably-disjoint ones, sweep the dropped bytes), and
  * anything undecidable — a straddling file, a null in the predicate
  * column, a pre-nullcount manifest — REJECTS loudly instead of
  * silently rewriting data. */
class ShardDeleteSpec extends ShardTempRoot {

  private val cat = "gshard_delspec"
  private def ns = s"$cat.main"

  // ONE warehouse for the suite: Spark instantiates the catalog once
  // per session, so re-pointing the conf later would desynchronize the
  // catalog's directory from the one the spec inspects
  private lazy val warehouse: String = {
    val wh = tmp("delspec_")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    wh
  }

  private def withCatalog[T](body: => T): T = { warehouse; body }

  private def proj = tables.events.select(col("user_id"),
    col("event_type"),
    floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))

  test("file-aligned DELETE drops covered files, keeps disjoint, sweeps bytes") {
    withCatalog {
      val thr = proj.agg(max(col("user_id"))).head.getLong(0) / 2
      val v = "delspec_aligned"
      proj.filter(col("user_id") < thr).createOrReplaceTempView(s"${v}_lo")
      proj.filter(col("user_id") >= thr).createOrReplaceTempView(s"${v}_hi")
      spark.sql(s"DROP TABLE IF EXISTS $ns.t1")
      spark.sql(s"CREATE TABLE $ns.t1 AS SELECT * FROM ${v}_lo")
      spark.sql(s"INSERT INTO $ns.t1 SELECT * FROM ${v}_hi")
      val wh = warehouse
      val tdir = s"$wh/main/t1"
      val before = ShardFormat.readManifest(tdir)
      val dropped = before.entries
        .filter(e => e.zMax.get("user_id").exists(_ < thr)).map(_.file)
      assert(dropped.nonEmpty, "no file lies entirely below the threshold")

      spark.sql(s"DELETE FROM $ns.t1 WHERE user_id < $thr")

      val after = ShardFormat.readManifest(tdir)
      // manifest: exactly the covered entries vanished
      assert(after.entries.map(_.file).toSet ==
        before.entries.map(_.file).toSet -- dropped)
      // bytes: the dropped files SURVIVE the delete (the archived
      // pre-delete generation still references them — VERSION AS OF
      // reads it), and VACUUM with zero retention sweeps exactly
      // them, leaving kept files untouched — the Delta
      // DELETE-then-VACUUM split
      dropped.foreach(f => assert(Files.exists(Paths.get(tdir, f)), f))
      val preDeleteGen = before.gen
      assert(ShardFormat.readManifestVersion(tdir, Some(preDeleteGen))
        .entries.map(_.file).toSet == before.entries.map(_.file).toSet)
      val swept = ShardFormat.vacuum(tdir, keepVersions = 0)
      assert(swept.toSet == dropped.toSet,
        s"vacuum swept $swept, expected $dropped")
      dropped.foreach(f => assert(!Files.exists(Paths.get(tdir, f)), f))
      after.entries.foreach(e =>
        assert(Files.exists(Paths.get(tdir, e.file)), e.file))
      // the pre-delete generation is now vacuumed: loud failure
      val ex = intercept[IllegalArgumentException] {
        ShardFormat.readManifestVersion(tdir, Some(preDeleteGen))
      }
      assert(ex.getMessage.contains("vacuumed"))
      // rows: exact remainder
      val want = proj.filter(col("user_id") >= thr).count()
      assert(spark.table(s"$ns.t1").count() == want)
      // kept rows value-exact against the source slice
      val got = spark.table(s"$ns.t1")
        .groupBy(col("event_type")).agg(sum(col("cents")).as("s"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exp = proj.filter(col("user_id") >= thr)
        .groupBy(col("event_type")).agg(sum(col("cents")).as("s"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == exp)
    }
  }

  test("a straddling predicate falls back to the copy-on-write " +
      "REWRITE (exact result) — canDeleteWhere still refuses it, so " +
      "the metadata path never fires") {
    withCatalog {
      spark.sql(s"DROP TABLE IF EXISTS $ns.t2")
      proj.createOrReplaceTempView("delspec_straddle")
      spark.sql(s"CREATE TABLE $ns.t2 AS SELECT * FROM delspec_straddle")
      val wh = warehouse
      val m = ShardFormat.readManifest(s"$wh/main/t2")
      // a threshold strictly inside some file's [min, max] user range
      val e = m.entries.find(e =>
        e.zMin("user_id") < e.zMax("user_id")).get
      val mid = (e.zMin("user_id") + e.zMax("user_id")) / 2 + 1
      // the metadata path itself still refuses the straddler…
      import org.apache.spark.sql.sources.{LessThan => LT}
      assert(!new graft.sources.shard.tests.TableProbe(s"$wh/main/t2")
        .canDeleteWhere(Array(LT("user_id", mid))))
      // …and SQL DELETE now succeeds via the row-level rewrite
      spark.sql(s"DELETE FROM $ns.t2 WHERE user_id < $mid")
      val want = proj.filter(col("user_id") >= mid).count()
      assert(spark.table(s"$ns.t2").count() == want)
      assert(ShardFormat.readManifest(s"$wh/main/t2").gen == m.gen + 1)
    }
  }

  test("a null in the predicate column breaks metadata coverage — " +
      "the delete falls back to the copy-on-write rewrite and keeps " +
      "exactly the NULL rows") {
    withCatalog {
      // cents is null on every %7 event — files are value-covered by
      // cents >= 0 but NOT null-free, so the METADATA path must
      // refuse (a NULL row satisfies no comparison and a metadata
      // file-drop would wrongly delete it); the row-level rewrite
      // evaluates per row and keeps the NULLs
      val v = "delspec_nulls"
      tables.events.select(col("user_id"),
          when(col("event_id") % 7 =!= 0,
            floor(col("value") * 100 + lit(0.5)).cast("long")).as("cents"))
        .createOrReplaceTempView(v)
      spark.sql(s"DROP TABLE IF EXISTS $ns.t3")
      spark.sql(s"CREATE TABLE $ns.t3 AS SELECT * FROM $v")
      val wh = warehouse
      val nulls = spark.table(s"$ns.t3")
        .filter(col("cents").isNull).count()
      assert(nulls > 0, "degenerate: no null cents rows")
      import org.apache.spark.sql.sources.{GreaterThanOrEqual => GE}
      assert(!new graft.sources.shard.tests.TableProbe(s"$wh/main/t3")
        .canDeleteWhere(Array(GE("cents", -1000000L))))
      spark.sql(s"DELETE FROM $ns.t3 WHERE cents >= -1000000")
      // every non-null cents value satisfied the predicate; only the
      // NULL rows survive — the rewrite evaluated row by row
      assert(spark.table(s"$ns.t3").count() == nulls)
      assert(spark.table(s"$ns.t3").filter(col("cents").isNotNull).count() == 0)
      // deleting BY nullness also rewrites exactly
      spark.sql(s"DELETE FROM $ns.t3 WHERE cents IS NULL")
      assert(spark.table(s"$ns.t3").count() == 0L)
    }
  }

  test("DELETE without WHERE truncates: every file covered trivially") {
    withCatalog {
      spark.sql(s"DROP TABLE IF EXISTS $ns.t4")
      proj.limit(100).createOrReplaceTempView("delspec_trunc")
      spark.sql(s"CREATE TABLE $ns.t4 AS SELECT * FROM delspec_trunc")
      val wh = warehouse
      assert(ShardFormat.readManifest(s"$wh/main/t4").entries.nonEmpty)
      spark.sql(s"DELETE FROM $ns.t4")
      assert(ShardFormat.readManifest(s"$wh/main/t4").entries.isEmpty)
      assert(spark.table(s"$ns.t4").count() == 0L)
    }
  }

  test("a pre-nullcount manifest entry is metadata-undecidable; the " +
      "delete falls back to the exact rewrite") {
    withCatalog {
      spark.sql(s"DROP TABLE IF EXISTS $ns.t5")
      proj.limit(50).createOrReplaceTempView("delspec_compat")
      spark.sql(s"CREATE TABLE $ns.t5 AS SELECT * FROM delspec_compat")
      val wh = warehouse
      val tdir = s"$wh/main/t5"
      val m = ShardFormat.readManifest(tdir)
      // strip the null counts — the manifest an older writer produced
      ShardFormat.writeManifest(tdir, m.copy(entries =
        m.entries.map(_.copy(nullCnt = Map.empty))))
      import org.apache.spark.sql.sources.{GreaterThanOrEqual => GE}
      assert(!new graft.sources.shard.tests.TableProbe(tdir)
        .canDeleteWhere(Array(GE("user_id", -1L))),
        "pre-nullcount entries must be metadata-undecidable")
      spark.sql(s"DELETE FROM $ns.t5 WHERE user_id >= -1")
      assert(spark.table(s"$ns.t5").count() == 0L)
    }
  }

  leavesNoTempDirs()
}
