package graft.sources

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.shard.{ShardFormat, ShardOps}
import graft.sources.shard.tests.CommitProbe

/** The one gshard commit ([[ShardFormat.commit]]) every writer goes
  * through: only it sets a generation's change files, so a catalog
  * ALTER or metadata DELETE never re-emits the previous commit's
  * changes; a merge that loses the race deletes what it staged; one
  * order-free schema rule guards the append, the SQL rewrite and the
  * upsert; and each commit kind reads the manifest a pinned number of
  * times. */
class ShardCommitSpec extends ShardTempRoot {
  import ShardCommitSpec._

  private val cat = "gshard_commitspec"

  private lazy val warehouse: String = {
    val wh = tmp("commitspec_wh_")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    wh
  }

  private def rows(lo: Long, hi: Long) = {
    val sess = spark
    import sess.implicits._
    (lo until hi).map(i => (i, s"v$i", i * 10L)).toDF("id", "tag", "score")
  }

  /** A fresh catalog table `name` of rows [0, n), created by CTAS
    * (generation 0 creates it, generation 1 appends the rows); returns
    * its directory. */
  private def catalogTable(name: String, n: Long): String = {
    val wh = warehouse
    rows(0, n).createOrReplaceTempView(s"${name}_src")
    spark.sql(s"CREATE TABLE $cat.main.$name AS SELECT * FROM ${name}_src")
    s"$wh/main/$name"
  }

  private def gen(d: String): Long = ShardFormat.readManifest(d).gen

  test("rowlevel feed through the catalog: an ALTER generation emits " +
      "nothing, a metadata DELETE emits exactly the deleted rows") {
    val d = catalogTable("cdc", 100)
    val sess = spark
    import sess.implicits._
    ShardOps.upsert(spark, d,
      Seq((5L, "U", -5L)).toDF("id", "tag", "score"), "id") // gen 2
    spark.sql(s"ALTER TABLE $cat.main.cdc ADD COLUMN extra bigint") // gen 3
    spark.sql(s"DELETE FROM $cat.main.cdc") // gen 4, metadata-only
    assert(gen(d) == 4L)
    assert(spark.table(s"$cat.main.cdc").count() == 0L)
    val q = spark.readStream.format("gshard-cdc")
      .option("rowlevel", "true").option("startingversion", "1").load(d)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmp("ck_cdc"))
      .format("memory").queryName("commitspec_cdc").start()
    q.awaitTermination()
    // (id, tag, score, side) per generation
    val byGen = spark.table("commitspec_cdc").collect().toSeq
      .groupBy(_.getLong(5)).view.mapValues(_.map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(4))).toSet)
      .toMap
    assert(byGen(2L) == Set((5L, "v5", 50L, -1), (5L, "U", -5L, 1)))
    assert(!byGen.contains(3L), s"the ALTER generation emitted ${byGen.get(3L)}")
    val deleted = (0L until 100L).map(i =>
      if (i == 5L) (5L, "U", -5L, -1) else (i, s"v$i", i * 10L, -1)).toSet
    assert(byGen(4L) == deleted)
    assert(byGen.keySet == Set(2L, 4L))
  }

  test("the loser of two merges deletes what it staged: no " +
      "unreferenced part- or chg- file is left and vacuum sweeps nothing") {
    val sess = spark
    import sess.implicits._
    def kv(ps: (Long, Long)*) = ps.toDF("k", "v")
    val d = tmp("loser")
    ShardFormat.write(kv((0L until 64L).map(k => (k, k * 10L)): _*), d, "k", 4)
    // A plans against gen 0 and waits in its per-key function, after
    // its write task opened its data and change files, while B commits
    val a = Future(intercept[java.util.ConcurrentModificationException] {
      ShardOps.merge(spark, d, kv((3L, 31L)), "k", 0, -1L, None)(gated)
    })(ExecutionContext.global)
    assert(entered.await(2, TimeUnit.MINUTES), "merge A never ran")
    try ShardOps.merge(spark, d, kv((40L, 401L)), "k", 0, -1L, None)(latest)
    finally release.countDown()
    Await.result(a, Duration(2, TimeUnit.MINUTES))
    assert(gen(d) == 1L)
    // every file on disk is named by a retained generation (0 and 1)
    val staged = ShardFormat.listDir(java.nio.file.Paths.get(d))
      .filter(f => f.startsWith("part-") || f.startsWith("chg-")).toSet
    val named = Seq(0L, 1L).flatMap { g =>
      val m = ShardFormat.readManifestVersion(d, Some(g))
      m.entries.map(_.file) ++ m.changes.map(_._1)
    }.toSet
    assert(staged == named, s"unreferenced: ${staged -- named}")
    assert(ShardFormat.vacuum(d, keepVersions = 1).isEmpty)
    assert(spark.read.format("gshard").load(d).filter(col("k") === 40L)
      .select("v").as[Long].collect().toSeq == Seq(401L))
  }

  test("one schema rule: a mismatched append, SQL rewrite and upsert " +
      "fail before publishing; an append in another column order maps " +
      "by name") {
    val d = tmp("schema")
    ShardFormat.write(rows(0, 100), d, "id", 2)
    val renamed = rows(100, 110).withColumnRenamed("score", "points")
    val retyped = rows(100, 110).withColumn("score", col("score").cast("string"))
    def mismatch(body: => Unit): Unit = {
      val e = intercept[Exception](body)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("schema mismatch")), e)
    }
    for (bad <- Seq(renamed, retyped, rows(100, 110).drop("tag"))) {
      mismatch(bad.write.format("gshard").option("rangecol", "id")
        .mode("append").save(d))
      mismatch(CommitProbe.rewrite(d, bad.schema))
      mismatch(ShardOps.upsert(spark, d, bad, "id"))
    }
    assert(gen(d) == 0L)
    rows(100, 110).select("score", "id", "tag").write.format("gshard")
      .option("rangecol", "id").mode("append").save(d)
    assert(gen(d) == 1L)
    val got = spark.read.format("gshard").load(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == (0L until 110L).map(i => (i, s"v$i", i * 10L)).toSet)
  }

  test("an append planned before a column is dropped and re-added " +
      "under its name fails at commit: its files are laid out by position") {
    val d = catalogTable("relaid", 20)
    val commit = CommitProbe.plannedAppend(d, rows(0, 1).schema)
    spark.sql(s"ALTER TABLE $cat.main.relaid DROP COLUMN tag")
    spark.sql(s"ALTER TABLE $cat.main.relaid ADD COLUMN tag string")
    intercept[java.util.ConcurrentModificationException](commit())
    assert(gen(d) == 3L)
  }

  test("manifest reads per commit kind") {
    val sess = spark
    import sess.implicits._
    def reads(body: => Unit): Long = {
      val before = ShardFormat.manifestReads.get()
      body
      ShardFormat.manifestReads.get() - before
    }
    def pathTable(tag: String): String = {
      val d = tmp(tag)
      ShardFormat.write(rows(0, 100), d, "id", 2)
      d
    }
    // (kind, reads, a fresh table's setup that returns its commit):
    // only the commit counts. A number here may only go down
    val kinds: Seq[(String, Long, () => () => Unit)] = Seq(
      ("append", 2L, () => {
        val d = pathTable("r_app")
        () => rows(100, 110).write.format("gshard")
          .option("rangecol", "id").mode("append").save(d)
      }),
      ("ALTER", 2L, () => {
        catalogTable("r_alter", 100)
        () => spark.sql(s"ALTER TABLE $cat.main.r_alter ADD COLUMN extra bigint")
      }),
      ("metadata DELETE", 4L, () => {
        catalogTable("r_del", 100)
        () => spark.sql(s"DELETE FROM $cat.main.r_del")
      }),
      ("SQL UPDATE", 4L, () => {
        catalogTable("r_upd", 100)
        () => spark.sql(s"UPDATE $cat.main.r_upd SET score = -1 WHERE id = 5")
      }),
      // keys past every file's range: no touched file is scanned
      ("upsert, no touched file", 2L, () => {
        val d = pathTable("r_ups")
        () => ShardOps.upsert(spark, d, rows(1000, 1010), "id")
      }),
      ("upsert, touched files", 4L, () => {
        val d = pathTable("r_upt")
        () => ShardOps.upsert(spark, d, rows(90, 110), "id")
      }),
      ("deleteMor", 4L, () => {
        val d = pathTable("r_mor")
        () => ShardOps.deleteMor(spark, d, col("id") === 7L)
      }))
    val got = kinds.map { case (kind, _, setup) =>
      val commit = setup()
      kind -> reads(commit())
    }
    assert(got == kinds.map(k => k._1 -> k._2))
    assert(spark.table(s"$cat.main.r_upd").filter($"id" === 5L)
      .select("score").as[Long].collect().toSeq == Seq(-1L))
  }

  leavesNoTempDirs()
}

/** The spec's per-key functions, outside the suite so a write task's
  * closure never captures it; local-mode tasks run in the test JVM, so
  * the latches are shared with the test. */
object ShardCommitSpec {

  /** Latest-version-wins over one key of a (k, v) table. */
  val latest: ShardOps.PerKey = (touched, source) => {
    val rows = touched ++ source
    Seq(InternalRow(rows.head.getLong(0), rows.map(_.getLong(1)).max))
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
