package graft.sources

import java.nio.file.Paths
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.PlanBridge

import graft.sources.shard.{ShardFormat, ShardOps}

/** The clustered write under [[ShardFormat.write]] and every merge:
  * shard `i` of `n` equal-width key slices is write task `i`; the shard
  * ids carry no per-commit literal, so upserts of the same shape
  * compile no code; a merge keeps the file count it touches and rolls
  * a file over at the table's largest file size; keys that
  * span more than 2^63 neither overflow nor fail; and a NULL clustering
  * key fails loudly and leaves the table as it was. */
class ShardClusteredWriteSpec extends ShardTempRoot {
  import ShardMergeSpec.latest

  private def kv(rows: Seq[(java.lang.Long, Long)]): DataFrame = {
    val sess = spark
    import sess.implicits._
    rows.toDF("k", "v")
  }

  private def longs(rows: (Long, Long)*) =
    kv(rows.map { case (k, v) => (Long.box(k), v) })

  private def kvTable(name: String, n: Long, shards: Int): String = {
    val d = tmp(name)
    ShardFormat.write(longs((0L until n).map(k => (k, k * 10L)): _*), d, "k",
      shards)
    d
  }

  private def head(d: String): Set[(Long, Long)] =
    spark.read.format("gshard").load(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def entries(d: String) = ShardFormat.readManifest(d).entries

  private def listing(d: String) = ShardFormat.listDir(Paths.get(d)).toSet

  test("a 4-shard write runs its write stage as 4 tasks, task i " +
      "writing shard i") {
    val d = tmp("tasks")
    // over [0, 339] the shards are 85 keys wide and hold 10, 20, 30
    // and 40 rows: keys 100 i until 100 i + 10 (i + 1)
    val keys = (0 until 4).flatMap(i =>
      (0 until 10 * (i + 1)).map(j => 100L * i + j))
    // (stage, partition, shuffle rows read) of every task
    val tasks = new ConcurrentLinkedQueue[(Int, Int, Long)]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.add((e.stageId, e.taskInfo.index,
          e.taskMetrics.shuffleReadMetrics.recordsRead))
    }
    PlanBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      ShardFormat.write(longs(keys.map(k => (k, k)): _*), d, "k", 4)
      PlanBridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    val all = tasks.asScala.toSeq
    val writeStage = all.map(_._1).max
    val read = all.filter(_._1 == writeStage).sortBy(_._2).map(_._3)
    assert(read == Seq(10L, 20L, 30L, 40L), all)
    val written = entries(d).sortBy(_.file)
    assert(written.map(_.file) == (0 until 4).map(i => f"part-$i%05d.gshard"))
    assert(written.map(_.rows) == Seq(10L, 20L, 30L, 40L))
  }

  test("the 2nd and 3rd upserts of the same shape compile no class") {
    val d = kvTable("compiles", 1000, 4)
    // one key in each file and one new key past the top, so the key
    // range, and with it the shard bounds, grows every commit
    def upsert(i: Long): Unit = ShardOps.upsert(spark, d,
      longs((100 + i) -> -i, (350 + i) -> -i, (600 + i) -> -i,
        (850 + i) -> -i, (1000 + i) -> -i), "k")
    upsert(1)
    val counts = Seq(2L, 3L).map(i => CompileCount(upsert(i)))
    assert(counts == Seq(0L, 0L), s"classes compiled per upsert: $counts")
    assert(entries(d).size == 4)
    assert(head(d).size == 1003)
  }

  test("50 upserts that each touch every file keep the file count") {
    val d = kvTable("bounded", 1000, 4)
    val want = scala.collection.mutable.Map((0L until 1000L)
      .map(k => k -> k * 10L): _*)
    (1L to 50L).foreach { i =>
      val rows = Seq(100 + i, 350 + i, 600 + i, 850 + i).map(_ -> -i)
      ShardOps.upsert(spark, d, longs(rows: _*), "k")
      want ++= rows
      assert(entries(d).size == 4, s"after upsert $i")
    }
    assert(head(d) == want.toSet)
  }

  test("a merge over files larger than a chunk keeps their count, and " +
      "rolls a file over at the table's file size") {
    val perFile = 70000L // over one chunk of DefaultChunkRows
    assert(perFile > ShardFormat.DefaultChunkRows)
    val d = tmp("large_files")
    // the even keys: file 0 holds [0, 2 perFile), file 1 the rest
    ShardFormat.write(spark.range(2 * perFile).selectExpr("id * 2 AS k",
      "id * 20 AS v"), d, "k", 2)
    assert(entries(d).map(_.rows) == Seq(perFile, perFile))
    // one key in each file: both files, over a chunk each, are
    // rewritten as two files again
    ShardOps.upsert(spark, d, longs(8L -> -1L, (2 * perFile + 8) -> -1L),
      "k")
    assert(entries(d).map(_.rows) == Seq(perFile, perFile))
    // as many new keys as a file holds, all odd keys by file 0: its
    // one write task rolls its rows over at the file size
    ShardOps.upsert(spark, d, spark.range(perFile)
      .selectExpr("id * 2 + 1 AS k", "-1L AS v"), "k")
    assert(entries(d).map(_.rows) == Seq(perFile, perFile, perFile))
    val t = spark.read.format("gshard").load(d)
    assert(t.count() == 3 * perFile)
    assert(t.where("v = -1").count() == perFile + 2)
    assert(t.where("v = k * 10").count() == 2 * perFile - 2)
  }

  private val wide = Seq(Long.MinValue, -1L, 0L, Long.MaxValue)

  for (n <- Seq(1, 4))
    test(s"a write whose keys span 2^64 reads back every row ($n shards)") {
      val d = tmp(s"wide_write_$n")
      ShardFormat.write(longs(wide.map(k => (k, k)): _*), d, "k", n)
      // 4 shards over all 2^64 keys are 2^62 wide: one key in each
      assert(entries(d).size == n)
      assert(head(d) == wide.map(k => (k, k)).toSet)
    }

  for (n <- Seq(1, 4))
    test(s"an upsert adding keys ±(2^62 + 10) reads back every row " +
        s"($n shards)") {
      val d = kvTable(s"wide_upsert_$n", 100, 4)
      val big = (1L << 62) + 10
      ShardOps.upsert(spark, d, longs(big -> 1L, -big -> 2L, 5L -> 3L), "k",
        nShards = n)
      assert(head(d) == (0L until 100L).map(k => (k, k * 10L)).toSet ++
        Set((big, 1L), (-big, 2L), (5L, 3L)) - ((5L, 50L)))
      // and one shard over keys that span all 2^64 (its width wraps to 0)
      ShardOps.upsert(spark, d, longs(Long.MinValue -> 4L,
        Long.MaxValue -> 5L), "k", nShards = 1)
      assert(head(d).size == 104)
    }

  test("a write with a NULL range key fails, naming the non-null rule, " +
      "and leaves the directory as it was") {
    val d = kvTable("null_write", 8, 2)
    val listed = listing(d)
    val ex = intercept[Exception] {
      ShardFormat.write(kv(Seq((null, 1L), (Long.box(2L), 2L))), d, "k", 4)
    }
    assert(ex.getMessage.contains("must be non-null"), ex.getMessage)
    assert(listing(d) == listed)
    assert(head(d) == (0L until 8L).map(k => (k, k * 10L)).toSet)
  }

  test("a merge whose source has a NULL key fails, naming the non-null " +
      "rule, and leaves the directory as it was") {
    val d = kvTable("null_merge", 64, 4)
    val listed = listing(d)
    // not unique-keyed, so the source pass lets the NULL key through
    // and the rewrite rejects it
    val ex = intercept[Exception] {
      ShardOps.merge(spark, d, kv(Seq((null, 1L), (Long.box(7L), 2L))), "k",
        0, -1L, None)(latest)
    }
    assert(ex.getMessage.contains("must be non-null"), ex.getMessage)
    assert(listing(d) == listed)
    assert(ShardFormat.readManifest(d).gen == 0L)
  }

  leavesNoTempDirs()
}
