package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.shard.{ShardCdc, ShardFormat, ShardOps}

/** MERGE-ON-READ DELETE via position-delete sidecars (r16 verdict
  * task #2): a row-level delete MASKS rows instead of rewriting
  * files — the write-amplification fix for trickle deletes at scale.
  * The load-bearing properties: ZERO data-file rewrites, exact
  * masked reads, sidecar merging across deletes, time
  * travel per-generation masks, CDC net emission, compaction
  * materialization, and vacuum reclamation. */
class ShardDeleteMorSpec extends ShardTempRoot {

  private def base(n: Int) = {
    val sess = spark
    import sess.implicits._
    (0L until n.toLong).map(i => (i, s"v$i", i * 10L))
      .toDF("id", "tag", "score")
  }

  private def dataFiles(d: String): Set[String] =
    ShardFormat.listDir(Paths.get(d))
      .filter(f => f.startsWith("part-") && f.endsWith(".gshard")).toSet

  private def fileBytes(d: String): Map[String, Long] =
    dataFiles(d).map(f => f -> Files.size(Paths.get(d, f))).toMap

  test("a 1-row DELETE rewrites ZERO data files: one dv sidecar, one " +
      "manifest commit, the row is gone") {
    val d = tmp("one")
    ShardFormat.write(base(1000), d, "id", 4)
    val before = fileBytes(d)
    val n = ShardOps.deleteMor(spark, d, col("id") === 137L)
    assert(n == 1L)
    // byte-identity: not a single data file was rewritten or added
    assert(fileBytes(d) == before, "a data file changed under MoR delete")
    // exactly one dv sidecar appeared
    val dvs = ShardFormat.listDir(Paths.get(d)).filter(_.startsWith("dv-"))
    assert(dvs.size == 1, s"expected one sidecar, got $dvs")
    val got = spark.read.format("gshard").load(d)
    assert(got.count() == 999L)
    assert(got.filter(col("id") === 137L).isEmpty)
    assert(got.filter(col("id") === 138L).count() == 1L)
    // replay is a no-op: masked rows never re-match
    assert(ShardOps.deleteMor(spark, d, col("id") === 137L) == 0L)
    assert(ShardFormat.readManifest(d).gen == 1L)
  }

  test("a second delete MERGES the file's mask into a fresh sidecar; " +
      "the old sidecar is unreferenced and vacuum sweeps it") {
    val d = tmp("merge")
    ShardFormat.write(base(600), d, "id", 2)
    ShardOps.deleteMor(spark, d, col("id") < 10L)
    val firstDv = ShardFormat.readManifest(d).entries
      .flatMap(_.dv.map(_._1)).toSet
    // the second delete hits the SAME file: its mask must merge into
    // a fresh sidecar (immutability), leaving the first unreferenced
    // by the head
    ShardOps.deleteMor(spark, d, col("id") >= 10L && col("id") < 20L)
    val head = ShardFormat.readManifest(d)
    assert(head.entries.flatMap(_.dv.map(_._1)).toSet
      .intersect(firstDv).isEmpty, "sidecars must be immutable")
    assert(spark.read.format("gshard").load(d).count() == 580L)
    assert(head.entries.map(_.liveRows).sum == 580L)
    // pre-delete generations still read their own masks
    assert(spark.read.format("gshard").option("versionAsOf", "0")
      .load(d).count() == 600L)
    assert(spark.read.format("gshard").option("versionAsOf", "1")
      .load(d).count() == 590L)
    // retention 0 keeps only the head: the gen-1 sidecars sweep, the
    // head's stay
    val swept = ShardFormat.vacuum(d, keepVersions = 0)
    assert(firstDv.forall(swept.contains), s"old sidecars not swept: $swept")
    assert(spark.read.format("gshard").load(d).count() == 580L)
  }

  test("a fully-masked file DROPS from the manifest; deleting " +
      "everything leaves an empty, readable table") {
    val d = tmp("full")
    ShardFormat.write(base(100), d, "id", 2)
    ShardOps.deleteMor(spark, d, lit(true))
    val head = ShardFormat.readManifest(d)
    assert(head.entries.isEmpty)
    assert(spark.read.format("gshard").load(d).count() == 0L)
  }

  test("metadata answers stay EXACT under masks: count(*) answers " +
      "from live counts without opening files; min/max/sum fall back " +
      "to the masked scan") {
    val d = tmp("agg")
    ShardFormat.write(base(500), d, "id", 2)
    // delete the global min and max rows — the exact case a stale
    // physical zone-map answer would get wrong
    ShardOps.deleteMor(spark, d, col("id") === 0L || col("id") === 499L)
    val r = spark.read.format("gshard").load(d)
      .agg(count(lit(1)), min(col("id")), max(col("id")),
        sum(col("score"))).head
    assert(r.getLong(0) == 498L)
    assert(r.getLong(1) == 1L && r.getLong(2) == 498L)
    assert(r.getLong(3) == (0L until 500L).map(_ * 10).sum - 0L - 4990L)
    // count(*) alone is still metadata-only (zero files opened)
    val cdf = spark.read.format("gshard").load(d).agg(count(lit(1)))
    val plan = cdf.queryExecution.executedPlan.toString
    assert(plan.contains("metadata-only"), plan)
    assert(cdf.head.getLong(0) == 498L)
  }

  test("_pos metadata column: physical positions are stable under " +
      "masking (surviving rows keep their original coordinates)") {
    val d = tmp("pos")
    ShardFormat.write(base(100), d, "id", 1)
    val posBefore = spark.read.format("gshard").load(d)
      .select(col("id"), col("_pos")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ShardOps.deleteMor(spark, d, col("id") % 10 === 0L)
    val posAfter = spark.read.format("gshard").load(d)
      .select(col("id"), col("_pos")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(posAfter.keySet == posBefore.keySet.filter(_ % 10 != 0))
    posAfter.foreach { case (id, p) => assert(p == posBefore(id)) }
  }

  test("upsert on a DV-masked table does not resurrect deleted rows; " +
      "rewritten files clear their masks") {
    val sess = spark
    import sess.implicits._
    val d = tmp("upsert")
    ShardFormat.write(base(200), d, "id", 2)
    ShardOps.deleteMor(spark, d, col("id") === 50L)
    ShardOps.upsert(spark, d,
      Seq((60L, "UP", -1L)).toDF("id", "tag", "score"), "id")
    val got = spark.read.format("gshard").load(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!got.contains(50L), "deleted row resurrected by upsert rewrite")
    assert(got(60L) == "UP")
    assert(got.size == 199)
  }

  test("compaction MATERIALIZES the mask: after a connector " +
      "read → overwrite the table has no delete vectors and the same " +
      "rows") {
    val d = tmp("compact")
    ShardFormat.write(base(400), d, "id", 4)
    ShardOps.deleteMor(spark, d, col("id") % 7 === 3L)
    val want = spark.read.format("gshard").load(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    spark.read.format("gshard").load(d)
      .write.format("gshard").option("rangecol", "id")
      .option("shards", 2).mode("overwrite").save(d)
    val head = ShardFormat.readManifest(d)
    assert(head.entries.forall(_.dv.isEmpty), "mask survived compaction")
    val got = spark.read.format("gshard").load(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("CDC: a merge-on-read delete generation emits the touched " +
      "file under both masks and classifies to exactly the deleted " +
      "rows") {
    val d = tmp("cdc")
    ShardFormat.write(base(300), d, "id", 1) // gen 0
    ShardOps.deleteMor(spark, d, col("id") === 7L || col("id") === 8L)
    val q = spark.readStream.format("gshard-cdc")
      .option("startingversion", "0").load(d)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmp("cdc_ck"))
      .format("memory").queryName("mor_cdc").start()
    q.awaitTermination()
    val c = ShardCdc.classify(spark.table("mor_cdc"), "id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(c == Set((7L, "delete"), (8L, "delete")), c.toString)
  }

  test("_pos, delete vectors and chunk skipping compose on a " +
      "multi-chunk file: survivors and positions equal the model") {
    val sess = spark
    import sess.implicits._
    val d = tmp("poschunks")
    // 5 chunks of 1000 rows; `g` is 1 only in chunk 2, so `g = 0`
    // skips that chunk off its zone map
    val n = 5000L
    ShardFormat.write((0L until n).map(i =>
        (i, if (i / 1000 == 2) 1L else 0L, s"v$i")).toDF("id", "g", "tag"),
      d, "id", 1, chunkRows = 1000)
    def read(filtered: Boolean) = {
      val all = spark.read.format("gshard").load(d)
      (if (filtered) all.filter(col("g") === 0L) else all)
        .select(col("id"), col("_pos"), col("tag")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
    }
    // the one sorted file: a row's physical position is its id
    assert(read(filtered = false) == (0L until n).map(i => (i, i, s"v$i")))
    val masked = Set(0L, 17L, 999L, 3000L, 3456L, 3999L) // chunks 0 and 3
    assert(ShardOps.deleteMor(spark, d, col("id").isin(masked.toSeq: _*)) ==
      masked.size.toLong)
    val m = ShardFormat.readManifest(d)
    assert(m.entries.size == 1 && m.entries.head.liveRows == n - masked.size)
    def model(keep: Long => Boolean) =
      (0L until n).filter(i => keep(i) && !masked(i)).map(i => (i, i, s"v$i"))
    val filtered = read(filtered = true)
    assert(filtered == model(_ / 1000 != 2))
    assert(read(filtered = false) == model(_ => true))
    assert(!filtered.exists(r => masked(r._1)))
  }

  test("job budget: a 1-row DELETE runs at most 5 Spark jobs — " +
      "the change file's constant bounds cost no min/max job") {
    val d = tmp("jobs")
    ShardFormat.write(base(1000), d, "id", 4)
    val jobs = JobCount(spark)(
      assert(ShardOps.deleteMor(spark, d, col("id") === 137L) == 1L))
    assert(ShardFormat.readManifest(d).changes.map(_._2) == Seq(1L))
    assert(jobs <= 5, s"delete ran $jobs Spark jobs")
  }

  leavesNoTempDirs()
}
