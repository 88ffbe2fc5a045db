package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.sources.shard.{ShardFormat, ShardOps}
import graft.sources.shard.tests.FormatProbe

/** The head pointer `_manifest.gshard` is a second hard link to the
  * head generation's commit record `_manifest.v<gen>.gshard`: a commit
  * links a fresh name to the record it just created and renames it
  * over the pointer, so the pointer step writes no bytes, and the old
  * pointer's inode lives on as the previous record (nothing is freed).
  * Every commit path ends in that state; the previous record keeps its
  * exact bytes with one link left; no temp name survives; a spec-side
  * [[ShardFormat.writeManifest]] never writes through the pointer into
  * the head record; a legacy standalone pointer is linked by its first
  * commit; and vacuum keeps the linked head readable. */
class ShardCommitPointerSpec extends ShardTempRoot {

  private val cat = "gshard_ptrspec"

  private lazy val warehouse: String = {
    val wh = tmp("ptrspec_wh_")
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

  private def pointer(d: String): Path = Paths.get(d, "_manifest.gshard")
  private def record(d: String, g: Long): Path =
    Paths.get(d, s"_manifest.v$g.gshard")
  private def nlink(p: Path): Int =
    Files.getAttribute(p, "unix:nlink").asInstanceOf[Int]
  private def temps(d: String): Seq[String] =
    ShardFormat.listDir(Paths.get(d))
      .filter(n => n.startsWith(".gshard_") && n.endsWith(".tmp"))

  /** The pointer links the head record (and nothing else does). */
  private def assertLinked(d: String): Long = {
    val head = ShardFormat.readManifest(d).gen
    assert(Files.isSameFile(pointer(d), record(d, head)),
      s"pointer is not the gen-$head record")
    assert(nlink(pointer(d)) == 2)
    assert(temps(d).isEmpty, s"temp residue: ${temps(d)}")
    head
  }

  /** Runs one commit and checks it published exactly one generation,
    * linked the pointer to its record, and left the previous head's
    * bytes intact in the previous record, now its only name. */
  private def commits(d: String)(commit: => Unit): Unit = {
    val prev =
      if (ShardFormat.hasManifest(d)) ShardFormat.readManifest(d).gen else -1L
    val prevBytes =
      if (prev >= 0) Some(Files.readAllBytes(pointer(d))) else None
    commit
    assert(assertLinked(d) == prev + 1)
    prevBytes.foreach { b =>
      assert(java.util.Arrays.equals(Files.readAllBytes(record(d, prev)), b),
        s"gen-$prev record bytes changed")
      assert(nlink(record(d, prev)) == 1)
    }
  }

  test("every commit path leaves the pointer a second link to the " +
      "head record and the previous record intact") {
    val d = tmp("paths")
    commits(d)(ShardFormat.write(rows(0, 100), d, "id", 2))
    commits(d)(rows(100, 200).write.format("gshard")
      .option("rangecol", "id").mode("append").save(d))
    commits(d)(ShardOps.upsert(spark, d, rows(90, 110)
      .withColumn("score", col("score") + 1L), "id"))
    commits(d)(assert(ShardOps.deleteMor(spark, d, col("id") === 7L) == 1L))
    assert(spark.read.format("gshard").load(d).count() == 199L)

    val wh = warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.t")
    rows(0, 50).createOrReplaceTempView("ptrspec_src")
    spark.sql(s"CREATE TABLE $cat.main.t AS SELECT * FROM ptrspec_src")
    val t = s"$wh/main/t"
    assertLinked(t)
    commits(t)(spark.sql(s"ALTER TABLE $cat.main.t ADD COLUMN extra bigint"))
    assert(spark.table(s"$cat.main.t").columns.toSeq ==
      Seq("id", "tag", "score", "extra"))
  }

  test("writeManifest on a committed table replaces the pointer, " +
      "never the head record's bytes") {
    val d = tmp("wm")
    ShardFormat.write(rows(0, 40), d, "id", 2)
    val head = assertLinked(d)
    val recBytes = Files.readAllBytes(record(d, head))
    val m = ShardFormat.readManifest(d)
    ShardFormat.writeManifest(d, m.copy(entries = m.entries.take(1)))
    assert(java.util.Arrays.equals(Files.readAllBytes(record(d, head)),
      recBytes))
    assert(!Files.isSameFile(pointer(d), record(d, head)))
    assert(nlink(pointer(d)) == 1 && nlink(record(d, head)) == 1)
    assert(temps(d).isEmpty, s"temp residue: ${temps(d)}")
    assert(ShardFormat.readManifest(d).entries.size == 1)
  }

  test("a legacy standalone pointer is linked by its first commit") {
    val d = tmp("legacy")
    ShardFormat.writeManifest(d,
      ShardFormat.Manifest(rows(0, 1).schema, Seq.empty))
    assert(nlink(pointer(d)) == 1)
    assert(FormatProbe.commitRecordGens(d).isEmpty)
    // the self-heal re-renders the legacy head as its gen-0 record
    commits(d)(rows(0, 30).write.format("gshard")
      .option("rangecol", "id").mode("append").save(d))
    assert(FormatProbe.commitRecordGens(d) == Seq(0L, 1L))
    assert(spark.read.format("gshard").load(d).count() == 30L)
  }

  test("vacuum(keepVersions = 0) keeps the linked head readable") {
    val d = tmp("vac")
    ShardFormat.write(rows(0, 60), d, "id", 2)
    rows(60, 80).write.format("gshard").option("rangecol", "id")
      .mode("append").save(d)
    ShardOps.upsert(spark, d, rows(0, 5).withColumn("score", lit(-1L)), "id")
    ShardFormat.vacuum(d, keepVersions = 0)
    val head = assertLinked(d)
    assert(head == 2L && FormatProbe.commitRecordGens(d) == Seq(2L))
    val back = spark.read.format("gshard").load(d)
    assert(back.count() == 80L)
    assert(back.filter(col("score") === -1L).count() == 5L)
  }

  leavesNoTempDirs()
}
