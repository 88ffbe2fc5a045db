package graft.sources

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame

import graft.sources.shard.{ShardFormat, ShardOps}

/** The bytes gshard writes are pinned: a frame covering all 14 type
  * tags, nulls in every nullable column, is written through each
  * write path and every resulting file is hashed. A digest here only
  * changes when the on-disk format does, so an encoder refactor that
  * keeps these digests keeps every existing table readable and every
  * new file identical. Each digest is the SHA-256 over the sorted
  * per-file SHA-256s, so file names (random tokens on the DSv2 and
  * merge paths) do not enter it. */
class ShardGoldenBytesSpec extends ShardTempRoot {

  /** 300 rows of every storage type: long, double (NaN and −0.0
    * included), string, timestamp, timestamp_ntz, date, int, boolean,
    * decimal(12,3), array<float>, array<double>, array<string>,
    * array<int>, array<long>. Every column but `id` is NULL on some
    * rows. Built from SQL expressions only, so no value depends on the
    * session time zone. */
  private def allTypes(from: Long, to: Long, salt: Int): DataFrame =
    spark.range(from, to).selectExpr(
      "id",
      s"CASE WHEN id % 7 = 0 THEN NULL WHEN id % 11 = 0 THEN double('NaN') " +
        s"WHEN id % 13 = 0 THEN -0.0D ELSE id * 1.5D + $salt END AS d",
      s"CASE WHEN id % 5 = 0 THEN NULL ELSE concat('s', id % 17, 'é', $salt) END AS s",
      s"CASE WHEN id % 6 = 0 THEN NULL " +
        s"ELSE timestamp_micros(1600000000000000 + id * 3600000001 + $salt) END AS ts",
      "CASE WHEN id % 8 = 0 THEN NULL " +
        "ELSE make_timestamp_ntz(2020, 1 + id % 12, 1 + id % 28, id % 24, " +
        s"id % 60, CAST((id + $salt) % 60 AS DECIMAL(8,6))) END AS tsn",
      s"CASE WHEN id % 9 = 0 THEN NULL ELSE date_from_unix_date(int(id * 3 + $salt)) END AS dt",
      s"CASE WHEN id % 10 = 0 THEN NULL ELSE int(id * 7 - 500 + $salt) END AS i",
      "CASE WHEN id % 4 = 0 THEN NULL ELSE id % 3 = 0 END AS b",
      s"CASE WHEN id % 12 = 0 THEN NULL " +
        s"ELSE CAST((id * 1.25 + $salt) AS DECIMAL(12,3)) END AS dec",
      s"CASE WHEN id % 14 = 0 THEN NULL ELSE array(float(id) / 3, float($salt), float(-0.0D)) END AS vf",
      "CASE WHEN id % 15 = 0 THEN NULL " +
        s"ELSE transform(sequence(0, int(id % 4)), k -> k * 0.1D + $salt) END AS vd",
      "CASE WHEN id % 16 = 0 THEN NULL " +
        s"ELSE transform(sequence(0, int(id % 3)), k -> concat('t', k, '_', $salt)) END AS ls",
      s"CASE WHEN id % 18 = 0 THEN NULL ELSE sequence(int(id % 5), int(id % 5 + 3 + $salt)) END AS li",
      "CASE WHEN id % 19 = 0 THEN NULL " +
        s"ELSE transform(sequence(0, int(id % 6)), k -> id * 1000 + k + $salt) END AS ll")

  private def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"$b%02x").mkString

  private def digest(dir: String, files: Seq[String]): String = {
    require(files.nonEmpty, s"no files to hash in $dir")
    sha(files.map(f => sha(Files.readAllBytes(Paths.get(dir, f))))
      .sorted.mkString("\n").getBytes("UTF-8"))
  }

  /** Digests of the head generation's data files and change files. */
  private def headDigests(dir: String): (String, Option[String]) = {
    val m = ShardFormat.readManifest(dir)
    (digest(dir, m.entries.map(_.file)),
      if (m.changes.isEmpty) None else Some(digest(dir, m.changes.map(_._1))))
  }

  test("the test frame covers all 14 storage type tags") {
    // the 14 Spark types below map one to one onto the 14 tags
    val types = allTypes(0, 10, 0).schema.fields.map(_.dataType).toSet
    assert(types.size == 14, types)
  }

  private val golden = Map(
    "write-1" -> "dba2e6bf04a5358cda131e0de5329bf3f91ec03951abdceb44e950a40ffab126",
    "write-4" -> "fcbfd798b13039b16b8e39a5595757b4d30554e640f3f1d9b3a6704a860d16a3",
    "write-8" -> "40a28edca5427736638e2b7f5e07bada24262d84a9c43b1f22ac56cc5190cc2c",
    "dsv2-1" -> "dba2e6bf04a5358cda131e0de5329bf3f91ec03951abdceb44e950a40ffab126")

  for (n <- Seq(1, 4, 8)) test(s"ShardFormat.write at $n shards writes the golden bytes") {
    val d = tmp(s"w$n")
    ShardFormat.write(allTypes(0, 300, 0), d, "id", n)
    assert(headDigests(d)._1 == golden(s"write-$n"))
  }

  test("a 1-shard DSv2 write writes the golden bytes") {
    val d = tmp("dsv2")
    allTypes(0, 300, 0).write.format("gshard").option("rangeCol", "id")
      .option("shards", "1").mode("overwrite").save(d)
    assert(headDigests(d)._1 == golden("dsv2-1"))
  }

  /** (data, change) digests after each of the two upserts. They also
    * pin the merge's shard count: each upsert touches one file and
    * rewrites it as one shard. */
  private val goldenUpserts = Seq(
    ("d357e034e3341edc19c871f246ff77d39641e216110cc4a7becf3d06f27b35b5",
      "a66f9c628cc680ee11233d822378b2127843f87619c06ab963927893b3fc29fa"),
    ("63addf50caceef328dc217b6d055df599b105525bcde985bdf9fc527c719bf4b",
      "ac450f58ad94a068e83914ed4db41cb9fbe11f00415009202941d1b65f8bdf34"))

  test("a fixed upsert sequence writes the golden data and change bytes") {
    val d = tmp("ups")
    ShardFormat.write(allTypes(0, 300, 0), d, "id", 4)
    val got = Seq((250L, 320L, 1), (10L, 40L, 2)).map { case (a, b, salt) =>
      ShardOps.upsert(spark, d, allTypes(a, b, salt), "id")
      val (data, chg) = headDigests(d)
      (data, chg.getOrElse("none"))
    }
    assert(got == goldenUpserts)
  }

  leavesNoTempDirs()
}
