package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.shard.{ShardFormat, ShardOps}

/** TOKEN-ID LIST columns (`array<int>` / `array<long>`, tags
  * listi/listl) — the post-BPE training currency as first-class
  * gshard storage: row-grain element offsets over ONE flat
  * long-domain element block riding the measured plain / delta-varint
  * / FOR-bitpack codec, so small repetitive vocab ids land at a few
  * BITS per token. Null policy as for every list type: row-grain
  * bitmap, null/empty rows hold zero elements, NULL ELEMENTS reject
  * on both write paths. */
class ShardTokenIdSpec extends ShardTempRoot {

  private def intRows(n: Int) = {
    val sess = spark
    import sess.implicits._
    (0L until n.toLong).map { i =>
      val toks: Seq[Int] =
        if (i % 17 == 3) null
        else if (i % 13 == 5) Seq.empty[Int]
        else Seq.tabulate((i % 7).toInt + 1)(j => ((i * 31 + j) % 50000).toInt)
      (i, toks)
    }.toDF("id", "toks")
  }

  test("array<int> round-trips exactly through write + the reader " +
      "(nulls, empty lists, chunk boundaries)") {
    val d = tmp("int")
    // chunkRows 64 forces many chunks over 1000 rows
    ShardFormat.write(intRows(1000), d, "id", 3, chunkRows = 64)
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Int]] =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
    assert(rows(spark.read.format("gshard").load(d)) == rows(intRows(1000)))
    // read schema surfaces array<int> (containsNull=false: the format
    // stores no null elements)
    val f = spark.read.format("gshard").load(d).schema("toks")
    assert(f.dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false))
  }

  test("array<long> round-trips; ids near Long bounds stay exact") {
    val sess = spark
    import sess.implicits._
    val d = tmp("long")
    val rows = Seq(
      (0L, Seq(Long.MaxValue, Long.MinValue + 1, 0L)),
      (1L, Seq(1L, 2L, 3L)),
      (2L, null.asInstanceOf[Seq[Long]]),
      (3L, Seq.empty[Long])).toDF("id", "toks")
    rows.write.format("gshard").option("rangecol", "id")
      .mode("overwrite").save(d)
    val got = spark.read.format("gshard").load(d).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(got(0L) == Seq(Long.MaxValue, Long.MinValue + 1, 0L))
    assert(got(1L) == Seq(1L, 2L, 3L))
    assert(got(2L) == null)
    assert(got(3L) == Seq.empty[Long])
  }

  test("small vocab ids FOR-bitpack: bytes per token land well under " +
      "the 4-byte plain encoding") {
    val sess = spark
    import sess.implicits._
    val d = tmp("pack")
    val nTok = 200
    val rows = (0L until 2000L).map { i =>
      (i, Seq.tabulate(nTok)(j => ((i + j) % 1024).toInt)) // 10-bit ids
    }.toDF("id", "toks")
    rows.write.format("gshard").option("rangecol", "id")
      .mode("overwrite").save(d)
    val bytes = ShardFormat.listDir(Paths.get(d))
      .filter(_.startsWith("part-"))
      .map(f => Files.size(Paths.get(d, f))).sum
    val totalToks = 2000L * nTok
    val bpt = bytes.toDouble / totalToks
    assert(bpt < 2.5, f"token-id encoding too fat: $bpt%.2f bytes/token")
  }

  test("NULL ELEMENTS reject loudly on both write paths") {
    val sess = spark
    import sess.implicits._
    val d = tmp("nullelem")
    val bad = Seq((0L, Seq[java.lang.Integer](1, null, 3)))
      .toDF("id", "toks")
    val e1 = intercept[Exception] {
      bad.write.format("gshard").option("rangecol", "id")
        .mode("overwrite").save(d)
    }
    def chain(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    assert(chain(e1).contains("null token-id element"), chain(e1))
    val e2 = intercept[Exception] {
      ShardFormat.write(bad, tmp("nullelem2"), "id", 1)
    }
    assert(chain(e2).contains("null token-id element"), chain(e2))
  }

  test("catalog CTAS + INSERT + upsert carry token-id columns; SQL " +
      "reads aggregate them exactly") {
    val sess = spark
    import sess.implicits._
    val wh = tmp("wh")
    spark.conf.set("spark.sql.catalog.gtok",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gtok.warehouse", wh)
    intRows(300).createOrReplaceTempView("tok_src")
    spark.sql("DROP TABLE IF EXISTS gtok.main.t")
    spark.sql("CREATE TABLE gtok.main.t AS SELECT * FROM tok_src " +
      "WHERE id < 200")
    spark.sql("INSERT INTO gtok.main.t SELECT * FROM tok_src " +
      "WHERE id >= 200")
    val got = spark.sql(
      """SELECT CAST(sum(size(toks)) AS BIGINT) AS n,
        | CAST(sum(aggregate(toks, 0L, (a, x) -> a + x)) AS BIGINT) AS s
        |FROM gtok.main.t WHERE toks IS NOT NULL""".stripMargin).head
    val want = spark.table("tok_src").filter(col("toks").isNotNull)
      .agg(sum(size(col("toks"))).cast("long"),
        sum(aggregate(col("toks"),
          lit(0L), (a, x) => a + x.cast("long"))).cast("long")).head
    assert(got.getLong(0) == want.getLong(0))
    assert(got.getLong(1) == want.getLong(1))
    // upsert replaces one doc's tokens and keeps the rest byte-true
    ShardOps.upsert(spark, s"$wh/main/t",
      Seq((5L, Seq(9, 9, 9))).toDF("id", "toks"), "id")
    val after = spark.table("gtok.main.t").filter(col("id") === 5L).head
    assert(after.getSeq[Int](1) == Seq(9, 9, 9))
    assert(spark.table("gtok.main.t").count() == 300L)
  }

  leavesNoTempDirs()
}
