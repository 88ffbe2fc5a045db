package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.shard.{ShardFormat, ShardOps}

/** STRING-LIST (`array<string>`, tag `liststr`) columns in the gshard
  * format — the tokenized-corpus currency (r15 verdict task #2:
  * text_bpe_tokens output / corpus_token_shards input could not
  * round-trip through the engine's own storage). Layout: row-grain
  * element offsets over ONE flattened plain string block. Row-grain
  * null bitmap as everywhere; null/EMPTY rows hold zero elements;
  * null ELEMENTS reject loudly at write (offset-only blocks). Both
  * write paths (ShardFormat.write, DSv2) are exercised through the
  * columnar read path, plus mutations over tables carrying a
  * string-list column. */
class ShardStringListSpec extends ShardTempRoot {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("toks", ArrayType(StringType, containsNull = false))))

  /** Deterministic fuzz frame: null rows, EMPTY lists, empty-string
    * elements, unicode (multi-byte + astral), repeats, long tokens,
    * manifest-reserved characters INSIDE values (data is never parsed
    * as metadata), variable lengths. */
  private def mixed(n: Int): org.apache.spark.sql.DataFrame = {
    val rows = (0 until n).map { i =>
      val toks: Seq[String] =
        if (i % 7 == 3) null
        else if (i % 11 == 5) Seq.empty
        else if (i % 13 == 6) Seq("")           // empty-string element
        else if (i % 17 == 7) Seq("日本語", "emojiéß", new String(Character.toChars(0x1F600)))
        else if (i % 19 == 8) Seq("a=b;c,d#e~f!g*h?i^j:k") // reserved chars in DATA
        else Seq.tabulate(i % 5 + 1)(j => s"tok${(i * 31 + j) % 23}")
      Row(i.toLong, toks)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
  }

  private def expected(n: Int): Seq[(Long, Seq[String])] =
    (0 until n).map { i =>
      val toks: Seq[String] =
        if (i % 7 == 3) null
        else if (i % 11 == 5) Seq.empty
        else if (i % 13 == 6) Seq("")
        else if (i % 17 == 7) Seq("日本語", "emojiéß", new String(Character.toChars(0x1F600)))
        else if (i % 19 == 8) Seq("a=b;c,d#e~f!g*h?i^j:k")
        else Seq.tabulate(i % 5 + 1)(j => s"tok${(i * 31 + j) % 23}")
      (i.toLong, toks)
    }

  private def readBack(d: String): Seq[(Long, Seq[String])] =
    spark.read.format("gshard").load(d).collect().toSeq
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getSeq[String](1)))
      .sortBy(_._1)

  test("fuzz roundtrip: nulls, empty lists, empty strings, unicode, " +
      "reserved chars — byte-exact through BOTH write paths") {
    val n = 500
    val want = expected(n)
    // path write (ShardFormat.write), small chunks to force chunk
    // boundaries through every shape
    val d1 = tmp("path")
    ShardFormat.write(mixed(n), d1, "id", 4, chunkRows = 37)
    assert(readBack(d1) == want)
    // DSv2 write path
    val d2 = tmp("dsv2")
    mixed(n).write.format("gshard").option("rangecol", "id")
      .option("shards", 4).mode("overwrite").save(d2)
    assert(readBack(d2) == want)
  }

  test("null ELEMENTS reject loudly on both write paths") {
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Seq("ok", null, "x")), Row(2L, Seq("y"))), 1),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("toks", ArrayType(StringType, containsNull = true)))))
    val ex1 = intercept[Exception] {
      ShardFormat.write(bad, tmp("nullelem"), "id", 1)
    }
    assert(exMessageChain(ex1).contains("null string-list element"))
    val ex2 = intercept[Exception] {
      bad.write.format("gshard").option("rangecol", "id")
        .mode("overwrite").save(tmp("nullelem2"))
    }
    assert(exMessageChain(ex2).contains("null string-list element"))
  }

  private def exMessageChain(t: Throwable): String = {
    var c: Throwable = t; val sb = new StringBuilder
    while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
    sb.toString
  }

  test("filter pushdown on the long key still prunes files; the " +
      "string-list column carries no zone slots and decodes only in " +
      "surviving chunks") {
    val d = tmp("prune")
    ShardFormat.write(mixed(400), d, "id", 8, chunkRows = 25)
    val got = spark.read.format("gshard").load(d)
      .filter(col("id") >= 390L)
      .select(col("id"), coalesce(size(col("toks")), lit(-1)).as("sz"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    val want = expected(400).filter(_._1 >= 390L)
      .map { case (id, t) => (id, if (t == null) -1 else t.length) }
    assert(got.toSeq == want)
  }

  test("catalog CTAS + INSERT + upsert keep the string-list column " +
      "exact; projection pruning skips its block") {
    val wh = tmp("wh")
    spark.conf.set("spark.sql.catalog.gshard_lstr",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_lstr.warehouse", wh)
    mixed(120).createOrReplaceTempView("lstr_src")
    spark.sql(
      "CREATE TABLE gshard_lstr.main.t AS SELECT * FROM lstr_src WHERE id < 100")
    spark.sql(
      "INSERT INTO gshard_lstr.main.t SELECT * FROM lstr_src WHERE id >= 100")
    val got = spark.table("gshard_lstr.main.t").collect().toSeq
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getSeq[String](1)))
      .sortBy(_._1)
    assert(got == expected(120))
    // upsert through a string-list-carrying table: replaced rows land
    val d = s"$wh/main/t"
    val sess = spark
    import sess.implicits._
    val upd = Seq((5L, Seq("NEW5")), (200L, Seq("NEW200")))
      .toDF("id", "toks")
    ShardOps.upsert(spark, d, upd, "id")
    val after = spark.read.format("gshard").load(d)
      .filter(col("id").isin(5L, 200L))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSet
    assert(after == Set((5L, Seq("NEW5")), (200L, Seq("NEW200"))))
    // projection that DROPS the list column still answers (block skip)
    assert(spark.read.format("gshard").load(d)
      .agg(count(lit(1))).head.getLong(0) == 121L)
  }

  test("ALTER TABLE ADD COLUMN of array<string>: old files read NULL") {
    val wh = tmp("evo")
    spark.conf.set("spark.sql.catalog.gshard_evo",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_evo.warehouse", wh)
    val sess = spark
    import sess.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
      .createOrReplaceTempView("evo_src")
    spark.sql("CREATE TABLE gshard_evo.main.t AS SELECT * FROM evo_src")
    spark.sql("ALTER TABLE gshard_evo.main.t ADD COLUMN toks ARRAY<STRING>")
    Seq((3L, "c", Seq("x", "y"))).toDF("id", "tag", "toks")
      .createOrReplaceTempView("evo_new")
    spark.sql("INSERT INTO gshard_evo.main.t SELECT * FROM evo_new")
    val got = spark.table("gshard_evo.main.t").orderBy("id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) null else r.getSeq[String](2))).toSeq
    assert(got == Seq((1L, null), (2L, null), (3L, Seq("x", "y"))))
  }

  test("payload block compression (r17): text-heavy string and " +
      "string-list blocks deflate — smaller files, identical bytes " +
      "back; -Dgraft.gshard.compress=false writes raw and still " +
      "reads back identically") {
    val sess = spark
    import sess.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    // repetitive natural-language-ish payloads: the case compression
    // exists for (dictionary can't help — every row distinct)
    def rows = (0L until 3000L).map { i =>
      (i, s"the quick brown fox jumps over the lazy dog number $i " +
        "and keeps on jumping through the long repetitive corpus",
        Seq.tabulate(12)(j => s"token_${(i + j) % 40}"))
    }.toDF("id", "text", "toks")
    def sizeOf(d: String): Long = ShardFormat.listDir(Paths.get(d))
      .filter(_.startsWith("part-"))
      .map(f => JFiles.size(Paths.get(d, f))).sum
    def readBack(d: String): Map[Long, (String, Seq[String])] =
      spark.read.format("gshard").load(d).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getSeq[String](2)))
        .toMap
    val dOn = tmp("comp_on")
    ShardFormat.write(rows, dOn, "id", 2)
    val dOff = tmp("comp_off")
    System.setProperty("graft.gshard.compress", "false")
    try ShardFormat.write(rows, dOff, "id", 2)
    finally System.clearProperty("graft.gshard.compress")
    val (on, off) = (sizeOf(dOn), sizeOf(dOff))
    assert(on < off * 6 / 10,
      s"compression did not bite: $on vs $off bytes")
    val want = rows.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getSeq[String](2)))
      .toMap
    assert(readBack(dOn) == want)
    assert(readBack(dOff) == want)
  }

  leavesNoTempDirs()
}
