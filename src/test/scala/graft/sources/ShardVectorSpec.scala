package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.shard.ShardFormat

/** VECTOR (embedding) columns in the gshard format — the column type
  * the LLM mandate centers on: `array<float>` / `array<double>` blocks
  * carrying raw IEEE element bits (exact roundtrip), row-grain null
  * bitmaps like every other column, fixed-dim layout when a chunk's
  * non-null rows agree on length (the embedding case: zero per-row
  * overhead) and an element-offset table otherwise. No zone maps —
  * vectors have no meaningful order — and NO null elements (rejected
  * loudly at write, which keeps blocks offset-only). Both write paths
  * (ShardFormat.write and the DSv2 writer) are exercised through the
  * columnar read path, plus the catalog CTAS surface.
  */
class ShardVectorSpec extends ShardTempRoot {

  private val vecSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("emb", ArrayType(FloatType, containsNull = false)),
    StructField("dbl", ArrayType(DoubleType, containsNull = false))))

  /** Deterministic mixed-shape frame: fixed-dim floats (with weird
    * values — negative zero, subnormals, NaN payload normalization is
    * avoided by raw bits), variable-length doubles, null rows, an
    * empty array. */
  private def mixed(n: Int) = {
    val rows = (0 until n).map { i =>
      val emb =
        if (i % 7 == 3) null
        else Array.tabulate(8)(j =>
          if (j == 0) -0.0f
          else if (j == 1) java.lang.Float.MIN_VALUE // subnormal
          else (i * 31 + j) * 0.001f - 1.5f)
      val dbl =
        if (i % 11 == 5) null
        else if (i % 13 == 6) Array.empty[Double]
        else Array.tabulate(i % 5 + 1)(j => (i * 17 + j) * 1e-3 - 2.0)
      Row(i.toLong, emb, dbl)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), vecSchema)
  }

  private def asKey(r: Row): (Long, Seq[Float], Seq[Double]) = (
    r.getLong(0),
    if (r.isNullAt(1)) null else r.getSeq[Float](1),
    if (r.isNullAt(2)) null else r.getSeq[Double](2))

  test("vectors roundtrip bit-exact through both write paths and " +
      "the reader (fixed-dim floats, variable doubles, null rows, " +
      "empty arrays, subnormals, negative zero)") {
    val df = mixed(503)
    val want = df.collect().map(asKey).toSet

    // path 1: the standalone writer (small chunks force multi-chunk)
    val d1 = tmp("fmt")
    ShardFormat.write(df, d1, "id", 3, chunkRows = 64)
    // path 2: the DSv2 writer
    val d2 = tmp("dsv2")
    df.write.format("gshard").option("rangecol", "id")
      .option("shards", 3).option("chunkrows", "64")
      .mode("overwrite").save(d2)

    for (d <- Seq(d1, d2)) {
      val got = spark.read.format("gshard").load(d)
        .collect().map(asKey).toSet
      assert(got == want, s"dir=$d diverged")
      // float bits must be EXACT: compare raw bits of one weird row
      val bits = spark.read.format("gshard").load(d)
        .filter(col("id") === 0L).head.getSeq[Float](1)
        .map(java.lang.Float.floatToRawIntBits)
      assert(bits(0) == java.lang.Float.floatToRawIntBits(-0.0f))
      assert(bits(1) ==
        java.lang.Float.floatToRawIntBits(java.lang.Float.MIN_VALUE))
    }
  }

  test("column pruning skips vector blocks: projecting only the id " +
      "never decodes embedding bytes, and pruned scans stay exact") {
    val d = tmp("prune")
    ShardFormat.write(mixed(200), d, "id", 2, chunkRows = 64)
    // the projected result must be exact and the plan's ReadSchema
    // narrow (the reader skips unprojected blocks via their length
    // prefix — vector bytes are never decoded for this scan)
    val scan = spark.read.format("gshard").load(d).select("id")
    assert(scan.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 200L))
    val desc = scan.queryExecution.executedPlan.toString
    assert(desc.contains("ReadSchema: struct<id:bigint>"),
      s"vector columns not pruned from the scan:\n$desc")
  }

  test("null vector ELEMENTS reject loudly on both write paths") {
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Array(1.0f, 2.0f), Array(1.0)),
        Row(2L, null, Array(2.0)),
        Row(3L, Array[Any](3.0f, null), Array(3.0))).map(r =>
          Row(r.get(0), r.get(1), r.get(2))), 1),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("emb", ArrayType(FloatType, containsNull = true)),
        StructField("dbl", ArrayType(DoubleType, containsNull = true)))))
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    def saysNullElement(t: Throwable): Boolean = chain(t).exists(c =>
      Option(c.getMessage).exists(_.contains("null vector element")))
    val e1 = intercept[Exception] {
      ShardFormat.write(bad, tmp("badelem1"), "id", 1)
    }
    assert(saysNullElement(e1), s"unexpected: $e1")
    val e2 = intercept[Exception] {
      bad.write.format("gshard").option("rangecol", "id")
        .mode("overwrite").save(tmp("badelem2"))
    }
    assert(saysNullElement(e2), s"unexpected: $e2")
  }

  test("containsNull spellings name the same storage: append of a " +
      "containsNull=true frame onto a containsNull=false table works") {
    val d = tmp("cnull")
    ShardFormat.write(mixed(50), d, "id", 1) // containsNull=false schema
    val extra = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1000L, Array(9.0f), Array(9.0))), 1),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("emb", ArrayType(FloatType, containsNull = true)),
        StructField("dbl", ArrayType(DoubleType, containsNull = true)))))
    extra.write.format("gshard").option("rangecol", "id")
      .mode("append").save(d)
    assert(spark.read.format("gshard").load(d).count() == 51L)
  }

  test("catalog CTAS with a vector column: SQL create, insert, read " +
      "back through the catalog") {
    val wh = tmp("wh")
    spark.conf.set("spark.sql.catalog.gshard_vec_t",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_vec_t.warehouse", wh)
    mixed(40).createOrReplaceTempView("vec_src")
    spark.sql("DROP TABLE IF EXISTS gshard_vec_t.main.emb")
    spark.sql("CREATE TABLE gshard_vec_t.main.emb AS " +
      "SELECT * FROM vec_src")
    val got = spark.sql(
      "SELECT count(*) AS n, sum(size(emb)) AS elems " +
        "FROM gshard_vec_t.main.emb").head
    val want = mixed(40)
      .agg(count(lit(1)), sum(size(col("emb")))).head
    assert(got.getLong(0) == want.getLong(0))
    assert(got.getLong(1) == want.getLong(1))
    spark.sql("DROP TABLE gshard_vec_t.main.emb")
  }

  test("manifest-reserved characters in column names reject at " +
      "write-build time, not at read time") {
    val df = mixed(10).withColumnRenamed("emb", "a*b")
    val e = intercept[IllegalArgumentException] {
      df.write.format("gshard").option("rangecol", "id")
        .mode("overwrite").save(tmp("badname"))
    }
    assert(e.getMessage.contains("manifest-reserved"))
    val e2 = intercept[IllegalArgumentException] {
      ShardFormat.write(mixed(10).withColumnRenamed("dbl", "x~y"),
        tmp("badname2"), "id", 1)
    }
    assert(e2.getMessage.contains("manifest-reserved"))
  }

  test("randomized vector shapes roundtrip byte-exact (seeded sweep: " +
      "dim × null density × fixed/variable × element type × chunks)") {
    val rnd = new scala.util.Random(0x5EEDFACEL)
    (0 until 8).foreach { i =>
      val n = 100 + rnd.nextInt(900)
      val dim = 1 + rnd.nextInt(96)
      val variable = rnd.nextBoolean()
      val nullDen = rnd.nextInt(3)
      val isFloat = rnd.nextBoolean()
      val et = if (isFloat) FloatType else DoubleType
      val rows = (0 until n).map { k =>
        val len = if (variable) rnd.nextInt(dim + 1) else dim
        val v: Any =
          if (nullDen > 0 && rnd.nextInt(4) < nullDen) null
          else if (isFloat) Array.fill(len)(
            java.lang.Float.intBitsToFloat(rnd.nextInt()) match {
              case f if f.isNaN => 1.25f // raw-bit NaNs: skip (Spark
              // treats all NaNs equal; equality compare would pass
              // anyway, but Set-compare of Seq[Float] uses ==)
              case f => f
            })
          else Array.fill(len)(rnd.nextDouble() * 2e3 - 1e3)
        Row(k.toLong, v)
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("v", ArrayType(et, containsNull = false)))))
      val d = tmp(s"sweep$i")
      ShardFormat.write(df, d, "id", 1 + rnd.nextInt(3),
        chunkRows = 32 + rnd.nextInt(512))
      val want = df.collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getSeq[Any](1))).toSet
      val got = spark.read.format("gshard").load(d)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getSeq[Any](1))).toSet
      assert(got == want,
        s"case #$i dim=$dim variable=$variable nulls=$nullDen " +
          s"float=$isFloat diverged")
    }
  }

  leavesNoTempDirs()
}
