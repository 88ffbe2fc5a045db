package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ColumnarToRowExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.shard.{ShardCdc, ShardFormat, ShardOps}
import graft.sources.shard.tests.ReadProbe

/** gshard has one decode path, the columnar reader: every read — a
  * batch scan, a `readStream` source, and both `gshard-cdc` feeds —
  * plans a columnar scan under Spark's `ColumnarToRow`, and the CDC
  * feeds, which append their side and version as constant vectors,
  * stay exact across the reader's batches. A batch is one surviving
  * chunk's unmasked rows: the reader never holds more than one chunk. */
class ShardColumnarReadSpec extends ShardTempRoot {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** The plan reads its source through a columnar scan under a
    * `ColumnarToRow`, and plans no row-based scan. */
  private def assertColumnarScan(p: SparkPlan): Unit = {
    val all = nodes(p)
    val scans = all.collect { case s: DataSourceV2ScanExecBase => s }
    assert(scans.nonEmpty, s"no DSv2 scan in\n$p")
    assert(scans.forall(_.supportsColumnar), s"a row-based scan in\n$p")
    assert(all.exists {
      case c: ColumnarToRowExec => nodes(c.child).exists(scans.contains)
      case _ => false
    }, s"no ColumnarToRow over the scan in\n$p")
  }

  private def lastPlan(q: StreamingQuery): SparkPlan =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan

  private def drain(df: DataFrame, name: String): (StreamingQuery, DataFrame) = {
    val q = df.writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmp(s"ck_$name"))
      .format("memory").queryName(name).start()
    q.awaitTermination()
    (q, spark.table(name))
  }

  private def rows(n: Long, from: Long = 0L, salt: String = "v") = {
    val sess = spark
    import sess.implicits._
    (from until from + n).map { i =>
      (i, if (i % 9 == 0) null else s"$salt$i", i * 0.5)
    }.toDF("id", "tag", "score")
  }

  test("every gshard read plans a columnar scan: batch, readStream, " +
      "and the gshard-cdc diff and rowlevel feeds") {
    val d = tmp("plans")
    ShardFormat.write(rows(300), d, "id", 2)
    val batch = spark.read.format("gshard").load(d)
    assert(batch.count() == 300L)
    val filtered = batch.filter(col("id") > 10L).select(col("tag"))
    filtered.collect()
    assertColumnarScan(filtered.queryExecution.executedPlan)

    val (src, srcRows) =
      drain(spark.readStream.format("gshard").load(d), "colread_src")
    assert(srcRows.count() == 300L)
    assertColumnarScan(lastPlan(src))

    ShardOps.upsert(spark, d, rows(20, from = 290L, salt = "u"), "id")
    for (rowLevel <- Seq(false, true)) {
      val (q, feed) = drain(spark.readStream.format("gshard-cdc")
        .option("startingversion", 0).option("rowlevel", rowLevel)
        .load(d), s"colread_cdc_$rowLevel")
      assert(feed.count() > 0L)
      assertColumnarScan(lastPlan(q))
    }
  }

  /** (id, tag, score) → net side count, zero nets dropped. */
  private def net(df: DataFrame): Map[(Long, String, Double), Long] =
    df.groupBy("id", "tag", "score").agg(sum(ShardCdc.SideCol).as("n"))
      .filter(col("n") =!= 0L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)) -> r.getLong(3))
      .toMap

  test("a CDC diff and a chg- file of more than 4096 rows equal Spark's " +
      "own net diff of the two generations") {
    val d = tmp("big")
    ShardFormat.write(rows(5000), d, "id", 1)
    // even keys change, odd keys are re-upserted unchanged, 1000 insert
    val sess = spark
    import sess.implicits._
    val upd = rows(6000).as[(Long, String, Double)].map { case (i, t, s) =>
      if (i >= 5000L || i % 2 == 0) (i, s"u$i", s + 1.0) else (i, t, s)
    }.toDF("id", "tag", "score")
    ShardOps.upsert(spark, d, upd, "id", nShards = 1)
    val m1 = ShardFormat.readManifest(d)
    assert(m1.changes.map(_._2).sum > 4096L, m1.changes)
    assert(m1.entries.exists(_.rows > 4096L), m1.entries)

    def gen(v: Long) = spark.read.format("gshard")
      .option("versionAsOf", v).load(d)
    val want = net(gen(1).withColumn(ShardCdc.SideCol, lit(1))
      .unionByName(gen(0).withColumn(ShardCdc.SideCol, lit(-1))))
    // 2500 changed keys leave a preimage and a postimage, plus the inserts
    assert(want.size == 2 * 2500 + 1000)

    for (rowLevel <- Seq(false, true)) {
      val (_, feed) = drain(spark.readStream.format("gshard-cdc")
        .option("startingversion", 0).option("rowlevel", rowLevel)
        .load(d), s"colread_big_$rowLevel")
      assert(feed.filter(col(ShardCdc.VersionCol) =!= 1L).isEmpty)
      assert(net(feed) == want, s"rowlevel=$rowLevel")
      // the change files hold exactly the net rows, nothing that cancels
      if (rowLevel) assert(feed.count() == want.values.map(math.abs).sum)
    }
  }

  test("the reader decodes one chunk at a time: one batch per " +
      "surviving chunk, sized to its unmasked rows; skipped chunks " +
      "are never decoded") {
    val sess = spark
    import sess.implicits._
    val d = tmp("colread_chunks")
    // 6 chunks of 1000 rows (the last 500); `g` is 1 only in chunk 2,
    // so `g = 0` skips it off its zone map
    val n = 5500L
    ShardFormat.write((0L until n).map(i => (i, if (i / 1000 == 2) 1L else 0L))
      .toDF("id", "g"), d, "id", 1, chunkRows = 1000)
    val masked = Seq(3L, 998L, 3001L, 3500L) // chunks 0 and 3
    assert(ShardOps.deleteMor(spark, d, col("id").isin(masked: _*)) == 4L)
    val m = ShardFormat.readManifest(d)
    val e = m.entries.head
    assert(m.entries.size == 1 && e.rows == n)
    val dec = ReadProbe.read(s"$d/${e.file}", m.schema, Seq("id", "_pos"),
      Seq(org.apache.spark.sql.sources.EqualTo("g", 0L)),
      dvPath = s"$d/${e.dv.get._1}")
    val chunks = (0L until n).grouped(1000).toSeq
    assert(dec.chunksTotal == chunks.size)
    assert(dec.chunksRead == chunks.size - 1)
    val survivors = chunks.patch(2, Nil, 1).map(_.filterNot(masked.contains))
    assert(dec.batchRows == survivors.map(_.size),
      s"batches ${dec.batchRows} are not the surviving chunks")
    // the one sorted file: a row's physical position is its id
    assert(dec.cols(0) == survivors.flatten)
    assert(dec.cols(1) == survivors.flatten)
  }

  leavesNoTempDirs()
}
