package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Scale
import graft.sources.SourceOps
import graft.sources.shard.{ShardFormat, ShardOps}

/** The streaming CDC fold must equal the batch merge AND must really
  * run as a sequence of per-day micro-batches — if maxFilesPerTrigger
  * were silently ignored, a single-batch drain would still match the
  * oracle (split-invariance) but would not be the daily-merge shape
  * the operator exists to demonstrate. The running dimension is a
  * keyed 8-shard gshard table, so the spec reads the commit history
  * off its manifest: one generation per daily merge, the batch id in
  * the stream's txn slot, and — replaying the five daily merges on a
  * fresh 8-shard seed — only the shard files whose key range a day
  * touched are replaced.
  */
class StreamScd2MergeSpec extends SparkSpec {

  private def dimSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("user_id"), col("status"), col("valid_from"),
        col("valid_to"), col("is_current"), col("n_days_observed"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3), r.getBoolean(4), r.getLong(5)))
      .toSet

  test("stream_scd2_merge equals the batch merge and replays >1 micro-batch") {
    val streamed = dimSet(Streaming.streamScd2Merge(tables))
    val batch = dimSet(Scale.qScd2Merge(tables))
    assert(streamed == batch)

    // each of the 5 per-day micro-batches must have committed its own
    // generation on top of the gen-0 seed (if maxFilesPerTrigger were
    // ignored, one big batch would leave only generations 0 and 1),
    // and the head's txn slot must name the final daily batch
    val head = ShardFormat.readManifest(Streaming.scd2TargetDir(tables, 25))
    assert(head.gen == 5L, s"expected 5 daily commits past the seed: ${head.gen}")
    assert(head.txns == Map(Streaming.Scd2TxnApp -> 4L),
      s"txn slot does not name the final daily batch: ${head.txns}")
  }

  test("a forced-8-bucket replay of the five daily merges reproduces " +
      "the stream's dimension with touched-only version chains") {
    val dir = SourceOps.staging("scd2_spec_8shard")
    ShardFormat.write(spark.table(Scale.scd2State(tables, 25)), dir,
      "user_id", 8)
    assert(ShardFormat.readManifest(dir).entries.size == 8)
    val incr = Scale.scd2Events(tables).filter(col("day") >= 25)
    val days = incr.select(col("day")).distinct()
      .collect().map(_.getInt(0)).sorted
    assert(days.length == 5, s"expected 5 CDC days, got ${days.toSeq}")
    days.zipWithIndex.foreach { case (d, i) =>
      val day = incr.filter(col("day") === d)
      val users = day.select(col("user_id")).distinct()
        .collect().map(_.getLong(0))
      val before = ShardFormat.readManifest(dir)
      ShardOps.merge(spark, dir, day, "user_id", 0, i.toLong,
        Some("spec"))(Scale.scd2PerKey)
      val after = ShardFormat.readManifest(dir)
      assert(after.gen == before.gen + 1)
      // replaced = exactly the files whose key range holds a user
      // active that day; every other file survives by name
      val touched = before.entries.filter(e => users.exists(u =>
        e.zMin("user_id") <= u && u <= e.zMax("user_id"))).map(_.file).toSet
      val old = before.entries.map(_.file).toSet
      assert(old -- after.entries.map(_.file) == touched,
        s"day $d replaced the wrong files")
    }
    // daily merges on the shard seed == the one-shot batch rebuild
    assert(dimSet(spark.read.format("gshard").load(dir)) ==
      dimSet(Scale.qScd2Merge(tables)))
  }
}
