package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.ShardTempRoot

/** E204 — the soak proof the replay-only streaming suite lacked:
  * every other stream spec drains `Trigger.AvailableNow()` (the right
  * shape for oracle equivalence), so until this spec nothing ever
  * demonstrated the CONTINUOUS claim — a processing-time trigger
  * ticking over a live source for many micro-batches with state that
  * stays bounded.
  *
  * Here the event corpus is staged as six files and a keyed streaming
  * aggregation runs under `Trigger.ProcessingTime(150 ms)` with
  * `maxFilesPerTrigger = 1`: the query must tick through ≥ 5 separate
  * non-empty micro-batches (cadence, not one gulp), its state-store
  * row count must stay bounded by the key domain at EVERY progress
  * point (the state-bound assertion — a state leak shows up as
  * numRowsTotal drifting past the distinct-key count), and the final
  * materialized result must equal the one-shot batch aggregation
  * row-for-row (the stream/batch equivalence discipline, now under a
  * live trigger).
  */
class ProcessingTimeSoakSpec extends ShardTempRoot {

  test("processing-time trigger: ≥5 micro-batches, bounded state, batch-equal") {
    val events = tables.events
      .select(col("user_id"), col("event_type"), col("value"))
    // six staged files — one per micro-batch under maxFilesPerTrigger=1
    val dir = Paths.get(tmp("soak_"))
    (0 until 6).foreach { i =>
      val tmp = dir.resolve(s"_tmp_$i")
      events.filter(pmod(col("user_id"), lit(6)) === i)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(f"slice_$i%02d.parquet"))
      Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
    val schema = events.schema
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    val q = agg.writeStream
      .trigger(Trigger.ProcessingTime("150 milliseconds"))
      .outputMode("complete")
      .format("memory")
      .queryName("soak_live")
      .start()
    try {
      q.processAllAvailable()
      // cadence: the trigger must have ticked through the files as
      // SEPARATE micro-batches — at least 5 non-empty ones (6 files;
      // the file source may pick up the first before the clock aligns)
      val nonEmpty = q.recentProgress.filter(_.numInputRows > 0)
      assert(nonEmpty.length >= 5,
        s"only ${nonEmpty.length} non-empty micro-batches — not a live cadence")
      // state bound, at EVERY progress point: one state row per user
      // key, never more (a leaking state store drifts past this)
      val nKeys = events.select(col("user_id")).distinct().count()
      nonEmpty.foreach { p =>
        val rows = p.stateOperators.head.numRowsTotal
        assert(rows <= nKeys, s"state leak: $rows rows > $nKeys keys")
      }
      assert(nonEmpty.last.stateOperators.head.numRowsTotal == nKeys)
    } finally q.stop()
    // the live-trigger drain must equal the one-shot batch aggregation
    val streamed = spark.table("soak_live").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch,
      s"drift: ${(streamed -- batch).take(3)} vs ${(batch -- streamed).take(3)}")
    assert(batch.nonEmpty)
  }

  leavesNoTempDirs()
}
