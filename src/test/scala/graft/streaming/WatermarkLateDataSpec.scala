package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.ShardTempRoot

/** Watermark semantics under restart — the contract bounded streaming
  * state rests on: an event-time window finalizes (append-mode emit)
  * once the watermark passes its end, and a row arriving LATER than
  * the watermark is dropped, not silently merged into a re-opened
  * window. Without the drop there is no state bound at 100 TB; with a
  * silent merge the emitted aggregates would be non-deterministic.
  * The watermark itself persists in the checkpoint, so the late row is
  * rejected by a RESUMED query, proving the bound survives restarts.
  */
class WatermarkLateDataSpec extends ShardTempRoot {

  test("append-mode window emits once closed and drops sub-watermark late rows") {
    val base = tmp("wm_")
    val srcDir = s"$base/src"
    Files.createDirectories(Paths.get(srcDir))
    val sess = spark
    import sess.implicits._
    val schema = Seq((new Timestamp(0L), "u")).toDF("ts", "user").schema

    def writeFile(name: String, rows: Seq[(String, String)]): Unit =
      rows.map { case (ts, u) => (Timestamp.valueOf(ts), u) }
        .toDF("ts", "user").coalesce(1).write.parquet(s"$srcDir/$name")

    def drain(): Unit = {
      val q = spark.readStream.schema(schema).parquet(s"$srcDir/*")
        .withWatermark("ts", "5 minutes")
        .groupBy(window(col("ts"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("n"))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .option("path", s"$base/out")
        .outputMode("append")
        .format("parquet")
        .start()
      q.awaitTermination()
    }

    // batch 1: two rows in the 10:00 window, then an 11:00 row that
    // advances the watermark to 10:55 — past the window's 10:10 end
    writeFile("b0", Seq(
      ("2024-03-01 10:01:00", "a"),
      ("2024-03-01 10:07:00", "b"),
      ("2024-03-01 11:00:00", "c")))
    drain()

    // batch 2 (resumed query): a LATE row inside the closed 10:00
    // window, 2h below the checkpointed watermark — must be dropped
    writeFile("b1", Seq(("2024-03-01 10:03:00", "late")))
    drain()

    val out = spark.read.parquet(s"$base/out").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(out.keys.exists(_.startsWith("2024-03-01 10:00")),
      s"closed window never emitted: $out")
    val tenOClock = out.find(_._1.startsWith("2024-03-01 10:00")).get
    assert(tenOClock._2 == 2L,
      s"late row was merged into the closed window: $out")
    // the 11:00 window is still open (watermark 10:55) — not emitted
    assert(!out.keys.exists(_.startsWith("2024-03-01 11:00")), out.toString)
  }

  leavesNoTempDirs()
}
