package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.ShardTempRoot

/** Exactly-once incremental processing across restarts — the property
  * a production backfill-then-tail deployment lives on: a checkpointed
  * availableNow query drains what exists, and a LATER start with the
  * SAME checkpoint processes only files that arrived in between, never
  * reprocessing (no duplicates) and never skipping. The file-source
  * offset log in the checkpoint is what carries the read position
  * between runs.
  */
class CheckpointResumeSpec extends ShardTempRoot {

  test("restart with the same checkpoint processes only new files") {
    val base = tmp("ckpt_")
    val srcDir = s"$base/src"
    val ckpt = s"$base/ckpt"
    Files.createDirectories(Paths.get(srcDir))

    val sess = spark
    import sess.implicits._
    val schema = Seq((0L, "x")).toDF("id", "v").schema

    def writeBatch(name: String, ids: Range): Unit =
      ids.map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .coalesce(1).write.parquet(s"$srcDir/$name")

    val outDir = s"$base/out"
    // file sink: the output IS the dedup evidence — a resume that
    // reprocessed would append duplicate ids, one that skipped would
    // leave holes (the memory sink refuses checkpoint recovery)
    def drain(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(s"$srcDir/*")
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .outputMode("append")
        .format("parquet")
        .start()
      q.awaitTermination()
    }
    def sinkIds(): Seq[Long] =
      spark.read.parquet(outDir).collect().map(_.getLong(0)).toSeq.sorted

    writeBatch("b0", 0 until 10)
    drain()
    assert(sinkIds() == (0L until 10L).toSeq, sinkIds().mkString(","))

    // new data lands between runs; the resumed query must process ONLY
    // it — exactly once overall
    writeBatch("b1", 10 until 15)
    drain()
    assert(sinkIds() == (0L until 15L).toSeq,
      s"resume reprocessed or skipped: ${sinkIds().mkString(",")}")
  }

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** A child session whose checkpoints Spark's default manager writes. */
  private def sparkDefault(): SparkSession = {
    val child = spark.newSession()
    child.conf.set(managerKey, classOf[FileContextBasedCheckpointFileManager].getName)
    child
  }

  /** Drain ids 0..9 under `first`, then ids 10..14 under `second` from
    * the same checkpoint; the file sink must hold each id exactly once. */
  private def resumesAcross(first: SparkSession, second: SparkSession): Unit = {
    val base = tmp("ckpt_compat_")
    val (srcDir, ckpt, outDir) = (s"$base/src", s"$base/ckpt", s"$base/out")
    Files.createDirectories(Paths.get(srcDir))
    val sess = spark
    import sess.implicits._
    val schema = Seq((0L, "x")).toDF("id", "v").schema
    def writeBatch(name: String, ids: Range): Unit =
      ids.map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .coalesce(1).write.parquet(s"$srcDir/$name")
    def drain(s: SparkSession): Unit =
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(s"$srcDir/*")
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .outputMode("append")
        .format("parquet")
        .start()
        .awaitTermination()
    def sinkIds(): Seq[Long] =
      spark.read.parquet(outDir).collect().map(_.getLong(0)).toSeq.sorted

    writeBatch("b0", 0 until 10)
    drain(first)
    assert(sinkIds() == (0L until 10L).toSeq, sinkIds().mkString(","))
    writeBatch("b1", 10 until 15)
    drain(second)
    assert(sinkIds() == (0L until 15L).toSeq,
      s"resume reprocessed or skipped: ${sinkIds().mkString(",")}")
  }

  test("a checkpoint Spark's default manager wrote resumes under graft's") {
    assert(spark.conf.get(managerKey) == classOf[LocalCheckpointFiles].getName)
    resumesAcross(sparkDefault(), spark)
  }

  test("a checkpoint graft's manager wrote resumes under Spark's default") {
    resumesAcross(spark, sparkDefault())
  }

  leavesNoTempDirs()
}
