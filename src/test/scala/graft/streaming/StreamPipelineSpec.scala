package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.sources.ShardTempRoot
import graft.pipeline.{CloseReason, NeedCancel, PipelineConfig}

class StreamPipelineSpec extends ShardTempRoot {

  // FileStreamSource requires a directory; stage the single parquet
  // file behind a symlink in a temp dir.
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Paths.get(tmp("stream-events"))
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    dir.toString
  }

  private def eventsStream = {
    val t = tables
    val schema = t.raw("events").schema
    spark.readStream.schema(schema).parquet(eventsDir)
  }

  test("availableNow stream drains, counts batches/items, ends IdleTimeout") {
    val sp = new StreamPipeline(PipelineConfig(maxWorkers = 4))
    val seen = new AtomicLong(0)
    val (reason, errors) = sp.run(eventsStream, (df, _) => {
      seen.addAndGet(df.count())
    })
    assert(errors.isEmpty, s"unexpected errors: $errors")
    assert(reason == CloseReason.IdleTimeout)
    assert(sp.batches > 0)
    assert(sp.items > 0)
    assert(seen.get() == sp.items)
  }

  test("NeedCancel from the batch processor → ProcessCancel") {
    val sp = new StreamPipeline(PipelineConfig(maxWorkers = 4))
    val (reason, _) = sp.run(eventsStream, (_, _) => throw NeedCancel)
    assert(reason == CloseReason.ProcessCancel)
  }

  test("processor exceptions surface as errors") {
    val sp = new StreamPipeline(PipelineConfig(maxWorkers = 4))
    val (_, errors) = sp.run(eventsStream, (_, _) => sys.error("batch boom"))
    assert(errors.nonEmpty)
  }

  leavesNoTempDirs()
}
