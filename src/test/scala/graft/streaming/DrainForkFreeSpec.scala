package graft.streaming

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import graft.sources.ShardTempRoot

/** A drain's checkpoint writes start no process. Hadoop's local file
  * system forks a `chmod` per created file and two `readlink`s per
  * rename; under graft's checkpoint file manager none of the offset,
  * commit or state-store files of a drain goes that way. Each drain runs
  * under an in-process flight recording of `jdk.ProcessStart`, whose
  * stacks must show no checkpoint file manager, Spark's or graft's.
  * (Processes started elsewhere, as Spark's artifact cleanup or RocksDB's
  * file upload, are not this spec's concern.) */
class DrainForkFreeSpec extends ShardTempRoot {

  private def isCheckpointFrame(cls: String): Boolean =
    cls.contains("CheckpointFileManager") ||
      cls.startsWith(classOf[LocalCheckpointFiles].getName)

  /** `command <- checkpoint frame` of each process started under a
    * checkpoint file manager while `body` runs. */
  private def checkpointForks(body: => Unit): Seq[String] = {
    val file = Paths.get(tmp("jfr_"), "drain.jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      body
      rec.stop()
      rec.dump(file)
    } finally rec.close()
    RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .flatMap { e =>
        val classes = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(_.getMethod.getType.getName)
        classes.find(isCheckpointFrame).map(c => s"${e.getString("command")} <- $c")
      }
  }

  test("a stream_window_agg drain (HDFS-backed state) forks nothing on the checkpoint path") {
    val forks = checkpointForks(Streaming.streamWindowAgg(tables).collect())
    assert(forks.isEmpty, forks.mkString("\n"))
  }

  test("a stream_tws_funnel drain (RocksDB state) forks nothing on the checkpoint path") {
    val forks = checkpointForks(Streaming.streamTwsFunnel(tables).collect())
    assert(forks.isEmpty, forks.mkString("\n"))
  }

  leavesNoTempDirs()
}
