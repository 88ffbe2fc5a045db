package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners. Jobs, stages and stream progress come off
  * the Spark listener bus; Catalyst phase times come from each executed
  * query's planning tracker. Stream progress is read through
  * `onOtherEvent`: graft drains every stream in a child session, whose
  * `spark.streams` listeners the parent session never sees, while the
  * listener bus is shared by all sessions of the context.
  *
  * Every record carries the number of the operation that was running
  * when the bus delivered it (`Recorder.operation` drains the bus before
  * the next one starts); times are the events' own, not delivery times. */
final class LayerListener(rec: Recorder) extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, Double]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time.toDouble
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t0 =>
      rec.emit("job", "op" -> rec.currentOp, "id" -> e.jobId, "start" -> t0,
        "end" -> e.time.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val times = taskTimes.remove((s.stageId, s.attemptNumber())).map(_.sorted)
      .getOrElse(mutable.ArrayBuffer.empty[Long])
    val m = s.taskMetrics
    val median = if (times.isEmpty) 0L else times(times.size / 2)
    rec.emit("stage",
      "op" -> rec.currentOp,
      "id" -> s.stageId,
      "end" -> s.completionTime.map(_.toDouble).getOrElse(rec.now()),
      "tasks" -> s.numTasks,
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
      "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
      "input_rows" -> (if (m == null) 0L else m.inputMetrics.recordsRead),
      "task_max_ms" -> times.lastOption.getOrElse(0L),
      "task_median_ms" -> median)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      val pr = p.progress
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      rec.emit("progress",
        "op" -> rec.currentOp,
        "id" -> pr.id.toString,
        // the trigger's start
        "ts" -> java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble,
        "input_rows" -> pr.numInputRows,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "offset_ms" -> (d.getOrElse("latestOffset", 0L) + d.getOrElse("getBatch", 0L)),
        "commit_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
        "state_rows" -> pr.stateOperators.map(_.numRowsTotal).sum,
        "state_memory_bytes" -> pr.stateOperators.map(_.memoryUsedBytes).sum)
    case _ =>
  }
}

/** Catalyst phase durations of every query that runs in any session of
  * the context. It is registered through the static conf
  * `spark.sql.queryExecutionListeners`, so each child session graft
  * drains a stream in gets one too; a listener registered on the parent
  * session alone would miss them. Spark constructs it, so it reaches the
  * run's recorder through the companion object. */
final class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = PhaseListener.recorder.foreach { rec =>
    val p = qe.tracker.phases
    def ms(phase: String): Long = p.get(phase).map(_.durationMs).getOrElse(0L)
    rec.emit("phases", "op" -> rec.currentOp,
      "analysis_ms" -> ms("analysis"),
      "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"))
  }
}

object PhaseListener {
  @volatile var recorder: Option[Recorder] = None
}
