package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import graft.{SparkEntry, SparkSpec}

/** Each drain sizes its state partitions to its bounded input:
  * `clamp(ceil(sourceBytes / advisoryPartitionSizeInBytes), 1,
  * shufflePartitions)`, read back from the drained query's own
  * progress reports. */
class DrainStatePartitionsSpec extends SparkSpec {

  private val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** `numShufflePartitions` of every stateful operator in the progress
    * reports posted while `body` runs. A drain's query lives in a child
    * session, out of sight of `spark.streams`, so the reports are
    * caught on the SparkContext's listener bus. */
  private def stateParts(body: => Unit): Set[Long] = {
    val seen = new ConcurrentLinkedQueue[Long]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent =>
          p.progress.stateOperators.foreach(o => seen.add(o.numShufflePartitions))
        case _ => ()
      }
    }
    PlanBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      PlanBridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    seen.asScala.toSet
  }

  /** Runs `body` with the advisory partition size set to `bytes`. */
  private def withAdvisory[T](bytes: Long)(body: => T): T = {
    val saved = spark.conf.getOption(advisoryKey)
    spark.conf.set(advisoryKey, bytes.toString)
    try body finally saved.fold(spark.conf.unset(advisoryKey))(spark.conf.set(advisoryKey, _))
  }

  /** Bytes of every regular file under `dir`, symlinks followed. */
  private def bytesUnder(dir: Path): Long = {
    val s = Files.walk(dir, java.nio.file.FileVisitOption.FOLLOW_LINKS)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  private lazy val eventsBytes = bytesUnder(Paths.get(Streaming.stageDir(tables, "events")))
  private def shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toLong
  private def ceilDiv(a: Long, b: Long) = (a + b - 1) / b

  test("a stream_* drain over the test tables runs its state in one partition") {
    val parts = stateParts(SparkEntry.queries("stream_window_agg")(spark, sfDir).collect())
    assert(parts == Set(1L))
  }

  test("a drain over N bytes gets min(shufflePartitions, ceil(N / advisory)) partitions") {
    assert(shufflePartitions > 3)
    val n = eventsBytes
    Seq(n -> 1L, ceilDiv(n, 3) -> 3L, n / 100 -> shufflePartitions).foreach {
      case (advisory, want) =>
        assert(want == math.min(shufflePartitions, ceilDiv(n, advisory)))
        val parts = withAdvisory(advisory) {
          stateParts(Streaming.streamWindowAgg(tables).collect())
        }
        assert(parts == Set(want), s"advisory $advisory over $n bytes")
    }
  }

  test("a stream-stream join sums the bytes of both its sources") {
    // each side alone fits one advisory size; the two together need two
    val parts = withAdvisory(eventsBytes) {
      stateParts(Streaming.streamStreamJoin(tables).collect())
    }
    assert(parts == Set(2L))
  }

  test("a glob source counts the bytes of every directory it matches") {
    val staged = Streaming.stageEventsWeekly(tables)
    val weeks = Files.list(Paths.get(staged)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("w"))
    assert(weeks.size > 2)
    val n = weeks.map(bytesUnder).sum
    val schema = spark.read.parquet(s"$staged/w*").schema
    val agg = spark.readStream.schema(schema).parquet(s"$staged/w*")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    var total = 0L
    val parts = withAdvisory(ceilDiv(n, 2)) {
      stateParts {
        total = Streaming.drain(agg, "complete")._1.agg(sum(col("n"))).head().getLong(0)
      }
    }
    assert(parts == Set(2L))
    assert(total == tables.events.count())
  }

  test("a source without a path falls back to the session's shuffle partitions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    input.addData(1 to 100)
    var rows = 0L
    val parts = stateParts {
      rows = Streaming.drain(input.toDF().groupBy(col("value") % 7).count(),
        "complete")._1.count()
    }
    assert(parts == Set(shufflePartitions))
    assert(rows == 7)
  }
}
