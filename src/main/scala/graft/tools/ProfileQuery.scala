package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._

import graft.{GraftSession, SparkEntry, Tables}

/** Dev utility: run one named SparkEntry query (bench-style: warmup at
  * the sibling sf0.001 dir, clearCache+gc, timed full materialization
  * into the `noop` sink) and print the empirical shape the optimization
  * loop needs — number of Spark jobs, stages, tasks, shuffle bytes
  * read/written, peak task time — via a SparkListener. The first run's
  * formatted plan is printed before that run executes, outside the
  * timing. A `noop` write computes every output column; a `.count()`
  * would let Catalyst prune the ones it does not need.
  * Usage: runMain graft.tools.ProfileQuery <query> [sfDir] [repeat]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val repeat = if (args.length > 2) args(2).toInt else 1
    val fn = SparkEntry.queries.getOrElse(name,
      SparkEntry.stateBuilds.get(name) match {
        case Some(b) => (s: org.apache.spark.sql.SparkSession, d: String) => {
          b(s, d); Tables(s, d).region.limit(0)
        }
        case None => throw new IllegalArgumentException(
          s"unknown query '$name': not in SparkEntry.queries or " +
            "SparkEntry.stateBuilds")
      })
    val spark = GraftSession.builder("graft-profile")
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufRead = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    val taskTime = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          taskTime.addAndGet(m.executorRunTime)
        }
      }
    }
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warmup: JIT + codegen
    materialize(fn(spark,
      java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001").toString))
    (1 to repeat).foreach { i =>
      spark.catalog.clearCache()
      System.gc()
      jobs.set(0); stages.set(0); tasks.set(0)
      shufRead.set(0L); shufWrite.set(0L); taskTime.set(0L)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val built = System.nanoTime()
      if (i == 1) df.explain("formatted")
      val t1 = System.nanoTime()
      materialize(df)
      val sec = (built - t0 + System.nanoTime() - t1) / 1e9
      // listener events are async: drain the bus before reading counters
      org.apache.spark.sql.graft.PlanBridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
      println(f"run$i sec=$sec%.3f jobs=${jobs.get} " +
        f"stages=${stages.get} tasks=${tasks.get} " +
        f"shufRead=${shufRead.get / 1024}KB shufWrite=${shufWrite.get / 1024}KB " +
        f"taskTime=${taskTime.get}ms")
    }
    spark.stop()
  }
}
