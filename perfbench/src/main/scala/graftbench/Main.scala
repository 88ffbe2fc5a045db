package graftbench

import java.nio.file.{Files, Paths}

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}

/** JVM side of the benchmark. `run.py` writes a plan (one `key=value`
  * per line) and reads back the JSON-lines records this writes; all
  * metric math happens there.
  *
  * Plan keys: `workload`, `seed`, `trace` (0|1), `cpus`,
  * `data` (the measured tables), `warm_data` (the warm-up tables),
  * `warmup`, `lead_in`, `builds` and `entries` (comma lists, run in that
  * order), `records` (output file) and, for `pipeline_upsert`, `table`
  * and the generator's settings.
  * With `record_dir` set, each entry's result is also written there as
  * parquet, and with `oracle_out` the entries' DuckDB oracle SQL is
  * written to that file: `record.py` uses both to record fingerprints.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val plan = Files.readAllLines(Paths.get(args(0))).asScala
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.take(i).trim -> l.drop(i + 1).trim
      }.toMap
    def list(k: String): Seq[String] =
      plan.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq

    val rec = new Recorder(plan("records"))
    val liveHeap = new LiveHeap
    val traced = plan.getOrElse("trace", "0") == "1"
    val cpus = plan.getOrElse("cpus", "4")

    val builder = GraftSession.builder("graft-perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir",
        Paths.get(sys.props("java.io.tmpdir"), "warehouse").toString)
    if (traced) {
      PhaseListener.recorder = Some(rec)
      builder.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // untimed warm-up on the small tables: JIT, class loading and the
    // first-query costs of the session, paid once per process
    list("warmup").foreach { name =>
      try materialize(query(name)(spark, plan("warm_data")))
      catch { case e: Throwable => rec.emit("warmup_error", "name" -> name, "error" -> e.toString) }
    }

    if (traced) {
      spark.sparkContext.addSparkListener(new LayerListener(rec))
      rec.traceWith(() => org.apache.spark.graftbench.BusBridge.drain(spark.sparkContext))
    }

    try {
      if (plan("workload") == "pipeline_upsert")
        new PipelineUpsert(spark, rec, plan).run()
      else runEntries(spark, rec, plan("data"), plan.get("record_dir"), plan.get("oracle_out"),
        list("lead_in"), list("builds"), list("entries"))
    } finally {
      rec.emit("end", "ts" -> rec.now(), "rss_hwm_kb" -> vmHwmKb(),
        "peak_live_heap_bytes" -> liveHeap.peak)
      rec.close()
      spark.stop()
    }
  }

  def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown entry $name"))

  /** Full materialization: every output column of every row is computed
    * and handed to a sink that drops it, so no projection is pruned. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Times the lead-in entries, then the state builds, then the other
    * entries. The lead-in always runs first, so it absorbs the JIT's
    * warm-up the same way in every run; it consumes no state build. */
  private def runEntries(spark: SparkSession, rec: Recorder, data: String,
      recordDir: Option[String], oracleOut: Option[String],
      leadIn: Seq[String], builds: Seq[String], entries: Seq[String]): Unit = {
    oracleOut.foreach { f =>
      val oracles = SparkEntry.oracleSql
      Files.writeString(Paths.get(f),
        Recorder.json((leadIn ++ entries).flatMap(n => oracles.get(n).map(n -> _))))
    }
    // each entry is timed once per process: a second call in the same
    // JVM would time graft's memoized state, not the entry's work
    val seen = scala.collection.mutable.Set.empty[String]
    def timeEntry(name: String): Unit = rec.operation { op =>
      require(seen.add(name), s"entry $name planned twice in one process")
      spark.catalog.clearCache()
      val fn = query(name)
      val obs = Observation(s"fp_$name")
      val c0 = rec.cpuMs()
      val t0 = rec.now()
      var t1 = t0
      val err = try {
        val df = fn(spark, data)
        t1 = rec.now()
        val fp = fingerprint(df.schema)
        materialize(df.observe(obs, fp.head, fp.tail: _*))
        recordDir.foreach(d => df.write.parquet(Paths.get(d, name).toString))
        None
      } catch { case e: Throwable => Some(e.toString) }
      val t2 = rec.now()
      val cpu = rec.cpuMs() - c0
      val fp = if (err.isEmpty) Await.result(obs.future, 60.seconds) else null
      rec.emit("entry", "op" -> op, "name" -> name, "start" -> t0, "constructed" -> t1, "end" -> t2,
        "cpu_ms" -> cpu,
        "rows" -> (if (fp == null) -1L else fp.getLong(0)),
        "hash" -> (if (fp == null || fp.isNullAt(1)) -1L else fp.getLong(1)),
        "error" -> err.map(_.take(300)))
    }
    leadIn.foreach(timeEntry)
    builds.foreach { name =>
      val fn = SparkEntry.stateBuilds.getOrElse(name,
        throw new IllegalArgumentException(s"unknown state build $name"))
      rec.operation { op =>
        val t0 = rec.now()
        val err = try { fn(spark, data); None } catch { case e: Throwable => Some(e.toString) }
        rec.emit("build", "op" -> op, "name" -> name, "start" -> t0, "end" -> rec.now(),
          "error" -> err)
      }
    }
    entries.foreach(timeEntry)
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** Row count plus an order-independent row hash: the sum of each
    * row's 64-bit hash folded into 31 bits, so the sum cannot overflow.
    * Map columns are hashed through their JSON text. */
  def fingerprint(schema: StructType): Seq[Column] = {
    val cols = schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    Seq(count(lit(1)).as("n"),
      sum(pmod(xxhash64(cols: _*), lit(2147483647L))).as("h"))
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}

/** The largest heap occupancy right after a garbage collection, over the
  * run: the live data graft held, independent of how far the collector
  * let the heap grow between collections. */
final class LiveHeap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val max = new java.util.concurrent.atomic.AtomicLong(0L)

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          max.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }, null, null)
    case _ =>
  }

  def peak: Long = max.get()
}
