package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{AsyncDataPipeline, NeedCancel, PipelineConfig}
import graft.sources.shard.{ShardFormat, ShardOps}

/** The `pipeline_upsert` workload: graft's `AsyncDataPipeline` feeding
  * `ShardOps.upsert` on a key-clustered gshard table, in three phases.
  *
  * The generator follows YCSB's workload D (see NOTES.md): each write
  * inserts a new key with probability `insert_frac`, and otherwise
  * updates an existing key drawn from the "latest" distribution, Zipfian
  * in the distance back from the newest key.
  *
  *  1. Open loop: a seeded generator makes one batch every `interval`;
  *     `collect` hands over the oldest due batch, `process` upserts it.
  *     Each batch is timed from its due time to its commit.
  *  2. Saturated: the collector never waits.
  *  3. Reads: seeded key-range scans and one `versionAsOf` read.
  *
  * Every read, and the table head at the end, is compared with a
  * last-writer-wins fold of the generated batches.
  */
final class PipelineUpsert(spark: SparkSession, rec: Recorder, plan: Map[String, String]) {
  import PipelineUpsert._
  private val seed = plan("seed").toLong
  private val rng = new java.util.Random(seed)
  private val dir = plan("table")
  private val initialKeys = plan("initial_keys").toInt
  private val batchOps = plan("batch_ops").toInt
  private val insertFrac = plan("insert_frac").toDouble
  private val zipf = new Zipf(plan("zipf_theta").toDouble, rng)
  private val intervalMs = plan("interval_ms").toDouble
  private val openBatches = plan("open_batches").toInt
  private val saturatedBatches = plan("saturated_batches").toInt
  private val scans = plan("scans").toInt

  private val schema = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  private var nextKey = initialKeys.toLong
  private var tick = 0L
  private var rawBytes = 0L
  private val generated = mutable.ArrayBuffer.empty[Seq[Rec]]
  private val generations = mutable.ArrayBuffer.empty[Long]

  private val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 "
  private def row(key: Long): Rec = {
    tick += 1
    val n = 24 + rng.nextInt(64)
    val p = new StringBuilder(s"k$key:")
    (0 until n).foreach(_ => p.append(alphabet.charAt(rng.nextInt(alphabet.length))))
    (key, tick, rng.nextDouble(), p.toString)
  }

  /** Raw size of rows handed to the table: three 8-byte fields plus the
    * payload's UTF-8 bytes. */
  private def rawSize(rows: Seq[Rec]): Long =
    rows.map(r => 24L + r._4.getBytes("UTF-8").length).sum

  /** One batch of `batchOps` writes, folded to the last write of each
    * key, as a MERGE source must have unique keys. */
  private def generate(): Seq[Rec] = {
    val rows = mutable.LinkedHashMap.empty[Long, Rec]
    (0 until batchOps).foreach { _ =>
      val key =
        if (rng.nextDouble() < insertFrac) { nextKey += 1; nextKey - 1 }
        else nextKey - 1 - zipf.next(nextKey)
      rows(key) = row(key)
    }
    val b = rows.values.toSeq
    rawBytes += rawSize(b)
    generated += b
    b
  }

  private def frame(rows: Seq[Rec]) =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3, r._4)).asJava, schema)

  private def fold(batches: Int): Map[Long, Rec] = {
    val m = mutable.HashMap.empty[Long, Rec]
    (0L until initialKeys).foreach(k => m(k) = initial(k.toInt))
    generated.take(batches).foreach(_.foreach(r => m(r._1) = r))
    m.toMap
  }

  private var initial: IndexedSeq[Rec] = IndexedSeq.empty

  private def dirBytes(): (Long, Int) = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (files.map(Files.size).sum, files.size)
  }

  private def upsert(b: Batch): Unit = rec.operation { op =>
    val before = ShardFormat.readManifest(dir)
    val c0 = rec.cpuMs()
    val t0 = rec.now()
    ShardOps.upsert(spark, dir, frame(b.rows), "key")
    val t1 = rec.now()
    val cpu = rec.cpuMs() - c0
    val after = ShardFormat.readManifest(dir)
    generations += after.gen
    val oldFiles = before.entries.map(_.file).toSet
    val newFiles = after.entries.map(_.file).toSet -- oldFiles
    rec.emit("batch", "op" -> op, "index" -> b.index, "phase" -> b.phase, "due" -> b.due,
      "collected" -> b.handedOver, "start" -> t0, "end" -> t1, "cpu_ms" -> cpu,
      "rows" -> b.rows.size,
      "gen" -> after.gen,
      "files_rewritten" -> (oldFiles -- after.entries.map(_.file)).size,
      "bytes_written" -> newFiles.toSeq.map(f => Files.size(Paths.get(dir, f))).sum)
  }

  /** Runs one pipeline phase of `n` batches; `due(i)` gives the i-th
    * batch's due time, or None when the collector must not wait. */
  private def phase(p: Int, n: Int, firstIndex: Int, due: Int => Option[Double]): Unit = {
    val taken = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var processFailed = false
    var i = 0
    val collect = () => {
      if (i == n || processFailed) {
        // all handed over: once the processor holds the last batch, close
        // the pipeline; the processor finishes that batch and stops
        while (taken.get() < n && !processFailed) Thread.sleep(1)
        throw NeedCancel
      }
      val g0 = rec.now()
      val rows = generate()
      val genMs = rec.now() - g0
      val d = due(i).getOrElse(rec.now())
      val wait = d - rec.now()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      rec.emit("collect", "index" -> (firstIndex + i), "phase" -> p, "gen_ms" -> genMs)
      val b = Batch(firstIndex + i, p, d, rec.now(), rows)
      i += 1
      b
    }
    val process = (b: Batch) => {
      taken.incrementAndGet()
      try upsert(b)
      catch { case e: Throwable => processFailed = true; throw e }
    }
    val pipe = new AsyncDataPipeline[Batch](
      PipelineConfig(maxWorkers = 2, idleTime = (4 * intervalMs).millis,
        collectTimeout = 120.seconds),
      collect, process, b => b.rows.size.toLong)
    val (reason, errors) = pipe.perform()
    val m = pipe.exportMetrics
    // the collector's closing NeedCancel is the normal end of a phase
    val failures = errors.filterNot(_.getCause eq NeedCancel)
    rec.emit("pipeline", "phase" -> p, "close_reason" -> reason.toString,
      "errors" -> failures.size,
      "error_text" -> failures.map(_.toString).mkString("; ").take(300),
      "batches" -> m("batch_count"), "items" -> m("item_count"),
      "total_s" -> m("total_duration"), "processing_s" -> m("processing_duration"),
      "idle_s" -> m("idle_duration"), "idle_ratio" -> m("idle_ratio"))
  }

  /** Times one read and compares the rows it returned with `want`. */
  private def read(kind: String, want: Map[Long, Rec], extra: (String, Any)*)(
      rows: => Seq[Row]): Unit = rec.operation { op =>
    val c0 = rec.cpuMs()
    val t0 = rec.now()
    val got = rows
    val t1 = rec.now()
    val cpu = rec.cpuMs() - c0
    val gotMap = got.map(r => r.getLong(0) -> ((r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
    val ok = got.size == gotMap.size && gotMap == want
    rec.emit(kind, (Seq("op" -> op, "start" -> t0, "end" -> t1, "cpu_ms" -> cpu, "rows" -> got.size,
      "expected_rows" -> want.size, "ok" -> ok) ++ extra): _*)
  }

  /** Outside the timed operations: `warmup_batches` upserts of the same
    * shape as the timed ones, and each kind of read, on a throwaway table
    * of the same size, so the JIT has compiled those paths before the
    * first timed batch. After a single small warm-up upsert the first
    * timed batches took up to 1.5 times as long as the later ones, and
    * by how much moved with the machine's load. It runs after the state
    * build, which would otherwise time a warm write of under a second;
    * `run.py` counts this span in `setup_s`. It draws from its own
    * fixed-seed generator, so it is the same in every run and leaves the
    * seeded one untouched. */
  private def warmUp(): Unit = {
    val t0 = rec.now()
    val wdir = dir + "_warmup"
    val wrng = new java.util.Random(0)
    val wzipf = new Zipf(plan("zipf_theta").toDouble, wrng)
    var n = initialKeys.toLong
    val rows = (keys: Seq[Long]) =>
      frame(keys.map(k => (k, 0L, wrng.nextDouble(), "w" * (24 + wrng.nextInt(64)))))
    ShardFormat.write(rows(0L until n), wdir, "key", nShards = 4)
    (0 until plan("warmup_batches").toInt).foreach { _ =>
      val keys = (0 until batchOps).map { _ =>
        if (wrng.nextDouble() < insertFrac) { n += 1; n - 1 } else n - 1 - wzipf.next(n)
      }.distinct
      ShardOps.upsert(spark, wdir, rows(keys), "key")
    }
    val reader = () => spark.read.format("gshard")
    reader().load(wdir).filter(col("key").between(100L, 1999L)).collect()
    reader().option("versionAsOf", ShardFormat.readManifest(wdir).gen - 1).load(wdir).collect()
    reader().load(wdir).collect()
    rec.emit("warmup", "start" -> t0, "end" -> rec.now())
  }

  def run(): Unit = {
    // state build: the initial key-clustered table
    initial = (0 until initialKeys).map(k => row(k.toLong))
    rawBytes += rawSize(initial)
    rec.operation { op =>
      val t0 = rec.now()
      ShardFormat.write(frame(initial), dir, "key", nShards = 4)
      rec.emit("build", "op" -> op, "name" -> "initial_table", "start" -> t0,
        "end" -> rec.now(), "error" -> None)
    }
    generations += ShardFormat.readManifest(dir).gen
    warmUp()

    val start = rec.now() + intervalMs
    phase(1, openBatches, 0, i => Some(start + i * intervalMs))
    phase(2, saturatedBatches, openBatches, _ => None)

    val table = () => spark.read.format("gshard").load(dir)
    val total = generated.size
    val headFold = fold(total)
    (0 until scans).foreach { s =>
      val width = 1 + rng.nextInt(2000)
      val lo = (rng.nextDouble() * (nextKey - width)).toLong
      read("scan", headFold.filter { case (k, _) => k >= lo && k < lo + width }, "index" -> s) {
        table().filter(col("key").between(lo, lo + width - 1)).collect().toSeq
      }
    }
    // time travel to the commit of a seeded batch
    val k = 1 + rng.nextInt(total - 1)
    read("version_check", fold(k), "version" -> generations(k)) {
      spark.read.format("gshard").option("versionAsOf", generations(k)).load(dir).collect().toSeq
    }
    read("head_check", headFold)(table().collect().toSeq)

    val (bytes, files) = dirBytes()
    val head = ShardFormat.readManifest(dir)
    rec.emit("table", "dir_bytes" -> bytes, "dir_files" -> files,
      "files_total" -> head.entries.size, "raw_bytes" -> rawBytes,
      "rows" -> head.entries.map(_.liveRows).sum)
  }
}

/** YCSB's `ZipfianGenerator` (Gray et al., SIGMOD'94) over a growing item
  * count: `next(n)` draws from [0, n), with 0 the most likely. Used as
  * YCSB's `SkewedLatestGenerator` does, as the distance back from the
  * newest key. */
final class Zipf(theta: Double, rng: java.util.Random) {
  private var items = 0L
  private var zetan = 0.0
  private val zeta2 = 1 + math.pow(0.5, theta)
  private val alpha = 1 / (1 - theta)

  def next(n: Long): Long = {
    while (items < n) { items += 1; zetan += 1 / math.pow(items.toDouble, theta) }
    val eta = (1 - math.pow(2.0 / n, 1 - theta)) / (1 - zeta2 / zetan)
    val u = rng.nextDouble()
    val uz = u * zetan
    if (uz < 1) 0L
    else if (uz < zeta2) 1L
    else math.min(n - 1, (n * math.pow(eta * u - eta + 1, alpha)).toLong)
  }
}

object PipelineUpsert {
  /** A generated row: (key, ts, value, payload). */
  type Rec = (Long, Long, Double, String)
  final case class Batch(index: Int, phase: Int, due: Double, handedOver: Double, rows: Seq[Rec])
}
