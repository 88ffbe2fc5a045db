package graft.streaming

import java.nio.file.{FileAlreadyExistsException, Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

import org.apache.spark.sql.graft.PlanBridge

import graft.Tables
import graft.sources.SourceOps

/** Structured-Streaming operators (SURVEY.md §2.7).
  *
  * Each [Q] operator reads the events table as a file stream
  * (availableNow trigger — a bounded drain of the source, which is how
  * a backfill runs on a real cluster), applies the streaming transform,
  * sinks to an in-memory table, and returns that table's DataFrame so
  * the driver can compare it against a batch DuckDB oracle. Stream and
  * batch share Catalyst plans, so the streaming results are exactly the
  * batch semantics — that equivalence is what the oracle checks.
  */
object Streaming {

  private val runSeq = new AtomicInteger(0)

  /** FileStreamSource needs a directory: stage the single parquet file
    * behind a symlink in a staging dir. */
  private[streaming] def stageDir(t: Tables, table: String): String =
    SourceOps.staged(t, s"stream_src_$table") {
      val dir = Paths.get(
        SourceOps.staging(s"stream_${table}_${SourceOps.dirTag(t.dir)}"))
      Files.createDirectories(dir)
      // an earlier session's link already points at the same file
      try Files.createSymbolicLink(dir.resolve(s"$table.parquet"),
        Paths.get(t.dir, s"$table.parquet").toAbsolutePath)
      catch { case _: FileAlreadyExistsException => () }
      dir.toString
    }

  /** Write `df` into a cleared `dir` as ONE parquet file per distinct
    * value of the integer column `day`, with strictly ascending
    * modification times in day order, so a file source replays the
    * days in calendar order (the daily-drop shape). Clearing first
    * keeps a rebuild from replaying an earlier build's files. */
  private def writeDayFiles(df: DataFrame, day: String, dir: String): String = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    SourceOps.deleteTree(root)
    Files.createDirectories(root)
    val days = df.select(col(day).cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted // bounded: days in the corpus
    days.zipWithIndex.foreach { case (d, i) =>
      val tmp = root.resolve(s"_tmp_$i")
      df.filter(col(day) === d).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = root.resolve(f"day_$i%05d.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      // scrub the leftover _SUCCESS/_tmp dir so the source sees
      // exactly one file per day
      SourceOps.deleteTree(tmp)
    }
    dir
  }

  /** events as a stream with `ts` normalized to TIMESTAMP_NTZ exactly
    * as [[Tables.events]] does for batch. */
  private def eventsStream(t: Tables): DataFrame = {
    val schema = t.raw("events").schema
    val src = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "events"))
    schema("ts").dataType match {
      case LongType =>
        src.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case _ => src
    }
  }

  /** Drain `df` through a streaming query into a memory sink and
    * return the sink table with the run's progress reports.
    *
    * State-partition sizing: a streaming query pins its state-store
    * partition count to `spark.sql.shuffle.partitions` at first start,
    * because keyed state cannot be reshuffled once it is checkpointed,
    * and every micro-batch then pays a fixed per-partition cost (a
    * state-store instance, its snapshot and checkpoint files) for each
    * stateful operator. A drain here is a bounded `AvailableNow` run
    * from an empty, throwaway checkpoint, so nothing is ever restored
    * under the count and each drain may choose its own:
    * [[statePartitions]] gives one partition per
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (AQE's target
    * post-shuffle partition size) of source bytes, capped at the
    * session's `spark.sql.shuffle.partitions`. The stream runs in a
    * CHILD session (own SQLConf, shared SparkContext and cache)
    * carrying that count, so the caller's conf is never mutated —
    * batch queries on other threads cannot observe a transient
    * setting.
    *
    * Checkpoint files: each trigger's offset and commit log entries and
    * each state-store delta and snapshot are small files written
    * atomically through Spark's `CheckpointFileManager`. A graft session
    * names [[LocalCheckpointFiles]] as that manager, and the child starts
    * from the same `SparkConf`, so on a local path a drain writes them
    * in-process. Spark's default forks a `chmod` per file it creates and
    * two `readlink`s per rename there: 644 of the 664 processes a seed-1
    * `stream_ingest` benchmark run started; 20 remain, none of them
    * under a checkpoint write.
    */
  private[streaming] def drain(df: DataFrame, mode: String,
      extraConf: Map[String, String] = Map.empty)
      : (DataFrame, Seq[StreamingQueryProgress]) = {
    val parent = df.sparkSession
    val name = s"graft_stream_${runSeq.getAndIncrement()}"
    val child = parent.newSession()
    // newSession starts from the SparkConf defaults: carry over the
    // parent's runtime conf (e.g. the nanosAsLong parquet flag the
    // events reader needs) before pinning the state-partition count
    parent.conf.getAll.foreach { case (k, v) =>
      try child.conf.set(k, v) catch { case _: Exception => () }
    }
    child.conf.set("spark.sql.shuffle.partitions", statePartitions(df).toString)
    extraConf.foreach { case (k, v) => child.conf.set(k, v) }
    val q = PlanBridge.ofRows(child, PlanBridge.logicalPlan(df))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .start()
    q.awaitTermination()
    (child.table(name), q.recentProgress.toSeq)
  }

  private def drainToTable(df: DataFrame, mode: String,
      extraConf: Map[String, String] = Map.empty): DataFrame =
    drain(df, mode, extraConf)._1

  /** `clamp(ceil(sourceBytes / advisory), 1, shufflePartitions)` for a
    * drain of `df`: the bytes under every streaming leaf's path (globs
    * expanded; a stream-stream join reads, and counts, both sides). A
    * leaf without a path (a `MemoryStream`, a rate source) has no size
    * to go by, so the drain keeps the session's shuffle partitions. */
  private def statePartitions(df: DataFrame): Int = {
    val spark = df.sparkSession
    val maxParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val paths = PlanBridge.logicalPlan(df).collectLeaves()
      .filter(_.isStreaming).map {
        case r: StreamingRelation => r.dataSource.options.get("path")
        case r: StreamingRelationV2 => Option(r.extraOptions.get("path"))
        case _ => None
      }
    if (paths.contains(None)) maxParts
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val bytes = paths.flatten.map { p =>
        val path = new HPath(p)
        val fs = path.getFileSystem(conf)
        Option(fs.globStatus(path)).toSeq.flatten
          .map(s => fs.getContentSummary(s.getPath).getLength).sum
      }.sum
      val advisory = JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
      math.min(maxParts, math.max(1L, (bytes + advisory - 1) / advisory)).toInt
    }
  }

  /** X1 — `stream_window_agg`: tumbling 1-hour event-time window with a
    * 1-hour watermark, aggregated per (window, event_type). Watermark +
    * windowed state is the canonical streaming-agg shape; at cluster
    * scale the state store shards by the window/group key and the
    * watermark bounds state size.
    */
  def streamWindowAgg(t: Tables): DataFrame = {
    // watermarks require TIMESTAMP (not NTZ); the session is pinned to
    // UTC so the instant-typed window boundaries are the same wall
    // times — cast back to NTZ on output for engine-portable results
    val agg = eventsStream(t)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    // complete mode: a bounded availableNow drain emits every window,
    // including those the watermark hasn't closed at end-of-stream
    drainToTable(agg, "complete")
      .select(col("window.start").cast(TimestampNTZType).as("hour_ts"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** `stream_static_join`: the streaming side enriched against a
    * static dimension (broadcastable at any stream rate), then a
    * running aggregate per enriched key. The static side is planned
    * once and reused every micro-batch — the canonical dimension-join
    * shape for a production ingest.
    */
  def streamStaticJoin(t: Tables): DataFrame = {
    val enriched = eventsStream(t)
      .join(broadcast(t.customer), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    drainToTable(enriched, "complete")
  }

  /** `stream_session_window` — Spark's NATIVE session-window
    * aggregation (`session_window(ts, gap)`): per user, dynamic
    * merge-on-arrival windows that extend while events keep landing
    * within `gap` of the session's end — the built-in engine path for
    * the semantics [[streamSessionize]] implements with custom
    * `flatMapGroupsWithState` state (two implementations, two
    * operators: the custom one demonstrates arbitrary state, this one
    * the engine's own merging window state store, which at scale
    * prunes merged sessions through the watermark instead of user
    * code). State shards by user_id; the bounded complete-mode drain
    * emits every session.
    *
    * Window semantics pinned for the oracle (empirically, in
    * SessionWindowSpec): an event arriving at EXACTLY last_ts + gap
    * still MERGES into the session — only a strictly later one opens
    * a new window — so the gaps-and-islands oracle breaks on
    * `diff > gap`. Output keys on the session START (= min event
    * ts), which the islands replay reproduces exactly. */
  /** X25 — `stream_integrity_audit`: the container-integrity screen
    * at INGEST time — a STATELESS map-only projection per arriving
    * payload (append mode, zero streaming state — the scan → project
    * → sink shape an ingest-time validator deploys as): payload
    * synthesis, the deterministic truncation injection, and the
    * byte-level size-field checks all run per row; shares the batch
    * oracle verbatim — stream/batch equivalence pair #19.
    */
  def streamIntegrityAudit(t: Tables): DataFrame = {
    val schema = t.raw("documents").schema
    val docsStream = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "documents"))
    drainToTable(
      graft.operators.Multimodal.integrityAuditOf(docsStream), "append")
  }

  /** X21 — `stream_mojibake`: the encoding-integrity screen at INGEST
    * time — injection and the three per-row counts run as a STATELESS
    * map-only projection per arriving document (append mode, zero
    * streaming state — the `stream_integrity_audit` deployment shape:
    * an encoding validator sits in the ingest path, not in tomorrow's
    * batch). Shares the batch oracle verbatim — stream/batch
    * equivalence pair #21. */
  def streamMojibake(t: Tables): DataFrame = {
    val schema = t.raw("documents").schema
    val docsStream = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "documents"))
    drainToTable(
      graft.operators.TextAnalysis.mojibakeOf(docsStream), "append")
  }

  /** `q_session_window_batch` — the SAME native merging-window
    * aggregation on the BATCH axis: the engine's `session_window`
    * over the static events table, proving the built-in sessionizer
    * is one API for both execution modes (the pair-#13 spec asserts
    * stream == batch; registering the batch side as its own gated
    * query makes the equivalence driver-checked from BOTH ends,
    * sharing the boundary-pinned gaps-and-islands oracle verbatim).
    */
  def qSessionWindowBatch(t: Tables, gap: String = "30 minutes"): DataFrame =
    t.events
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start").cast("timestamp"))
          .as("session_start_us"),
        col("n_events"), col("sum_value"))

  def streamSessionWindow(t: Tables, gap: String = "30 minutes"): DataFrame = {
    val agg = eventsStream(t)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
    drainToTable(agg, "complete")
      .select(col("user_id"),
        unix_micros(col("session_window.start").cast("timestamp"))
          .as("session_start_us"),
        col("n_events"), col("sum_value"))
  }

  /** X3 — `stream_sessionize`: the custom flatMapGroupsWithState
    * sessionizer ([[StatefulSessionize]]) driven end-to-end — event
    * file stream → per-user gap sessionization with carried state →
    * update-mode sink. In update mode the open session's row is
    * re-emitted every batch that extends it, so the final emission per
    * (user, session) is selected by max n_events (strictly increasing
    * within a session); closed sessions are emitted exactly once.
    * Batch-equivalent to [[graft.operators.Relational.qSessionize]],
    * which is what the DuckDB oracle checks.
    */
  def streamSessionize(t: Tables): DataFrame = {
    import StatefulSessionize.Ev
    val spark = t.spark
    import spark.implicits._
    val typed = eventsStream(t)
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        col("value"))
      .as[Ev]
    val sess = StatefulSessionize.sessionize(typed, gapUs = 1800000000L)
    drainToTable(sess.toDF(), "update")
      .groupBy(col("user_id"), col("session_id"))
      .agg(max(struct(col("n_events"), col("sum_value"))).as("fin"))
      .select(col("user_id"), col("session_id"),
        col("fin.n_events").as("n_events"),
        round(col("fin.sum_value"), 2).as("sum_value"))
  }

  /** X4 — `stream_stream_join`: watermarked stream-stream inner join —
    * click events joined to the same user's view events within the
    * preceding hour. Both sides carry event-time watermarks and the
    * join condition includes the time range, so on a live cluster the
    * join state is pruned as the watermark advances (bounded state at
    * any stream length); state shards by user_id. The bounded
    * availableNow drain emits exactly the batch-join result, which is
    * what the DuckDB oracle checks.
    */
  def streamStreamJoin(t: Tables): DataFrame = {
    def side(evType: String, idAs: String, tsAs: String) =
      eventsStream(t)
        .filter(col("event_type") === evType)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .select(col("user_id").as(s"${evType}_user"),
          col("event_id").as(idAs), col("ts").as(tsAs))
    val clicks = side("click", "click_id", "click_ts")
    val views = side("view", "view_id", "view_ts")
    val joined = clicks.join(views,
      col("click_user") === col("view_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") <= col("click_ts"))
    drainToTable(joined, "append")
      .select(col("click_user").as("user_id"), col("click_id"), col("view_id"),
        col("click_ts").cast(TimestampNTZType).as("click_ts"),
        col("view_ts").cast(TimestampNTZType).as("view_ts"))
  }

  /** X38 — `stream_stream_left_join`: the OUTER stream-stream join —
    * the capability the inner join ([[streamStreamJoin]]) doesn't
    * exercise: an unmatched left row emits its null-padded result only
    * when the WATERMARK proves no matching right row can still arrive
    * (view_ts ≤ click_ts here, so a click closes once the watermark
    * passes it) — the state-eviction semantics that keep an unbounded
    * stream-stream join's buffers finite.
    *
    * Determinism at the drain boundary: rows near the stream's end may
    * still be open when the bounded drain stops (their no-match proof
    * needs a watermark the finite corpus never reaches), so BOTH
    * engines restrict the readout to clicks at least 2 hours before
    * the corpus max — inside that region every null row has provably
    * emitted (watermark delay 0 s + 1 h join horizon < 2 h). */
  def streamStreamLeftJoin(t: Tables): DataFrame = {
    def side(evType: String, idAs: String, tsAs: String) =
      eventsStream(t)
        .filter(col("event_type") === evType)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "0 seconds")
        .select(col("user_id").as(s"${evType}_user"),
          col("event_id").as(idAs), col("ts").as(tsAs))
    val clicks = side("click", "click_id", "click_ts")
    val views = side("view", "view_id", "view_ts")
    val joined = clicks.join(views,
      col("click_user") === col("view_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") <= col("click_ts"),
      "leftOuter")
    val horizon = t.events
      .agg((max(col("ts").cast("timestamp")) - expr("INTERVAL 2 HOURS"))
        .as("cutoff"))
    drainToTable(joined, "append")
      .crossJoin(broadcast(horizon))
      .filter(col("click_ts") <= col("cutoff"))
      .select(col("click_user").as("user_id"), col("click_id"),
        col("view_id"),
        col("click_ts").cast(TimestampNTZType).as("click_ts"),
        col("view_ts").cast(TimestampNTZType).as("view_ts"))
  }

  /** X42 — `stream_stream_full_join`: the FULL-OUTER stream-stream
    * join — the last join semantics the streaming surface lacked
    * (inner X4, left-outer X38): BOTH sides' unmatched rows emit
    * null-padded once the watermark proves no partner can still
    * arrive — a right-side view closes when the watermark passes the
    * end of its 1-hour click window (the mirrored argument of X38's
    * left side).
    *
    * Determinism at the drain boundary: both sides are restricted to
    * events at least 2 hours before the corpus max BEFORE the join —
    * applied AFTER `withWatermark`, so the watermark still advances
    * to the corpus max and every surviving row's match/no-match proof
    * completes inside the bounded drain (watermark delay 0 s + 1 h
    * join horizon < 2 h). The batch oracle replays the identical
    * restricted full join. */
  def streamStreamFullJoin(t: Tables): DataFrame = {
    // collected external type depends on the session's java8 datetime
    // setting; lit() accepts either representation
    val cutoff = t.events
      .agg((max(col("ts").cast("timestamp")) - expr("INTERVAL 2 HOURS"))
        .as("cutoff")).head.get(0)
    def side(evType: String, idAs: String, tsAs: String) =
      eventsStream(t)
        .filter(col("event_type") === evType)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "0 seconds")
        // restrict AFTER the watermark node: excluded rows still
        // advance the clock that closes the survivors' windows
        .filter(col("ts") <= lit(cutoff))
        .select(col("user_id").as(s"${evType}_user"),
          col("event_id").as(idAs), col("ts").as(tsAs))
    val clicks = side("click", "click_id", "click_ts")
    val views = side("view", "view_id", "view_ts")
    val joined = clicks.join(views,
      col("click_user") === col("view_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") <= col("click_ts"),
      "fullOuter")
    drainToTable(joined, "append")
      .select(coalesce(col("click_user"), col("view_user")).as("user_id"),
        col("click_id"), col("view_id"),
        col("click_ts").cast(TimestampNTZType).as("click_ts"),
        col("view_ts").cast(TimestampNTZType).as("view_ts"))
  }

  /** `stream_stream_right_join` — the RIGHT-OUTER stream-stream join,
    * the one symmetric variant the surface lacked (inner X4,
    * left-outer X38, full-outer X42): an unmatched RIGHT row (a view
    * with no click in the hour after it) emits null-padded once the
    * watermark proves no click can still arrive — a view's window is
    * [view_ts, view_ts + 1 h], so it closes when the watermark passes
    * view_ts + 1 h (the mirrored X38 argument). Unmatched LEFT rows
    * are dropped, so only the VIEW side needs the provable-region
    * restriction: views ≤ corpus-max − 2 h (applied AFTER the
    * watermark node, so excluded rows still advance the clock that
    * closes survivors); clicks flow unrestricted — a click matching a
    * restricted view emits on arrival, inside the drain. The batch
    * oracle replays the identical restricted right join. */
  def streamStreamRightJoin(t: Tables): DataFrame = {
    val cutoff = t.events
      .agg((max(col("ts").cast("timestamp")) - expr("INTERVAL 2 HOURS"))
        .as("cutoff")).head.get(0)
    def side(evType: String, idAs: String, tsAs: String,
        restrict: Boolean) = {
      val s = eventsStream(t)
        .filter(col("event_type") === evType)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "0 seconds")
      (if (restrict) s.filter(col("ts") <= lit(cutoff)) else s)
        .select(col("user_id").as(s"${evType}_user"),
          col("event_id").as(idAs), col("ts").as(tsAs))
    }
    val clicks = side("click", "click_id", "click_ts", restrict = false)
    val views = side("view", "view_id", "view_ts", restrict = true)
    val joined = clicks.join(views,
      col("click_user") === col("view_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") <= col("click_ts"),
      "rightOuter")
    drainToTable(joined, "append")
      .select(col("view_user").as("user_id"),
        col("click_id"), col("view_id"),
        col("click_ts").cast(TimestampNTZType).as("click_ts"),
        col("view_ts").cast(TimestampNTZType).as("view_ts"))
  }

  /** X39 — `stream_dedup_watermarked`: exactly-once semantics over an
    * at-least-once feed via `dropDuplicatesWithinWatermark` — the
    * Spark 3.5+ API whose state RETIRES when the watermark passes,
    * unlike plain `dropDuplicates` ([[streamDedup]]) whose key set
    * grows forever. The feed is made genuinely at-least-once by
    * unioning a 5-minute-delayed replay of every event (same
    * event_id, later event time — the redelivery pattern); a
    * 30-minute watermark horizon covers the redelivery gap, so the
    * dedup is EXACT here while the state stays bounded by the horizon
    * at any stream length. The readout aggregates only columns the
    * replay preserves (which arrival wins is not deterministic, its
    * payload is), and the oracle is the plain per-type rollup over
    * the original events — proving the duplicates all died. */
  def streamDedupWatermarked(t: Tables): DataFrame = {
    val base = eventsStream(t).withColumn("ts", col("ts").cast("timestamp"))
    val replay = base.withColumn("ts", col("ts") + expr("INTERVAL 5 MINUTES"))
    val deduped = base.unionByName(replay)
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    drainToTable(deduped, "append")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("value_cents"))
      .orderBy(col("event_type"))
  }

  /** X5 — `stream_funnel`: the stateful streaming conversion funnel
    * ([[StatefulFunnel]]) driven end-to-end — event file stream →
    * per-user write-once stage state → update-mode sink. Re-emissions
    * across batches only ever ADD stages, so the final per-user row is
    * the max of each stage timestamp; the one-row summary then counts
    * users per reached stage, which the SAME DuckDB oracle as the
    * batch funnel checks.
    */
  def streamFunnel(t: Tables): DataFrame = {
    import StatefulFunnel.Ev
    val spark = t.spark
    import spark.implicits._
    val typed = eventsStream(t)
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        col("event_type"))
      .as[Ev]
    val fin = drainToTable(StatefulFunnel.funnel(typed).toDF(), "update")
      .groupBy(col("user_id"))
      .agg(max(col("v_us")).as("v"), max(col("c_us")).as("c"),
        max(col("p_us")).as("p"))
    fin.agg(
      count(when(col("v") >= 0, 1)).as("n_view"),
      count(when(col("c") >= 0, 1)).as("n_click"),
      count(when(col("p") >= 0, 1)).as("n_purchase"))
  }

  /** X32 — `stream_tws_funnel`: the conversion funnel on Spark 4's
    * NEW arbitrary-state API (`transformWithState` — typed named
    * state, native TTL, event timers; see [[StatefulFunnelTws]]),
    * run against the SAME readout and the SAME oracle as the legacy
    * `flatMapGroupsWithState` operator — the second API-generation
    * equivalence pair (#29, after the sessionizer's #28), so BOTH
    * stateful families prove the two extension points agree. The new
    * API requires the RocksDB state store; the conf scopes to this
    * query's child session only. */
  def streamTwsFunnel(t: Tables): DataFrame = {
    import StatefulFunnel.Ev
    val spark = t.spark
    import spark.implicits._
    val typed = eventsStream(t)
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        col("event_type"))
      .as[Ev]
    val fin = drainToTable(StatefulFunnelTws.funnel(typed).toDF(), "update",
      Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
      .groupBy(col("user_id"))
      .agg(max(col("v_us")).as("v"), max(col("c_us")).as("c"),
        max(col("p_us")).as("p"))
    fin.agg(
      count(when(col("v") >= 0, 1)).as("n_view"),
      count(when(col("c") >= 0, 1)).as("n_click"),
      count(when(col("p") >= 0, 1)).as("n_purchase"))
  }

  /** X2 — `stream_dedup`: streaming dropDuplicates on
    * (user_id, event_type) — first event per user/type survives — then
    * a per-type distinct-user count over the deduped stream. State is
    * keyed by the dedup tuple and shards across executors.
    */
  def streamDedup(t: Tables): DataFrame = {
    val deduped = eventsStream(t)
      .dropDuplicates("user_id", "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
    drainToTable(deduped, "complete")
  }

  /** X9 — `stream_multi_source`: N concurrent stream sources draining
    * into ONE unioned pipeline — the direct Structured-Streaming
    * mapping of the reference's concurrent collectors feeding a single
    * process loop (`async_data_pipeline.go`'s multi-goroutine collect
    * fan-in). Two independent file sources (each with its own source
    * state and micro-batch read position) are unioned, tagged by
    * source, and aggregated in one stateful operator; at scale each
    * source scans and checkpoints independently while the union's
    * aggregation state shards once.
    */
  def streamMultiSource(t: Tables): DataFrame = {
    val a = eventsStream(t).withColumn("src", lit("a"))
    val b = eventsStream(t).withColumn("src", lit("b"))
    val agg = a.unionByName(b)
      .groupBy(col("src"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    drainToTable(agg, "complete")
  }

  /** X8 — `stream_latest`: the materialized latest-state view — for
    * each (user, event_type) key, the value and time of the NEWEST
    * event, maintained as streaming state (`max_by` keyed agg in
    * update mode). This is the CDC-reader half of the upsert pattern
    * ([[graft.operators.Scale.qUpsertLatest]] is the batch
    * compaction): state is one row per live key, sharded by key, and
    * each micro-batch touches only the keys it carries.
    *
    * Update-mode memory sink appends a row per key per batch that
    * changes it; the final state per key is selected by max event time
    * after the drain (monotone within a key), which the batch oracle
    * checks exactly. `max_by` ties on (key, ts) would resolve in
    * engine order — the ns-resolution stream has none (0 duplicate
    * (user, type, ts) triples at every SF).
    */
  def streamLatest(t: Tables): DataFrame = {
    val latest = eventsStream(t)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max_by(col("value"), col("ts")).as("last_value"),
        max(col("ts")).as("last_ts"))
    drainToTable(latest, "update")
      .groupBy(col("user_id"), col("event_type"))
      .agg(max_by(col("last_value"), col("last_ts")).as("last_value"),
        max(col("last_ts")).as("last_ts"))
  }

  /** X13 — `stream_upsert_latest`: streaming CDC upsert — the
    * [[graft.operators.Scale.qUpsertLatest]] latest-version-wins
    * MERGE as a continuous query. The change feed (base snapshot +
    * version-1 updates, derived from the same orders stream the batch
    * twin derives them from) flows through ONE keyed streaming
    * aggregation whose per-key state is the current winning row
    * (`max_by` on version — O(1) state per key, never a row buffer);
    * update mode emits a key only when its winner changes, and the
    * post-drain collapse picks each key's last emission exactly as
    * [[streamLatest]] does. Shares the batch oracle verbatim —
    * stream/batch equivalence pair #8, and the shape a production
    * deploy points at a Delta/Iceberg MERGE sink instead of the
    * verification drain: state is key-partitioned across the
    * state-store fleet, so the upsert scales as keys do, with no
    * driver involvement in the hot path.
    */
  def streamUpsertLatest(t: Tables): DataFrame = {
    val schema = t.raw("orders").schema
    val orders = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "orders"))
    val base = orders.select(col("o_orderkey"), col("o_orderpriority"),
      col("o_totalprice"), lit(0).as("version"))
    val ch = orders.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("1-URGENT").as("o_orderpriority"),
        round(col("o_totalprice") * 1.1 + lit(1e-9), 2).as("o_totalprice"),
        lit(1).as("version"))
    val upserted = base.unionByName(ch)
      .groupBy(col("o_orderkey"))
      .agg(max_by(col("o_orderpriority"), col("version")).as("o_orderpriority"),
        max_by(col("o_totalprice"), col("version")).as("o_totalprice"),
        max(col("version")).as("version"))
    drainToTable(upserted, "update")
      .groupBy(col("o_orderkey"))
      .agg(max_by(col("o_orderpriority"), col("version")).as("o_orderpriority"),
        max_by(col("o_totalprice"), col("version")).as("o_totalprice"),
        max(col("version")).as("version"))
  }

  /** X7 — `stream_anomaly`: the streaming half of the volume monitor —
    * watermarked hourly per-type counts maintained as streaming state,
    * drained, then scored through the SAME z-score stage as the batch
    * [[graft.operators.EventAnalytics.eventsAnomaly]] (Structured
    * Streaming forbids joins/windows after a streaming aggregation, so
    * the cross-hour baseline is computed over the drained rollup — on a
    * production monitor that scoring pass runs per micro-batch against
    * a broadcast historical baseline instead). The hourly rollup is
    * metadata-scale (#types × #hours) no matter the event rate, which
    * is what makes the post-drain scoring free. Batch-equivalent to
    * `events_anomaly` — the shared DuckDB oracle checks exactly that.
    */
  def streamAnomaly(t: Tables): DataFrame = {
    val counts = eventsStream(t)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val hourly = drainToTable(counts, "complete")
      .select(col("window.start").cast(TimestampNTZType).as("hour_ts"),
        col("event_type"), col("n_events"))
    graft.operators.EventAnalytics.anomalyScore(hourly)
  }

  /** X24 — `stream_survival`: the Kaplan–Meier retention curve
    * maintained over the LIVE event stream — per-user activity
    * extents as ONE keyed streaming aggregation (state = one
    * (min day, max day) pair per user, the minimal sufficient
    * statistic for right-censored lifetimes), the life table + KM
    * fold running over the drained user frame through the IDENTICAL
    * batch stage ([[graft.operators.EventAnalytics
    * .survivalFromUsers]]). Shares the batch oracle verbatim —
    * stream/batch equivalence pair #18.
    */
  def streamSurvival(t: Tables): DataFrame = {
    val day = datediff(col("ts").cast("date"),
      lit(java.sql.Date.valueOf("2024-01-01"))).cast("long")
    val users = eventsStream(t)
      .select(col("user_id"), day.as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first"), max(col("day")).as("last"))
    graft.operators.EventAnalytics.survivalFromUsers(
      drainToTable(users, "complete"))
  }

  /** X23 — `stream_changepoint`: the CUSUM level-shift monitor as a
    * CONTINUOUS query — hourly volume maintained as ONE keyed
    * streaming aggregation (state = one count per calendar hour,
    * bounded by the stream's time span), the scaled-CUSUM scoring
    * running over the drained metadata-scale rollup through the
    * IDENTICAL batch stage ([[graft.operators.EventAnalytics
    * .changepointScore]] — the `stream_anomaly` pattern: Structured
    * Streaming forbids windows after a streaming agg, and the rollup
    * is #hours rows at any event rate, so post-drain scoring is
    * free). Shares the batch oracle verbatim — stream/batch
    * equivalence pair #17.
    */
  def streamChangepoint(t: Tables): DataFrame = {
    val hourly = eventsStream(t)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("x"))
    graft.operators.EventAnalytics.changepointScore(
      drainToTable(hourly, "complete")
        .select(col("hour_ts").cast(TimestampNTZType).as("hour_ts"), col("x")))
  }

  /** X8 — `stream_topk`: streaming top-k purchased items — a keyed
    * count maintained as streaming state (update mode: only items
    * whose count changed emit per micro-batch), drained and cut to
    * the final leaderboard. Counts are monotone, so the last snapshot
    * per item is its max across emitted updates; the cut is a
    * TakeOrdered over the item vocabulary, never a raw-event sort.
    * Oracled against the batch top-k over the same events — the
    * stream/batch equivalence this engine pins everywhere.
    */
  /** X9 — `stream_burst`: the streaming half of the rate-burst screen
    * — watermarked (user × hopping 10-minute window) counts as
    * streaming state, drained and thresholded. State per key is one
    * count; the watermark expires windows past their lateness bound,
    * so state is bounded by active (user × window) pairs, not history.
    * Shares its oracle with the batch
    * [[graft.operators.EventAnalytics.eventsBurstWindows]] —
    * stream/batch equivalence, pinned by the driver's hash gate.
    */
  def streamBurst(t: Tables, minEvents: Int = 2): DataFrame = {
    val counts = eventsStream(t)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"),
        window(col("ts"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
    drainToTable(counts, "update")
      .groupBy(col("user_id"), col("w"))
      .agg(max(col("n_events")).as("n_events")) // monotone updates: last = max
      .filter(col("n_events") >= minEvents)
      .select(col("user_id"),
        date_format(col("w.start").cast(TimestampNTZType), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("n_events"))
  }

  def streamTopK(t: Tables, k: Int = 10): DataFrame = {
    val counts = eventsStream(t)
      .filter(col("event_type") === "purchase")
      .withColumn("item", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n"))
    drainToTable(counts, "update")
      .groupBy(col("item")).agg(max(col("n")).as("n"))
      .orderBy(col("n").desc, col("item"))
      .limit(k)
  }

  /** X13 — `stream_index_append`: the STREAMING half of incremental
    * index maintenance — newly arriving vectors encode against the
    * FROZEN history models as a map-only streaming transform (cell
    * assignment + m sub-vector codes, pure column expressions, no
    * state), the drained codes append to the stored history index,
    * and the standard three-stage serve runs over the union. Batch
    * twin: [[graft.operators.Similarity.annIndexIncremental]] — same
    * split, same frozen models, same serving — so it shares that
    * oracle verbatim: the streaming encode provably equals the batch
    * encode.
    */
  def streamIndexAppend(t: Tables): DataFrame = {
    import graft.operators.Similarity
    val h = Similarity.historyIndex(t)
    val schema = t.raw("embeddings").schema
    val incStream = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "embeddings"))
      .filter(col("vec_id") >= Similarity.NumQueries && col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val appended = drainToTable(
      Similarity.pqEncode(incStream, h.cents, h.books), "append")
    Similarity.ivfPqServe(t,
      t.spark.table(h.codesTable).unionByName(appended), h,
      nProbe = 4, shortlist = 50)
  }

  /** X14 — `stream_modality_router`: the byte-sniffing ingestion
    * front door (E107, [[graft.operators.Multimodal.mmModalityRouter]])
    * as a STREAMING query — documents arrive as a file stream, the
    * payload synthesis + signature sniff is map-only per row, and the
    * per-modality rollup is a BOUNDED streaming aggregation (≤ 4
    * groups of counts + byte volume) drained in complete mode. Shares
    * the batch oracle verbatim — the established stream/batch
    * equivalence pattern, applied to the multimodal surface.
    */
  def streamModalityRouter(t: Tables): DataFrame = {
    val schema = t.raw("documents").schema
    val docsStream = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "documents"))
    drainToTable(graft.operators.Multimodal.modalityRouterOf(docsStream),
      "complete")
  }

  /** X15 — `stream_frame_dedup`: frame-level content dedup
    * ([[graft.operators.Multimodal.mmFrameDedup]]) as a STREAMING
    * query — media payloads arrive as a file stream, the frame
    * synthesis + content-window hash is map-only per row
    * ([[graft.operators.Multimodal.frameContents]], shared with the
    * batch twin), and the digest-keyed rollup is a streaming
    * aggregation whose state is one row per distinct frame content —
    * 32-char digests, never payload bytes, the same state-size story
    * as the batch shuffle. `countDistinct` is unsupported over
    * streaming state, so the doc count is `size(collect_set(doc_id))`
    * — bounded per group by the group's true doc count, value-equal to
    * the batch `countDistinct`. Shares the batch oracle verbatim —
    * stream/batch equivalence pair #7.
    */
  def streamFrameDedup(t: Tables, window: Int = 64): DataFrame = {
    val schema = t.raw("documents").schema
    val docsStream = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "documents"))
    val agg = graft.operators.Multimodal.frameContents(docsStream, window)
      .groupBy(col("frame_hash"))
      .agg(count(lit(1)).as("n_occ"),
        size(collect_set(col("doc_id"))).cast("long").as("n_docs"),
        min(col("doc_id")).as("rep_doc_id"))
    drainToTable(agg, "complete").filter(col("n_docs") > 1)
  }

  /** X16 — `stream_pii_scrub`: the PII detection + redaction pass
    * ([[graft.operators.TextAnalysis.piiScrubOf]]) as a STREAMING
    * query — documents arrive as a file stream and the whole scrub
    * (nibble injection, `regexp_count` audit counters, chained
    * placeholder redaction, post-redaction md5) is a stateless map-only
    * projection per row: append mode, NO streaming state at all, the
    * shape an ingest-time scrubber actually deploys as (scan → project
    * → sink, back-pressure bounded). Shares the batch oracle verbatim —
    * stream/batch equivalence pair #9.
    */
  def streamPiiScrub(t: Tables): DataFrame = {
    val schema = t.raw("documents").schema
    val docsStream = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "documents"))
    drainToTable(graft.operators.TextAnalysis.piiScrubOf(docsStream),
      "append")
  }

  /** X17 — `stream_watermark_detect`: the green-list watermark screen
    * ([[graft.operators.TextAnalysis.textWatermarkDetect]]'s body) at
    * INGEST time — documents as a file stream, the bigram green-count
    * z-test a stateless map-only projection per row (append mode, no
    * streaming state), so LLM-generated text is flagged before it ever
    * lands in the corpus. Shares the batch oracle verbatim —
    * stream/batch equivalence pair #10.
    */
  def streamWatermarkDetect(t: Tables): DataFrame = {
    val schema = t.raw("documents").schema
    val docsStream = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "documents"))
    drainToTable(
      graft.operators.TextAnalysis.watermarkDetectOf(docsStream), "append")
  }

  /** Stage the bot-screen input feed (real events + the deterministic
    * injection, [[graft.operators.EventAnalytics.botFeed]]) as a
    * parquet dir — input-feed construction, not operator work (a
    * production screen consumes the raw event stream). */
  private[streaming] def stageBotFeed(t: Tables): String =
    SourceOps.staged(t, "bot_feed") {
      val dir = SourceOps.staging(s"bot_feed_${SourceOps.dirTag(t.dir)}")
      graft.operators.EventAnalytics.botFeed(t)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      dir
    }

  /** X22 — `stream_bot_detect`: the automation screen as a CONTINUOUS
    * query — the deployment shape an abuse filter actually runs in
    * (flag while the traffic arrives, not in tomorrow's batch). ONE
    * keyed streaming aggregation over (user, calendar minute) holds
    * exactly the screen's state: event count, distinct (type, item)
    * set, µs extent — bounded per key by the minute's distinct
    * actions, keys bounded by ACTIVE (user, minute) pairs. The rule
    * scoring folds over the drained state through the identical batch
    * stage ([[graft.operators.EventAnalytics.botUserStats]] — all its
    * aggregates are decomposable over minutes, which is WHY the
    * per-minute rollup is the right streaming state). Shares the
    * batch oracle verbatim — stream/batch equivalence pair #16.
    */
  def streamBotDetect(t: Tables): DataFrame = {
    val schema = graft.operators.EventAnalytics.botFeed(t).schema
    val src = t.spark.readStream.schema(schema).parquet(stageBotFeed(t))
    val pm = graft.operators.EventAnalytics.botPerMinute(src)
    graft.operators.EventAnalytics.botUserStats(drainToTable(pm, "complete"))
  }

  /** Stage the SCD2 increment (projected events, day ≥ splitDay) as
    * ONE parquet file PER DAY — the daily CDC drop a warehouse's
    * dimension-maintenance job actually consumes. The drop files are an
    * INPUT artifact (the feed a production job consumes), so
    * `_build_scd2_cdc` times their construction, not the merge query. */
  private[graft] def stageScd2IncrementDaily(t: Tables, splitDay: Int): String =
    SourceOps.staged(t, s"scd2_cdc_$splitDay") {
      writeDayFiles(
        graft.operators.Scale.scd2Events(t).filter(col("day") >= splitDay),
        "day", SourceOps.staging(s"scd2_cdc_${SourceOps.dirTag(t.dir)}_$splitDay"))
    }

  /** The running dimension table `stream_scd2_merge` maintains. */
  private[graft] def scd2TargetDir(t: Tables, splitDay: Int): String = {
    SourceOps.staging(s"stream_scd2_target_" +
      s"${SourceOps.runId}_${SourceOps.dirTag(t.dir)}_$splitDay")
  }

  /** The txn-slot app id the stream's micro-batch merges commit under. */
  private[graft] val Scd2TxnApp = "stream_scd2_merge"

  /** X18 — `stream_scd2_merge`: the SCD2 dimension maintained as a
    * CONTINUOUS CDC consumer — `q_scd2_merge`'s close/extend/append
    * merge applied once per arriving day. The increment is staged as
    * one file per day (`maxFilesPerTrigger=1` → each micro-batch IS
    * one day's CDC drop, replayed in calendar order), and every batch
    * folds through the shared SCD2 fold against the running stored
    * dimension, whose new version is written out and becomes the next
    * batch's state — exactly the daily scheduled-merge cadence, so
    * five sequential merges must reproduce the one-shot rebuild
    * (the split-invariance the batch spec pins drives the whole
    * design). Shares the full-rebuild oracle verbatim — stream/batch
    * equivalence pair #11.
    *
    * Shape per batch: one MERGE ([[graft.sources.shard.ShardOps.merge]])
    * shuffles the day's events and the touched files' rows once by user
    * and folds each active user through the one
    * [[graft.operators.Scale.scd2Fold]] inside the write — no window,
    * no join. State lives in the keyed gshard table it writes (only
    * the files whose key range the day touches are rewritten, every
    * commit is a readable generation, and the batch id rides the
    * table's txn slot, so a replayed micro-batch is a no-op) — NEVER
    * in driver memory or streaming state stores: the merge scales with
    * the day + touched users at any history size. */
  def streamScd2Merge(t: Tables, splitDay: Int = 25): DataFrame = {
    import graft.operators.Scale
    import graft.sources.shard.{ShardFormat, ShardOps}
    val dir = stageScd2IncrementDaily(t, splitDay)
    val schema = t.spark.read.parquet(dir).schema
    val incStream = t.spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val target = scd2TargetDir(t, splitDay)
    ShardFormat.write(t.spark.table(Scale.scd2State(t, splitDay)), target,
      "user_id", 8)
    val q = incStream.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ShardOps.merge(t.spark, target, batch, "user_id", nShards = 0,
          txnId = id, txnApp = Some(Scd2TxnApp))(Scale.scd2PerKey)
      }
      .start()
    q.awaitTermination()
    t.spark.read.format("gshard").load(target)
      .orderBy(col("user_id"), col("valid_from"))
  }

  /** X19 — `stream_bpe_train`: the BPE pair-counting round over a
    * document STREAM — tokenizer training statistics maintained
    * continuously as the corpus lands, instead of a scheduled batch
    * recount: per micro-batch the word explode + greedy segmentation
    * + pair explode stay map-only, and the pair counts are ONE keyed
    * streaming aggregation whose state is bounded by the pair
    * vocabulary (≤ |vocab|² + boundary singles — metadata-scale at
    * any corpus rate). Complete-mode drain, then the same
    * deterministic top-20 cut; shares the batch oracle verbatim —
    * stream/batch equivalence pair #12.
    */
  def streamBpeTrain(t: Tables, topN: Int = 20): DataFrame = {
    import graft.operators.TextAnalysis
    val schema = t.raw("documents").schema
    val docsStream = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "documents"))
    val units = regexp_extract_all(col("word"),
      lit(TextAnalysis.bpeRegex), lit(0))
    val counts = docsStream
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .select(explode(TextAnalysis.ngrams(units, 2)).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
    drainToTable(counts, "complete")
      .orderBy(desc("n"), asc("pair"))
      .limit(topN)
  }

  /** `stream_active_users` — the DAU/WAU engagement board maintained
    * as ONE streaming aggregation: each arriving event projects
    * map-side to the 7 daily windows it contributes to (posexplode of
    * the day sequence — the batch operator's explode trick, which
    * needs no per-user state), and a single day-keyed agg folds BOTH
    * readouts through one state store — `collect_set(user)` for WAU
    * and the pos=0 subset for DAU (the sentinel-fold discipline of
    * `stream_boilerplate`: two streaming aggs can't join, one agg
    * with two set columns can). The batch twin caps windows at the
    * corpus's last day; the drained state reproduces that cap as a
    * batch readout (max day with dau > 0). State is one user set per
    * (day, window) — bounded by WAU; a 100 TB deployment swaps the
    * exact sets for HLL sketch state (`approx_count_distinct` — the
    * `q_table_stats_approx` trade) with the same shape. Shares the
    * `events_active_users` oracle verbatim — stream/batch
    * equivalence pair #15. */
  def streamActiveUsers(t: Tables): DataFrame = {
    val exploded = eventsStream(t)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day0"))
      .select(col("user_id"), posexplode(sequence(col("day0"),
        col("day0") + expr("INTERVAL 6 DAYS"), expr("INTERVAL 1 DAY"))))
    val agg = exploded.groupBy(col("col").as("day"))
      .agg(
        size(collect_set(when(col("pos") === 0, col("user_id"))))
          .cast("long").as("dau"),
        size(collect_set(col("user_id"))).cast("long").as("wau"))
    val drained = drainToTable(agg, "complete")
    val lastDay = drained.filter(col("dau") > 0)
      .agg(max(col("day")).as("last_day"))
    drained.crossJoin(broadcast(lastDay))
      .filter(col("day") <= col("last_day"))
      .select(col("day"), col("dau"), col("wau"))
  }

  /** X34 — `stream_growth_accounting`: the weekly growth-accounting
    * decomposition maintained CONTINUOUSLY — the deduped (user, week)
    * activity set as ONE keyed streaming aggregation (state = one row
    * per active user-week, the minimal sufficient statistic; a
    * production deploy watermarks `week` to retire closed weeks), with
    * the lag/lead classification
    * ([[graft.operators.EventAnalytics.growthFromActivity]],
    * refactored shared) running as a batch readout over the drained
    * metadata-scale state. The week-retirement claim is EXERCISED in
    * [[growthWeeksRetired]] (append mode + watermark: closed weeks
    * emit once and their state rows retire; spec-counted against the
    * state-store metrics). Shares `events_growth_accounting`'s oracle
    * verbatim — stream/batch equivalence pair #30. */
  def streamGrowthAccounting(t: Tables): DataFrame = {
    val weeks = eventsStream(t)
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("week"))
      .groupBy(col("user_id"), col("week"))
      .agg(count(lit(1)).as("n"))
    graft.operators.EventAnalytics.growthFromActivity(
      drainToTable(weeks, "complete").select(col("user_id"), col("week")))
  }

  /** Result of the week-retirement run: the append-mode emissions
    * (one row per CLOSED (user, week)), the per-trigger state-store
    * row counts, and the final count (the OPEN groups still buffered
    * when the drain stopped). */
  final case class RetiredWeeks(emitted: DataFrame, stateRows: Seq[Long],
      finalStateRows: Long)

  /** The day-ordered growth feed (one file per day, so the watermark
    * advances in calendar order). Files carry the integer day `d` they
    * were split on; the stream's schema leaves it out. */
  private[streaming] def growthFeed(t: Tables): String =
    SourceOps.staged(t, "growth_feed") {
      writeDayFiles(t.events.select(col("user_id"),
          col("ts").cast("timestamp").as("ts"),
          unix_date(to_date(col("ts"))).as("d")), "d",
        SourceOps.staging(s"growth_feed_${SourceOps.dirTag(t.dir)}"))
    }

  /** X41 — WEEK RETIREMENT for the growth-accounting state, exercised:
    * the production shape X34's scaladoc promises. The (user, week)
    * activity set runs in APPEND mode with a 7-day watermark on the
    * week timestamp over a day-ordered feed: a group EMITS exactly
    * once — when the watermark proves its week can receive no more
    * events — and its state row is RETIRED at that moment, so the
    * store holds only the OPEN horizon (users × ~2 weeks) instead of
    * the full history (users × all weeks), at any stream length. The
    * emissions partition the exact activity set: closed weeks emitted,
    * open weeks still in state — nothing lost, spec-pinned against
    * the state-store metrics AND a batch recompute. */
  def growthWeeksRetired(t: Tables): RetiredWeeks = {
    val schema = t.events.select(col("user_id"),
      col("ts").cast("timestamp").as("ts")).schema
    val weeks = t.spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 5).parquet(growthFeed(t))
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .withWatermark("week", "7 days")
      .groupBy(col("user_id"), col("week"))
      .agg(count(lit(1)).as("n"))
    val (emitted, progress) = drain(weeks, "append")
    val state = progress
      .flatMap(p => p.stateOperators.headOption.map(_.numRowsTotal))
    RetiredWeeks(emitted, state, state.lastOption.getOrElse(-1L))
  }

  /** X40 — `stream_wow_change`: the week-over-week report maintained
    * CONTINUOUSLY — (type, week) counts as ONE keyed streaming
    * aggregation (metadata-scale state; production watermarks the
    * week), the lag/ppm readout over the drained rollup. Shares
    * `events_wow_change`'s oracle verbatim — stream/batch equivalence
    * pair #34. */
  def streamWowChange(t: Tables): DataFrame = {
    val weekly = eventsStream(t)
      .select(col("event_type"),
        to_date(date_trunc("week", col("ts"))).as("week"))
      .groupBy(col("event_type"), col("week"))
      .agg(count(lit(1)).as("n"))
    drainToTable(weekly, "complete")
      .withColumn("prev_n", lag(col("n"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(asc("week"))))
      .withColumn("delta", col("n") - col("prev_n"))
      .withColumn("change_ppm",
        when(col("prev_n") > 0,
          expr("((n - prev_n) * 1000000) div prev_n")))
      .select(col("event_type"),
        col("week").cast("timestamp_ntz").as("week"),
        col("n"), col("prev_n"), col("delta"), col("change_ppm"))
  }

  /** X37 — `stream_holt_winters`: the seasonal forecaster maintained
    * CONTINUOUSLY — the same (type, day) keyed streaming rollup as
    * [[streamHoltForecast]], with the shared Holt-Winters integer fold
    * ([[graft.operators.EventAnalytics.holtWintersFromCounts]])
    * running over the drained state: the weekly-cycle-aware forecast
    * refreshes every trigger. Shares `events_holt_winters`' recursive-
    * CTE oracle verbatim — stream/batch equivalence pair #33. */
  def streamHoltWinters(t: Tables): DataFrame = {
    val counts = eventsStream(t)
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    graft.operators.EventAnalytics.holtWintersFromCounts(
      drainToTable(counts, "complete"))
  }

  /** X36 — `stream_ols_trend`: the per-type volume-trend regression
    * maintained CONTINUOUSLY — the (type, day) daily counts as ONE
    * keyed streaming aggregation (state = types × active days, the
    * metadata-scale sufficient statistic; production watermarks the
    * day), with the shared native-`regr_*` fit
    * ([[graft.operators.EventAnalytics.olsTrendFromDaily]], refactored
    * shared) running over the drained rollup. Trend drift becomes a
    * per-trigger readout instead of a batch recount. Shares
    * `events_ols_trend`'s oracle verbatim — stream/batch equivalence
    * pair #32. */
  def streamOlsTrend(t: Tables): DataFrame = {
    val daily = eventsStream(t)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
    graft.operators.EventAnalytics.olsTrendFromDaily(
      drainToTable(daily, "complete"))
  }

  /** X48 — `stream_peak_concurrency`: the capacity readout maintained
    * CONTINUOUSLY — per-(day, user) interval bounds (min/max event
    * instant) as ONE keyed streaming aggregation (state = one row per
    * user-day, the minimal sufficient statistic; production
    * watermarks the day), the shared endpoint sweep over the drained
    * bounds: peak concurrent load per trigger. Shares
    * `events_peak_concurrency`'s oracle verbatim — stream/batch
    * equivalence pair #40. */
  def streamPeakConcurrency(t: Tables): DataFrame = {
    val bounds = eventsStream(t)
      .select(to_date(col("ts")).as("day"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .groupBy(col("day"), col("user_id"))
      .agg(min(col("us")).as("s"), max(col("us")).as("e"))
    graft.operators.EventAnalytics.peakFromIntervals(
      drainToTable(bounds, "complete"))
  }

  /** X47 — `stream_rate_ci`: per-type user reach with its Wilson 95 %
    * interval, maintained CONTINUOUSLY — the (type, user) key set as
    * ONE keyed streaming aggregation (the same distinct-key state as
    * the entropy twin), the shared Wilson readout over the drained
    * set: adoption/reach with honest uncertainty per trigger. Shares
    * `events_rate_ci`'s oracle verbatim — stream/batch equivalence
    * pair #39. */
  def streamRateCi(t: Tables): DataFrame = {
    val pairs = eventsStream(t)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    graft.operators.EventAnalytics.rateCiFromPairs(
      drainToTable(pairs, "complete"))
  }

  /** X49 — `stream_welch_ttest`: the continuous-metric experiment
    * readout maintained CONTINUOUSLY — per-user cents totals as ONE
    * keyed streaming aggregation (state = users × one long, the
    * minimal sufficient statistic for the Welch moments), with the
    * shared fixed-tree readout
    * ([[graft.operators.EventAnalytics.welchFromUserCents]]) over the
    * drained totals. Shares `events_welch_ttest`'s oracle verbatim —
    * stream/batch equivalence pair #41. */
  def streamWelchTtest(t: Tables): DataFrame =
    graft.operators.EventAnalytics.welchFromUserCents(drainToTable(
      graft.operators.EventAnalytics.userCentsTotals(eventsStream(t)),
      "complete"))

  /** X51 — `stream_theilsen`: the robust trend slope maintained
    * CONTINUOUSLY — the per-(type, day) counts as ONE keyed streaming
    * aggregation (state ≤ types × days rows — the aggregated series,
    * the minimal sufficient statistic), with the shared
    * pairwise-slope lower-median readout
    * ([[graft.operators.EventAnalytics.theilSenFromDaily]]) over the
    * drained series. Shares `events_theilsen`'s oracle verbatim —
    * stream/batch equivalence pair #43. */
  def streamTheilSen(t: Tables): DataFrame = {
    val daily = eventsStream(t)
      .select(col("event_type"),
        datediff(to_date(col("ts")),
          lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("d"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("c"))
    graft.operators.EventAnalytics.theilSenFromDaily(
      drainToTable(daily, "complete"))
  }

  /** X52 — `stream_bootstrap_ci`: the Poisson-bootstrap CI maintained
    * CONTINUOUSLY — per-user cents totals as ONE keyed streaming
    * aggregation (the same sufficient statistic the Welch twin keeps),
    * with the shared deterministic-weight readout
    * ([[graft.operators.EventAnalytics.bootstrapFromUserTotals]])
    * over the drained totals. Shares `events_bootstrap_ci`'s oracle
    * verbatim — stream/batch equivalence pair #44. */
  def streamBootstrapCi(t: Tables): DataFrame =
    graft.operators.EventAnalytics.bootstrapFromUserTotals(drainToTable(
      graft.operators.EventAnalytics.userCentsTotals(eventsStream(t)),
      "complete"))

  /** X53 — `stream_sequential_ab`: the sequential experiment monitor
    * living where it belongs — maintained CONTINUOUSLY. The
    * per-(user, day) conversion panel is ONE keyed streaming
    * aggregation (state = user-day rows; production watermarks the
    * day), and the shared cumulative-z readout
    * ([[graft.operators.EventAnalytics.seqAbFromPanel]]) replays the
    * whole boundary sequence over the drained panel each trigger.
    * Shares `events_sequential_ab`'s oracle verbatim — stream/batch
    * equivalence pair #45. */
  def streamSequentialAb(t: Tables): DataFrame =
    graft.operators.EventAnalytics.seqAbFromPanel(drainToTable(
      eventsStream(t)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("user_id"), col("day"))
        .agg(max(when(col("event_type") === "purchase" &&
          col("value") > 180, 1L).otherwise(0L)).as("conv")),
      "complete"))

  /** X50 — `stream_chisq`: the traffic-composition independence test
    * maintained CONTINUOUSLY — (event_type, variant) cell counts as
    * ONE keyed streaming aggregation (state = 2 × #types longs, the
    * whole sufficient statistic), with the shared integer-summed
    * readout ([[graft.operators.EventAnalytics.chisqFromCounts]])
    * over the drained cells. Shares `events_chisq`'s oracle verbatim
    * — stream/batch equivalence pair #42. */
  def streamChisq(t: Tables): DataFrame = {
    val cells = eventsStream(t)
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
      .groupBy(col("event_type"), col("variant"))
      .agg(count(lit(1)).as("c"))
    graft.operators.EventAnalytics.chisqFromCounts(
      drainToTable(cells, "complete"))
  }

  /** X46 — `stream_winsorized_mean`: the grid-exact winsorized mean
    * maintained CONTINUOUSLY — the (type, cents) value grid as ONE
    * keyed streaming aggregation (the same value-domain state shape
    * as [[streamKsTest]]), with the shared order-statistic + clamp
    * readout ([[graft.operators.EventAnalytics.winsorizedFromGrid]])
    * over the drained grid. Shares `events_winsorized_mean`'s oracle
    * verbatim — stream/batch equivalence pair #38. */
  def streamWinsorizedMean(t: Tables): DataFrame = {
    val grid = eventsStream(t)
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.EventAnalytics.winsorizedFromGrid(
      drainToTable(grid, "complete"))
  }

  /** X45 — `stream_type_entropy`: the per-user behavioral-entropy
    * screen maintained CONTINUOUSLY — the (user, type) counts as ONE
    * keyed streaming aggregation (state = the distinct key set,
    * users × #types — the minimal sufficient statistic; production
    * would TTL idle users via the X32 transformWithState shape), with
    * the shared entropy readout
    * ([[graft.operators.EventAnalytics.entropyFromCounts]]) over the
    * drained rollup: scripted-traffic alerting per trigger. Shares
    * `events_type_entropy`'s oracle verbatim — stream/batch
    * equivalence pair #37. */
  def streamTypeEntropy(t: Tables): DataFrame = {
    val counts = eventsStream(t)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    graft.operators.EventAnalytics.entropyFromCounts(
      drainToTable(counts, "complete"))
  }

  /** X44 — `stream_gopher_rules`: the Gopher heuristic filter as a
    * STATELESS map-only screen over the arriving document stream —
    * quality filtering at ingest time instead of a batch pass (the
    * shape a 100 TB crawl consumer actually runs: reject-with-reason
    * per document as it lands, zero state, append mode). Shares
    * `text_gopher_rules`' integer-exact rules and oracle verbatim —
    * stream/batch equivalence pair #36. */
  def streamGopherRules(t: Tables): DataFrame = {
    val schema = t.raw("documents").schema
    val docs = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "documents"))
    drainToTable(
      graft.operators.TextAnalysis.textGopherRulesOf(docs), "append")
  }

  /** X43 — `stream_ks_test`: the two-sample KS drift test maintained
    * CONTINUOUSLY — the (cents, group-counts) value grid as ONE keyed
    * streaming aggregation (state = the DISTINCT value domain, not
    * the event count — the same metadata-scale sufficient statistic
    * the batch decomposition rides), with the shared integer-ppm CDF
    * readout ([[graft.operators.EventAnalytics.ksFromCounts]]) over
    * the drained grid: distribution-shift alerting per trigger
    * instead of a batch recount. Shares `events_ks_test`'s oracle
    * verbatim — stream/batch equivalence pair #35. */
  def streamKsTest(t: Tables): DataFrame = {
    val grid = eventsStream(t)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("cents"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("na"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nb"))
    graft.operators.EventAnalytics.ksFromCounts(
      drainToTable(grid, "complete"))
  }

  /** X35 — `stream_benford`: the Benford first-digit audit maintained
    * CONTINUOUSLY over the fact stream — per-digit counts as ONE keyed
    * streaming aggregation whose state is NINE integers total (the
    * smallest sufficient statistic in the whole engine), with the
    * fixed expected-mass table and the ppm arithmetic applied as a
    * batch readout over the drained 9-row state. The fraud screen
    * this implements is exactly the alerting shape a production
    * deploy wants: state O(1), every trigger refreshes the full
    * audit. Shares `q_benford_audit`'s oracle verbatim — stream/batch
    * equivalence pair #31. */
  def streamBenford(t: Tables): DataFrame = {
    val schema = t.raw("lineitem").schema
    val li = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "lineitem"))
    val cents = floor(col("l_extendedprice") * lit(100) + lit(0.5))
      .cast("long")
    val digits = li
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .filter(col("digit") >= 1)
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val drained = drainToTable(digits, "complete")
    val expected = graft.operators.Relational.benfordPpm
      .foldLeft(lit(0L)) { case (acc, (d, ppm)) =>
        when(col("digit") === d, lit(ppm)).otherwise(acc)
      }
    val total = drained.agg(sum(col("n")).as("total"))
    drained.crossJoin(broadcast(total))
      .withColumn("obs_ppm", expr("(n * 1000000) div total"))
      .withColumn("exp_ppm", expected)
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
      .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
        col("dev_ppm"))
  }

  /** `stream_boilerplate` — the `text_boilerplate` per-source
    * document-frequency state maintained over a document STREAM:
    * cleaning statistics that update as the crawl lands, instead of a
    * batch recount. Per arriving doc the distinct-term projection is
    * MAP-ONLY (`array_distinct` before the explode — within-doc
    * dedup never shuffles), then ONE keyed streaming aggregation
    * whose state is bounded by per-source vocabulary (metadata-scale
    * at any ingest rate); a sentinel term per doc carries the
    * per-source doc count through the SAME aggregation (two streaming
    * aggs can't join inside one streaming query — the sentinel folds
    * both counts into one state store). The 80% threshold is a batch
    * readout of the drained state, emitting the boilerplate
    * VOCABULARY (source, term, df, n_docs) — the artifact the batch
    * operator's per-doc scoring pass consumes. Shares the batch df
    * oracle — stream/batch equivalence pair #14. */
  def streamBoilerplate(t: Tables): DataFrame = {
    import graft.operators.TextAnalysis
    val schema = t.raw("documents").schema
    val docs = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "documents"))
    val sentinel = "\u0001" // not producible by the tokenizer ([a-z0-9]+ only)
    val counts = docs
      .select(col("source"),
        explode(concat(array(lit(sentinel)),
          array_distinct(TextAnalysis.tokens(col("text"))))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("df"))
    val drained = drainToTable(counts, "complete")
    // rename the key on the sentinel side: both branches read the same
    // memory-sink view, and a bare self-join would carry conflicting
    // `source` attributes
    val nDocs = drained.filter(col("term") === sentinel)
      .select(col("source").as("nd_source"), col("df").as("n_docs"))
    val vocab = drained.filter(col("term") =!= sentinel)
    vocab.join(broadcast(nDocs), col("source") === col("nd_source"))
      .filter(col("df") * lit(10) >= col("n_docs") * lit(8))
      .select(col("source"), col("term"), col("df"), col("n_docs"))
  }

  /** X20 — `stream_heavy_hitters`: corpus-frequency heavy hitters as
    * a CONTINUOUS query — the live "trending tokens" readout of the
    * batch sketch→verify operator
    * ([[graft.operators.TextAnalysis.textHeavyHitters]]). ONE keyed
    * streaming aggregation holds the per-token running count (state
    * sharded by token across the state store; bounded by the ACTIVE
    * vocabulary — for an open 100 TB domain the deploy swaps the
    * exact keyed state for the same [[graft.functions.MisraGriesAgg]]
    * summary per shard, which is why the batch operator ships the
    * sketch path), and the threshold is a batch readout over the
    * drained state with the total derived from the same counts — no
    * second source scan. Shares the batch GROUP BY/HAVING oracle
    * verbatim — stream/batch equivalence pair #20.
    */
  /** X25 — `stream_srm`: the sample-ratio-mismatch guard as a LIVE
    * monitor — the deployment shape an experimentation platform runs
    * it in (catch a broken randomizer within the hour, not at
    * readout): streaming `dropDuplicates` on user (state = one row
    * per ASSIGNED user, exactly the population the test reads) feeds
    * a variant-keyed streaming count — two chained stateful
    * operators, the Spark-4 multi-stateful pipeline — and the
    * chi-square scores the drained 2-row state through arithmetic
    * identical to the batch guard. Shares `events_srm`'s oracle
    * verbatim — stream/batch equivalence pair #21. */
  def streamSrm(t: Tables): DataFrame = {
    val users = eventsStream(t).select(col("user_id"))
      .dropDuplicates("user_id")
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
    val counts = users.groupBy(col("variant")).agg(count(lit(1)).as("n"))
    val drained = drainToTable(counts, "complete")
    val chi2 = round((col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))
      / nullif((col("n_a") + col("n_b")).cast("double"), lit(0.0))
      + lit(1e-9), 4)
    drained.agg(
        sum(when(col("variant") === "A", col("n")).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "B", col("n")).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"), chi2.as("chi2"),
        (chi2 > 3.841).as("srm_detected"))
  }

  /** X26 — `stream_did`: difference-in-differences maintained over
    * the live stream — per (variant, period) cell state is the
    * (Σ quantized value, n) pair, the minimal sufficient statistic
    * for the ExactAgg mean (4 keys, O(1) state), and the drained
    * cells recover the means with the IDENTICAL integer formula
    * `⌊(2Σq + n)/(2n)⌋ / 10⁴`, so the streaming readout is
    * bit-identical to the batch estimator. Shares `events_did`'s
    * oracle verbatim — stream/batch equivalence pair #22. */
  def streamDid(t: Tables, boundaryDay: Int = 15): DataFrame = {
    import graft.functions.ExactAgg
    val base = eventsStream(t).select(
      when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
        .otherwise("B").as("variant"),
      when(datediff(col("ts").cast("date"),
        lit(java.sql.Date.valueOf("2024-01-01"))) < boundaryDay, "pre")
        .otherwise("post").as("period"),
      ExactAgg.quantize(col("value"), 4).as("q"))
    val cells = base.groupBy(col("variant"), col("period"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
    val drained = drainToTable(cells, "complete")
    def cellN(v: String, p: String) =
      sum(when(col("variant") === v && col("period") === p, col("n"))
        .otherwise(0L))
    // the exactMean integer recovery over the drained (Σq, n) state
    def cellMean(v: String, p: String) = {
      val s = sum(when(col("variant") === v && col("period") === p, col("sq")))
      val n = sum(when(col("variant") === v && col("period") === p, col("n")))
      floor((lit(2L) * s + n) / (lit(2L) * n)) / lit(1e4)
    }
    drained.agg(
        cellN("A", "pre").as("n_a_pre"), cellN("A", "post").as("n_a_post"),
        cellN("B", "pre").as("n_b_pre"), cellN("B", "post").as("n_b_post"),
        cellMean("A", "pre").as("mean_a_pre"),
        cellMean("A", "post").as("mean_a_post"),
        cellMean("B", "pre").as("mean_b_pre"),
        cellMean("B", "post").as("mean_b_post"))
      .withColumn("did", round(
        (col("mean_b_post") - col("mean_b_pre"))
          - (col("mean_a_post") - col("mean_a_pre")) + lit(1e-9), 4))
  }

  def streamHeavyHitters(t: Tables, phiInv: Int = 40): DataFrame = {
    import graft.operators.TextAnalysis
    val schema = t.raw("documents").schema
    val docs = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "documents"))
    val counts = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
    val drained = drainToTable(counts, "complete")
    val total = drained.agg(sum(col("cnt")).as("total"))
    drained.crossJoin(broadcast(total))
      .filter(col("cnt") * phiInv >= col("total"))
      .select(col("token"), col("cnt"))
  }

  /** X32 — `stream_tws_heavy_hitters`: the SAME φ-heavy-hitters
    * contract as [[streamHeavyHitters]], but with BOUNDED state — a
    * per-shard Misra-Gries sketch in a `transformWithState` MapState
    * ([[StatefulHeavyHittersTws]]) instead of one state row per
    * distinct token. The exact twin's state grows with vocabulary;
    * this one is 16 shards × ≤64 counters forever, which is the shape
    * an unbounded 100 TB token stream actually needs.
    *
    * The sketch emits per-batch candidate generations; the reader
    * keeps each shard's LAST generation (candidates are evictable, so
    * no union over time), then an exact recount of the ≤ shards×m
    * survivors over the corpus + the φ filter makes the output exact
    * (the `text_heavy_hitters` sketch→verify discipline). Shares the
    * heavy-hitters oracle verbatim — the driver gate proves the
    * bounded-state path loses nothing. */
  def streamTwsHeavyHitters(t: Tables, phiInv: Int = 40,
      m: Int = 64): DataFrame = {
    require(m >= phiInv,
      "sketch capacity must cover the threshold for the no-miss guarantee")
    import graft.operators.TextAnalysis
    import StatefulHeavyHittersTws.Tok
    val spark = t.spark
    import spark.implicits._
    val schema = t.raw("documents").schema
    val docs = spark.readStream.schema(schema)
      .parquet(stageDir(t, "documents"))
    val toks = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .select(conv(substring(md5(col("token")), 1, 1), 16, 10)
        .cast("int").as("shard"), col("token"))
      .as[Tok]
    val cands = StatefulHeavyHittersTws.heavyHitters(toks, m)
    val drained = drainToTable(cands.toDF(), "update", Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val byShard = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
    val survivors = drained
      .withColumn("last_gen", max(col("gen")).over(byShard))
      .filter(col("gen") === col("last_gen"))
      .select(col("token"))
    val toks0 = t.documents
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
    val total = toks0.agg(count(lit(1)).as("total"))
    toks0.join(broadcast(survivors), Seq("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * phiInv >= col("total"))
      .select(col("token"), col("cnt"))
  }

  /** X22 — `stream_epoch_plan`: the epoch/repetition planner kept
    * CURRENT while the corpus grows — per-source token totals as ONE
    * keyed streaming aggregation (state = one int64 per source, the
    * minimal sufficient statistic for the whole plan), with the
    * scoring stage ([[graft.operators.TextAnalysis.epochPlanOf]],
    * refactored shared) folding over the drained #sources-row table.
    * Every mixture/budget decision the batch planner makes is thus
    * available continuously at ingest time without a second corpus
    * scan. Shares the batch oracle verbatim — stream/batch
    * equivalence pair #22. */
  def streamEpochPlan(t: Tables): DataFrame = {
    import graft.operators.TextAnalysis
    val schema = t.raw("documents").schema
    val docs = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "documents"))
    val rollup = docs
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(sum(col("n_toks")).as("n_tokens"))
    TextAnalysis.epochPlanOf(drainToTable(rollup, "complete"), budgetFactor = 2)
  }

  /** X23 — `stream_holt_forecast`: the Holt level+trend forecaster
    * maintained CONTINUOUSLY — per-(type, day) counts as ONE keyed
    * streaming aggregation (state bounded by #types × active days;
    * at production scale a watermark retires closed days), with the
    * integer micro-unit fold
    * ([[graft.operators.EventAnalytics.holtFromCounts]], refactored
    * shared) running over the drained metadata-scale rollup — the
    * `stream_changepoint` pattern applied to the trend-aware
    * forecaster. Shares the batch recursive-CTE oracle verbatim —
    * stream/batch equivalence pair #23. */
  def streamHoltForecast(t: Tables): DataFrame = {
    val counts = eventsStream(t)
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    graft.operators.EventAnalytics.holtFromCounts(
      drainToTable(counts, "complete"))
  }

  /** X12 — `stream_ann_serve`: ONLINE serving off the stored IVF-PQ
    * index — query vectors arrive as a stream, and EACH MICRO-BATCH
    * runs the full three-stage batch serving path
    * ([[graft.operators.Similarity.ivfPqServe]], the `ann_ivf_pq_topk`
    * flagship shape) over its bounded query set: coarse-probe the
    * batch's queries against the stored centroids, collect the probed
    * cells (≤ batch-queries × nProbe ints), scan ONLY those buckets of
    * the cell-bucketed code table (`SelectedBucketsCount` pruning),
    * ADC-score, exact-rerank the shortlist. A per-batch `foreachBatch`
    * is the right streaming harness for a serve loop whose inner plan
    * needs batch-time values (the probed-cell set drives scan pruning —
    * impossible to express as one static stream-static join without
    * scanning the WHOLE index every batch). Only the final top-k rows
    * per batch (queries × k) ever reach the driver, so driver memory
    * is bounded by the batch's query count, never by corpus size.
    * Identical semantics to [[graft.operators.Similarity.annIvfPqTopK]]
    * (same frozen index, same nProbe/shortlist), so it shares that
    * oracle verbatim — the proof that the OFFLINE flagship index and
    * the ONLINE serving path agree.
    */
  def streamAnnServe(t: Tables, nProbe: Int = 4, shortlist: Int = 50): DataFrame = {
    import graft.operators.Similarity
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val idx = Similarity.pqIndex(t)
    val schema = t.raw("embeddings").schema
    val qStream = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "embeddings"))
      .filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val codes = t.spark.table(idx.codesTable)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    var outSchema: StructType = null
    val q = qStream.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val served = Similarity.ivfPqServe(t, codes, idx, nProbe, shortlist,
          queriesDf = Some(batch))
        // bounded: this batch's queries × TopK ranked rows
        val rows = served.collect()
        buf.synchronized { outSchema = served.schema; buf ++= rows }
        ()
      }
      .start()
    q.awaitTermination()
    val resultSchema =
      if (outSchema != null) outSchema
      else StructType(Seq(
        StructField("q_id", schema("vec_id").dataType),
        StructField("vec_id", schema("vec_id").dataType),
        StructField("l2_sq", DoubleType),
        StructField("rnk", IntegerType)))
    t.spark.createDataFrame(buf.toList.asJava, resultSchema)
  }

  /** X27 — `stream_nb_classify`: the trained Naive-Bayes language
    * model ([[graft.operators.TextAnalysis.nbModel]], a static batch
    * frame) SERVING over the held-out document stream — the
    * model-in-the-ingest-path deployment shape: each arriving doc's
    * marker injection and token explosion are stateless per row, the
    * broadcast model lookup is a stream-static join, and the per-
    * (doc, class) integer log-likelihood sum is the query's ONE
    * stateful operator (state = 5 rows per scored doc — for an
    * unbounded deploy the readout windowing bounds it; here the drain
    * is the bounded backfill shape every [Q] stream uses). Argmax and
    * the confusion rollup are a batch readout of the drained scores.
    * Shares `text_nb_eval`'s oracle verbatim — stream/batch
    * equivalence pair #26. */
  def streamNbClassify(t: Tables): DataFrame = {
    import graft.operators.TextAnalysis
    val schema = t.raw("documents").schema
    val docs = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "documents"))
    val eval = TextAnalysis.nbInjectOf(docs).filter(col("doc_id") % 10 >= 8)
    val scores = TextAnalysis.nbScoresOf(eval, TextAnalysis.nbModel(t))
    val drained = drainToTable(scores, "complete")
    TextAnalysis.nbConfusionOf(drained, TextAnalysis.nbPriors(t))
      .orderBy(col("lang_true"), col("lang_pred"))
  }

  /** X28 — `stream_shard_sink`: the gshard DSv2 connector as a
    * STREAMING SINK target — each micro-batch lands through the
    * connector's append path inside `foreachBatch` (Spark plans the
    * range exchange per batch from the write's required distribution;
    * the manifest merge publishes each batch atomically, and the
    * batch-id idempotence a restart needs is REAL: the batch id rides
    * the write as its `txnid`, the manifest records the last applied
    * id, and a replayed append commit no-ops instead of
    * double-appending — the Delta txnAppId/txnVersion pattern at the
    * connector's commit point). The readout
    * scans the finished table back through the connector. Shares the
    * raw-events rollup oracle with the batch path — stream/batch
    * equivalence pair #24. */
  /** Stage events as ONE parquet file per week-of-month bucket so the
    * file stream genuinely delivers MULTIPLE micro-batches (a single
    * staged file would drain in one batch and never exercise the
    * sink's append/manifest-merge path). */
  private[streaming] def stageEventsWeekly(t: Tables): String =
    SourceOps.staged(t, "events_weekly") {
      val dir = SourceOps.staging(s"events_weekly_${SourceOps.dirTag(t.dir)}")
      val ev = t.events.select(col("user_id"), col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"),
        (datediff(col("ts").cast("date"),
          lit(java.sql.Date.valueOf("2024-01-01"))) / 7).cast("int").as("wk"))
      val weeks = ev.select(col("wk")).distinct()
        .collect().map(_.getInt(0)).sorted // bounded: weeks in the corpus
      weeks.foreach { w =>
        // no `=` in the subdir name: a wk=N path would be inferred as
        // a partition column and pollute the stream schema
        ev.filter(col("wk") === w).drop("wk").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/w$w")
      }
      dir
    }

  def streamShardSink(t: Tables): DataFrame = {
    val dir = SourceOps.staging(
      s"gshard_sink_${SourceOps.dirTag(t.dir)}_${runSeq.getAndIncrement()}")
    val staged = stageEventsWeekly(t)
    val schema = t.spark.read.parquet(s"$staged/w*").schema
    val ev = t.spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one weekly drop per micro-batch
      .parquet(s"$staged/w*")
    val q = ev.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.format("gshard").option("rangecol", "user_id")
          .option("shards", 8).option("txnid", batchId)
          .mode(if (batchId == 0L) "overwrite" else "append").save(dir)
        ()
      }
      .start()
    q.awaitTermination()
    t.spark.read.format("gshard").load(dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("value_cents"))
      .orderBy(col("event_type"))
  }

  /** X31 — `stream_tws_sessionize`: the custom sessionizer on Spark
    * 4's NEW arbitrary-state API (`transformWithState` — typed named
    * state handles, native TTL, event timers; see
    * [[StatefulSessionizeTws]]), run against the SAME readout and the
    * SAME oracle as the legacy `flatMapGroupsWithState` operator —
    * equivalence pair #28 proves two generations of the extension
    * point agree bit for bit. The new API requires the RocksDB state
    * store; the conf scopes to this query's child session only. */
  def streamTwsSessionize(t: Tables): DataFrame = {
    import StatefulSessionize.Ev
    val spark = t.spark
    import spark.implicits._
    val typed = eventsStream(t)
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        col("value"))
      .as[Ev]
    val sess = StatefulSessionizeTws.sessionize(typed, gapUs = 1800000000L)
    drainToTable(sess.toDF(), "update", Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(max(struct(col("n_events"), col("sum_value"))).as("fin"))
      .select(col("user_id"), col("session_id"),
        col("fin.n_events").as("n_events"),
        round(col("fin.sum_value"), 2).as("sum_value"))
  }

  /** X30 — `stream_shard_source`: the gshard connector as a STREAMING
    * SOURCE — `readStream.format("gshard")` tails the staged shard
    * table through the connector's `MicroBatchStream` (offsets index
    * the append-ordered manifest; `maxFilesPerTrigger` honored via
    * `SupportsAdmissionControl`, so the 16-file table genuinely
    * drains in 4 micro-batches here), one keyed streaming rollup,
    * bounded AvailableNow drain. Shares the raw-events rollup oracle
    * with the sink twin — stream/batch equivalence pair #27, and
    * together with X28 closes the loop: the connector serves BOTH
    * ends of a streaming pipeline. */
  /** X54 — `stream_shard_cdc`: the gshard CHANGE DATA FEED consumed
    * as a STREAM (r15 verdict task #5) — offsets are generations,
    * each micro-batch the net ±file delta between retained manifests.
    * The staged merge table (gen 0 = early stats, head = merged)
    * streams its feed from version 0 with Trigger.AvailableNow; the
    * drained ±rows classify into B60's insert/update/delete rows
    * ([[graft.sources.shard.ShardCdc.classify]] — the foreachBatch
    * consumer shape, here applied to the one drained batch). Shares
    * `q_shard_generation_diff`'s oracle verbatim — equivalence pair:
    * the stream and the batch time-travel diff must land identical
    * change rows. */
  def streamShardCdc(t: Tables): DataFrame = {
    import graft.sources.shard.ShardCdc
    SourceOps.qShardMerge(t) // stage: gen 0 + merged head
    val dir = SourceOps.shardMergeDir(t)
    val feed = t.spark.readStream.format("gshard-cdc")
      .option("startingversion", "0").load(dir)
    val drained = drainToTable(feed, "append")
    ShardCdc.classify(drained, "user_id")
      .select(col("user_id"), col("change_type"),
        col("n_events"), col("cents"))
      .orderBy(col("user_id"))
  }

  /** X55 — `stream_shard_cdc_rows`: the ROW-GRAIN change feed (r16
    * verdict task #3) — `rowlevel=true` streams the COMMIT-written
    * change files (net preimage/postimage rows, the Delta CDF
    * choice) instead of ±whole rewritten files, so a 1-row upsert
    * into an N-row file emits 2 rows, not 2N (spec-pinned
    * amplification bound). Same staged merge table, same classify
    * fold, and the SAME oracle as `stream_shard_cdc` /
    * `q_shard_generation_diff` — a three-way equivalence: batch
    * time-travel diff == file-grain feed == row-grain feed. */
  def streamShardCdcRows(t: Tables): DataFrame = {
    import graft.sources.shard.ShardCdc
    SourceOps.qShardMerge(t) // stage: gen 0 + merged head
    val dir = SourceOps.shardMergeDir(t)
    val feed = t.spark.readStream.format("gshard-cdc")
      .option("rowlevel", "true")
      .option("startingversion", "0").load(dir)
    val drained = drainToTable(feed, "append")
    ShardCdc.classify(drained, "user_id")
      .select(col("user_id"), col("change_type"),
        col("n_events"), col("cents"))
      .orderBy(col("user_id"))
  }

  def streamShardSource(t: Tables): DataFrame = {
    val dir = SourceOps.shardTable(t)
    val src = t.spark.readStream.format("gshard")
      .option("maxfilespertrigger", "4").load(dir)
    val agg = src.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("value_cents"))
    drainToTable(agg, "complete")
      .orderBy(col("event_type"))
  }

  /** X29 — `stream_dp_release`: the differentially-private
    * composition release maintained CONTINUOUSLY — the deployment
    * shape of a privacy dashboard (counts update live; the noise is a
    * pure post-processing map over the drained state, so the
    * mechanism and its ε are identical to the batch release). ONE
    * keyed streaming aggregation holds the (source, lang) counts;
    * the discrete-Laplace noise and clamp run at readout. Shares
    * `corpus_dp_release`'s oracle verbatim — stream/batch
    * equivalence pair #25. */
  def streamDpRelease(t: Tables): DataFrame = {
    val schema = t.raw("documents").schema
    val docs = t.spark.readStream.schema(schema)
      .parquet(stageDir(t, "documents"))
    val counts = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val drained = drainToTable(counts, "complete")
    graft.operators.Governance.dpNoiseOf(drained)
  }
}
