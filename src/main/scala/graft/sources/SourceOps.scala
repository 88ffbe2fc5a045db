package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Oracle-facing write-path exercise: proves the [[Sources]] sinks
  * produce data that reads back EXACTLY — not merely that the write
  * calls succeed (which is all a unit spec can pin). Two legs share
  * one aggregate shape:
  *
  *  - parquet, directory-partitioned by the group key — the 100 TB
  *    fact layout (downstream readers get partition pruning); the
  *    read-back exercises partition-column recovery from dir names.
  *  - csv with an explicit schema — the interchange path; the
  *    read-back exercises header handling, schema enforcement (no
  *    inference pre-scan) and double round-tripping through text.
  *
  * The DuckDB oracle computes the same aggregate over the ORIGINAL
  * table, so any row loss, duplication or value corruption introduced
  * by either sink/source pair breaks the driver's hash match.
  */
object SourceOps {

  private val csvSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderpriority", StringType),
    StructField("o_totalprice", DoubleType)))

  /** ONE staging dir per process, reused across invocations: the write
    * mode is Overwrite, so repeated calls (bench warmup + 6 timed
    * rounds) rewrite in place instead of leaking a full table copy per
    * call; a shutdown hook removes the tree on exit.
    */
  private[graft] lazy val stagingDir: java.nio.file.Path = {
    val d = Files.createTempDirectory("graft_roundtrip_")
    sys.addShutdownHook(deleteTree(d))
    d
  }

  /** Recursively delete `p` (a no-op when it does not exist). */
  private[graft] def deleteTree(p: java.nio.file.Path): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(p.toFile)
  }

  private final class Slot { var value: Option[Any] = None }
  private val slots =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Slot]()

  /** The build-once / serve-many memo for staged artifacts (pair sets,
    * indexes, stored dimensions, trained models, stream feeds): `build`
    * runs at most once per (session, dataset, `name`) and its value is
    * served to every later caller. Each key has its own lock, so
    * unrelated builds run concurrently while two cold consumers of one
    * key never both build (an overwrite-write racing another tears the
    * directory). The slot is created outside the lock and `build` runs
    * under the slot's monitor only, so a build may itself call `staged`
    * for the artifacts it derives from. A build that throws records
    * nothing: the next call retries. A second session rebuilds into the
    * same [[staging]] path, so a build must be re-runnable over its own
    * earlier output. Staged gshard tables use the on-disk memo instead
    * ([[graft.sources.shard.ShardFormat.ensureStaged]]): there the
    * manifest is the memo, and a per-session rebuild would re-CTAS a
    * catalog table that already exists. */
  private[graft] def staged[A](t: Tables, name: String)(build: => A): A = {
    val slot = slots.computeIfAbsent((sessionTag(t.spark), t.dir, name),
      _ => new Slot)
    slot.synchronized {
      slot.value.getOrElse { val v = build; slot.value = Some(v); v }
        .asInstanceOf[A]
    }
  }

  /** Per-process table-name suffix: concurrent sessions sharing a
    * warehouse must not clobber each other's catalog entries. */
  private[graft] lazy val runId: String = java.lang.Long.toHexString(ProcessHandle.current().pid())

  /** A named path inside the process-wide staging dir (Overwrite-mode
    * writers reuse it across invocations instead of leaking copies). */
  private[graft] def staging(name: String): String = s"$stagingDir/$name"

  /** Collision-free per-dataset tag for staging paths and table names:
    * the SANITIZED dir string, not its 31-bit hash — two dataset dirs
    * colliding on `hashCode` would silently overwrite each other's
    * Overwrite-mode index files while the first session's catalog
    * entries still point at the path. */
  private[graft] def dirTag(dir: String): String =
    dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Stable per-session cache-key component: the session UUID where
    * the runtime exposes one (identityHashCode is NOT unique across
    * GC'd/recreated sessions — a recycled address would serve another
    * session's cached index handles). */
  private[graft] def sessionTag(spark: org.apache.spark.sql.SparkSession): String =
    org.apache.spark.sql.graft.PlanBridge.sessionUUID(spark)

  /** Close the stats→optimizer loop: write ANALYZE statistics for a
    * catalog table where Catalyst's cost-based optimizer reads them.
    * `q_table_stats` computes the same numbers as a REPORT; this is
    * the feedback edge — with `spark.sql.cbo.enabled`, the row count
    * drives join reorder and the per-column NDV/min/max drive
    * filter-selectivity size estimates, which is what flips a
    * filtered fact join to broadcast (pinned in PlanAuditSpec). On a
    * 100 TB warehouse this runs as a post-load maintenance step, the
    * same cadence as `q_compaction`. */
  def analyzeTable(spark: SparkSession, table: String,
      cols: Seq[String] = Nil): Unit = {
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
    if (cols.nonEmpty)
      spark.sql(
        s"ANALYZE TABLE $table COMPUTE STATISTICS FOR COLUMNS ${cols.mkString(", ")}")
    ()
  }

  def sourceRoundtrip(t: Tables): DataFrame = {
    val base = stagingDir
    val pqPath = s"$base/orders_part.parquet"
    val csvPath = s"$base/orders_flat.csv"
    Sources.write(t.orders, pqPath, partitionBy = Seq("o_orderpriority"))
    Sources.write(
      t.orders.select("o_orderkey", "o_orderpriority", "o_totalprice"), csvPath)

    // o_totalprice carries 2 decimals, so the sum sits on a 0.01 grid:
    // round(x, 2) is cross-engine stable with no half-way hazard
    def agg(df: DataFrame, fmt: String): DataFrame =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .withColumn("fmt", lit(fmt))

    agg(Sources.read(t.spark, pqPath), "parquet")
      .unionByName(agg(Sources.read(t.spark, csvPath, Some(csvSchema)), "csv"))
  }

  /** A10 — `q_csv_malformed_audit`: the PERMISSIVE-ingest robustness
    * audit — a real interchange feed always carries some malformed
    * rows, and the load must quarantine them with an auditable count
    * per source, not die or silently null. A deterministic ~1/8 of
    * rows (md5-nibble gate — the injection discipline, adversarial
    * form: generator and parser must DISAGREE on exactly the planted
    * set) are written with a non-numeric value in the integer column;
    * the read-back uses an explicit schema + PERMISSIVE mode with a
    * corrupt-record capture column, and the audit rolls up rows /
    * quarantined rows / clean-value sums per source. The oracle
    * replays the injection arithmetically — it never parses CSV — so
    * the hash gate cross-checks SPARK'S CSV PARSER against planted
    * ground truth (the generator-vs-parser rule the mm_* decoders
    * established).
    *
    * Shape: one map-only text write, one schema-enforced scan (no
    * inference pre-pass — at 100 TB an inference scan doubles ingest
    * IO), one source-keyed partial agg. */
  def qCsvMalformedAudit(t: Tables): DataFrame = {
    val spark = t.spark
    val path = staging(s"docs_malformed_${dirTag(t.dir)}")
    val h = md5(col("doc_id").cast("string"))
    val bad = (conv(substring(h, 6, 1), 16, 10).cast("long") % 8) === 0
    t.documents.select(concat(
        col("doc_id").cast("string"), lit(","), col("source"), lit(","),
        when(bad, concat(lit("x"), col("n_chars").cast("string")))
          .otherwise(col("n_chars").cast("string"))).as("value"))
      .write.mode(SaveMode.Overwrite).text(path)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("n_chars", IntegerType), StructField("_bad", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(path)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_bad").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(when(col("_bad").isNotNull, 0L)
          .otherwise(col("n_chars").cast("long"))).as("sum_chars"))
  }

  /** 2×`bits` Morton (Z-order) interleave of two non-negative integer
    * columns — exact integer shifts/masks, so the key is
    * deterministic on any engine. Bit i of `a` lands at 2i, bit i of
    * `b` at 2i+1. CONTRACT: inputs must already fit in `bits` bits —
    * higher bits are dropped, silently degrading the interleave
    * toward single-dim/hash placement; callers normalize first
    * (see [[writeZOrderedEvents]]'s max-scaling). */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      // LONG arithmetic throughout: bit 15 of `b` lands at position 31,
      // which overflows a 32-bit shift
      shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** md5-window bit position `j` (0..2) of an order key: 4 hex nibbles
    * → 16 bits → word ⌊pos/64⌋, bit pos%64. Shared by build + probe. */
  private def bloomPos(key: Column, j: Int): Column =
    conv(substring(md5(key.cast("string")), 1 + 4 * j, 4), 16, 10)
      .cast("long")

  /** B19 — per-file BLOOM index + the build behind `q_bloom_file_skip`:
    * value-level data skipping for POINT LOOKUPS on a column the
    * layout does not cluster — the gap min-max footer stats
    * (`q_zorder_roundtrip`) cannot close: orders laid out by DATE (the
    * natural warehouse layout) spread `o_orderkey` across every file's
    * full key range, so every min-max interval contains every probe
    * key and nothing prunes. A 2¹⁶-bit / 3-hash Bloom bitset PER FILE
    * (the `text_contamination_bloom` md5 geometry, 4-nibble windows —
    * deterministic and replayable in any engine) answers "might this
    * file contain key k" in 3 bit probes: false negatives impossible
    * (pruning is always CORRECT), false positives only cost a read the
    * exact filter then discards (~(1−e^(−3n/m))³ ≈ 1e-7 per file at
    * ~1k keys/file). This is Parquet's column bloom filter / Delta's
    * bloom index re-expressed as a first-class stored index table:
    * (file, word_idx, word) — 16 files × ≤1024 int64 words, KB-scale
    * metadata at any corpus size, exactly what a driver consults to
    * plan a scan.
    *
    * Staged once per (session, dataset); `_build_bloom_file_index`
    * makes the cost its own bench entry. The build is one map pass over
    * the laid-out files (3 md5 probes per row) + one (file, word)-keyed
    * `bit_or` rollup — no shuffle beyond the KB-scale index itself. */
  private[graft] def bloomFileIndex(t: Tables): (String, String) =
    staged(t, "bloom_file_index") {
      val dataPath = staging(s"orders_bydate_${dirTag(t.dir)}")
      t.orders.repartitionByRange(16, col("o_orderdate"))
        .write.mode("overwrite").parquet(dataPath)
      val idxPath = staging(s"orders_bloom_idx_${dirTag(t.dir)}")
      val rows = t.spark.read.parquet(dataPath)
        .select(col("_metadata.file_path").as("file"), col("o_orderkey"))
      // ONE scan and ONE md5 per row (the digest is shared by all 3
      // probe windows — only the substring offset differs), exploded
      // into the 3 positions: the unionByName form re-scanned the
      // laid-out files 3× and hashed every key 3× (§2.3/§6)
      rows.select(col("file"), explode(array((0 until 3).map(j =>
          bloomPos(col("o_orderkey"), j)): _*)).as("pos"))
        .select(col("file"), expr("pos DIV 64").as("word_idx"),
          expr("shiftleft(1L, cast(pos % 64 AS INT))").as("mask"))
        .groupBy(col("file"), col("word_idx"))
        .agg(bit_or(col("mask")).as("word"))
        .write.mode("overwrite").parquet(idxPath)
      (dataPath, idxPath)
    }

  /** The files the Bloom index admits for a probe-key set: a key is a
    * candidate for a file iff ALL 3 of its bit probes are set in that
    * file's bitset. Returns the distinct candidate file list — the
    * bounded (≤ #files) driver-side scan plan every file-skipping
    * reader produces. Exposed to the spec so pruning is PINNED, not
    * assumed. */
  private[graft] def bloomCandidateFiles(t: Tables,
      keys: DataFrame): Array[String] = {
    val (_, idxPath) = bloomFileIndex(t)
    val idx = t.spark.read.parquet(idxPath)
    val probes = (0 until 3).map { j =>
      keys.select(col("k"), lit(j).as("j"),
        bloomPos(col("k"), j).as("pos"))
    }.reduce(_ unionByName _)
      .select(col("k"), col("j"), expr("pos DIV 64").as("word_idx"),
        expr("shiftleft(1L, cast(pos % 64 AS INT))").as("mask"))
    probes.join(idx, Seq("word_idx"))
      .filter(col("word").bitwiseAND(col("mask")) =!= 0)
      .groupBy(col("k"), col("file"))
      .agg(countDistinct(col("j")).as("hits"))
      .filter(col("hits") === 3)
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).sorted
  }

  /** `q_bloom_file_skip` — the point-lookup scan THROUGH the index:
    * 600 fixed probe keys (1000·i — a parameter list in production),
    * Bloom-select the candidate files, read ONLY those, then apply the
    * exact predicate (false positives die here, so the result is exact
    * and the oracle is the plain full-table filter). The candidate
    * collect is the ≤ #files scan-plan list, never data. */
  def qBloomFileSkip(t: Tables): DataFrame = {
    val sess = t.spark
    val (dataPath, _) = bloomFileIndex(t)
    val keys = sess.range(1, 601)
      .select((col("id") * 1000).as("k"))
    val files = bloomCandidateFiles(t, keys)
    val matched =
      if (files.isEmpty) sess.read.parquet(dataPath).limit(0)
      else sess.read.parquet(files.toIndexedSeq: _*)
    matched
      .filter(col("o_orderkey") % 1000 === 0 &&
        col("o_orderkey").between(1000, 600000))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  }

  /** `q_zorder_roundtrip` — MULTI-dimension data clustering, the
    * layout technique one sort column can't give: events laid out by
    * the Morton interleave of (user_id, day), range-partitioned and
    * sorted on the z-value, so EVERY file covers a narrow range of
    * BOTH dimensions at once (a user-sorted layout pins user spans
    * but leaves each file spanning the whole month — pinned
    * comparatively in spec). At 100 TB this is what makes a
    * two-predicate scan (user range AND date range) prune most
    * files/row-groups via footer min-max on either column — the
    * Delta/Iceberg OPTIMIZE ZORDER story expressed with plain
    * repartitionByRange. The query proves the roundtrip VALUE
    * correctness: a 2-D range filter + aggregate over the laid-out
    * copy, oracled against the original table.
    */
  def zOrderRoundtrip(t: Tables, nFiles: Int = 16): DataFrame = {
    val path = s"$stagingDir/events_zorder.parquet"
    writeZOrderedEvents(t, path, nFiles)
    t.spark.read.parquet(path)
      .filter(col("user_id").between(10, 29) && col("day").between(7, 13))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** The z-ordered layout writer [[zOrderRoundtrip]] and its spec
    * share: events + derived day index, clustered by z(user, day).
    * BOTH dimensions are max-scaled onto the full interleave width
    * (v·(2^bits−1)/max — exact integer arithmetic, monotone per dim):
    * an UNBALANCED interleave degenerates toward a single-dim sort
    * (the wider dim's high bits dominate every z-range cut), and raw
    * ids past 2^bits would silently DROP their high bits and turn the
    * layout hash-like — max-scaling keeps the clustering benefit at
    * any id scale (real Z-order implementations rank/normalize dims
    * for the same reason). The two-long max agg is a one-off cost of
    * the LAYOUT job, never of queries. (Ids must stay ≲ 2^47 so the
    * ×(2^16−1) scale fits int64 — any realistic key does.) */
  private[graft] def writeZOrderedEvents(t: Tables, path: String,
      nFiles: Int): Unit = {
    val ev = t.events.withColumn("day",
      datediff(col("ts").cast("date"), lit(java.sql.Date.valueOf("2024-01-01"))))
    val r = ev.agg(max(col("user_id")).cast("long"),
      max(col("day")).cast("long")).first()
    // max() over an EMPTY events slice is SQL NULL: lay out on z=0
    def mxAt(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    val width = (1L << 16) - 1
    def scaled(c: Column, mx: Long): Column =
      if (mx <= 0) lit(0L) else (c.cast("long") * lit(width)) / lit(mx)
    ev.withColumn("zv",
        zValue(scaled(col("user_id"), mxAt(0)), scaled(col("day"), mxAt(1))))
      .repartitionByRange(nFiles, col("zv"))
      .sortWithinPartitions(col("zv"))
      .drop("zv")
      .write.mode("overwrite").parquet(path)
  }

  /** `q_json_orc_roundtrip` — the same write → read-back → aggregate
    * proof for the remaining two built-in formats: json (read with an
    * explicit schema — no inference pre-scan, and doubles round-trip
    * through shortest-repr JSON numbers exactly) and orc (the other
    * columnar layout). The 0.01-grid sum keeps round(x,2) engine-stable,
    * same argument as the csv leg of [[sourceRoundtrip]].
    */
  def jsonOrcRoundtrip(t: Tables): DataFrame = {
    val base = stagingDir
    val jsonPath = s"$base/orders_flat.json"
    val orcPath = s"$base/orders_flat.orc"
    val slim = t.orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    Sources.write(slim, jsonPath)
    Sources.write(slim, orcPath)
    def agg(df: DataFrame, fmt: String): DataFrame =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .withColumn("fmt", lit(fmt))
    agg(Sources.read(t.spark, jsonPath, Some(csvSchema)), "json")
      .unionByName(agg(Sources.read(t.spark, orcPath), "orc"))
  }

  /** `corpus_shards_roundtrip` — the pipeline's LAST MILE made
    * physical: the prefix-sum shard assignment joined back onto the
    * document payloads, written as a directory-partitioned layout (one
    * directory per training shard — what a loader actually mounts),
    * read back through partition discovery, and aggregated per shard.
    * The oracle recomputes shard sizes from the original table, so a
    * row lost or misplaced by the partitioned write/read breaks the
    * hash — this verifies the materialized artifact, not just the
    * assignment arithmetic. (Partition-column types are INFERRED from
    * directory names on read — cast shard_id back to long explicitly;
    * inference yields int for small values.)
    */
  def corpusShardsRoundtrip(t: Tables): DataFrame = {
    import graft.operators.TextAnalysis
    val path = s"$stagingDir/corpus_shards.parquet"
    val assigned = TextAnalysis.corpusTokenShards(t)
      .join(t.documents.select(col("doc_id"), col("text")), "doc_id")
    Sources.write(assigned, path, partitionBy = Seq("shard_id"))
    Sources.read(t.spark, path)
      .groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("shard_tokens"),
        min(col("start_tok")).as("first_tok"))
  }

  /** `q_schema_evolution` — additive schema evolution through the
    * parquet source: batch 1 is written with the original three
    * columns, batch 2 (a later producer release) adds `o_custkey`, and
    * the reader merges the footers (`mergeSchema`) into one DataFrame
    * where pre-evolution rows carry NULL for the new column. This is
    * how a 100 TB fact directory actually grows columns — no rewrite
    * of historical files, the scan reconciles per-file schemas; the
    * merged aggregate distinguishes `n_rows` from `n_with_cust`
    * (non-null new-column rows), so a reader that dropped or mis-NULLed
    * either era breaks the oracle, which recomputes both counts from
    * the original table.
    */
  def schemaEvolution(t: Tables): DataFrame = {
    val path = s"$stagingDir/orders_evolving.parquet"
    val v1 = t.orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val v2 = t.orders.filter(col("o_orderkey") % 2 =!= 0)
      .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_custkey")
    Sources.write(v1, s"$path/batch=1")
    Sources.write(v2, s"$path/batch=2")
    t.spark.read.option("mergeSchema", "true")
      .parquet(s"$path/batch=1", s"$path/batch=2")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_custkey")).as("n_with_cust"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
  }

  /** Compact a parquet directory: size-targeted rewrite to
    * `ceil(totalBytes / targetFileBytes)` files. Returns
    * (filesBefore, filesAfter). The directory listing is driver-side
    * O(#files) METADATA — exactly what a table-maintenance job reads;
    * row data never touches the driver. */
  private[graft] def compact(spark: org.apache.spark.sql.SparkSession,
      inPath: String, outPath: String, targetFileBytes: Long): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(inPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(p: String): Array[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(new Path(p)).filter(_.getPath.getName.endsWith(".parquet"))
    val before = parquetFiles(inPath)
    val nOut = math.max(1,
      math.ceil(before.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
    Sources.read(spark, inPath).repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    (before.length, parquetFiles(outPath).length)
  }

  /** `q_compaction` — the small-files maintenance job. A fragmented
    * fact directory (64 shards of a slim lineitem projection — the
    * debris a streaming or per-task writer leaves behind) is rewritten
    * into size-targeted files via ONE round-robin repartition sized
    * from the directory's actual byte count. Small files are a 100 TB
    * scan killer: each carries task-schedule + footer-read + seek
    * overhead, and a 10⁶-file table bottlenecks the driver's split
    * enumeration — periodic compaction is how every production lake
    * keeps scans at full disk bandwidth. The returned aggregate runs
    * over the COMPACTED copy and is oracled against the ORIGINAL
    * table, so the rewrite is proven lossless; SourcesSpec pins the
    * file-count arithmetic.
    */
  def qCompaction(t: Tables, targetFileBytes: Long = 8L << 20): DataFrame = {
    val inPath = staging("lineitem_fragmented.parquet")
    val outPath = staging("lineitem_compacted.parquet")
    t.lineitem
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      .repartition(64)
      .write.mode(SaveMode.Overwrite).parquet(inPath)
    compact(t.spark, inPath, outPath, targetFileBytes)
    Sources.read(t.spark, outPath)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
  }

  /** `q_incremental_rollup` — materialized-view maintenance: the daily
    * (day × event_type) rollup is NOT recomputed from history when new
    * days land. The historical rollup is written once (the
    * materialized aggregate — metadata-scale rows), only the increment
    * (days ≥ the cut) aggregates from raw events, and the published
    * view is the union's re-aggregation — cost proportional to the
    * INCREMENT plus the rollup's own (tiny) size, not to history. At
    * 100 TB this is the difference between a nightly full scan and a
    * one-day scan. The oracle recomputes the rollup from ALL raw
    * events, so the green row proves merge == full recompute.
    *
    * count/sum are decomposable aggregates; `value` carries 2 decimals
    * so partial sums sit on the 0.01 grid and round(·,2) makes each
    * side exact — merged totals equal the full recompute bit-for-bit.
    */
  def incrementalRollup(t: Tables, cutDay: String = "2024-01-21"): DataFrame = {
    val histPath = staging("events_daily_rollup.parquet")
    def daily(df: DataFrame): DataFrame =
      df.groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
    Sources.write(daily(t.events.filter(to_date(col("ts")) < lit(cutDay))), histPath)
    val increment = daily(t.events.filter(to_date(col("ts")) >= lit(cutDay)))
    Sources.read(t.spark, histPath).unionByName(increment)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        round(sum(col("sum_value")), 2).as("sum_value"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  /** `q_dpp` — dynamic partition pruning through the date-partitioned
    * fact layout. The events fact is written directory-partitioned by
    * event day (the 100 TB time-series layout), then joined to a
    * filtered dim — the distinct SUNDAYS present in the data — and the
    * scan of the fact must read ONLY the matching day directories:
    * Spark plants a `dynamicpruning` subquery in the scan's
    * PartitionFilters (reusing the dim's broadcast), so partitions are
    * pruned by the VALUES the dim filter produces at runtime, which no
    * static predicate can express. At 100 TB this is the difference
    * between scanning 7 years and scanning the ~1/7 of directories the
    * dim actually selects; PlanAuditSpec pins the dynamicpruning
    * filter so a regression to a full scan fails the suite.
    *
    * The oracle reduces the dim join to its filter semantics (join on
    * day with the distinct-Sundays set == keep Sunday rows), computing
    * the same per-day rollup from the original table.
    */
  def qDpp(t: Tables): DataFrame = {
    val path = s"$stagingDir/events_by_day.parquet"
    val withDay = t.events.withColumn("event_day", to_date(col("ts")))
    Sources.write(withDay, path, partitionBy = Seq("event_day"))
    // explicit schema: an EMPTY partitioned write leaves no
    // schema-bearing files, and a production reader declares its
    // table schema rather than inferring per job anyway
    val fact = Sources.read(t.spark, path, Some(withDay.schema))
    // dim: distinct Sundays, derived at runtime from the raw table —
    // stands in for a calendar/dim table whose filter output only
    // exists at execution time (dayofweek: 1 = Sunday in Spark)
    val dim = t.events.select(to_date(col("ts")).as("day")).distinct()
      .filter(dayofweek(col("day")) === 1)
    fact.join(dim, fact("event_day") === dim("day"))
      .groupBy(col("event_day"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("event_day"), "yyyy-MM-dd").as("event_day"),
        col("n_events"), col("sum_value"))
  }

  /** Bucketed-layout roundtrip: write orders and lineitem as
    * co-bucketed external tables on the join key, join them back
    * THROUGH the catalog (the join side runs with zero exchanges —
    * both sides' bucketing satisfies the join distribution; ScaleSpec
    * pins that plan shape for this layout), and aggregate. The oracle
    * computes the same join + aggregate over the ORIGINAL tables, so
    * the green row proves the 100 TB co-located fact layout
    * round-trips values exactly, not just that the plan looks right.
    */
  def bucketedRoundtrip(t: Tables): DataFrame = {
    val base = stagingDir
    val (oTable, lTable) = (s"graft_rt_orders_$runId", s"graft_rt_lineitem_$runId")
    Sources.writeBucketed(
      t.orders.select("o_orderkey", "o_orderpriority"),
      oTable, Seq("o_orderkey"), nBuckets = 8,
      sortCols = Seq("o_orderkey"), path = Some(s"$base/orders"))
    Sources.writeBucketed(
      t.lineitem.select("l_orderkey", "l_quantity"),
      lTable, Seq("l_orderkey"), nBuckets = 8,
      sortCols = Seq("l_orderkey"), path = Some(s"$base/lineitem"))
    val o = t.spark.table(oTable)
    val l = t.spark.table(lTable)
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  // ── B20: the gshard DSv2 connector's staged table + consumer ─────

  /** Stage events as a 16-shard `gshard` table range-clustered on
    * `user_id` (columns: user_id, event_type, day, cents — the exact
    * integer projections every events consumer uses); the build cost is
    * a visible `_build_shard_table` bench entry. Returns the table dir. */
  private[graft] def shardTable(t: Tables): String = {
    val dir = staging(s"gshard_${dirTag(t.dir)}")
    graft.sources.shard.ShardFormat.ensureStaged(dir) {
      graft.sources.shard.ShardFormat.write(
        shardProjection(t), dir, "user_id", 16)
    }
    dir
  }

  /** `q_shard_scan` — a selective scan THROUGH the DSv2 connector:
    * `spark.read.format("gshard")` with a user-range predicate that
    * the scan builder pushes into zone-map file skipping (the plan
    * shows `gshard … files=k/16, PushedFilters: [LessThan(user_id…`
    * — pinned in PlanAuditSpec) and a 2-column-plus-key projection
    * the reader prunes at the byte level. The threshold is
    * corpus-relative (max user DIV 4, read from the manifest's zone
    * maps — a metadata lookup, not a data scan) so the query stays
    * selective at every SF. Oracled against the plain events table
    * with the identical scalar-subquery threshold — so the whole
    * connector path (write → manifest → skip → decode → residual
    * filter) is hash-checked end to end. */
  def qShardScan(t: Tables): DataFrame = {
    val dir = shardTable(t)
    val maxUser = graft.sources.shard.ShardFormat.readManifest(dir)
      .entries.map(_.zMax.getOrElse("user_id", Long.MinValue))
      .foldLeft(Long.MinValue)(math.max)
    val threshold = if (maxUser == Long.MinValue) 0L else maxUser / 4
    t.spark.read.format("gshard").load(dir)
      .filter(col("user_id") < threshold)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("value_cents"))
      .orderBy(col("event_type"))
  }

  /** `q_shard_scan_double` — the DOUBLE-predicate twin of
    * [[qShardScan]] over the v4 format's double zone maps: the table
    * range-clusters on the cents grid so the raw `value` column's
    * per-file [min,max] bounds are selective, and the pushed
    * `value < thr` prunes files at planning time (files=k/n in the
    * scan description — the first pruning path metric columns get;
    * before v4 a double predicate was dropped from the skipping set
    * entirely). The threshold is corpus-relative ((max cents DIV 2)
    * / 100.0 — one exact long→double conversion and one
    * correctly-rounded division on both engines), and the readout
    * aggregates to exact integers. */
  def qShardScanDouble(t: Tables): DataFrame = {
    val dir = staging(s"gshard_dbl_${dirTag(t.dir)}")
    graft.sources.shard.ShardFormat.ensureStaged(dir) {
      graft.sources.shard.ShardFormat.write(
        t.events.select(
          floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"),
          col("value"), col("event_type")),
        dir, "cents", 12)
    }
    val maxCents = graft.sources.shard.ShardFormat.readManifest(dir)
      .entries.map(_.zMax.getOrElse("cents", Long.MinValue))
      .foldLeft(Long.MinValue)(math.max)
    val thr =
      (if (maxCents == Long.MinValue) 0L else maxCents / 2).toDouble / 100.0
    t.spark.read.format("gshard").load(dir)
      .filter(col("value") < thr)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("value_cents"))
      .orderBy(col("event_type"))
  }

  /** `q_shard_stats` — the metadata-only aggregate path under the
    * driver gate: COUNT(*)/MIN/MAX over the staged shard table route
    * through the connector's aggregate pushdown (B25) and are
    * answered from the manifest — zero shard files opened — while the
    * oracle recomputes the same statistics from the raw events table,
    * so "the manifest tells the truth" is itself hash-checked. */
  def qShardStats(t: Tables): DataFrame = {
    val dir = shardTable(t)
    t.spark.read.format("gshard").load(dir)
      .agg(count(lit(1)).as("n_rows"),
        min(col("user_id")).as("user_min"),
        max(col("user_id")).as("user_max"),
        min(col("day")).as("day_min"),
        max(col("day")).as("day_max"))
  }

  /** `q_shard_sum` — the SUM half of the metadata-only aggregate path
    * under the driver gate: COUNT(*) + SUM(cents) + SUM(day) over the
    * staged shard table answer from the manifest's exact per-file
    * sums (B46) — zero shard files opened, plan-pinned in spec —
    * while the oracle recomputes the same totals from raw events, so
    * "the manifest's sums tell the truth" is itself hash-checked. */
  def qShardSum(t: Tables): DataFrame = {
    val dir = shardTable(t)
    t.spark.read.format("gshard").load(dir)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).as("cents_total"),
        sum(col("day")).as("day_total"))
  }

  /** `q_catalog_sql_roundtrip` — the TableCatalog path under the
    * driver gate: register a gshard catalog over a per-process
    * warehouse, CTAS the events projection into it from PURE SQL,
    * then read the rollup back with a catalog-qualified SELECT — so
    * the catalog's create/write/read statements (B23), not just the
    * path-based API, are hash-checked against the raw events oracle.
    * Catalog conf keys are per-name and set-once per process;
    * re-runs drop and recreate the table (idempotent). */
  def qCatalogSqlRoundtrip(t: Tables): DataFrame = {
    val spark = t.spark
    val wh = staging("gshard_warehouse")
    spark.conf.set("spark.sql.catalog.gshard_cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_cat.warehouse", wh)
    val view = s"gshard_src_$runId"
    shardProjection(t).createOrReplaceTempView(view)
    val tbl = s"gshard_cat.main.events_${dirTag(t.dir)}"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl AS SELECT * FROM $view")
    spark.sql(
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         | CAST(sum(cents) AS BIGINT) AS value_cents
         |FROM $tbl GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** `q_shard_schema_evolution` — B48: ALTER TABLE ADD COLUMN with
    * ZERO data rewrite. Generation 1 commits the narrow schema, the
    * ALTER widens the MANIFEST only (old files keep their own column
    * count — their header is authoritative), generation 2 appends
    * with the widened schema, and one scan reads both: the old
    * files' new column comes back NULL (count(day) counts exactly
    * the new generation), while every stat that would need the old
    * files' missing metadata refuses to answer from the manifest and
    * scans — sound by the same absent-stat rule as everywhere else.
    * The oracle replays the generational split with a CASE NULL. */
  def qShardSchemaEvolution(t: Tables): DataFrame = {
    val spark = t.spark
    val wh = staging("gshard_warehouse")
    spark.conf.set("spark.sql.catalog.gshard_cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_cat.warehouse", wh)
    val view = s"gshard_evo_src_$runId"
    t.events.select(col("user_id"), col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"),
        datediff(to_date(col("ts")),
          lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("day"))
      .createOrReplaceTempView(view)
    val tbl = s"gshard_cat.main.evo_${dirTag(t.dir)}"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // NULL-safe split: a NULL user_id (none in this corpus, but the
    // partition must be total) lands in generation 1, matching the
    // oracle's "day survives only when user_id >= thr" replay
    spark.sql(s"CREATE TABLE $tbl AS SELECT user_id, event_type, cents " +
      s"FROM $view WHERE NOT (user_id >= " +
      s"(SELECT max(user_id) DIV 2 FROM $view)) OR user_id IS NULL")
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN day BIGINT")
    spark.sql(s"INSERT INTO $tbl SELECT user_id, event_type, cents, day " +
      s"FROM $view WHERE user_id >= (SELECT max(user_id) DIV 2 FROM $view)")
    spark.sql(
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         | CAST(count(day) AS BIGINT) AS n_with_day,
         | CAST(sum(cents) AS BIGINT) AS value_cents,
         | CAST(sum(day) AS BIGINT) AS day_total
         |FROM $tbl GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** The events projection both shard-table paths stage. */
  /** `q_shard_bloom_skip` — B34: per-file BLOOM filters for point
    * lookups on a column the range clustering does NOT order. The
    * table range-clusters on `user_id`, so every file's
    * `event_id` [min,max] spans nearly the whole domain — zone maps
    * prune NOTHING for a mid-range id — but the `bloomcol=event_id`
    * write gives each file a bloom over its ids, and a miss PROVES
    * absence (no false negatives; Parquet's column-index blooms,
    * here in the manifest). The probe key is the corpus's median
    * event id (deterministic, guaranteed present, guaranteed
    * mid-range so the zone maps genuinely can't help); the readout
    * rolls up the matching row and is oracled against raw events.
    * Pruning is plan-pinned (`files=k/n`, k ≪ n) in PlanAuditSpec. */
  def qShardBloomSkip(t: Tables): DataFrame = {
    val dir = staging(s"gshard_bloom_${dirTag(t.dir)}")
    val proj = t.events.select(col("user_id"), col("event_id"),
      col("event_type"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    proj.write.format("gshard")
      .option("rangecol", "user_id").option("shards", 16)
      .option("bloomcol", "event_id")
      .mode("overwrite").save(dir)
    val n = proj.count()
    val target = // empty corpus: probe an impossible id, empty rollup
      if (n == 0) -1L
      else proj.select(col("event_id")).orderBy(col("event_id"))
        .offset((n / 2).toInt).limit(1).head.getLong(0)
    t.spark.read.format("gshard").load(dir)
      .filter(col("event_id") === target)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("value_cents"))
      .orderBy(col("event_type"))
  }

  /** `q_shard_delete` — B32: METADATA-ONLY `DELETE FROM … WHERE` end
    * to end through the SQL surface. The table is built as two appends
    * split at the delete boundary (max user div 2), so every shard
    * file lies entirely on one side of the predicate and the delete is
    * file-decidable from the manifest alone: `SupportsDelete`
    * classifies each entry as provably-disjoint (keep) or
    * provably-covered (bounds inside the range AND null-free by the
    * manifest's per-column null counts — drop), rewrites the manifest
    * first, then sweeps the dropped files. ZERO data files are read or
    * rewritten by the delete — the Iceberg/Delta metadata-delete
    * contract; a predicate straddling a file would REJECT loudly
    * (spec-pinned) rather than silently rewrite. The read-back rollup
    * is oracled against raw events with the same threshold. */
  def qShardDelete(t: Tables): DataFrame = {
    val spark = t.spark
    val wh = staging("gshard_warehouse")
    spark.conf.set("spark.sql.catalog.gshard_cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_cat.warehouse", wh)
    val bounds = shardProjection(t).agg(max(col("user_id"))).head
    val thr = if (bounds.isNullAt(0)) 0L else bounds.getLong(0) / 2
    val view = s"gshard_del_src_$runId"
    shardProjection(t).filter(col("user_id") < thr)
      .createOrReplaceTempView(s"${view}_lo")
    shardProjection(t).filter(col("user_id") >= thr)
      .createOrReplaceTempView(s"${view}_hi")
    val tbl = s"gshard_cat.main.events_del_${dirTag(t.dir)}"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl AS SELECT * FROM ${view}_lo")
    spark.sql(s"INSERT INTO $tbl SELECT * FROM ${view}_hi")
    spark.sql(s"DELETE FROM $tbl WHERE user_id < $thr")
    spark.sql(
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         | CAST(sum(cents) AS BIGINT) AS value_cents
         |FROM $tbl GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** `q_shard_delete_mor` — MERGE-ON-READ row-level DELETE (r16
    * verdict task #2): the predicate `user_id % 3 = 0` STRADDLES
    * every shard file (the shape copy-on-write hates — a COW delete
    * would rewrite the whole table), and
    * [[graft.sources.shard.ShardOps.deleteMor]] instead writes one
    * position-delete sidecar per file plus a manifest commit: ZERO
    * data-file rewrites (spec-pinned byte-identity), readers mask at
    * decode in both the row and columnar paths, the pre-delete
    * generation still reads via VERSION AS OF, and compaction later
    * materializes the mask. Re-running is a no-op (masked rows never
    * re-match). The read-back rollup is oracled against raw events
    * under the identical predicate. */
  def qShardDeleteMor(t: Tables): DataFrame = {
    val dir = staging(s"gshard_mor_${dirTag(t.dir)}")
    graft.sources.shard.ShardFormat.ensureStaged(dir) {
      graft.sources.shard.ShardFormat.write(
        shardProjection(t), dir, "user_id", 16)
    }
    graft.sources.shard.ShardOps.deleteMor(t.spark, dir,
      col("user_id") % 3 === 0)
    t.spark.read.format("gshard").load(dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("value_cents"))
      .orderBy(col("event_type"))
  }

  /** `q_shard_merge_string` — the same MERGE shape keyed on a STRING
    * natural key (r15 verdict task #3: string/timestamp/date/decimal
    * keys are the common CDC shape). The base table clusters on the
    * string key through the DSv2 range write (Spark's range exchange
    * orders strings natively; per-file STRING zone maps fold at
    * write), and [[graft.sources.shard.ShardOps.upsert]] bounds the
    * touched set with a lexicographic range join against those
    * bounds — like-for-like with the long path, exact because the
    * zone order IS Spark's string order (UTF-8 binary). The zero-pad
    * in the key keeps lexicographic == numeric order, so the
    * clustering stays selective. Replay-idempotent via its own txn
    * slot; oracle replays MERGE as late ∪ (early ∖ late-keys). */
  def qShardMergeString(t: Tables): DataFrame = {
    val dir = staging(s"gshard_upsert_str_${dirTag(t.dir)}")
    val e = t.events.select(
      concat(lit("u"), lpad(col("user_id").cast("string"), 8, "0"))
        .as("ukey"),
      datediff(col("ts").cast("date"),
        lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("day"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val bounds = e.agg(max(col("day"))).head
    val thr = if (bounds.isNullAt(0)) 0L else bounds.getLong(0) / 2
    def stats(f: DataFrame): DataFrame = f.groupBy(col("ukey"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
    graft.sources.shard.ShardFormat.ensureStaged(dir) {
      stats(e.filter(col("day") < thr)).write.format("gshard")
        .option("rangecol", "ukey").option("shards", 8)
        .mode("overwrite").save(dir)
    }
    graft.sources.shard.ShardOps.upsert(t.spark, dir,
      stats(e.filter(col("day") >= thr)), "ukey",
      txnId = 1L, txnApp = Some("merge_str_gate"))
    t.spark.read.format("gshard").load(dir).orderBy(col("ukey"))
  }

  /** `q_shard_merge` — row-level MERGE (upsert) through the gshard
    * connector ([[graft.sources.shard.ShardOps.upsert]]): the base
    * table holds per-user stats over the EARLY half of the corpus
    * (day < max/2, key-clustered on user_id), the update set holds
    * per-user stats over the LATE half — users active late get their
    * rows REPLACED (matched update), users first seen late INSERT,
    * early-only users stay physically untouched (their files' key
    * ranges admit no update key — metadata-first touched-file
    * discovery). Replay-idempotent via the txn slot, so re-running
    * the query re-merges as a no-op and the result is stable. The
    * oracle replays MERGE semantics as late ∪ (early ∖ late-keys). */
  /** The merge gate's staged table directory — shared by
    * [[qShardGenerationDiff]] and the streaming CDC gate, so the
    * path knowledge lives in ONE place. */
  private[graft] def shardMergeDir(t: Tables): String =
    staging(s"gshard_upsert_${dirTag(t.dir)}")

  def qShardMerge(t: Tables): DataFrame = {
    val dir = shardMergeDir(t)
    val e = t.events.select(col("user_id"),
      datediff(col("ts").cast("date"),
        lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("day"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val bounds = e.agg(max(col("day"))).head
    val thr = if (bounds.isNullAt(0)) 0L else bounds.getLong(0) / 2
    def stats(f: DataFrame): DataFrame = f.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
    graft.sources.shard.ShardFormat.ensureStaged(dir) {
      graft.sources.shard.ShardFormat.write(
        stats(e.filter(col("day") < thr)), dir, "user_id", 8)
    }
    // replay-idempotent: the second run's merge no-ops on the txn slot
    graft.sources.shard.ShardOps.upsert(t.spark, dir,
      stats(e.filter(col("day") >= thr)), "user_id",
      txnId = 1L, txnApp = Some("merge_gate"))
    t.spark.read.format("gshard").load(dir)
      .orderBy(col("user_id"))
  }

  /** `q_shard_generation_diff` — CHANGE DATA between two retained
    * gshard generations (the Delta readChangeData shape, computed
    * from time travel): the pre-merge generation (v0, the early
    * stats) full-outer-joined against the head (the merged table) on
    * the key, classified insert / update / delete (unchanged rows
    * suppressed — a CDC feed carries changes). Generations are
    * immutable retained manifests, so the diff is reproducible until
    * vacuum drops v0. The oracle recomputes the same classification
    * from raw events under the merge's day split. */
  def qShardGenerationDiff(t: Tables): DataFrame = {
    qShardMerge(t) // ensures: base written (gen 0), merge applied (head)
    val dir = shardMergeDir(t)
    val v0 = t.spark.read.format("gshard")
      .option("versionAsOf", "0").load(dir)
      .select(col("user_id"), col("n_events").as("n0"), col("cents").as("c0"))
    val head = t.spark.read.format("gshard").load(dir)
      .select(col("user_id"), col("n_events").as("n1"), col("cents").as("c1"))
    v0.join(head, Seq("user_id"), "full_outer")
      .withColumn("change_type",
        when(col("n0").isNull, lit("insert"))
          .when(col("n1").isNull, lit("delete"))
          .when(col("n0") =!= col("n1") || col("c0") =!= col("c1"),
            lit("update"))
          .otherwise(lit("unchanged")))
      .filter(col("change_type") =!= "unchanged")
      .select(col("user_id"), col("change_type"),
        col("n1").as("n_events"), col("c1").as("cents"))
      .orderBy(col("user_id"))
  }

  /** `q_shard_sql_merge` — the same merge semantics as
    * [[qShardMerge]] but through PURE SQL `MERGE INTO` (the
    * SupportsRowLevelOperations group-based rewrite): base = early
    * per-user stats CTAS'd into the catalog, source = late per-user
    * stats, matched rows UPDATE SET *, unmatched INSERT *. The merge
    * payload is deterministic, so re-running the statement is
    * idempotent (matched rows re-set to identical values) and the
    * result is stable across bench/verify re-runs. Shares
    * `q_shard_merge`'s oracle verbatim — the API path and the SQL
    * path must land the identical table. */
  /** `q_shard_schema_drop` — DROP + RENAME COLUMN evolution (r15
    * verdict task #6), both ZERO data rewrite (positional blocks:
    * DROP tombstones the slot, RENAME rekeys manifest schema+stats):
    * the staged table CTASes the EARLY event projection WITH
    * event_type, drops event_type, appends the LATE half (new files
    * write a null block in the tombstone slot), then renames cents →
    * value_cents. The readout unions the HEAD per-day rollup (all
    * days, under the NEW name, across pre- and post-drop files) with
    * the PRE-DROP generation's per-type rollup via VERSION AS OF
    * (the dropped column still reads there). The oracle recomputes
    * both parts from raw events. */
  def qShardSchemaDrop(t: Tables): DataFrame = {
    val spark = t.spark
    val wh = staging("gshard_warehouse")
    spark.conf.set("spark.sql.catalog.gshard_cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_cat.warehouse", wh)
    val tbl = s"evodrop_${dirTag(t.dir)}"
    val e = t.events.select(col("user_id"), col("event_type"),
      datediff(col("ts").cast("date"),
        lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("day"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val bounds = e.agg(max(col("day"))).head
    val thr = if (bounds.isNullAt(0)) 0L else bounds.getLong(0) / 2
    graft.sources.shard.ShardFormat.ensureStaged(s"$wh/main/$tbl") {
      val view = s"gshard_evodrop_src_$runId"
      e.filter(col("day") < thr).createOrReplaceTempView(s"${view}_lo")
      e.filter(col("day") >= thr).select("user_id", "day", "cents")
        .createOrReplaceTempView(s"${view}_hi")
      spark.sql(s"CREATE TABLE gshard_cat.main.$tbl AS " +
        s"SELECT * FROM ${view}_lo")                        // gen 0+1
      spark.sql(s"ALTER TABLE gshard_cat.main.$tbl DROP COLUMN event_type") // 2
      spark.sql(s"INSERT INTO gshard_cat.main.$tbl SELECT * FROM ${view}_hi") // 3
      spark.sql(s"ALTER TABLE gshard_cat.main.$tbl " +
        "RENAME COLUMN cents TO value_cents")               // gen 4
    }
    // head: all days under the renamed column (old + new files)
    val head = spark.sql(
      s"""SELECT 'head_day' AS part, CAST(day AS STRING) AS k,
         | CAST(count(*) AS BIGINT) AS n_events,
         | CAST(sum(value_cents) AS BIGINT) AS value_cents
         |FROM gshard_cat.main.$tbl GROUP BY day""".stripMargin)
    // pre-drop generation (create=0, CTAS append=1): event_type lives
    val pre = spark.sql(
      s"""SELECT 'v1_type' AS part, event_type AS k,
         | CAST(count(*) AS BIGINT) AS n_events,
         | CAST(sum(cents) AS BIGINT) AS value_cents
         |FROM gshard_cat.main.$tbl VERSION AS OF 1
         |GROUP BY event_type""".stripMargin)
    head.unionByName(pre).orderBy(col("part"), col("k"))
  }

  /** `q_shard_sql_merge_full` — MERGE with `WHEN NOT MATCHED BY
    * SOURCE` (r15 verdict task #4): the snapshot-apply / full-sync
    * shape, the second most common MERGE after upsert. Base = early-
    * half per-user stats; source = late-half stats. One statement:
    * matched UPDATE, unmatched INSERT, and rows ABSENT from the
    * source either DELETE (thin early-only users, n_events < 3) or
    * get their cents zeroed (kept-but-stale marker) — all three
    * by-absence behaviors through the same group-based copy-on-write
    * ReplaceData plan. IDEMPOTENT fixed point: re-running re-zeroes
    * zeros and re-updates identical rows (the delete guard reads
    * n_events, which the zeroing never touches), so replay is stable.
    * Oracle composes late ∪ (early-only, n≥3, cents→0). */
  def qShardSqlMergeFull(t: Tables): DataFrame = {
    val spark = t.spark
    val wh = staging("gshard_warehouse")
    spark.conf.set("spark.sql.catalog.gshard_cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_cat.warehouse", wh)
    val tbl = s"sqlmergefull_${dirTag(t.dir)}"
    val e = t.events.select(col("user_id"),
      datediff(col("ts").cast("date"),
        lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("day"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val bounds = e.agg(max(col("day"))).head
    val thr = if (bounds.isNullAt(0)) 0L else bounds.getLong(0) / 2
    def stats(f: DataFrame): DataFrame = f.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
    graft.sources.shard.ShardFormat.ensureStaged(s"$wh/main/$tbl") {
      val view = s"gshard_sqlmergefull_base_$runId"
      stats(e.filter(col("day") < thr)).createOrReplaceTempView(view)
      spark.sql(s"CREATE TABLE gshard_cat.main.$tbl AS SELECT * FROM $view")
    }
    val src = s"gshard_sqlmergefull_src_$runId"
    stats(e.filter(col("day") >= thr)).createOrReplaceTempView(src)
    spark.sql(
      s"""MERGE INTO gshard_cat.main.$tbl AS tgt USING $src AS src
         |ON tgt.user_id = src.user_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND tgt.n_events < 3 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET cents = 0""".stripMargin)
    spark.table(s"gshard_cat.main.$tbl").orderBy(col("user_id"))
  }

  def qShardSqlMerge(t: Tables): DataFrame = {
    val spark = t.spark
    val wh = staging("gshard_warehouse")
    spark.conf.set("spark.sql.catalog.gshard_cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_cat.warehouse", wh)
    val tbl = s"sqlmerge_${dirTag(t.dir)}"
    val e = t.events.select(col("user_id"),
      datediff(col("ts").cast("date"),
        lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("day"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val bounds = e.agg(max(col("day"))).head
    val thr = if (bounds.isNullAt(0)) 0L else bounds.getLong(0) / 2
    def stats(f: DataFrame): DataFrame = f.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
    graft.sources.shard.ShardFormat.ensureStaged(s"$wh/main/$tbl") {
      val view = s"gshard_sqlmerge_base_$runId"
      stats(e.filter(col("day") < thr)).createOrReplaceTempView(view)
      spark.sql(s"CREATE TABLE gshard_cat.main.$tbl AS SELECT * FROM $view")
    }
    val src = s"gshard_sqlmerge_src_$runId"
    stats(e.filter(col("day") >= thr)).createOrReplaceTempView(src)
    spark.sql(
      s"""MERGE INTO gshard_cat.main.$tbl AS tgt USING $src AS src
         |ON tgt.user_id = src.user_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.table(s"gshard_cat.main.$tbl").orderBy(col("user_id"))
  }

  /** `q_shard_sql_update` — pure SQL `UPDATE` via the copy-on-write
    * rewrite: a catalog table of the events projection gets its
    * low-key half redacted (`SET event_type = 'redacted' WHERE
    * user_id < thr` — idempotent, so re-runs are stable); only files
    * whose key range reaches the predicate rewrite (zone maps + the
    * runtime `_file` group filter bound the rewrite set). The oracle
    * recomputes the redaction with a CASE over raw events. */
  def qShardSqlUpdate(t: Tables): DataFrame = {
    val spark = t.spark
    val wh = staging("gshard_warehouse")
    spark.conf.set("spark.sql.catalog.gshard_cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_cat.warehouse", wh)
    val tbl = s"sqlupd_${dirTag(t.dir)}"
    val bounds = t.events.agg(max(col("user_id"))).head
    val thr = if (bounds.isNullAt(0)) 0L else bounds.getLong(0) / 2
    graft.sources.shard.ShardFormat.ensureStaged(s"$wh/main/$tbl") {
      val view = s"gshard_sqlupd_src_$runId"
      shardProjection(t).createOrReplaceTempView(view)
      spark.sql(s"CREATE TABLE gshard_cat.main.$tbl AS SELECT * FROM $view")
    }
    spark.sql(s"UPDATE gshard_cat.main.$tbl " +
      s"SET event_type = 'redacted' WHERE user_id < $thr")
    spark.sql(
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         | CAST(sum(cents) AS BIGINT) AS value_cents
         |FROM gshard_cat.main.$tbl GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** `q_shard_time_travel` — generational reads through the catalog:
    * CTAS the early slice (one generation), append the late slice
    * (the next), then read `VERSION AS OF` the pre-append generation
    * and the head in ONE query — per-type counts of both plus the
    * delta. Vacuum honoring retention is spec'd in ShardMergeSpec;
    * here the gate checks the VERSIONS READ THE TRUTH: the oracle
    * recomputes both generations from raw events with the same day
    * split. */
  def qShardTimeTravel(t: Tables): DataFrame = {
    val spark = t.spark
    val wh = staging("gshard_warehouse")
    spark.conf.set("spark.sql.catalog.gshard_cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_cat.warehouse", wh)
    val tbl = s"tt_${dirTag(t.dir)}"
    val dir = s"$wh/main/$tbl"
    val e = t.events.select(col("user_id"), col("event_type"),
      datediff(col("ts").cast("date"),
        lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("day"))
    val bounds = e.agg(max(col("day"))).head
    val thr = if (bounds.isNullAt(0)) 0L else bounds.getLong(0) / 2
    graft.sources.shard.ShardFormat.ensureStaged(dir) {
      val view = s"gshard_tt_src_$runId"
      e.filter(col("day") < thr).createOrReplaceTempView(s"${view}_lo")
      e.filter(col("day") >= thr).createOrReplaceTempView(s"${view}_hi")
      spark.sql(s"CREATE TABLE gshard_cat.main.$tbl AS " +
        s"SELECT * FROM ${view}_lo")
      spark.sql(s"INSERT INTO gshard_cat.main.$tbl " +
        s"SELECT * FROM ${view}_hi")
    }
    val headGen =
      graft.sources.shard.ShardFormat.readManifest(dir).gen
    val early = spark.sql(s"SELECT event_type, " +
      s"CAST(count(*) AS BIGINT) AS n_v0 " +
      s"FROM gshard_cat.main.$tbl VERSION AS OF ${headGen - 1} GROUP BY 1")
    val head = spark.sql(s"SELECT event_type, " +
      s"CAST(count(*) AS BIGINT) AS n_head " +
      s"FROM gshard_cat.main.$tbl GROUP BY 1")
    head.join(early, Seq("event_type"), "left")
      .na.fill(0L, Seq("n_v0"))
      .select(col("event_type"), col("n_v0"), col("n_head"),
        (col("n_head") - col("n_v0")).as("n_added"))
      .orderBy(col("event_type"))
  }

  /** The embeddings table served THROUGH the gshard catalog: CTAS'd
    * via pure SQL, then read back as a catalog table. Vector columns (`array<float>`) live in the flagship
    * connector itself — raw IEEE element bits, fixed-dim blocks — so
    * the engine's own ANN workload runs on engine-owned storage
    * rather than beside it. Build cost is the visible
    * `_build_shard_embed` bench entry. */
  private[graft] def shardEmbeddings(t: Tables): DataFrame = {
    val spark = t.spark
    val wh = staging("gshard_warehouse")
    spark.conf.set("spark.sql.catalog.gshard_cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_cat.warehouse", wh)
    val tbl = s"emb_${dirTag(t.dir)}"
    graft.sources.shard.ShardFormat.ensureStaged(s"$wh/main/$tbl") {
      val view = s"gshard_emb_src_$runId"
      t.embeddings.createOrReplaceTempView(view)
      // CTAS carries no options: rangeCol defaults to the first long
      // column (vec_id) — the catalog surface exactly as a user hits it
      spark.sql(s"CREATE TABLE gshard_cat.main.$tbl AS SELECT * FROM $view")
    }
    spark.table(s"gshard_cat.main.$tbl")
  }

  /** `q_shard_embed_roundtrip` — the vector-column gate: every
    * embedding ELEMENT read back from the gshard catalog table must
    * equal the raw parquet truth exactly (float→double widening is
    * exact, so the oracle compares exact doubles — any corrupted bit
    * in any element of any vector diverges). Map-only: one scan, one
    * posexplode, no shuffle. */
  def qShardEmbedRoundtrip(t: Tables): DataFrame =
    shardEmbeddings(t)
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "val")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        col("val").cast("double").as("val"))

  /** `q_shard_tokens_roundtrip` — the STRING-LIST column gate (r15
    * verdict task #2): the engine's own tokenized corpus round-trips
    * through its own storage. The whitespace tokenization of
    * `documents` (the text_tokens recipe) is CTAS'd as
    * `(doc_id, tokens array<string>)` through the gshard catalog,
    * read back, and recounted PER DOC — token count, total token
    * chars, and an ORDER-SENSITIVE md5 fingerprint of the space-
    * rejoined list — against a DuckDB oracle that recomputes the same
    * values from the raw parquet text. Any lost, reordered, split, or
    * byte-corrupted token in any row diverges the hash. Map-only
    * read-back: one scan, no shuffle; the build cost is the staged
    * `_build` entry as for every layout. */
  def qShardTokensRoundtrip(t: Tables): DataFrame = {
    val spark = t.spark
    val wh = staging("gshard_warehouse")
    spark.conf.set("spark.sql.catalog.gshard_cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_cat.warehouse", wh)
    val tbl = s"tok_${dirTag(t.dir)}"
    graft.sources.shard.ShardFormat.ensureStaged(s"$wh/main/$tbl") {
      val view = s"gshard_tok_src_$runId"
      // EXPLICIT whitespace class + null guard: Java's \s includes
      // \x0B where RE2's (DuckDB's) does not, and a NULL text would
      // diverge (NULL vs 0 recounts) — both pinned identical here
      t.documents.select(col("doc_id"),
        filter(split(coalesce(col("text"), lit("")), "[ \\t\\n\\f\\r]+"),
          tk => length(tk) > 0).as("tokens"))
        .createOrReplaceTempView(view)
      spark.sql(s"CREATE TABLE gshard_cat.main.$tbl AS SELECT * FROM $view")
    }
    spark.table(s"gshard_cat.main.$tbl")
      .select(col("doc_id"),
        size(col("tokens")).cast("long").as("n_tok"),
        aggregate(transform(col("tokens"), tk => length(tk).cast("long")),
          lit(0L), (acc, x) => acc + x).as("token_chars"),
        md5(concat_ws(" ", col("tokens"))).as("tok_fp"))
  }

  /** `q_shard_token_ids_roundtrip` — the TOKEN-ID list gate (r16
    * verdict task #4): post-BPE training data is INTEGER token ids,
    * not strings, and the engine's storage must carry them first
    * class. The whitespace tokenization of `documents` maps each
    * token to a deterministic 28-bit id (hex prefix of its md5 —
    * `conv(_,16,10)` here, `CAST('0x…')` in the oracle: the one id
    * function both engines compute bit-identically) and CTASes
    * `(doc_id, tok_ids array<int>)` through the gshard catalog — the
    * ids ride the format's measured FOR-bitpack/delta long codec
    * under the list offset scheme (tag `listi`). Read back, each
    * doc's list recounts ORDER-SENSITIVELY: token count, id sum, and
    * an md5 fingerprint of the comma-joined ids — any lost,
    * reordered, or corrupted id in any row diverges the hash. */
  def qShardTokenIdsRoundtrip(t: Tables): DataFrame = {
    val spark = t.spark
    val wh = staging("gshard_warehouse")
    spark.conf.set("spark.sql.catalog.gshard_cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_cat.warehouse", wh)
    val tbl = s"tokid_${dirTag(t.dir)}"
    graft.sources.shard.ShardFormat.ensureStaged(s"$wh/main/$tbl") {
      val view = s"gshard_tokid_src_$runId"
      t.documents.select(col("doc_id"),
        transform(
          filter(split(coalesce(col("text"), lit("")), "[ \\t\\n\\f\\r]+"),
            tk => length(tk) > 0),
          tk => conv(substring(md5(tk), 1, 7), 16, 10).cast("int"))
          .as("tok_ids"))
        .createOrReplaceTempView(view)
      spark.sql(s"CREATE TABLE gshard_cat.main.$tbl AS SELECT * FROM $view")
    }
    spark.table(s"gshard_cat.main.$tbl")
      .select(col("doc_id"),
        size(col("tok_ids")).cast("long").as("n_tok"),
        aggregate(col("tok_ids"), lit(0L),
          (acc, x) => acc + x.cast("long")).as("id_sum"),
        md5(concat_ws(",",
          transform(col("tok_ids"), x => x.cast("string")))).as("id_fp"))
  }

  private def shardProjection(t: Tables): DataFrame =
    t.events.select(col("user_id"), col("event_type"),
      datediff(col("ts").cast("date"),
        lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("day"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))

  /** `q_shard_write_roundtrip` — the DSv2 WRITE path end to end:
    * `df.write.format("gshard")` in overwrite mode, where the
    * connector's `RequiresDistributionAndOrdering` makes SPARK plan
    * the range exchange + sort on `user_id` (no hand shuffling), each
    * task commits one disjoint shard with its zone maps, and the
    * manifest publishes last (reader-never-sees-partials, the B18
    * pointer-flip discipline). The read-back probes the TOP user
    * quartile — so file skipping must fire against the freshly
    * written maps — and the per-day rollup is oracled against the raw
    * events table: write → commit → skip → decode, all hash-checked.
    * The write runs inside the query on purpose: its cost IS the
    * benchmark entry (idempotent overwrite, per-process staging). */
  def qShardWriteRoundtrip(t: Tables): DataFrame = {
    import graft.sources.shard.ShardFormat
    val dir = staging(s"gshard_w_${dirTag(t.dir)}")
    shardProjection(t).write.format("gshard")
      .option("rangecol", "user_id").option("shards", 16)
      .mode("overwrite").save(dir)
    val maxUser = ShardFormat.readManifest(dir)
      .entries.map(_.zMax.getOrElse("user_id", Long.MinValue))
      .foldLeft(Long.MinValue)(math.max)
    val threshold = if (maxUser == Long.MinValue) 0L else maxUser - maxUser / 4
    t.spark.read.format("gshard").load(dir)
      .filter(col("user_id") > threshold)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("value_cents"))
      .orderBy(col("day"))
  }

  /** `q_shard_compact` — small-file COMPACTION of a gshard table, the
    * maintenance job every append-heavy layout needs (the Delta
    * OPTIMIZE shape): appends leave many small shard files with
    * OVERLAPPING zone maps (each append generation range-partitions
    * independently), which decays file skipping toward full scans;
    * compaction reads the table through the connector and rewrites it
    * through the connector's overwrite path, restoring few files and
    * RANGE-DISJOINT maps (spec-pinned: file count drops, disjointness
    * returns, skipping selectivity recovers). The gate hash-checks
    * the post-compaction table against the raw events oracle — so
    * compaction provably loses nothing. Old-generation files sweep at
    * manifest commit, after the rewrite's tasks finished reading
    * them. */
  def qShardCompact(t: Tables): DataFrame = {
    val dir = staging(s"gshard_c_${dirTag(t.dir)}")
    // fragment: two independently-ranged append generations
    val proj = shardProjection(t)
    def gen(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("gshard").option("rangecol", "user_id")
        .option("shards", 8).mode("append").save(dir)
    // fresh table per call: overwrite the dir with generation 1, then
    // append generation 2 (overwrite first = idempotent re-runs)
    proj.filter(col("user_id") % 2 === 0).write.format("gshard")
      .option("rangecol", "user_id").option("shards", 8)
      .mode("overwrite").save(dir)
    gen(proj.filter(col("user_id") % 2 === 1))
    // compact: connector read -> connector overwrite, same dir
    t.spark.read.format("gshard").load(dir)
      .write.format("gshard").option("rangecol", "user_id")
      .option("shards", 8).mode("overwrite").save(dir)
    t.spark.read.format("gshard").load(dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("value_cents"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** `q_shard_scan_string` — STRING zone-map file skipping under the
    * driver gate: the staged table carries a zero-padded user tag
    * (`u%06d` — lexicographic order == numeric order, so the tag
    * genuinely clusters with the range column and the per-file string
    * bounds separate), and the scan filters on the TAG, not the long
    * key — the pushdown the manifest's base64 string bounds exist
    * for. The threshold is corpus-relative (`u` + max user DIV 2,
    * read from the manifest's long maps — a metadata lookup), the
    * pruning is plan-pinned in PlanAuditSpec (`files=k/n`), and the
    * oracle replays the identical predicate over raw events — string
    * write → string maps → unsigned-byte prune → residual, all
    * hash-checked. */
  def qShardScanString(t: Tables): DataFrame = {
    val dir = staging(s"gshard_str_${dirTag(t.dir)}")
    graft.sources.shard.ShardFormat.ensureStaged(dir) {
      graft.sources.shard.ShardFormat.write(
        shardProjection(t).withColumn("user_tag",
          format_string("u%06d", col("user_id"))),
        dir, "user_id", 12)
    }
    val maxUser = graft.sources.shard.ShardFormat.readManifest(dir)
      .entries.map(_.zMax.getOrElse("user_id", Long.MinValue))
      .foldLeft(Long.MinValue)(math.max)
    val thr = "u%06d".format(if (maxUser == Long.MinValue) 0L else maxUser / 2)
    t.spark.read.format("gshard").load(dir)
      .filter(col("user_tag") < thr)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("value_cents"))
      .orderBy(col("event_type"))
  }

  /** `q_shard_null_roundtrip` — NULLs through the connector's write
    * AND read halves under the driver gate: a projection with
    * deterministic nulls in a string and a long column (md5-free
    * modulo gates on `event_id`) writes through the DSv2 path (null
    * bitmaps in every chunk), reads back through the vectorized
    * reader, and the readout splits per event-type class into total
    * rows vs non-null cents (`count(col)`) plus the non-null sum — so
    * a null dropped, invented, or flattened to 0 anywhere in the
    * format breaks the hash. The null GROUP key itself rides as a
    * coalesced tag (engines disagree on null ordering, not on
    * values). */
  /** `q_shard_types_roundtrip` — the WIDENED TYPE SURFACE (format v3)
    * end to end: timestamp_ntz / date / int / boolean columns CTAS'd
    * into a gshard table from PURE SQL — the exact path that used to
    * die at `typeTag` on the first `ts` column a user wrote — then
    * read back both by path and through the SQL catalog under a
    * TIMESTAMP predicate the scan normalizes to micros for zone-map
    * skipping. All four logical types ride the physically-long block
    * (micros / days / int / 0-1 — the parquet logical-type idea), so
    * zone maps, delta encoding, blooms, and metadata stats apply to
    * them unchanged. The typed per-day rollup is oracled against raw
    * events; timestamp file pruning is plan-pinned in PlanAuditSpec. */
  def qShardTypesRoundtrip(t: Tables): DataFrame = {
    val spark = t.spark
    val wh = staging("gshard_warehouse")
    spark.conf.set("spark.sql.catalog.gshard_cat",
      "graft.sources.shard.ShardCatalog")
    spark.conf.set("spark.sql.catalog.gshard_cat.warehouse", wh)
    val view = s"gshard_typed_src_$runId"
    t.events.select(
        col("event_id"),
        col("ts"),
        col("ts").cast("date").as("day"),
        hour(col("ts")).as("hh"),
        (col("event_type") === lit("click")).as("is_click"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .createOrReplaceTempView(view)
    val tblName = s"events_typed_${dirTag(t.dir)}"
    val tbl = s"gshard_cat.main.$tblName"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl AS SELECT * FROM $view")
    // timestamp cutoff: min(ts) + 7 days (one metadata-scale agg) —
    // selective enough that the micros zone maps prune early files
    val minTs = t.events.agg(min(col("ts"))).head
    val cutoff =
      if (minTs.isNullAt(0)) java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
      else minTs.getAs[java.time.LocalDateTime](0).plusDays(7)
    def roll(src: DataFrame, fmt: String) = src
      .filter(col("ts") >= lit(cutoff))
      .groupBy(col("day").cast("timestamp").as("day"), col("is_click"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("value_cents"),
        min(col("ts")).as("ts_min"),
        max(col("hh")).cast("long").as("hh_max"))
      .withColumn("fmt", lit(fmt))
    roll(spark.read.format("gshard").load(s"$wh/main/$tblName"), "columnar")
      .unionByName(roll(spark.table(tbl), "catalog"))
  }

  /** `q_shard_stats_typed` — the metadata-only aggregate path over
    * the WIDENED types: COUNT(*) / MIN / MAX on timestamp, date, and
    * int columns answer from the manifest's long-domain zone maps and
    * come back TYPED (micros/days/int are the catalyst internal
    * encodings, so the stored bounds ARE the answers) — zero shard
    * files opened, plan-pinned. Oracle recomputes from raw events. */
  def qShardStatsTyped(t: Tables): DataFrame = {
    val dir = staging(s"gshard_typed_${dirTag(t.dir)}")
    graft.sources.shard.ShardFormat.ensureStaged(dir) {
      t.events.select(
          col("event_id"),
          col("ts"),
          col("ts").cast("date").as("day"),
          hour(col("ts")).as("hh"))
        .write.format("gshard").option("rangecol", "event_id")
        .option("shards", 8).mode("overwrite").save(dir)
    }
    t.spark.read.format("gshard").load(dir)
      .agg(count(lit(1)).as("n_rows"),
        min(col("ts")).as("ts_min"),
        max(col("ts")).as("ts_max"),
        min(col("day")).cast("timestamp_ntz").as("day_min"),
        max(col("day")).cast("timestamp_ntz").as("day_max"),
        min(col("hh")).cast("long").as("hh_min"),
        max(col("hh")).cast("long").as("hh_max"))
  }

  /** `q_shard_topn` — TOP-N pushdown under the driver gate: the
    * latest 500 events by id from a range-clustered table plan as the
    * few files at the sorted end of the manifest (the scan proves the
    * order from disjoint zone ranges + zero null counts and refuses
    * otherwise — spec-pinned both ways), Spark's own sort+limit runs
    * over just those rows, and the oracle replays the identical
    * ORDER BY ... LIMIT over raw events. Unique ids make the row set
    * deterministic. */
  def qShardTopn(t: Tables): DataFrame = {
    val dir = staging(s"gshard_topn_${dirTag(t.dir)}")
    graft.sources.shard.ShardFormat.ensureStaged(dir) {
      t.events.select(col("event_id"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
        .write.format("gshard").option("rangecol", "event_id")
        .option("shards", 16).mode("overwrite").save(dir)
    }
    t.spark.read.format("gshard").load(dir)
      .orderBy(desc("event_id")).limit(500)
  }

  def qShardNullRoundtrip(t: Tables): DataFrame = {
    val dir = staging(s"gshard_n_${dirTag(t.dir)}")
    t.events.select(col("user_id"),
        when(col("event_id") % 5 =!= 0, col("event_type")).as("event_type"),
        when(col("event_id") % 7 =!= 0,
          floor(col("value") * 100 + lit(0.5)).cast("long")).as("cents"))
      .write.format("gshard").option("rangecol", "user_id")
      .option("shards", 8).mode("overwrite").save(dir)
    t.spark.read.format("gshard").load(dir)
      .groupBy(coalesce(col("event_type"), lit("(null)")).as("etype"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("cents")).as("n_cents"),
        sum(col("cents")).as("value_cents"))
      .orderBy(col("etype"))
  }
}
