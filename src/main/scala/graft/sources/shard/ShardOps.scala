package graft.sources.shard

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** Row-level mutation through the gshard catalog — what DELETE's
  * metadata-only surgery can't express: the copy-on-write [[merge]]
  * (the Delta/Iceberg MERGE shape, with [[upsert]] as its CDC-apply
  * special case) and the merge-on-read [[deleteMor]]. Every mutation
  * is one generational, replay-idempotent, optimistic-concurrency
  * commit carrying its row-level change files.
  */
object ShardOps {

  /** [[upsert]] with OPTIMISTIC-CONCURRENCY RETRY: a merge that loses
    * a commit race ([[ShardFormat.commit]]'s
    * `ConcurrentModificationException`) RE-PLANS against the new head
    * and retries — the loop every OCC store's writer runs (Delta's
    * commit-retry). Each attempt re-reads the head, re-discovers
    * touched files, and re-runs the rewrite, so retrying is always
    * correct; the failed attempt's commit deletes its staged files.
    * Replay idempotence still holds: if a RACING writer with
    * the same (txnApp, txnId) won, the retry no-ops on the txn slot.
    * Contended writers on DISJOINT keys all converge (spec-pinned);
    * `maxRetries` bounds pathological contention with a loud error. */
  def upsertWithRetry(spark: SparkSession, dir: String,
      updates: DataFrame, keyCol: String, nShards: Int = 0,
      txnId: Long = -1L, txnApp: Option[String] = None,
      maxRetries: Int = 5): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try { upsert(spark, dir, updates, keyCol, nShards, txnId, txnApp)
        done = true }
      catch { case e: java.util.ConcurrentModificationException =>
        attempt += 1
        if (attempt > maxRetries) throw new java.util.ConcurrentModificationException(
          s"gshard: merge on $dir lost $attempt commit races " +
            s"(maxRetries=$maxRetries) — contention too high: " + e.getMessage)
      }
    }
  }

  /** MERGE-ON-READ DELETE (r16 verdict task #2 — the Iceberg
    * position-delete / Delta deletion-vector shape): rows matching
    * `cond` are MASKED, not rewritten. A 1-row DELETE writes one
    * small position sidecar and a manifest commit — ZERO data-file
    * rewrites (the write cost that dominates copy-on-write at 100 TB
    * trickle CDC). Mechanics:
    *
    *  1. ONE pruned scan finds matching rows' `(_file, _pos)`
    *     coordinates (`cond` pushes into zone-map skipping like any
    *     filter; `_pos` is the reader-synthesized physical position,
    *     stable under chunk skipping and existing masks).
    *  2. Positions sidecar-write EXECUTOR-side, one task per touched
    *     file (clustered by `_file`), each MERGING the file's prior
    *     delete vector — sidecars are immutable, a new delete writes
    *     a new sidecar (time travel and CDC read each generation's
    *     exact mask).
    *  3. The manifest commit swaps each touched entry's `dv` slot; a
    *     file whose every physical row is now masked DROPS from the
    *     manifest outright. Fully-deleted-table edge included.
    *  4. The one reader masks at decode ([[ShardFormat.ChunkReader]]),
    *     in the per-row loop that fills the vectors; per-column
    *     metadata answers refuse on DV-bearing files (COUNT(*) stays exact
    *     via live counts); compaction (connector read → overwrite)
    *     MATERIALIZES the mask and clears it; vacuum sweeps
    *     unreferenced sidecars under retention.
    *
    * Because already-masked rows never surface in the scan, replay
    * is idempotent: a second identical delete matches nothing and
    * commits nothing. Returns the number of rows newly deleted. */
  def deleteMor(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column): Long = {
    val head = ShardFormat.readManifest(dir)
    val oldDv: Map[String, String] = head.entries
      .flatMap(e => e.dv.map(d => e.file -> d._1)).toMap
    import spark.implicits._
    val visCols = ShardFormat.visible(head.schema).fieldNames.toSeq
    // matched rows with their coordinates AND their full images —
    // persisted: the sidecar write and the change capture both read it
    val matchedFull = spark.read.format("gshard").load(dir)
      .filter(cond)
      .select(visCols.map(col) :+ col("_file").as("__f") :+
        col("_pos").as("__p"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val matched = matchedFull
      .select(col("__f").as("f"), col("__p").as("p"))
    // one sidecar-writing task per touched file: positions arrive
    // sorted per file, merge-walk against the prior mask
    val perFile: Seq[(String, String, Long)] = matched
      .repartition(col("f"))
      .sortWithinPartitions(col("f"), col("p"))
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        var cur: String = null
        var buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        def flush(): Unit = if (cur != null && buf.nonEmpty) {
          val prior: Array[Long] = oldDv.get(cur)
            .map(sc => ShardFormat.readDeleteVector(s"$dir/$sc"))
            .getOrElse(Array.emptyLongArray)
          // merge two strictly-ascending runs (disjoint by
          // construction: masked rows never re-match)
          val merged = new Array[Long](prior.length + buf.length)
          var i = 0; var j = 0; var w = 0
          while (i < prior.length && j < buf.length) {
            if (prior(i) < buf(j)) { merged(w) = prior(i); i += 1 }
            else { merged(w) = buf(j); j += 1 }
            w += 1
          }
          while (i < prior.length) { merged(w) = prior(i); i += 1; w += 1 }
          while (j < buf.length) { merged(w) = buf(j); j += 1; w += 1 }
          val sc = ShardFormat.writeDeleteVector(dir, merged)
          out += ((cur, sc, merged.length.toLong))
          buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        }
        it.foreach { r =>
          val f = r.getString(0)
          if (f != cur) { flush(); cur = f }
          buf += r.getLong(1)
        }
        flush()
        out.iterator
      }.collect().toSeq // ≤ #touched files rows — metadata-scale
    if (perFile.isEmpty) return 0L
    val byFile = perFile.map(t => t._1 -> ((t._2, t._3))).toMap
    val entries = head.entries.flatMap { e =>
      byFile.get(e.file) match {
        case None => Some(e)
        case Some((_, cnt)) if cnt >= e.rows => None // fully masked: drop
        case Some((sc, cnt)) => Some(e.copy(dv = Some((sc, cnt))))
      }
    }
    // row-grain change capture: the deleted rows ARE the commit's net
    // change set (side −1) — written as this generation's change
    // files so the rowlevel CDC feed streams exactly them
    import graft.sources.shard.ShardCdc.{SideCol => ChangeSide}
    // one shard over the constant key 0: the bounds are known, so no
    // min/max job runs over the matched rows
    val changeEntries = ShardFormat.writeData(
      matchedFull.select(visCols.map(col) :+ lit(-1).as(ChangeSide): _*),
      dir, visCols.head, 1,
      prefix = s"d${java.util.UUID.randomUUID.toString.take(8)}-",
      rangeExpr = Some(lit(0L)), namePrefix = ShardFormat.ChangePrefix,
      bounds = Some((0L, 0L)))
    ShardFormat.commit(dir, basedOn = Some(head.gen),
      staged = perFile.map(_._2) ++ changeEntries.map(_.file),
      changes = changeEntries.map(e => (e.file, e.rows)), cdf = true)(
      _ => head.copy(entries = entries))
    // newly deleted = merged counts − prior counts, per touched file
    // (map lookup, not a per-file linear scan over the entries)
    val priorCnt: Map[String, Long] = head.entries
      .flatMap(e => e.dv.map(d => e.file -> d._2)).toMap
    val newly = perFile.map(_._3).sum -
      perFile.map(t => priorCnt.getOrElse(t._1, 0L)).sum
    newly
    } finally matchedFull.unpersist()
  }

  /** UPSERT — `MERGE INTO t USING u ON t.key = u.key WHEN MATCHED
    * THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`, the CDC apply
    * shape: [[merge]] with "the key's update" as the per-key function.
    * The updates must match the table's VISIBLE columns by name and
    * storage tag (the append discipline), checked before any job runs.
    * Source cardinality is ENFORCED in the merge's source pass (the
    * Delta duplicate-source-row check): two updates for one key would
    * make the result order-dependent, and a NULL key, which can never
    * equi-match, would dodge idempotent re-merge — both fail loudly. */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
      keyCol: String, nShards: Int = 0,
      txnId: Long = -1L, txnApp: Option[String] = None): Unit = {
    val head = ShardFormat.readManifest(dir)
    ShardFormat.requireSchema(head.schema, updates.schema)
    // in the table's visible order, each update IS its key's output row
    merge(spark, dir, head, updates.select(
      ShardFormat.visible(head.schema).fieldNames.toSeq.map(col): _*),
      keyCol, nShards, txnId, txnApp, uniqueKeys = true)((_, update) => update)
  }

  /** One key's MERGE: (its touched rows, its source rows) ⇒ its output
    * rows — Catalyst rows, the touched and output ones in the table's
    * visible column order, the source ones in the source's. */
  type PerKey = (IndexedSeq[InternalRow], IndexedSeq[InternalRow]) =>
    Seq[InternalRow]

  /** Copy-on-write MERGE of `source` into the table at `dir`, one key
    * of `keyCol` at a time: `perKey` runs only for the keys present in
    * `source` and sees only that key's rows, and its output replaces
    * the key's rows; every other key passes through unchanged. `source`
    * may have any schema; each output row must carry its key and the
    * table's visible columns, or the commit fails before it publishes.
    * One call runs at most two Spark actions:
    *
    *  1. the SOURCE PASS — a summary of the source keys: the TOUCHED
    *     files (each key matched against the manifest's per-file key
    *     zone maps, which are metadata-sized: a file is rewritten only
    *     if some source key falls inside its [min,max] — everything
    *     else is untouched, zero read, zero write), the keys'
    *     clustering range, and with `uniqueKeys` the first duplicate
    *     or NULL key, which fails the merge before any file is
    *     written. Where the source rows already are decides where it
    *     runs: a driver-held source (`createDataFrame` over a local
    *     collection, `toDF`, which Catalyst folds with the key
    *     projection into one `LocalRelation`) is summarised on the
    *     driver and starts no job; any other source runs one query
    *     (a `groupBy` on the key with `uniqueKeys`) that summarises
    *     each partition on the executors;
    *  2. the FUSED REWRITE ([[ShardFormat.writeMerge]]) — the touched
    *     rows (a connector scan planned on the merge's head, restricted
    *     to the touched entries: pruning, projection and delete masks
    *     apply, and it reads no manifest) and the source rows go
    *     through ONE key-clustered shuffle; each write task streams a
    *     key without source rows into the shard's data file and runs
    *     `perKey` on a key with them (at most
    *     [[ShardFormat.DefaultChunkRows]] rows, or the commit fails
    *     naming the key): its output lands in the data file, its NET
    *     difference against its touched rows in the shard's `chg-`
    *     change file, so a CDC consumer streams O(changed rows) per
    *     commit. The touched files' zone maps and the source pass give
    *     the shard range: no min/max job. A rewrite that fails deletes
    *     every file it staged. With AQE the rewrite is two jobs (its
    *     shuffle map stage, then the write), so an upsert of a
    *     driver-held source runs two jobs and one of a distributed
    *     source four;
    *  3. the generational [[ShardFormat.commit]] with the txn slot
    *     advanced: the head archives (VERSION AS OF still reads the
    *     pre-merge table), replaced bytes reclaim at
    *     [[ShardFormat.vacuum]], and the commit is OPTIMISTIC — a
    *     concurrent commit since this merge read the head fails it
    *     loudly and deletes the files it staged.
    *
    * REPLAY-IDEMPOTENT via the manifest txn slots (Delta's
    * txnAppId/txnVersion): a merge whose id is already applied is a
    * no-op — the property restarting CDC appliers and `foreachBatch`
    * sinks rely on. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
      keyCol: String, nShards: Int, txnId: Long, txnApp: Option[String],
      uniqueKeys: Boolean = false)(perKey: PerKey): Unit =
    merge(spark, dir, ShardFormat.readManifest(dir), source, keyCol, nShards,
      txnId, txnApp, uniqueKeys)(perKey)

  /** [[merge]] planned against `head`, the manifest the caller already
    * read: the publish fails if the table moved past it. */
  private def merge(spark: SparkSession, dir: String,
      head: ShardFormat.Manifest, source: DataFrame, keyCol: String,
      nShards: Int, txnId: Long, txnApp: Option[String],
      uniqueKeys: Boolean)(perKey: PerKey): Unit = {
    // a replay does no work (the commit's own rule, checked at plan)
    val txn = ShardFormat.Txn(txnId, txnApp)
    if (txn.applied(head)) return

    // merge keys: every type whose STORAGE ordering the zone maps
    // index — long/int ids, timestamp (micros), date (days),
    // decimal≤18 (unscaled: p ≤ 18 ⇒ unscaled < 10¹⁸ < 2⁶³, the
    // ×10^scale never overflows), and STRING natural keys (the common
    // CDC shape), whose file-grain string zone maps bound the touched
    // set in the lexicographic domain directly. timestamp_ntz has no
    // column-level storage-long expression and rejects until needed.
    import org.apache.spark.sql.types._
    val keyType = head.schema(keyCol).dataType
    val isStringKey = keyType == StringType
    // clustering expression for the rewrite: the exact storage long
    // for long-encoded keys (the domain the manifest zone maps hold);
    // for STRING keys a big-endian 7-byte prefix (hex left-justified,
    // zero-padded — monotone in UTF-8 byte order, see [[prefixLong]]),
    // which drives LOCALITY only: correctness always comes from the
    // real string zone maps the writer folds per file
    val clusterExpr: Column = keyType match {
      case StringType =>
        conv(rpad(substring(hex(encode(col(keyCol), "UTF-8")), 1, 14),
          14, "0"), 16, 10).cast("long")
      case LongType | IntegerType => col(keyCol).cast("long")
      case TimestampType => unix_micros(col(keyCol))
      case DateType => unix_date(col(keyCol)).cast("long")
      case d: DecimalType if d.precision <= 18 =>
        (col(keyCol) * lit(new java.math.BigDecimal(
          java.math.BigInteger.TEN.pow(d.scale)))).cast("long")
      case other => throw new IllegalArgumentException(
        s"gshard merge key $keyCol must be long/int/timestamp/date/" +
          s"decimal(<=18)/string, got $other")
    }

    // 1. the source pass. Files with NO recorded key bounds (all-null,
    // pre-stats, or a cap-degraded string bound) are conservatively
    // touched — they may hold anything. Long-encoded keys match in the
    // storage-long domain; string keys in UTF-8 byte order, the order
    // the string zone maps were folded in, so the match is exact.
    val (bounded, unbounded) = head.entries.toIndexedSeq.partition(e =>
      (if (isStringKey) e.sMin else e.zMin).contains(keyCol))
    // marks, in a bit set over `bounded`, the files a source key falls in
    val mark: (Row, java.util.BitSet) => Unit =
      if (isStringKey) {
        val zones = bounded.map(e => (ShardFormat.unb64(e.sMin(keyCol)),
          ShardFormat.unb64(e.sMax(keyCol))))
        (r, hit) => markZones(zones,
          r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8),
          hit)(Utf8Order)
      } else {
        val zones = bounded.map(e => (e.zMin(keyCol), e.zMax(keyCol)))
        (r, hit) => markZones(zones, r.getLong(1), hit)
      }
    // one summary of (key, clustering long, source rows of the key)
    // rows: the files they fall in, their clustering range, and with
    // `uniqueKeys` the first duplicate or NULL key
    def summarize(it: Iterator[Row]) = {
      val hit = new java.util.BitSet
      var lo = Long.MaxValue
      var hi = Long.MinValue
      var bad: Option[String] = None
      it.foreach { r =>
        val dup = r.getLong(2) > 1 || (uniqueKeys && r.isNullAt(0))
        if (bad.isEmpty && dup)
          bad = Some(Row(r.get(0), r.getLong(2)).toString)
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          lo = math.min(lo, r.getLong(1))
          hi = math.max(hi, r.getLong(1))
          mark(r, hit)
        }
      }
      (hit, lo, hi, bad)
    }
    val probe = source.select(col(keyCol), clusterExpr)
    val parts = probe.queryExecution.optimizedPlan match {
      // driver-held rows: Catalyst folds a `createDataFrame`/`toDF`
      // source with these projections into one LocalRelation, whose
      // collect() starts no job; the keys are counted here
      case _: LocalRelation =>
        val rows = probe.collect()
        val n: Any => Long =
          if (uniqueKeys) rows.groupMapReduce(_.get(0))(_ => 1L)(_ + _)
          else _ => 1L
        Seq(summarize(rows.iterator.map(r =>
          Row(r.get(0), r.get(1), n(r.get(0))))))
      case _ =>
        val keyed =
          if (uniqueKeys) source.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
          else source.select(col(keyCol), lit(1L).as("n"))
        keyed.select(col(keyCol), clusterExpr, col("n")).rdd
          .mapPartitions(it => Iterator(summarize(it)))
          .collect().toSeq // one summary per source partition
    }
    val bad = parts.flatMap(_._4).headOption
    require(bad.isEmpty,
      s"gshard merge: duplicate or NULL key in updates (${bad.getOrElse("")})")
    val hit = new java.util.BitSet
    parts.foreach(p => hit.or(p._1))
    val touchedEntries = (bounded.zipWithIndex.collect {
      case (e, i) if hit.get(i) => e } ++ unbounded).sortBy(_.file)
    val touched = touchedEntries.map(_.file)

    // 2. the fused rewrite over the touched rows and the source rows,
    // each packed as one struct beside its key and input side
    val visSchema = ShardFormat.visible(head.schema)
    val sourceSide = source.select(col(keyCol).cast(keyType).as(keyCol),
      lit(ShardFormat.SourceSide).as("__side"),
      lit(null).cast(visSchema).as("__touched"),
      struct(source.columns.toSeq.map(col): _*).as("__source"))
    val tagged =
      if (touched.isEmpty) sourceSide
      else sourceSide.union(ShardTable.scan(spark, dir,
          head.copy(entries = touchedEntries))
        .select(col(keyCol), lit(ShardFormat.TouchedSide),
          struct(visSchema.fieldNames.toSeq.map(col): _*),
          lit(null).cast(source.schema)))
    // shard range: every output key is a touched row's key or a source
    // key, so the touched files' zone maps and the source pass's range
    // cover it (the writer clamps what they miss)
    val ranges = touchedEntries.flatMap(e =>
      if (isStringKey) e.sMin.get(keyCol).map(lo =>
        (prefixLong(ShardFormat.unb64(lo)),
          prefixLong(ShardFormat.unb64(e.sMax(keyCol)))))
      else e.zMin.get(keyCol).map(lo => (lo, e.zMax(keyCol)))) ++
      parts.collect { case (_, lo, hi, _) if lo <= hi => (lo, hi) }
    val bounds =
      if (ranges.isEmpty) (0L, 0L)
      else (ranges.map(_._1).min, ranges.map(_._2).max)
    val shards = if (nShards > 0) nShards else math.max(1, touched.size + 1)
    // fresh file prefix: gen for debuggability PLUS a random token —
    // two concurrent merges that both planned at gen N must never
    // stage under the same names (the loser's tasks would overwrite
    // the winner's staged bytes BEFORE the OCC check fires, leaving
    // the winner's committed manifest describing the loser's data);
    // uniqueness also upholds the CDC feed's names-never-recur
    // invariant unconditionally
    val prefix = s"m${head.gen + 1}x" +
      java.util.UUID.randomUUID.toString.take(8) + "-"
    val (fresh, changeEntries) = sweepOnFailure(spark, dir, prefix) {
      ShardFormat.writeMerge(tagged, dir, head.schema, clusterExpr, shards,
        bounds, prefix,
        // rewritten files keep the table's bloom set (manifest-derived)
        bloomCols = head.entries.flatMap(_.bloom.keys).toSet, perKey = perKey)
    }

    // 3. OPTIMISTIC commit: this merge planned (touched files, touched
    // read, txn slots) against head.gen — if a concurrent writer moved
    // the head since, the commit deletes the files staged above and
    // throws instead of destroying the winner's commit
    val untouched = head.entries.filterNot(touchedEntries.toSet)
    ShardFormat.commit(dir, basedOn = Some(head.gen), txn = txn,
      staged = (fresh ++ changeEntries).map(_.file),
      changes = changeEntries.map(e => (e.file, e.rows)), cdf = true)(
      _ => head.copy(entries = untouched ++ fresh))
  }

  /** Runs `write`, the rewrite that stages files whose names hold
    * `prefix`. If it fails, waits until its jobs' tasks have stopped
    * (a task of a failed job may still be writing), deletes every such
    * file in `dir`, and rethrows: a failed merge leaves nothing behind. */
  private def sweepOnFailure[A](spark: SparkSession, dir: String,
      prefix: String)(write: => A): A = {
    val sc = spark.sparkContext
    val tag = s"gshard-merge-$prefix"
    sc.addJobTag(tag)
    try write
    catch { case t: Throwable =>
      val st = sc.statusTracker
      def running: Int = {
        PlanBridge.drainListenerBus(spark)
        st.getJobIdsForTag(tag).iterator.flatMap(st.getJobInfo(_))
          .flatMap(_.stageIds).flatMap(st.getStageInfo(_))
          .map(_.numActiveTasks).sum
      }
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (running > 0 && System.nanoTime < deadline) Thread.sleep(10)
      ShardFormat.listDir(Paths.get(dir)).filter(_.contains(prefix))
        .foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
      throw t
    } finally sc.removeJobTag(tag)
  }

  /** The string clustering long on the driver: the key's first 7 UTF-8
    * bytes, zero-padded, big-endian — the value the rewrite's
    * `conv(rpad(substring(hex(...), 1, 14), 14, '0'), 16, 10)` gives. */
  private def prefixLong(b: Array[Byte]): Long =
    (0 until 7).foldLeft(0L)((acc, i) =>
      (acc << 8) | (if (i < b.length) b(i) & 0xffL else 0L))

  /** Unsigned byte order — `UTF8String`'s order, and the string zone
    * maps'. */
  private object Utf8Order extends Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a, b)
  }

  /** Sets the position of every zone `[lo, hi]` that holds `k` — a
    * scan over the manifest's zones, which are metadata-sized. */
  private def markZones[K](zones: IndexedSeq[(K, K)], k: K,
      hit: java.util.BitSet)(implicit ord: Ordering[K]): Unit =
    zones.indices.foreach { j =>
      if (ord.lteq(zones(j)._1, k) && ord.lteq(k, zones(j)._2)) hit.set(j)
    }
}
