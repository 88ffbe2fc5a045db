package graft.sources.shard

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level mutation through the gshard catalog — what DELETE's
  * metadata-only surgery can't express: the copy-on-write [[merge]]
  * (the Delta/Iceberg MERGE shape, with [[upsert]] as its CDC-apply
  * special case) and the merge-on-read [[deleteMor]]. Every mutation
  * is one generational, replay-idempotent, optimistic-concurrency
  * commit carrying its row-level change files.
  */
object ShardOps {

  /** [[upsert]] with OPTIMISTIC-CONCURRENCY RETRY: a merge that loses
    * a commit race ([[ShardFormat.publishManifest]]'s
    * `ConcurrentModificationException`) RE-PLANS against the new head
    * and retries — the loop every OCC store's writer runs (Delta's
    * commit-retry). Each attempt re-reads the head, re-discovers
    * touched files, and re-runs the rewrite, so retrying is always
    * correct; the failed attempt's staged files are vacuum-sweepable
    * orphans. Replay idempotence still holds: if a RACING writer with
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
    *  4. Readers mask at decode ([[ShardFormat.readShardFile]]) in
    *     BOTH the row and columnar paths; per-column metadata
    *     answers refuse on DV-bearing files (COUNT(*) stays exact
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
    val changeEntries = ShardFormat.writeData(
      matchedFull.select(visCols.map(col) :+ lit(-1).as(ChangeSide): _*),
      dir, visCols.head, 1,
      prefix = s"d${java.util.UUID.randomUUID.toString.take(8)}-",
      rangeExpr = Some(lit(0L)), namePrefix = "chg-")
    ShardFormat.publishManifest(dir,
      ShardFormat.Manifest(head.schema, entries, head.lastTxn, head.txns,
        changes = changeEntries.map(e => (e.file, e.rows)), cdf = true),
      basedOn = head.gen)
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
    * shape: [[merge]] with "touched rows minus the updated keys, plus
    * every update" as the merge function. Source cardinality is
    * ENFORCED first (the Delta duplicate-source-row check): two
    * updates for one key would make the result order-dependent, so
    * the upsert fails loudly instead. */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
      keyCol: String, nShards: Int = 0,
      txnId: Long = -1L, txnApp: Option[String] = None): Unit = {
    // also rejects NULL keys: a NULL can never equi-match, so an
    // "insert" with a NULL key would dodge idempotent re-merge
    val dup = updates.groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1 || col(keyCol).isNull)
      .limit(1).collect()
    require(dup.isEmpty,
      s"gshard merge: duplicate or NULL key in updates " +
        s"(${if (dup.isEmpty) "" else dup(0).toString})")
    merge(spark, dir, updates, keyCol, nShards, txnId, txnApp) { (tr, u) =>
      tr.join(u.select(col(keyCol)), Seq(keyCol), "left_anti").unionByName(u)
    }
  }

  /** Copy-on-write MERGE of `source` into the table at `dir` through
    * `mergeFn(touchedRows, source)`, which must be KEY-LOCAL in
    * `keyCol`: rows whose key does not occur in `source` pass through
    * unchanged, and no key's output depends on another key's rows
    * (true of [[upsert]] and of the SCD2 close/extend/append merge).
    * `source` may have any schema; the function's output must carry
    * the table's visible columns. One call:
    *
    *  1. discovers TOUCHED files off the manifest's per-file key zone
    *     maps (≤ #files rows, broadcast): a file is rewritten only if
    *     some source key falls inside its [min,max] — everything else
    *     is untouched (zero read, zero write), which is sound exactly
    *     because `mergeFn` is key-local;
    *  2. reads the touched rows back through the NORMAL connector scan
    *     (a `files`-restricted read — pruning, projection and delete
    *     masks all apply);
    *  3. applies `mergeFn`, checks its output against the table's
    *     visible schema, and rewrites it as fresh key-clustered shards;
    *  4. captures the commit's row-level changes as the NET multiset
    *     difference of touched rows (−1 preimages) and output (+1
    *     postimages) — pass-through rows cancel, so a CDC consumer
    *     streams O(changed rows) per commit;
    *  5. publishes generationally with the txn slot advanced: the
    *     head archives (VERSION AS OF still reads the pre-merge
    *     table), replaced bytes reclaim at [[ShardFormat.vacuum]], and
    *     the publish is OPTIMISTIC — a concurrent commit since this
    *     merge read the head fails it loudly.
    *
    * REPLAY-IDEMPOTENT via the manifest txn slots (Delta's
    * txnAppId/txnVersion): a merge whose id is already applied is a
    * no-op — the property restarting CDC appliers and `foreachBatch`
    * sinks rely on. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
      keyCol: String, nShards: Int, txnId: Long, txnApp: Option[String])(
      mergeFn: (DataFrame, DataFrame) => DataFrame): Unit = {
    val head = ShardFormat.readManifest(dir)

    // replay idempotence FIRST (same rule as the append path)
    val appliedBefore = txnId >= 0 && {
      txnApp.map(a => head.txns.getOrElse(a, -1L))
        .getOrElse(head.lastTxn) >= txnId
    }
    if (appliedBefore) return

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
    // the key's EXACT storage-long encoding as a column expression —
    // the domain the manifest zone maps hold, so the touched-file
    // range join below compares like with like
    def storageKey(c: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = keyType match {
      case LongType | IntegerType => c.cast("long")
      case TimestampType => unix_micros(c)
      case DateType => unix_date(c).cast("long")
      case d: DecimalType if d.precision <= 18 =>
        (c * lit(new java.math.BigDecimal(
          java.math.BigInteger.TEN.pow(d.scale)))).cast("long")
      case other => throw new IllegalArgumentException(
        s"gshard merge key $keyCol must be long/int/timestamp/date/" +
          s"decimal(<=18)/string, got $other")
    }
    if (!isStringKey) storageKey(lit(null).cast(keyType)) // validate type

    // 1. touched files off the manifest zone maps (metadata-scale):
    // files with NO recorded key bounds (all-null, pre-stats, or a
    // cap-degraded string bound) are conservatively touched — they
    // may hold anything. Long-encoded keys range-join in the storage
    // long domain; string keys in the lexicographic domain (Spark's
    // string comparison is UTF-8 binary order — the same order the
    // string zone maps were folded in, so the join is exact).
    import spark.implicits._
    val unbounded = head.entries.filter(e =>
      if (isStringKey) !e.sMin.contains(keyCol)
      else !e.zMin.contains(keyCol)).map(_.file)
    val rangesDf =
      if (isStringKey) head.entries
        .flatMap(e => e.sMin.get(keyCol).map(lo =>
          (e.file,
            new String(ShardFormat.unb64(lo),
              java.nio.charset.StandardCharsets.UTF_8),
            new String(ShardFormat.unb64(e.sMax(keyCol)),
              java.nio.charset.StandardCharsets.UTF_8))))
        .toDF("file", "lo", "hi")
      else head.entries
        .flatMap(e => e.zMin.get(keyCol).map(lo =>
          (e.file, lo, e.zMax(keyCol))))
        .toDF("file", "lo", "hi")
    val keysDf =
      if (isStringKey) source.select(col(keyCol).as("k"))
      else source.select(storageKey(col(keyCol)).as("k"))
    val touchedBounded: Seq[String] =
      if (head.entries.isEmpty) Seq.empty
      else keysDf
        .join(broadcast(rangesDf),
          col("k") >= col("lo") && col("k") <= col("hi"))
        .select(col("file")).distinct().as[String].collect().toSeq
    val touched = (touchedBounded ++ unbounded).distinct.sorted

    // 2./3. the touched rows through the connector's files-restricted
    // scan — the one data pass, persisted: the rewrite AND the change
    // capture below both consume it, and writeData runs two jobs on
    // top. No touched file: the merge function sees an empty table.
    val visSchema = ShardFormat.visible(head.schema)
    val visCols = visSchema.fieldNames.toSeq
    val touchedRows: Option[DataFrame] =
      if (touched.isEmpty) None
      else Some(spark.read.format("gshard")
        .option("files", touched.mkString(","))
        .load(dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val out = mergeFn(touchedRows.getOrElse(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      visSchema)), source)
    // the output must match the table by name and storage tag (the
    // append discipline), on the VISIBLE surface — drop tombstones
    // are physical placeholders
    def tags(st: StructType) =
      st.fields.map(f => (f.name, ShardFormat.typeTag(f.dataType))).sorted.toSeq
    require(tags(out.schema) == tags(visSchema),
      s"gshard merge schema mismatch: table=${visSchema.catalogString} " +
        s"merged=${out.schema.catalogString}")
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
    // persist around writeData's two jobs (range bounds, then the
    // clustered write) and the change capture: without it the
    // touched-file scan + merge — the dominant cost — executes again
    // per consumer.
    // PHYSICALIZE: the rewrite keeps every physical slot — visible
    // columns from the merged frame, tombstone slots as null blocks —
    // so rewritten files stay positionally compatible with old ones
    val outAligned = out
      .select(head.schema.fields.toIndexedSeq.map { f =>
        if (ShardFormat.isTombstone(f.name))
          lit(null).cast(f.dataType).as(f.name)
        else col(f.name)
      }: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // clustering expression for the rewrite: the exact storage long
    // for long-encoded keys; for STRING keys a big-endian 7-byte
    // prefix (hex left-justified, zero-padded — monotone in UTF-8
    // byte order), which drives LOCALITY only: correctness always
    // comes from the real string zone maps the writer folds per file
    val clusterExpr =
      if (isStringKey)
        conv(rpad(substring(hex(encode(col(keyCol), "UTF-8")), 1, 14),
          14, "0"), 16, 10).cast("long")
      else storageKey(col(keyCol))
    import graft.sources.shard.ShardCdc.{SideCol => ChangeSide}
    val (fresh, changeEntries) =
      try {
        val fresh = ShardFormat.writeData(outAligned, dir, keyCol, shards,
          prefix = prefix,
          // rewritten files keep the table's bloom set (manifest-derived)
          bloomCols = head.entries.flatMap(_.bloom.keys).toSet,
          rangeExpr = Some(clusterExpr))
        // 4. ROW-GRAIN CHANGE CAPTURE at commit (the Delta CDF choice):
        // the net multiset difference, touched rows −1 and output +1 —
        // unchanged pass-through rows cancel, a duplicated old row
        // that the rewrite lands once leaves one −1. The `gshard-cdc`
        // rowlevel feed reads these files, falling back to the ±file
        // diff for generations without them (appends, SQL row-level
        // rewrites).
        def side(df: DataFrame, s: Int) =
          df.select(visCols.map(col) :+ lit(s).as(ChangeSide): _*)
        val changesDf = touchedRows match {
          case None => side(outAligned, 1) // every output row is an insert
          case Some(tr) =>
            // rows of keys absent from the source cancel by
            // key-locality, so the diff reads only the source's keys:
            // change-sized, not touched-file-sized
            val keys = broadcast(source.select(col(keyCol)))
            def ofKeys(df: DataFrame) = df.join(keys, Seq(keyCol), "left_semi")
            side(ofKeys(tr), -1).unionByName(side(ofKeys(outAligned), 1))
              .groupBy(visCols.map(col): _*)
              .agg(sum(col(ChangeSide)).as("__net"))
              .filter(col("__net") =!= 0L)
              .select(visCols.map(col) :+
                signum(col("__net")).cast("int").as(ChangeSide) :+
                explode(sequence(lit(1L), abs(col("__net")))).as("__n"): _*)
              .drop("__n")
              // one diff for writeData's two jobs
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        }
        try (fresh, ShardFormat.writeData(changesDf, dir, keyCol,
          math.max(1, math.min(4, shards)), prefix = s"c$prefix",
          rangeExpr = Some(clusterExpr), namePrefix = "chg-"))
        finally changesDf.unpersist()
      } finally {
        outAligned.unpersist()
        touchedRows.foreach(_.unpersist())
      }

    // 5. generational publish with the txn slot advanced
    val (nextLast, nextTxns) = txnApp match {
      case None =>
        (if (txnId < 0) head.lastTxn else math.max(txnId, head.lastTxn),
          head.txns)
      case Some(app) =>
        if (txnId < 0) (head.lastTxn, head.txns)
        else (head.lastTxn,
          head.txns + (app -> math.max(txnId, head.txns.getOrElse(app, -1L))))
    }
    val untouched = head.entries.filterNot(e => touched.contains(e.file))
    // OPTIMISTIC publish: this merge planned (touched files, touched
    // read, txn slots) against head.gen — if a concurrent writer
    // moved the head since, publish throws and the fresh files stay
    // orphaned (vacuum re-sweeps them) instead of destroying the
    // winner's commit
    ShardFormat.publishManifest(dir,
      ShardFormat.Manifest(head.schema, untouched ++ fresh,
        nextLast, nextTxns,
        changes = changeEntries.map(e => (e.file, e.rows)),
        cdf = true),
      basedOn = head.gen)
  }
}
