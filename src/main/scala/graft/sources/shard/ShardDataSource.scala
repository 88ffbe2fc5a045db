package graft.sources.shard

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead,
  SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution,
  Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions,
  SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo,
  RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DateType, DoubleType, IntegerType,
  LongType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** B20 — the `gshard` DataSource-V2 READ connector: the full public
  * `org.apache.spark.sql.connector` contract over the engine-owned
  * columnar format ([[ShardFormat]]).
  *
  *  - '''Schema inference''' from the manifest sidecar
  *    (`spark.read.format("gshard").load(dir)` — also registered
  *    under the `gshard` short name via `DataSourceRegister`).
  *  - '''Column pruning''' (`SupportsPushDownRequiredColumns`): the
  *    partition reader materializes exactly the pruned schema and
  *    SKIPS the other column blocks' bytes on disk — a 2-column
  *    projection of a 4-column table reads ~half the bytes, which at
  *    100 TB is the difference between a scan and a non-starter.
  *  - '''Filter pushdown''' (`SupportsPushDownFilters`): comparison
  *    and IN predicates over zone-mapped LONG and STRING columns
  *    prune whole shard files at PLANNING time (`planInputPartitions`
  *    returns only survivors — visible as fewer scan partitions), and
  *    the surviving files' readers skip CHUNKS the per-chunk maps
  *    refute. Every filter is also returned as a residual, so Spark
  *    re-evaluates exactly and the zone maps only ever need to be
  *    false-negative-free, which they are by construction.
  *  - '''Partition planning''': one `InputPartition` per surviving
  *    shard file — the natural parallelism unit; a 1000-executor
  *    cluster schedules surviving shards round-robin with locality
  *    delegated to the store.
  */
class ShardDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "gshard"

  private def dir(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "gshard: .load(<dir>) path is required")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ShardFormat.visible(
      ShardFormat.readManifestVersion(dir(options),
        Option(options.get("versionasof")).map(_.toLong)).schema)

  // writes to a FRESH table have no manifest: accept the frame's schema
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val d = properties.get("path")
    new ShardTable(d, schema,
      Option(properties.get("versionasof")).map(_.toLong))
  }
}

/** A gshard table at `dir`. `pinnedVersion` freezes it at a retained
  * generation; `planned` is a manifest the caller already holds, which
  * its scans plan on instead of reading one ([[ShardTable.scan]]). */
private[shard] class ShardTable(dir: String, tableSchema: StructType,
    pinnedVersion: Option[Long] = None,
    planned: Option[ShardFormat.Manifest] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** `_file` — the shard-file metadata column (the Iceberg/Delta
    * `_file`/`input_file_name` idea): constant per input partition,
    * synthesized by the reader, filterable at FILE grain (an
    * In(_file, …) runtime filter admits exactly the named entries).
    * It is what the group-based row-level rewrites group on. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): org.apache.spark.sql.types.DataType =
        StringType
      override def isNullable: Boolean = false
      override def comment(): String = "gshard shard file name"
    }, new org.apache.spark.sql.connector.catalog.MetadataColumn {
      // `_pos` — the row's PHYSICAL position within its shard file
      // (the Iceberg _pos idea): stable across chunk skipping and
      // DV masking, the coordinate merge-on-read deletes address
      override def name(): String = "_pos"
      override def dataType(): org.apache.spark.sql.types.DataType =
        LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "gshard physical row position within its shard file"
    })

  /** SQL `DELETE` (non-metadata-decidable) / `UPDATE` / `MERGE INTO`
    * via the GROUP-BASED (copy-on-write) row-level contract: Spark
    * plans ReplaceData — the operation's scan reads the affected
    * groups (runtime-filtered to matching `_file`s, zone maps pruning
    * as ever), Spark computes the replacement rows, and the write's
    * commit atomically swaps exactly the scanned files for the fresh
    * ones (generational publish — time travel sees the pre-op table).
    * File-aligned DELETEs still take the metadata-only path: Spark's
    * OptimizeMetadataOnlyDeleteFromTable converts back to
    * SupportsDelete whenever canDeleteWhere accepts. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      s"gshard: cannot mutate ${name()} — time-travel reads are frozen")
    () => new ShardRowLevelOperation(dir, info.command())
  }
  override def name(): String = pinnedVersion match {
    case Some(v) => s"gshard.`$dir` VERSION AS OF $v"
    case None => s"gshard.`$dir`"
  }
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val m = planned.getOrElse(ShardFormat.readManifestVersion(dir,
      pinnedVersion.orElse(Option(options.get("versionasof")).map(_.toLong))))
    new ShardScanBuilder(dir, m, options)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"gshard: cannot write to ${name()} — time-travel reads are frozen")
    new ShardWriteBuilder(dir, info)
  }

  // ---- METADATA-ONLY DELETE (B32) ------------------------------------
  // `DELETE FROM t WHERE p` is accepted iff EVERY manifest entry is
  // decidable from its stats alone: provably DISJOINT from p (the zone
  // maps refute the conjunction — the same sound test the scan prunes
  // with) or provably FULLY COVERED by p (every conjunct holds on every
  // row: bounds inside the predicate range AND the column null-free by
  // the manifest's null counts — one null row breaks coverage because a
  // comparison on NULL is never true). Anything undecidable (a file
  // straddling the predicate boundary, an unsupported shape, a
  // pre-nullcount manifest) rejects the whole DELETE, and Spark reports
  // it — the Iceberg/Delta metadata-delete contract; a row-level
  // rewrite is MERGE's job ([[ShardOps.merge]]).
  // The commit publishes a generation without the dropped entries and
  // deletes no file: the previous generation still names them, and
  // vacuum reclaims them under its retention.

  /** All rows of `e` provably satisfy `f`. False = unknown. */
  private def covers(e: ShardFormat.ShardEntry, f: Filter): Boolean = {
    def nullFree(c: String) = e.nullCnt.get(c).contains(0L)
    def z(c: String) = e.zMin.contains(c)
    def s(c: String) = e.sMin.contains(c)
    def lo(c: String) = ShardFormat.unb64(e.sMin(c))
    def hi(c: String) = ShardFormat.unb64(e.sMax(c))
    def cmp(a: Array[Byte], b: Array[Byte]) =
      java.util.Arrays.compareUnsigned(a, b)
    def bytes(v: String) = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    f match {
      case EqualTo(c, v: Long) => nullFree(c) && z(c) &&
        e.zMin(c) == v && e.zMax(c) == v
      case GreaterThan(c, v: Long) => nullFree(c) && z(c) && e.zMin(c) > v
      case GreaterThanOrEqual(c, v: Long) =>
        nullFree(c) && z(c) && e.zMin(c) >= v
      case LessThan(c, v: Long) => nullFree(c) && z(c) && e.zMax(c) < v
      case LessThanOrEqual(c, v: Long) =>
        nullFree(c) && z(c) && e.zMax(c) <= v
      // double coverage is sound because bounds EXIST only for
      // NaN-free files (the writer suppresses them otherwise) — so
      // primitive comparisons here agree with Spark's evaluation; a
      // NaN literal matches no case below → undecidable → the DELETE
      // rejects loudly
      case EqualTo(c, v: Double) => nullFree(c) && e.dMin.contains(c) &&
        v == v && e.dMin(c) == v && e.dMax(c) == v
      case GreaterThan(c, v: Double) =>
        nullFree(c) && e.dMin.contains(c) && e.dMin(c) > v
      case GreaterThanOrEqual(c, v: Double) =>
        nullFree(c) && e.dMin.contains(c) && e.dMin(c) >= v
      case LessThan(c, v: Double) =>
        nullFree(c) && e.dMin.contains(c) && e.dMax(c) < v
      case LessThanOrEqual(c, v: Double) =>
        nullFree(c) && e.dMin.contains(c) && e.dMax(c) <= v
      case EqualTo(c, v: String) => nullFree(c) && s(c) &&
        cmp(lo(c), bytes(v)) == 0 && cmp(hi(c), bytes(v)) == 0
      case GreaterThan(c, v: String) =>
        nullFree(c) && s(c) && cmp(lo(c), bytes(v)) > 0
      case GreaterThanOrEqual(c, v: String) =>
        nullFree(c) && s(c) && cmp(lo(c), bytes(v)) >= 0
      case LessThan(c, v: String) =>
        nullFree(c) && s(c) && cmp(hi(c), bytes(v)) < 0
      case LessThanOrEqual(c, v: String) =>
        nullFree(c) && s(c) && cmp(hi(c), bytes(v)) <= 0
      case IsNotNull(c) => nullFree(c)
      case IsNull(c) => e.nullCnt.get(c).contains(e.rows)
      // an unconditional DELETE plans as the [TRUE] predicate
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case _ => false
    }
  }

  /** Per-filter normalization for DELETE: each conjunct normalizes
    * independently or stays AS-IS (never dropped — a dropped conjunct
    * would let the remaining ones "cover" a file the full predicate
    * does not, i.e. over-delete). An un-normalized conjunct is simply
    * undecidable: covers() returns false for it (the whole DELETE
    * rejects) and the zone testers admit past it (disjointness via the
    * OTHER conjuncts stays sound). */
  private def normalizedForDelete(schema: StructType,
      filters: Array[Filter]): Array[Filter] =
    filters.map { f =>
      ShardFormat.normalizeFilters(schema, Seq(f)).headOption.getOrElse(f)
    }

  /** No row of `e` can satisfy the conjunction (the scan's prune test). */
  private def disjoint(e: ShardFormat.ShardEntry,
      filters: Array[Filter]): Boolean =
    filters.exists(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysFalse]) ||
    !(ShardFormat.longZoneAdmits(filters.toSeq,
        e.zMin.contains, e.zMin(_), e.zMax(_)) &&
      ShardFormat.stringZoneAdmits(filters.toSeq, e.sMin.contains,
        c => ShardFormat.unb64(e.sMin(c)), c => ShardFormat.unb64(e.sMax(c))) &&
      ShardFormat.doubleZoneAdmits(filters.toSeq, e.dMin.contains,
        e.dMin(_), e.dMax(_)))

  /** The normalized filters, if every entry of `m` is provably
    * disjoint from them or fully covered by them. */
  private def decidable(m: ShardFormat.Manifest,
      rawFilters: Array[Filter]): Option[Array[Filter]] =
    Some(normalizedForDelete(m.schema, rawFilters)).filter(fs =>
      m.entries.forall(e => disjoint(e, fs) || fs.forall(covers(e, _))))

  override def canDeleteWhere(rawFilters: Array[Filter]): Boolean =
    decidable(ShardFormat.readManifest(dir), rawFilters).isDefined

  override def deleteWhere(rawFilters: Array[Filter]): Unit = {
    require(pinnedVersion.isEmpty,
      s"gshard: cannot DELETE from ${name()} — time-travel reads are frozen")
    // metadata-only: the kept entries are decided on the head the
    // commit reads under its lock. NO physical sweep: the dropped files
    // stay referenced by the previous generation (VERSION AS OF reads
    // it); ShardFormat.vacuum reclaims them under its retention — the
    // Delta DELETE-then-VACUUM split
    ShardFormat.commit(dir) { head =>
      val m = head.getOrElse(
        throw new IllegalStateException(s"gshard: no table at $dir"))
      val filters = decidable(m, rawFilters).getOrElse(
        throw new IllegalArgumentException(
          s"gshard: DELETE not decidable from metadata for ${name()}"))
      m.copy(entries = m.entries.filter(disjoint(_, filters)))
    }
  }
}

private[shard] object ShardTable {

  /** The visible rows of `m`'s entries at `dir`, planned on `m`: the
    * scan reads no manifest, and pruning, projection and delete masks
    * apply as in any gshard read. */
  def scan(spark: org.apache.spark.sql.SparkSession, dir: String,
      m: ShardFormat.Manifest): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(new ShardTable(dir, ShardFormat.visible(m.schema),
          planned = Some(m)), None, None, CaseInsensitiveStringMap.empty()))
}

/** The DSv2 WRITE path: `df.write.format("gshard").save(dir)`.
  *
  * The layout contract lives in [[RequiresDistributionAndOrdering]]:
  * the write REQUIRES an ordered (range) distribution plus in-
  * partition ordering on the cluster column (`rangeCol` option,
  * default the first long column), so SPARK plans the range exchange
  * and sort — the connector never shuffles by hand, and every task
  * receives one disjoint key range, which is exactly what makes the
  * emitted zone maps selective. `mode("overwrite")` routes through
  * [[SupportsTruncate]]; append merges manifest entries. Commit is
  * manifest-last ([[ShardFormat.commit]]): data files land, then the
  * next generation publishes them, so a reader never sees uncommitted
  * files. A truncation publishes a generation without the old entries
  * and deletes nothing: the previous generation still names them (time
  * travel), and [[ShardFormat.vacuum]] reclaims them. An optional
  * `txnid` option makes appends REPLAY-IDEMPOTENT: the manifest
  * records the last applied id (the Delta txnAppId/txnVersion
  * pattern), and a replayed commit with an already-applied id is a
  * no-op that deletes its staged files instead of double-appending —
  * the property `foreachBatch` restarts rely on. */
private[shard] class ShardWriteBuilder(dir: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = {
    // fail FAST, before Spark plans the range exchange: unsupported
    // types and manifest-reserved characters in column names reject at
    // write-build time, not mid-shuffle or (worse) at read time
    info.schema().fields.foreach { f =>
      ShardFormat.validateFieldName(f.name)
      ShardFormat.typeTag(f.dataType)
    }
    // default cluster column: the schema's first long column, else the
    // first physically-long one — timestamp/date/int cluster just as
    // well (catalog writes — INSERT INTO / CTAS — carry no options)
    val rangeCol = Option(info.options.get("rangecol")).getOrElse(
      info.schema().fields.find(_.dataType == LongType)
        .orElse(info.schema().fields
          .find(f => ShardFormat.physicallyLong(f.dataType)))
        .map(_.name)
        .getOrElse(throw new IllegalArgumentException(
          "gshard: no orderable long-encoded column to range-cluster on; " +
            "set rangeCol")))
    require(info.schema().fieldNames.contains(rangeCol),
      s"gshard: rangeCol $rangeCol not in ${info.schema().fieldNames.mkString(",")}")
    val shards = Option(info.options.get("shards")).map(_.toInt).getOrElse(0)
    val chunkRows = Option(info.options.get("chunkrows")).map(_.toInt)
      .getOrElse(ShardFormat.DefaultChunkRows)
    val txnId = Option(info.options.get("txnid")).map(_.toLong).getOrElse(-1L)
    // optional txn NAMESPACE (Delta's txnAppId): writers with
    // independent txnid sequences must not dedupe each other
    val txnApp = Option(info.options.get("txnappid")).filter(_.nonEmpty)
    val bloomCols = Option(info.options.get("bloomcol"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    bloomCols.foreach(c => require(info.schema().fieldNames.contains(c),
      s"gshard: bloomcol $c not in ${info.schema().fieldNames.mkString(",")}"))
    new ShardWrite(dir, info.schema(), rangeCol, shards,
      truncateFirst, info.queryId(), chunkRows, txnId, bloomCols, txnApp)
  }
}

private[shard] class ShardWrite(dir: String, schema: StructType,
    rangeCol: String, shards: Int, truncateFirst: Boolean, queryId: String,
    chunkRows: Int, txnId: Long, bloomCols: Set[String] = Set.empty,
    txnApp: Option[String] = None)
    extends Write with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution =
    Distributions.ordered(Array(
      Expressions.sort(Expressions.column(rangeCol), SortDirection.ASCENDING)))
  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column(rangeCol), SortDirection.ASCENDING))
  override def requiredNumPartitions(): Int = shards

  override def description(): String =
    s"gshard write $dir rangeCol=$rangeCol"

  override def toBatch: BatchWrite = new ShardBatchWrite(dir, schema,
    truncateFirst, queryId, chunkRows, txnId, bloomCols, txnApp)
}

private[shard] final case class ShardCommitMessage(
    entry: ShardFormat.ShardEntry) extends WriterCommitMessage

private[shard] class ShardBatchWrite(dir: String, schema: StructType,
    truncateFirst: Boolean, queryId: String, chunkRows: Int, txnId: Long,
    bloomCols: Set[String] = Set.empty, txnApp: Option[String] = None)
    extends BatchWrite {

  /** The layout of the files this write stages: the table's PHYSICAL
    * schema, columns mapped by name (drop tombstones as all-null
    * blocks), for an append to an existing table, which must pass
    * [[ShardFormat.requireSchema]] first; the write's own schema for a
    * truncate or a new table. Read once, when the write plans. */
  private lazy val layout: StructType =
    (if (truncateFirst) None else ShardFormat.headOf(dir)) match {
      case Some(h) => ShardFormat.requireSchema(h.schema, schema); h.schema
      case None => schema
    }

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    ShardWriterFactory.mapped(dir, layout, schema, queryId.take(8),
      chunkRows, bloomCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fresh = messages.collect {
      // empty partitions emit no file
      case m: ShardCommitMessage if m.entry.rows > 0 => m.entry
    }.sortBy(_.file).toSeq
    ShardFormat.commit(dir, txn = ShardFormat.Txn(txnId, txnApp),
        truncate = truncateFirst, write = Some(schema),
        staged = fresh.map(_.file)) { head =>
      // a truncate replaces the schema and every entry
      val prior = head.filter(_ => !truncateFirst)
      // the files are positional: a head whose physical schema moved
      // since this write planned would read them under other columns
      if (prior.exists(h =>
          ShardFormat.columns(h.schema) != ShardFormat.columns(layout)))
        throw new java.util.ConcurrentModificationException(
          s"gshard: the schema of $dir changed while this append ran; " +
            "re-plan against the new head and retry")
      ShardFormat.Manifest(prior.fold(schema)(_.schema),
        prior.fold(Seq.empty[ShardFormat.ShardEntry])(_.entries) ++ fresh)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: ShardCommitMessage =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, m.entry.file))
    }
}

private[shard] final case class ShardWriterFactory(dir: String,
    fileSchema: Array[(String, String)], writeTag: String, chunkRows: Int,
    bloomCols: Set[String], rowIdx: Array[Int])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new ShardDataWriter(dir, fileSchema, writeTag, partitionId, chunkRows,
      bloomCols, rowIdx)
}

private[shard] object ShardWriterFactory {
  /** Writes rows of `input` in the file layout `phys`: each physical
    * column takes the input column of its name, a drop tombstone an
    * all-null block, so old and new files stay positionally
    * compatible. */
  def mapped(dir: String, phys: StructType, input: StructType,
      writeTag: String, chunkRows: Int,
      bloomCols: Set[String]): ShardWriterFactory =
    ShardWriterFactory(dir, ShardFormat.columns(phys).toArray, writeTag,
      chunkRows, bloomCols, phys.fields.map(f =>
        if (ShardFormat.isTombstone(f.name)) -1
        else input.fieldIndex(f.name)))
}

/** Streams its (range-disjoint) partition through the chunked file
  * writer — peak memory is ONE CHUNK, not the whole shard — and
  * reports the zone maps upward at task commit. Cells encode through
  * [[ShardFormat.storageValue]]. Spark's commit coordinator guarantees
  * one winner per partition. NULL fields roundtrip through the
  * format's null bitmaps. */
private[shard] class ShardDataWriter(dir: String,
    fileSchema: Array[(String, String)], writeTag: String, partitionId: Int,
    chunkRows: Int, bloomCols: Set[String],
    // physical position → incoming row ordinal; -1 = a DROP tombstone
    // slot (written as an all-null block, keeping old files' positional
    // decode valid)
    rowIdx: Array[Int])
    extends DataWriter[InternalRow] {

  private val schema = StructType(fileSchema.toIndexedSeq.map { case (n, t) =>
    org.apache.spark.sql.types.StructField(n, ShardFormat.dataTypeOf(t)) })
  private val types = schema.fields.map(_.dataType)
  private val file = f"part-$writeTag-$partitionId%05d.gshard"
  private var writer: ShardFormat.ShardFileWriter = null

  override def write(row: InternalRow): Unit = {
    if (writer == null) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      writer = new ShardFormat.ShardFileWriter(s"$dir/$file", schema,
        chunkRows, bloomCols)
    }
    val values = new Array[Any](schema.length)
    var j = 0
    while (j < schema.length) {
      val i = rowIdx(j)
      if (i >= 0) values(j) = ShardFormat.storageValue(row, i, types(j))
      j += 1
    }
    writer.add(values)
  }

  override def commit(): WriterCommitMessage = {
    if (writer == null)
      return ShardCommitMessage(ShardFormat.ShardEntry("", 0L, Map.empty,
        Map.empty))
    val entry = writer.close()
    writer = null
    ShardCommitMessage(entry)
  }

  override def abort(): Unit = ()
  override def close(): Unit = ()
}

private[shard] class ShardScanBuilder(dir: String,
    manifest: ShardFormat.Manifest,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    onPlan: Seq[String] => Unit = null)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
    Count, CountStar, Max, Min, Sum}

  // default projection = the user-VISIBLE schema (drop tombstones are
  // physical placeholders, never scan output)
  private var required: StructType = ShardFormat.visible(manifest.schema)
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[Aggregation] = None
  private var pushedLimit: Option[Int] = None
  private var pushedTopN: Option[(String, Boolean, Int)] = None

  /** LIMIT pushdown at FILE grain: the scan plans only a prefix of
    * the manifest whose row counts reach the limit — a `LIMIT 10`
    * over a million-file table opens one file. PARTIAL (Spark keeps
    * its own Limit; any N rows are a correct un-ordered limit).
    * Refused when filters are pushed: all our filters are residual,
    * so a pre-filter file cap could starve the post-filter limit. */
  override def pushLimit(limit: Int): Boolean = {
    if (pushed.nonEmpty || limit <= 0) false
    else { pushedLimit = Some(limit); true }
  }

  /** TOP-N pushdown at FILE grain — accepted ONLY when the manifest
    * PROVES the ordering: a single sort key on an ordered
    * physically-long column, every file null-free in it (null
    * placement can't matter), and the files' [min,max] ranges
    * pairwise DISJOINT (the range-clustered layout guarantees it; an
    * overlapping append generation refuses). Then the k files at the
    * sorted end whose rows reach N provably contain the global
    * top-N. PARTIAL: Spark still sorts + limits the reduced rows. */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.SortDirection
    if (pushed.nonEmpty || limit <= 0 || orders.length != 1) return false
    val o = orders(0)
    val colName = o.expression() match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    val ok = colName.exists { c =>
      val orderedLong = manifest.schema.fields.exists(f => f.name == c &&
        (f.dataType == LongType || f.dataType == TimestampType ||
          f.dataType == TimestampNTZType || f.dataType == DateType ||
          f.dataType == IntegerType))
      val nullFree = manifest.entries.forall(_.nullCnt.get(c).contains(0L))
      val bounded = manifest.entries.forall(e => e.zMin.contains(c))
      def disjoint = manifest.entries.map(e => (e.zMin(c), e.zMax(c)))
        .sortBy(_._1).sliding(2).forall {
          case Seq((_, aMax), (bMin, _)) => bMin > aMax
          case _ => true
        }
      orderedLong && nullFree && bounded && disjoint
    }
    if (!ok) false
    else {
      pushedTopN = Some((colName.get,
        o.direction() == SortDirection.ASCENDING, limit))
      true
    }
  }

  override def isPartiallyPushed(): Boolean = true

  /** METADATA-ONLY aggregates: an unfiltered, ungrouped COUNT(*) /
    * MIN / MAX over zone-mapped columns is answerable from the
    * manifest alone — zero data files read, the Delta/Iceberg
    * "stats-only query" optimization. Any physically-long ORDERED
    * column qualifies (long / timestamp / timestamp_ntz / date /
    * int — the stored long bounds ARE the catalyst-internal min/max;
    * boolean and decimal are excluded: min(bool) is not a Spark agg
    * shape and decimals would need object results). Files whose
    * entry lacks the column held only NULLs there and legitimately
    * contribute nothing to a null-ignoring MIN/MAX. Filters
    * disqualify (every filter here is residual, so a filtered count
    * must scan), as does any grouping or other aggregate. */
  private def zCol(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[(String, org.apache.spark.sql.types.DataType)] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      val c = nr.fieldNames()(0)
      manifest.schema.fields.find(_.name == c).collectFirst {
        case f if f.dataType == LongType || f.dataType == TimestampType ||
          f.dataType == TimestampNTZType || f.dataType == DateType ||
          f.dataType == IntegerType => (c, f.dataType)
      }
    case _ => None
  }

  /** DOUBLE metadata min/max needs a STRICTER gate than the long
    * path: a missing double bound is ambiguous (all-null OR NaN
    * present — the writer suppresses bounds for NaN-holding files,
    * and under Spark's ordering max would then BE NaN), so the column
    * qualifies only when every file either carries bounds (provably
    * NaN-free) or is provably all-null in it by the manifest's null
    * count. Anything else scans. */
  private def dCol(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      val c = nr.fieldNames()(0)
      manifest.schema.fields.find(_.name == c) match {
        case Some(f) if f.dataType == DoubleType &&
          manifest.entries.forall(en =>
            en.dMin.contains(c) || en.nullCnt.get(c).contains(en.rows)) =>
          Some(c)
        case _ => None
      }
    case _ => None
  }

  /** SUM answered from the manifest's exact per-file sums: the column
    * must be long/int (Spark's Sum result type is LongType for both),
    * EVERY file must carry both the sum (absent = write-time
    * overflow) and the null count (to distinguish "all rows null →
    * SQL NULL" from "sums to zero"), and the planning-time fold must
    * not overflow (ANSI would have thrown on the scan, so a wrapped
    * metadata answer would be a silent lie — refuse and scan, the
    * scan then throws honestly). DISTINCT sums never qualify. */
  private def sumAnswer(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[Any] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      val c = nr.fieldNames()(0)
      manifest.schema.fields.find(_.name == c) match {
        case Some(f) if (f.dataType == LongType ||
            f.dataType == IntegerType) &&
          manifest.entries.forall(en =>
            en.sums.contains(c) && en.nullCnt.contains(c)) =>
          val nonNull = manifest.entries
            .map(en => en.rows - en.nullCnt(c)).sum
          if (nonNull == 0L) Some(null)
          else try {
            var t = 0L
            manifest.entries.foreach(en =>
              t = Math.addExact(t, en.sums(c)))
            Some(java.lang.Long.valueOf(t))
          } catch { case _: ArithmeticException => None }
        case _ => None
      }
    case _ => None
  }

  /** COUNT(col) — the NON-NULL count — answers from the manifest's
    * per-column null counts for ANY column type; every file must
    * carry the count (pre-nullcount manifests scan). DISTINCT never
    * qualifies. */
  private def countAnswer(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[java.lang.Long] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      val c = nr.fieldNames()(0)
      if (manifest.schema.fieldNames.contains(c) &&
          manifest.entries.forall(_.nullCnt.contains(c)))
        Some(java.lang.Long.valueOf(
          manifest.entries.map(en => en.rows - en.nullCnt(c)).sum))
      else None
    case _ => None
  }

  /** MIN/MAX from the zone maps — the typed long-domain path first,
    * then the NaN-gated double path. None = not answerable. */
  private def minMaxAnswer(
      e: org.apache.spark.sql.connector.expressions.Expression,
      isMin: Boolean)
      : Option[(Any, org.apache.spark.sql.types.DataType)] =
    zCol(e).map { case (c, dt) =>
      val vs = manifest.entries
        .flatMap(en => if (isMin) en.zMin.get(c) else en.zMax.get(c))
      ((if (vs.isEmpty) null
        else java.lang.Long.valueOf(if (isMin) vs.min else vs.max)): Any,
        dt)
    }.orElse(dCol(e).map { c =>
      val vs = manifest.entries
        .flatMap(en => if (isMin) en.dMin.get(c) else en.dMax.get(c))
      ((if (vs.isEmpty) null
        else java.lang.Double.valueOf(
          if (isMin) vs.reduce[Double](math.min)
          else vs.reduce[Double](math.max))): Any,
        DoubleType: org.apache.spark.sql.types.DataType)
    })

  /** The full metadata answer vector for `agg`, or None if any
    * expression is unanswerable — MEMOIZED per Aggregation instance,
    * so the manifest folds run ONCE per query instead of once per
    * planner callback (supportCompletePushDown, pushAggregation, and
    * build all consult this). */
  private var aggCache
      : (Aggregation, Option[Array[(Any, org.apache.spark.sql.types.DataType)]]) = null
  private def answersFor(agg: Aggregation)
      : Option[Array[(Any, org.apache.spark.sql.types.DataType)]] = {
    if (aggCache != null && (aggCache._1 eq agg)) aggCache._2
    else {
      // DELETE VECTORS and per-column metadata answers don't mix: the
      // stats are PHYSICAL (they include masked rows), so a min/max/
      // sum/count(col) over a DV-bearing table could answer with a
      // deleted row's value — refuse and scan (the scan masks).
      // COUNT(*) stays exact: live rows = rows − dv count, both known.
      val anyDv = manifest.entries.exists(_.dv.isDefined)
      val r: Option[Array[(Any, org.apache.spark.sql.types.DataType)]] =
        if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty ||
            agg.aggregateExpressions.isEmpty) None
        else {
          val opts = agg.aggregateExpressions.map {
            case _: CountStar => Some((java.lang.Long.valueOf(
              manifest.entries.map(_.liveRows).sum): Any,
              LongType: org.apache.spark.sql.types.DataType))
            case _ if anyDv => None
            case m: Min => minMaxAnswer(m.column, isMin = true)
            case m: Max => minMaxAnswer(m.column, isMin = false)
            case s: Sum if !s.isDistinct => sumAnswer(s.column)
              .map(v => (v, LongType: org.apache.spark.sql.types.DataType))
            case c: Count if !c.isDistinct => countAnswer(c.column)
              .map(v => (v: Any,
                LongType: org.apache.spark.sql.types.DataType))
            case _ => None
          }
          if (opts.forall(_.isDefined)) Some(opts.map(_.get)) else None
        }
      aggCache = (agg, r)
      r
    }
  }

  private def canPush(agg: Aggregation): Boolean =
    answersFor(agg).isDefined

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    canPush(agg)

  override def pushAggregation(agg: Aggregation): Boolean =
    if (!canPush(agg)) false
    else { pushedAgg = Some(agg); true }

  /** A filter is usable for zone-map skipping iff it constrains one
    * physically-long (long/timestamp/date/int/boolean) or string
    * column of the schema with a literal the storage domain can
    * normalize; files whose maps lack the column are always kept, so
    * the type gate here is the only admission check needed. */
  private def usable(f: Filter): Boolean = {
    def typ(c: String) = manifest.schema.fields
      .find(_.name == c).map(_.dataType)
    def ok(c: String, v: Any) = typ(c).exists {
      case StringType => v.isInstanceOf[String]
      case DoubleType => v.isInstanceOf[Double]
      case dt => ShardFormat.toPhysLong(dt, v).isDefined
    }
    f match {
      case EqualTo(c, v) => ok(c, v)
      case GreaterThan(c, v) => ok(c, v)
      case GreaterThanOrEqual(c, v) => ok(c, v)
      case LessThan(c, v) => ok(c, v)
      case LessThanOrEqual(c, v) => ok(c, v)
      case In(c, vs) => vs.nonEmpty && vs.forall(ok(c, _))
      // null predicates skip off the manifest's per-column null
      // counts (the parquet null_count statistic)
      case IsNull(c) => typ(c).isDefined
      case IsNotNull(c) => typ(c).isDefined
      case _ => false
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(usable)
    filters // everything stays residual: skipping is an IO optimization
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = pushedAgg match {
    case Some(agg) =>
      // answer from the manifest at PLANNING time: one row, no files;
      // each answer carries its LOGICAL type (timestamp/date/int
      // min/max come back typed, not as raw longs) — memoized, so
      // this re-reads the cached vector, never re-folds the manifest
      new ShardAggScan(dir, manifest, answersFor(agg).get)
    case None =>
      new ShardScan(dir, manifest, required, pushed,
        Option(options.get("maxfilespertrigger")).map(_.toInt),
        pushedLimit, pushedTopN, onPlan,
        groupFilterOnly = onPlan != null)
  }
}

/** The metadata-only scan: one single-row partition carrying the
  * manifest-derived aggregate values (typed — timestamp/date/int
  * min/max surface in their logical types); no shard file is ever
  * opened. */
private[shard] class ShardAggScan(dir: String,
    manifest: ShardFormat.Manifest,
    answers: Array[(Any, org.apache.spark.sql.types.DataType)])
    extends Scan with Batch {

  override def readSchema(): StructType = StructType(
    answers.zipWithIndex.map { case ((_, dt), i) =>
      org.apache.spark.sql.types.StructField(s"agg_$i", dt, nullable = true)
    }.toIndexedSeq)
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(ShardAggPartition(
      answers.map {
        case (null, _) => Long.MinValue
        case (v: java.lang.Long, _) => v.longValue()
        // doubles travel as raw IEEE bits in the long slot
        case (v: java.lang.Double, _) =>
          java.lang.Double.doubleToRawLongBits(v.doubleValue())
      },
      answers.map(_._1 == null),
      answers.map(a => ShardFormat.typeTag(a._2))))

  override def createReaderFactory(): PartitionReaderFactory =
    new ShardAggReaderFactory

  override def description(): String =
    s"gshard $dir metadata-only aggregate " +
      s"(files=0/${manifest.entries.size} read)"
}

private[shard] final case class ShardAggPartition(values: Array[Long],
    nulls: Array[Boolean], types: Array[String]) extends InputPartition

private[shard] class ShardAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val part = p.asInstanceOf[ShardAggPartition]
      private var done = false
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow = InternalRow.fromSeq(
        part.values.indices.map { i =>
          if (part.nulls(i)) null
          else ShardFormat.dataTypeOf(part.types(i)) match {
            // date/int are int-typed internally; timestamps ARE micros
            case DateType | IntegerType => part.values(i).toInt
            case DoubleType =>
              java.lang.Double.longBitsToDouble(part.values(i))
            case _ => part.values(i)
          }
        })
      override def close(): Unit = ()
    }
}

private[shard] class ShardScan(dir: String, manifest: ShardFormat.Manifest,
    required: StructType, pushed: Array[Filter],
    maxFilesPerTrigger: Option[Int] = None,
    limitRows: Option[Int] = None,
    topN: Option[(String, Boolean, Int)] = None,
    onPlan: Seq[String] => Unit = null,
    groupFilterOnly: Boolean = false) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // every partition decodes columnar, including an empty scan's none
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED

  /** RUNTIME file skipping (the DSv2 dynamic-pruning hook): when this
    * table is the probe side of a join whose build side is selective,
    * Spark materializes the build-side join keys and hands them here
    * as an IN filter AFTER planning — [[survivors]] then re-prunes
    * the shard list against the zone maps before execution, so files
    * holding none of the joined keys are never opened. Static
    * pushdown covers literal predicates; this covers predicates only
    * a join can reveal — both sound for the same reason (residual
    * re-evaluation + false-negative-free maps). */
  private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // a ROW-LEVEL operation's scan advertises ONLY `_file`: the
    // group-filtering rule builds ONE In predicate over ALL advertised
    // attributes — a multi-column struct-IN cannot convert to a V1
    // runtime filter and would be dropped entirely, whereas the
    // single-column `_file IN (...)` arrives intact and prunes the
    // unmatched groups (the Iceberg copy-on-write shape)
    if (groupFilterOnly) {
      return (if (required.fieldNames.contains("_file")) Array("_file")
        else Array.empty[String]).map(
          org.apache.spark.sql.connector.expressions.Expressions.column)
    }
    val mappable = manifest.schema.fields
      .collect { case f if ShardFormat.physicallyLong(f.dataType) ||
        f.dataType == StringType || f.dataType == DoubleType => f.name }.toSet
    // only columns the (pruned) scan OUTPUT carries: Spark resolves
    // these refs against the scan's output attributes. `_file` (the
    // metadata column) is filterable at FILE grain when projected —
    // the handle row-level group filtering prunes with
    (mappable + "_file").intersect(required.fieldNames.toSet)
      .toArray.sorted.map(
        org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters

  /** POST-SKIPPING stats from the manifest, so the join planner sees
    * the table's real size — a small gshard dimension broadcasts
    * instead of defaulting to the worst-case size estimate (which
    * plans a sort-merge join). Bytes are estimated from on-disk file
    * sizes of the SURVIVING shards, rows from their manifest counts —
    * both reflect the pushed filters, which is exactly the number the
    * planner wants. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val surviving = survivors
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(surviving.map(_.liveRows).sum)
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(surviving.map { e =>
          val f = java.nio.file.Paths.get(dir, e.file)
          if (java.nio.file.Files.exists(f)) java.nio.file.Files.size(f)
          else 0L
        }.sum)
    }

  /** STREAMING read path: the manifest is an append-ordered log
    * (appends merge `prior ++ fresh`, so an entry's index is stable),
    * which makes "number of committed entries" a valid monotonic
    * offset — `readStream.format("gshard")` tails the table and each
    * micro-batch reads exactly the newly appended shard files, with
    * admission control (`maxFilesPerTrigger`) honored through
    * `SupportsAdmissionControl`. Compaction rewrites the log
    * (truncate), invalidating open streams — the same caveat file
    * streams and Delta-without-CDF carry. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ShardMicroBatchStream(dir, manifest.schema, required, pushed,
      maxFilesPerTrigger)

  /** Zone-map test: may `entry` contain a row satisfying ALL pushed
    * conjuncts (static AND runtime)? Sound (never drops a possible
    * match); the residual evaluation keeps it exact. Runtime filters
    * arrive unvalidated (unlike pushFilters' usable() gate), but the
    * zone testers guard every column/value shape and keep anything
    * unrecognized. */
  /** Pushed + runtime filters rewritten into the storage domain
    * (timestamp→micros, date→days, int/boolean→long); anything not
    * normalizable is dropped from the SKIPPING set only — it stays in
    * Spark's residual, so admission just widens. */
  private def skipFilters: Seq[Filter] =
    ShardFormat.normalizeFilters(manifest.schema,
      (pushed ++ runtimeFilters).toSeq)

  /** `_file` filters admit exactly the named entries — EXACT, not
    * just sound (the value IS the file identity), which is what lets
    * the row-level rewrite replace exactly the scanned group set. */
  private def fileNameAdmits(e: ShardFormat.ShardEntry): Boolean =
    (pushed ++ runtimeFilters).forall {
      case EqualTo("_file", v: String) => v == e.file
      // unlike the zone testers (where an empty In degrades to
      // admit-all, sound because every filter is residual), `_file`
      // values ARE file identity — an EMPTY runtime group filter
      // means "no group matches" and must prune everything, or a
      // no-op-match MERGE/UPDATE would copy-on-write the whole table
      case In("_file", vs) => vs.contains(e.file)
      case _ => true
    }

  private def survives(e: ShardFormat.ShardEntry): Boolean = {
    // a ROW-LEVEL rewrite's scan admits by `_file` identity ONLY: its
    // keep-predicate (e.g. DELETE's Not(cond)) must never zone-prune
    // a file whose every row matches the condition — that file's rows
    // are exactly the ones the rewrite must drop, and pruning it out
    // of plannedFiles would silently RETAIN them. Today no keep-
    // predicate translates to a usable V1 filter (pushed stays empty),
    // but the restriction makes the invariant structural.
    if (groupFilterOnly) return fileNameAdmits(e)
    val fs = skipFilters
    fileNameAdmits(e) &&
    ShardFormat.longZoneAdmits(fs, e.zMin.contains, e.zMin(_), e.zMax(_)) &&
      ShardFormat.stringZoneAdmits(fs, e.sMin.contains,
        c => ShardFormat.unb64(e.sMin(c)), c => ShardFormat.unb64(e.sMax(c))) &&
      ShardFormat.doubleZoneAdmits(fs, e.dMin.contains,
        e.dMin(_), e.dMax(_)) &&
      ShardFormat.nullCountAdmits(fs, e.nullCnt.get, e.rows) &&
      bloomAdmits(fs, e)
  }

  /** BLOOM skipping for point predicates on non-range-clustered
    * columns (written with the `bloomcol` option): zone maps can't
    * prune when every file's [min,max] spans the domain, but a bloom
    * miss PROVES absence — no false negatives, so skipping stays
    * sound; residual re-evaluation keeps results exact. Files without
    * a bloom for the column always admit. */
  private def bloomAdmits(fs: Seq[Filter],
      e: ShardFormat.ShardEntry): Boolean = {
    import ShardFormat.Bloom
    lazy val bits = scala.collection.mutable.Map.empty[String, Array[Byte]]
    def bloomOf(c: String): Option[Array[Byte]] =
      e.bloom.get(c).map(b => bits.getOrElseUpdate(c, ShardFormat.unb64(b)))
    def hit(c: String, v: Any): Boolean = bloomOf(c) match {
      case None => true
      case Some(b) => v match {
        case l: Long => Bloom.mightContain(b, Bloom.hash64(Bloom.longBytes(l)))
        case s: String => Bloom.mightContain(b, Bloom.hash64(
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        case _ => true
      }
    }
    fs.forall {
      case EqualTo(c, v) => hit(c, v)
      case In(c, vs) if vs.nonEmpty => vs.exists(hit(c, _))
      case _ => true
    }
  }

  private def survivors: Seq[ShardFormat.ShardEntry] =
    manifest.entries.filter(survives)

  /** Take entries (already ordered as desired) until their LIVE row
    * counts reach `n` — the file-grain limit/top-N cap. Live, not
    * physical: a DV-masked file contributes fewer rows than its
    * physical count, and capping on the physical number could starve
    * the limit. */
  private def prefixByRows(es: Seq[ShardFormat.ShardEntry],
      n: Int): Seq[ShardFormat.ShardEntry] = {
    var acc = 0L
    es.takeWhile { e => val keep = acc < n; acc += e.liveRows; keep }
  }

  /** Survivors with the pushed LIMIT / TOP-N file cap applied. Both
    * caps were accepted only with no pushed filters, and runtime
    * filters (a join's late key set) disable them — a post-filter cap
    * over pre-filter row counts could starve the limit. */
  private def cappedSurvivors: Seq[ShardFormat.ShardEntry] = {
    val base = survivors
    if (runtimeFilters.nonEmpty) base
    else topN match {
      case Some((c, asc, n)) =>
        val sorted =
          if (asc) base.sortBy(e => e.zMin(c))
          else base.sortBy(e => -e.zMax(c))
        prefixByRows(sorted, n)
      case None => limitRows match {
        case Some(n) => prefixByRows(base, n)
        case None => base
      }
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val planned = cappedSurvivors
    // row-level rewrites replace EXACTLY what this scan planned: hand
    // the survivor set to the operation before execution starts
    if (onPlan != null) onPlan(planned.map(_.file))
    planned.map(e => ShardInputPartition(s"$dir/${e.file}",
      // typeTag (canonical): typeName loses array element types
      manifest.schema.fields.map(f => (f.name, ShardFormat.typeTag(f.dataType))),
      required.fieldNames,
      skipFilters.toArray,
      dvPath = e.dv.map(d => s"$dir/${d._1}").orNull)).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ShardReaderFactory

  // surfaced in explain(): pruning and pushdown are auditable from the
  // plan text, the same way parquet scans surface PushedFilters; bloom
  // sizing (bits-per-value → expected FP) is reported HONESTLY, with a
  // loud CAPPED flag when build-time sizing hit the 1 MB ceiling and
  // the filter admits more than designed
  override def description(): String = {
    val n = cappedSurvivors.size
    val capNote = topN.map { case (c, asc, k) =>
      s", TopN: [$c ${if (asc) "ASC" else "DESC"} limit $k]"
    }.orElse(limitRows.map(k => s", Limit: [$k]")).getOrElse("")
    val bloomAudit = capNote + {
      val cols = manifest.entries.flatMap(_.bloomBpv.keys).distinct.sorted
      if (cols.isEmpty) ""
      else cols.map { c =>
        val bpv = manifest.entries.flatMap(_.bloomBpv.get(c)).min
        val fp = math.pow(1.0 -
          math.exp(-ShardFormat.Bloom.K.toDouble / bpv.toDouble),
          ShardFormat.Bloom.K.toDouble)
        val capped = if (bpv < 8) " CAPPED" else ""
        f"$c bpv=$bpv fp~${fp * 100}%.2f%%$capped"
      }.mkString(", Blooms: [", "; ", "]")
    }
    s"gshard $dir files=$n/${manifest.entries.size} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}" + bloomAudit
  }
}

/** `n` is LONG: the CDC stream's offsets are table GENERATIONS (a
  * Long counter), and narrowing them to Int would silently wrap past
  * 2^31 commits; the append stream's entry counts are Int-bounded by
  * construction (Seq size) and widen losslessly. json() round-trips
  * the decimal string either way. */
private[shard] final case class ShardOffset(n: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = n.toString
}

/** The gshard MicroBatchStream: offsets index into the append-ordered
  * manifest; zone-map skipping still applies inside each batch slice
  * (sound — every pushed filter stays residual). The manifest is read
  * ONCE per trigger: `latestOffset` refreshes a cached copy and
  * `planInputPartitions` plans against it (re-reading only if its
  * range somehow exceeds the cache — a restart replaying offsets
  * committed by an earlier process). */
private[shard] class ShardMicroBatchStream(dir: String,
    fileSchema: StructType, required: StructType, pushed: Array[Filter],
    maxFilesPerTrigger: Option[Int])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset,
    ReadLimit, ReadMaxFiles}

  @volatile private var cached: ShardFormat.Manifest = null

  private def refresh(): ShardFormat.Manifest = {
    val m = ShardFormat.readManifest(dir)
    cached = m
    m
  }

  // AvailableNow contract: freeze the drain target at query start so
  // the bounded run still RESPECTS the per-trigger read limit
  // (without this Spark falls back to one unpaced batch)
  private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(refresh().entries.size)

  override def initialOffset(): SOffset = ShardOffset(0)
  override def deserializeOffset(json: String): SOffset =
    ShardOffset(json.trim.toLong)
  override def latestOffset(): SOffset = ShardOffset(refresh().entries.size)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: SOffset, limit: ReadLimit): SOffset = {
    val from = start.asInstanceOf[ShardOffset].n
    val total = availableNowCap.getOrElse(refresh().entries.size).toLong
    limit match {
      case f: ReadMaxFiles => ShardOffset(math.min(from + f.maxFiles, total))
      case _ => ShardOffset(total)
    }
  }

  override def planInputPartitions(start: SOffset,
      end: SOffset): Array[InputPartition] = {
    val (a, b) = (start.asInstanceOf[ShardOffset].n,
      end.asInstanceOf[ShardOffset].n)
    // one manifest read per trigger: latestOffset already cached a
    // copy covering this batch's slice; only a restart replaying an
    // offset range beyond the cache (committed by a previous process)
    // forces a re-read
    val m = cached match {
      case c if c != null && c.entries.size >= b => c
      case _ => refresh()
    }
    // entry-count offsets are Int-bounded (Seq size) — exact narrowing
    val scan = new ShardScan(dir,
      ShardFormat.Manifest(fileSchema, m.entries.slice(a.toInt, b.toInt)),
      required, pushed)
    scan.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ShardReaderFactory

  override def commit(end: SOffset): Unit = ()
  override def stop(): Unit = ()
}

/** Serializable task payload: one shard file + the full file schema
  * (name, [[ShardFormat.typeTag]]) + the columns to materialize + the pushed
  * conjuncts the reader may use for CHUNK skipping (sound: residual
  * re-evaluation backs every skip). `constants` are (type, Catalyst
  * value) columns appended after `required`, the same on every row —
  * the CDC feed's `_change_side` and `_commit_version`. */
private[shard] final case class ShardInputPartition(path: String,
    fileSchema: Array[(String, String)], required: Array[String],
    filters: Array[Filter] = Array.empty,
    dvPath: String = null,
    constants: Seq[(org.apache.spark.sql.types.DataType, Any)] = Nil)
  extends InputPartition

/** gshard scans decode columnar only ([[ShardColumnarReader]]); Spark
  * adds the one `ColumnarToRow` where a row consumer needs it. */
private[shard] object ShardReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("gshard scans are columnar")
  override def supportColumnarReads(p: InputPartition): Boolean = true
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new ShardColumnarReader(p.asInstanceOf[ShardInputPartition])
}

/** The one gshard decode path: a [[ShardFormat.ChunkReader]] decodes
  * each surviving chunk of the partition's file straight into this
  * reader's on-heap vectors, so one batch holds exactly one chunk's
  * unmasked rows and reader memory is one chunk per column. Downstream
  * operators consume `ColumnarBatch`es and Spark inserts the one
  * `ColumnarToRow` transition where rows are genuinely needed. NULL
  * slots surface through the vectors' null bits. The `_file` metadata
  * column and the partition's `constants` are `ConstantColumnVector`s,
  * set once per partition. */
private[shard] class ShardColumnarReader(p: ShardInputPartition)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils,
    ConstantColumnVector, OnHeapColumnVector, WritableColumnVector}
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val fileSchema = StructType(p.fileSchema.toIndexedSeq.map {
    case (n, t) => org.apache.spark.sql.types.StructField(n,
      ShardFormat.dataTypeOf(t)) })
  // vectors start at 4096 rows and grow to the largest chunk read
  private val InitialRows = 4096
  // every required column but the constant `_file` decodes; the chunk
  // reader synthesizes `_pos`
  private val decoded = p.required.filterNot(_ == "_file")
  private val vectors: Array[WritableColumnVector] = decoded.map { n =>
    new OnHeapColumnVector(InitialRows,
      if (n == "_pos") LongType else fileSchema(n).dataType)
  }
  private val chunks = new ShardFormat.ChunkReader(p.path, fileSchema,
    decoded.toIndexedSeq, p.filters.toIndexedSeq,
    if (p.dvPath == null) null else ShardFormat.readDeleteVector(p.dvPath))

  /** The chunk audit of the file read so far. */
  def chunksRead: Int = chunks.chunksRead
  def chunksTotal: Int = chunks.chunksTotal

  private def constant(dt: org.apache.spark.sql.types.DataType,
      value: Any): ColumnVector = {
    val v = new ConstantColumnVector(InitialRows, dt)
    ColumnVectorUtils.populate(v, InternalRow(value), 0)
    v
  }
  private val batch = new ColumnarBatch((p.required.toSeq.map {
      case "_file" => constant(StringType,
        UTF8String.fromString(new java.io.File(p.path).getName))
      case n => vectors(decoded.indexOf(n))
    } ++ p.constants.map { case (dt, value) => constant(dt, value) }).toArray)

  override def next(): Boolean = {
    val n = chunks.next(vectors)
    if (n >= 0) batch.setNumRows(n)
    n >= 0
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = try chunks.close() finally batch.close()
}

/** GROUP-BASED (copy-on-write) row-level operation — the engine
  * behind SQL `DELETE` (non-metadata-decidable) / `UPDATE` /
  * `MERGE INTO` on gshard tables. Spark plans ReplaceData over it:
  *
  *  - [[newScanBuilder]] reads the target; the optimizer's runtime
  *    group filtering narrows it to matching `_file` groups (zone
  *    maps prune as on any scan), and the scan hands the operation
  *    the EXACT survivor set it planned;
  *  - Spark computes the replacement rows (survivors of the scanned
  *    groups, updated/merged/inserted rows included);
  *  - [[newWriteBuilder]]'s commit atomically swaps exactly the
  *    scanned files for the freshly written ones — a generational
  *    publish, so VERSION AS OF still reads the pre-op table and
  *    vacuum reclaims the replaced bytes under retention.
  *
  * Sound because replace-what-you-scanned needs no pruning guarantees
  * beyond the scan's own (false-negative-free zone maps: an unscanned
  * file provably holds no matching row). */
private[shard] class ShardRowLevelOperation(dir: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  /** The scanned group set, recorded at plan time, consumed at
    * commit. Re-planning (AQE) overwrites with an identical set. */
  @volatile private[shard] var plannedFiles: Seq[String] = null

  /** The head this operation's scan planned against. The rewrite lays
    * its files out in its physical schema, and its generation is the
    * commit's optimistic-concurrency `basedOn` (a concurrent commit
    * between plan and publish fails this rewrite loudly instead of
    * being destroyed by it). */
  @volatile private[shard] var plannedHead: ShardFormat.Manifest = null

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    plannedHead = ShardFormat.readManifest(dir)
    new ShardScanBuilder(dir, plannedHead, options,
      onPlan = fs => plannedFiles = fs)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new ShardReplaceWrite(dir, info.schema(), info.queryId(),
          ShardRowLevelOperation.this)
    }

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("_file"))

  override def description(): String = s"gshard $cmd copy-on-write"
}

/** The replacement write: same range-clustered layout contract as any
  * gshard write (Spark plans the exchange + sort), commit swaps the
  * operation's scanned files for the fresh ones. */
private[shard] class ShardReplaceWrite(dir: String, schema: StructType,
    queryId: String, op: ShardRowLevelOperation)
    extends Write with RequiresDistributionAndOrdering {

  // ReplaceData writes table columns only; a metadata column here
  // would mean a planner contract change — fail loudly, not subtly
  require(!schema.fieldNames.contains("_file"),
    "gshard: replacement write schema carries metadata columns")

  private val rangeCol: String =
    schema.fields.find(_.dataType == LongType)
      .orElse(schema.fields.find(f => ShardFormat.physicallyLong(f.dataType)))
      .map(_.name)
      .getOrElse(throw new IllegalArgumentException(
        "gshard: no long-encoded column to range-cluster the rewrite on"))

  override def requiredDistribution(): Distribution =
    Distributions.ordered(Array(
      Expressions.sort(Expressions.column(rangeCol),
        SortDirection.ASCENDING)))
  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column(rangeCol), SortDirection.ASCENDING))

  override def description(): String =
    s"gshard copy-on-write rewrite $dir rangeCol=$rangeCol"

  override def toBatch: BatchWrite = new BatchWrite {
    private def unplanned = new IllegalStateException(
      "gshard: replacement written before its scan planned")
    private lazy val head = Option(op.plannedHead).getOrElse(throw unplanned)

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory =
      ShardWriterFactory.mapped(dir, head.schema, schema,
        s"rw${queryId.take(8)}", ShardFormat.DefaultChunkRows,
        // a rewrite must not silently strip the table's point-lookup
        // blooms: rebuild them for every column the existing entries
        // carry one for (the manifest IS the record of the bloom set)
        head.entries.flatMap(_.bloom.keys).toSet)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val scanned = Option(op.plannedFiles).getOrElse(throw unplanned).toSet
      val fresh = messages.collect {
        case m: ShardCommitMessage if m.entry.rows > 0 => m.entry
      }.sortBy(_.file).toSeq
      // a generation on top of the one the SCAN planned from; the
      // replaced bytes reclaim at vacuum
      ShardFormat.commit(dir, basedOn = Some(head.gen), write = Some(schema),
          staged = fresh.map(_.file)) { _ =>
        head.copy(entries = head.entries.filterNot(e => scanned(e.file)) ++ fresh)
      }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      messages.collect { case m: ShardCommitMessage =>
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(dir, m.entry.file))
      }
  }
}
