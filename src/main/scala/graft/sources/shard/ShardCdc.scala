package graft.sources.shard

import java.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition,
  PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
  StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** STREAMING CHANGE-DATA-FEED over gshard generations (r15 verdict
  * task #5 — the Delta CDF-as-stream shape, B60's batch diff made a
  * `MicroBatchStream`):
  *
  * {{{
  *   spark.readStream.format("gshard-cdc")
  *     .option("startingversion", 0)   // default: head at query start
  *     .load(dir)
  * }}}
  *
  * OFFSETS ARE GENERATIONS. A micro-batch (a, b] emits the NET file
  * delta between retained generations a and b as ±side-tagged rows:
  * every row of a file present in b but not a carries
  * `_change_side = +1`, every row of a file present in a but not b
  * carries `-1`, plus `_commit_version = b`. Net composition is exact
  * across multi-generation batches because file names never recur
  * (append names are queryId-scoped, rewrite names generation-
  * scoped): adds/removes are plain set differences of the two
  * manifests. [[ShardCdc.classify]] folds a ±batch into B60's
  * insert/update/delete change rows (rewritten-but-unchanged rows —
  * upsert survivors — cancel out and are suppressed).
  *
  * Generations are IMMUTABLE retained manifests, so a batch replans
  * byte-identically on restart (checkpoint resume is exact); a
  * vacuumed starting generation fails loudly in readManifestVersion —
  * never a partial feed. Reads honor the generation SCHEMAS
  * (append-only evolution: older files decode as a column prefix).
  * Zone skipping is irrelevant here — a CDC feed forwards everything.
  */
class ShardCdcDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "gshard-cdc"

  private def dirOf(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("gshard-cdc: path required"))
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ShardCdc.feedSchema(ShardFormat.visible(
      ShardFormat.readManifest(dirOf(options)).schema))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new ShardCdcTable(dirOf(opts), schema,
      Option(opts.get("startingversion")).map(_.toLong),
      rowLevel = Option(opts.get("rowlevel")).exists(_.toBoolean))
  }

  override def supportsExternalMetadata(): Boolean = true
}

object ShardCdc {
  val SideCol = "_change_side"
  val VersionCol = "_commit_version"

  def feedSchema(table: StructType): StructType = {
    require(!table.fieldNames.contains(SideCol) &&
      !table.fieldNames.contains(VersionCol),
      s"gshard-cdc: table schema shadows $SideCol/$VersionCol")
    StructType(table.fields ++ Seq(
      StructField(SideCol, IntegerType, nullable = false),
      StructField(VersionCol, LongType, nullable = false)))
  }

  /** Fold one ±batch of the feed into B60's change rows: per key, the
    * net old (−1) and new (+1) images full-outer-join and classify
    * insert / update / delete, with unchanged images suppressed
    * (upsert survivors appear identically on both sides and cancel).
    * A plain batch transformation — the `foreachBatch` consumer shape.
    * `valueCols` defaults to every non-key, non-feed column. */
  def classify(batch: DataFrame, keyCol: String,
      valueCols: Seq[String] = Seq.empty): DataFrame =
    classifyImpl(batch, keyCol, valueCols, perCommit = false)

  /** The ROWLEVEL-feed twin of [[classify]]: folds per (key, commit)
    * instead of per key, so a multi-generation batch yields each
    * commit's own insert/update/delete rows (tagged
    * `_commit_version`) rather than one net row per key — the shape
    * the per-commit change files carry. */
  def classifyPerCommit(batch: DataFrame, keyCol: String,
      valueCols: Seq[String] = Seq.empty): DataFrame =
    classifyImpl(batch, keyCol, valueCols, perCommit = true)

  private def classifyImpl(batch: DataFrame, keyCol: String,
      valueCols: Seq[String], perCommit: Boolean): DataFrame = {
    val vals =
      if (valueCols.nonEmpty) valueCols
      else batch.columns.toSeq
        .filterNot(c => c == keyCol || c == SideCol || c == VersionCol)
    // ONE keyed aggregation, no self-join: each key's old (−1) and
    // new (+1) images fold as conditional structs (max over the ≤1
    // non-null image per side — a key appears at most once per
    // generation in a CDC-keyed table). Map-side combinable; also
    // avoids the conflicting-attribute self-join a memory-sink view
    // cannot resolve.
    val groupCols =
      if (perCommit) Seq(col(keyCol), col(VersionCol)) else Seq(col(keyCol))
    val folded = batch.groupBy(groupCols: _*).agg(
      max(when(col(SideCol) === -1,
        struct(vals.map(col): _*))).as("__o"),
      max(when(col(SideCol) === 1,
        struct(vals.map(col): _*))).as("__n"))
    val keep =
      if (perCommit) Seq(col(keyCol), col(VersionCol)) else Seq(col(keyCol))
    folded
      .withColumn("change_type",
        when(col("__o").isNull && col("__n").isNull, lit("unchanged"))
          .when(col("__o").isNull, lit("insert"))
          .when(col("__n").isNull, lit("delete"))
          .when(!(col("__o") <=> col("__n")), lit("update"))
          .otherwise(lit("unchanged")))
      .filter(col("change_type") =!= "unchanged")
      .select(keep ++ (col("change_type") +:
        vals.map(c => col(s"__n.$c").as(c))): _*)
  }
}

private[shard] class ShardCdcTable(dir: String, schema: StructType,
    startingVersion: Option[Long], rowLevel: Boolean = false)
    extends Table with SupportsRead {
  override def name(): String = s"gshard-cdc $dir"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new Scan {
      override def readSchema(): StructType = schema
      override def columnarSupportMode(): Scan.ColumnarSupportMode =
        Scan.ColumnarSupportMode.SUPPORTED
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
        new ShardCdcMicroBatchStream(dir, schema, startingVersion, rowLevel)
      override def description(): String =
        s"gshard-cdc $dir${if (rowLevel) " rowlevel" else ""}"
    }
  }
}

/** Offsets are GENERATION NUMBERS; batch (a, b] = the net manifest
  * delta between the two retained generations. */
/** `rowLevel = true` (option `rowlevel`) switches the feed to the
  * commit-grain CHANGE FILES (r16 verdict task #3): each generation
  * step in a batch emits its own net preimage/postimage rows (the
  * `chg-*` files its mutation wrote at commit — `_change_side` read
  * from the file, `_commit_version` = the step's generation), so a
  * 1-row upsert into an N-row file streams 2 rows, not 2N. Steps
  * whose commit wrote no change files (appends, SQL row-level
  * rewrites) fall back to the ±file diff for that step — correct,
  * just file-grain. Multi-commit batches carry every step's rows
  * tagged by version ([[ShardCdc.classifyPerCommit]] folds them). */
private[shard] class ShardCdcMicroBatchStream(dir: String,
    feedSchema: StructType, startingVersion: Option[Long],
    rowLevel: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset}

  private val tableSchema =
    StructType(feedSchema.fields.dropRight(2))

  // the feed columns' PHYSICAL anchors at stream construction:
  // (name, physical position, storage tag). A DROP or RENAME of a
  // feed column mid-stream must fail with a NAMED restart error, not
  // wedge on an unresolvable name — and a DROP-then-re-ADD of the
  // same name must never silently read the fresh trailing slot as
  // the old column (old-side images would be wrong)
  private val anchors: Seq[(String, Int, String)] = {
    val phys = ShardFormat.readManifest(dir).schema
    tableSchema.fieldNames.toSeq.map { n =>
      val pos = phys.fieldNames.indexOf(n)
      require(pos >= 0, s"gshard-cdc: feed column $n not in $dir")
      (n, pos, ShardFormat.typeTag(phys.fields(pos).dataType))
    }
  }

  /** A generation's physical schema tags PADDED with any anchored
    * feed columns it predates (appended AFTER the physical fields so
    * the file-prefix decode rule is untouched — a file's own header
    * width governs which slots it carries; the padded names resolve
    * in the reader and decode as all-NULL). Without the padding, a
    * replay across a later ADD COLUMN would crash the reader on the
    * unresolvable name instead of reading NULL. */
  private def padTags(fields: Seq[(String, String)])
      : Seq[(String, String)] = {
    val have = fields.map(_._1).toSet
    fields ++ anchors.collect {
      case (n, _, tag) if !have(n) => (n, tag)
    }
  }

  private def requireAnchorsHold(m: ShardFormat.Manifest, gen: Long): Unit =
    anchors.foreach { case (n, pos, tag) =>
      // a feed column ABSENT from an older generation's schema is the
      // ADD COLUMN case (schemas only append; startingversion replay
      // legitimately crosses the ADD): positional prefix decode reads
      // it as NULL soundly, so only an occupied slot with the wrong
      // name or storage tag (drop/rename/retype) fails the feed
      val ok = pos >= m.schema.length ||
        (m.schema.fields(pos).name == n &&
          ShardFormat.typeTag(m.schema.fields(pos).dataType) == tag)
      require(ok,
        s"gshard-cdc: feed column $n was dropped, renamed, or retyped " +
          s"by generation $gen — restart the change feed with a new " +
          "query to pick up the evolved schema")
    }

  // AvailableNow: freeze the drain target at query start — the
  // bounded run drains up to the head generation it saw and stops
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(ShardFormat.readManifest(dir).gen)

  override def initialOffset(): SOffset = {
    val head = ShardFormat.readManifest(dir).gen
    val start = startingVersion match {
      case Some(v) =>
        require(v >= 0 && v <= head,
          s"gshard-cdc: startingversion $v not committed (head $head)")
        // fail NOW if the base generation was vacuumed, not mid-feed
        ShardFormat.readManifestVersion(dir, Some(v))
        v
      case None => head // forward-only feed from the current head
    }
    ShardOffset(start)
  }

  override def deserializeOffset(json: String): SOffset =
    ShardOffset(json.trim.toLong)

  override def latestOffset(): SOffset =
    ShardOffset(availableNowCap
      .getOrElse(ShardFormat.readManifest(dir).gen))

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(start: SOffset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : SOffset = latestOffset()

  override def planInputPartitions(start: SOffset,
      end: SOffset): Array[InputPartition] = {
    val (a, b) = (start.asInstanceOf[ShardOffset].n,
      end.asInstanceOf[ShardOffset].n)
    if (a == b) return Array.empty
    require(a < b, s"gshard-cdc: offsets ran backwards ($a > $b)")
    if (!rowLevel) return diffParts(a, b, b)
    // ROWLEVEL: one step per generation — its own change files when
    // the commit wrote them, the ±file diff otherwise
    ((a + 1) to b).iterator.flatMap { g =>
      // ROWLEVEL RETENTION COUPLING: the per-commit feed needs EVERY
      // generation in the lag window retained (the file-grain feed
      // needs only the endpoints) — name that contract when a vacuum
      // broke it instead of surfacing a bare missing-version error
      val mg =
        try ShardFormat.readManifestVersion(dir, Some(g))
        catch { case e: IllegalArgumentException =>
          throw new IllegalStateException(
            s"gshard-cdc rowlevel: generation $g in the feed's lag " +
              s"window ($a, $b] is no longer retained — the rowlevel " +
              "feed replays PER COMMIT, so vacuum keep_versions must " +
              "cover the slowest consumer's lag (the file-grain feed " +
              "needs only the endpoints); restart from a retained " +
              "generation or raise retention", e)
        }
      requireAnchorsHold(mg, g)
      if (mg.cdf) {
        // captured commit: its change files are the step (an empty
        // captured set — a value-identical re-upsert — emits nothing)
        // chg files carry the commit-time VISIBLE columns + side; a
        // feed column the file predates decodes as NULL (prefix
        // rule + padTags resolution)
        val tags = padTags(
          ShardFormat.visible(mg.schema).fields.toSeq.map(f =>
            (f.name, ShardFormat.typeTag(f.dataType))) :+
            ((ShardCdc.SideCol, "int"))).toArray
        mg.changes.map { case (f, _) =>
          ShardInputPartition(s"$dir/$f", tags,
            tableSchema.fieldNames :+ ShardCdc.SideCol,
            constants = Seq(LongType -> g)): InputPartition
        }
      } else diffParts(g - 1, g, g).toSeq
    }.toArray
  }

  /** The net ±file delta between retained generations `a` and `b`,
    * every row tagged `version`. */
  private def diffParts(a: Long, b: Long,
      version: Long): Array[InputPartition] = {
    val ma = ShardFormat.readManifestVersion(dir, Some(a))
    val mb = ShardFormat.readManifestVersion(dir, Some(b))
    requireAnchorsHold(ma, a)
    requireAnchorsHold(mb, b)
    // file IDENTITY includes the delete vector: a merge-on-read
    // DELETE changes a file's mask without renaming it, and the net
    // delta must then re-emit the file under both masks (−old ∪ +new;
    // classify folds the overlap away, leaving exactly the deleted
    // rows). Data file names never recur; DV sidecar names are
    // UUID-fresh per generation — set difference still composes.
    def ident(e: ShardFormat.ShardEntry): (String, Option[String]) =
      (e.file, e.dv.map(_._1))
    val aIds = ma.entries.map(ident).toSet
    val bIds = mb.entries.map(ident).toSet
    // every file decodes under the END generation's PHYSICAL schema
    // (positions are immutable: evolution only appends fields or
    // tombstones/renames in place, and an older file carries a
    // column prefix — the file header is authoritative for its own
    // width); the feed projects the query-start VISIBLE columns,
    // padded for replays whose end generation predates a later ADD
    val tags = padTags(mb.schema.fields.toSeq.map(f =>
      (f.name, ShardFormat.typeTag(f.dataType)))).toArray
    def parts(m: ShardFormat.Manifest,
        ids: Set[(String, Option[String])], side: Int)
        : Seq[InputPartition] =
      m.entries.filter(e => ids(ident(e))).map { e =>
        ShardInputPartition(s"$dir/${e.file}", tags,
          tableSchema.fieldNames,
          dvPath = e.dv.map(d => s"$dir/${d._1}").orNull,
          constants = Seq(IntegerType -> side, LongType -> version))
      }
    (parts(mb, bIds -- aIds, 1) ++
      parts(ma, aIds -- bIds, -1)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ShardReaderFactory

  override def commit(end: SOffset): Unit = ()
  override def stop(): Unit = ()
}
