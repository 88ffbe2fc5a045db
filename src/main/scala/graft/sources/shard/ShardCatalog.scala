package graft.sources.shard

import java.nio.file.{Files, Path, Paths}
import java.util

import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException,
  TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table,
  TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** B23 — a DataSource-V2 `TableCatalog` over a gshard warehouse
  * directory, making the connector reachable from PURE SQL:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.gshard",
  *     "graft.sources.shard.ShardCatalog")
  *   spark.conf.set("spark.sql.catalog.gshard.warehouse", "/path")
  *
  *   CREATE TABLE gshard.main.t AS SELECT ...   -- CTAS
  *   INSERT INTO gshard.main.t SELECT ...       -- appends (range write)
  *   SELECT ... FROM gshard.main.t WHERE ...    -- pruned, pushed scan
  *   DROP TABLE gshard.main.t
  * }}}
  *
  * Identifiers map to `warehouse/<namespace...>/<table>` directories;
  * a table EXISTS iff its manifest does (the manifest is the commit
  * marker everywhere in the format). `createTable` materializes an
  * empty-entry manifest carrying the schema, so the non-atomic CTAS
  * path (create, then AppendData through [[ShardWriteBuilder]] — the
  * same range-distributed write as the path API) and plain INSERT
  * INTO both flow through the one write implementation. Table
  * evolution supports exactly the zero-rewrite kind — `ALTER TABLE
  * … ADD COLUMN` of nullable trailing columns (see [[alterTable]]);
  * anything needing a data rewrite (drop/rename/retype/reposition)
  * rejects, like the layout rebuilds everywhere else in the
  * engine. */
class ShardCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure,
    ProcedureParameter, UnboundProcedure}

  /** SQL-surface MAINTENANCE: `CALL cat.vacuum(table => 'ns.t',
    * keep_versions => k)` — [[ShardFormat.vacuum]] reachable from
    * pure SQL (the Iceberg/Delta procedure shape): drops archived
    * generations beyond the newest `keep_versions` and sweeps data
    * files no retained manifest references; returns one row
    * (n_swept, retained generation count). */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.name == "vacuum",
      s"gshard: unknown procedure ${ident.name} (available: vacuum)")
    new UnboundProcedure {
      override def name(): String = "vacuum"
      override def description(): String =
        "reclaim gshard bytes under generation retention"
      override def bind(inputType: org.apache.spark.sql.types.StructType)
          : BoundProcedure = new BoundProcedure {
        override def name(): String = "vacuum"
        override def description(): String =
          "reclaim gshard bytes under generation retention"
        // keep_versions is REQUIRED (no default): a bare CALL
        // vacuum(table => 't') irreversibly dropping every archived
        // generation — all VERSION AS OF history — is not a default
        // anyone means; the destructive retention must be spelled out
        override def parameters(): Array[ProcedureParameter] = Array(
          ProcedureParameter.in("table",
            org.apache.spark.sql.types.StringType).build(),
          ProcedureParameter.in("keep_versions",
            org.apache.spark.sql.types.IntegerType).build(),
          // concurrent-writer guard: unreferenced files younger than
          // this are NOT swept (an in-flight writer's staged files
          // become referenced only at its publish)
          ProcedureParameter.in("min_age_seconds",
            org.apache.spark.sql.types.LongType)
            .defaultValue("0").build())
        override def isDeterministic: Boolean = false
        override def call(
            input: org.apache.spark.sql.catalyst.InternalRow)
            : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
          require(!input.isNullAt(0),
            "gshard vacuum: table argument must not be NULL")
          require(!input.isNullAt(1),
            "gshard vacuum: keep_versions must be given explicitly " +
              "(0 drops ALL archived generations)")
          val parts = input.getUTF8String(0).toString.split("\\.")
          val tblIdent = Identifier.of(parts.dropRight(1), parts.last)
          require(tableExists(tblIdent),
            s"gshard: no such table ${input.getUTF8String(0)}")
          val keep = input.getInt(1)
          val minAge = if (input.isNullAt(2)) 0L else input.getLong(2)
          val dir = dirOf(tblIdent).toString
          val swept = ShardFormat.vacuum(dir, keep, minAge)
          val retained = ShardFormat.archivedGens(dir).size + 1
          val out = new org.apache.spark.sql.connector.read.LocalScan {
            override def readSchema()
                : org.apache.spark.sql.types.StructType =
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("n_swept",
                  org.apache.spark.sql.types.LongType, nullable = false),
                org.apache.spark.sql.types.StructField("n_retained",
                  org.apache.spark.sql.types.LongType, nullable = false)))
            override def rows()
                : Array[org.apache.spark.sql.catalyst.InternalRow] =
              Array(org.apache.spark.sql.catalyst.InternalRow(
                swept.size.toLong, retained.toLong))
          }
          java.util.Collections.singletonList(
            out: org.apache.spark.sql.connector.read.Scan).iterator()
        }
      }
    }
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "vacuum"))

  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null,
      s"spark.sql.catalog.$name.warehouse must point at a directory")
    warehouse = Paths.get(w)
  }

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): Path =
    ident.namespace.foldLeft(warehouse)(_ resolve _).resolve(ident.name)

  override def tableExists(ident: Identifier): Boolean =
    ShardFormat.hasManifest(dirOf(ident).toString)

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident).toString
    new ShardTable(dir,
      ShardFormat.visible(ShardFormat.readManifest(dir).schema))
  }

  /** SQL time travel: `SELECT ... FROM cat.ns.t VERSION AS OF <gen>`
    * resolves here — the returned table is PINNED to that retained
    * generation (its schema too: a pre-ALTER read shows the narrow
    * schema); writes and DELETEs against it reject. A vacuumed or
    * never-committed version fails loudly in readManifestVersion. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident).toString
    val v = version.toLong
    new ShardTable(dir,
      ShardFormat.visible(
        ShardFormat.readManifestVersion(dir, Some(v)).schema), Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    require(partitions.isEmpty,
      "gshard tables cluster by the write's rangeCol, not partition transforms")
    // mirror the DSv2 write-build validation: unsupported types and
    // manifest-reserved / tombstone-prefixed names reject HERE, not
    // after writeManifest has silently accepted a column the stat
    // parser (or the tombstone filter) would mis-handle — a user
    // column literally named `__dropped_0` must never become an
    // invisible, unwritable tombstone slot
    schema.fields.foreach { f =>
      ShardFormat.validateFieldName(f.name)
      ShardFormat.typeTag(f.dataType)
    }
    val dir = dirOf(ident)
    Files.createDirectories(dir)
    // gen 0 publishes through the commit protocol: two processes
    // racing to create the same table resolve at the exclusive-create
    // commit record, not last-writer-wins
    ShardFormat.commit(dir.toString, basedOn = Some(-1L))(_ =>
      ShardFormat.Manifest(schema, Seq.empty))
    new ShardTable(dir.toString, schema)
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && { ShardFormat.deleteTree(dirOf(ident)); true }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = namespace.foldLeft(warehouse)(_ resolve _)
    if (!Files.isDirectory(ns)) Array.empty
    else ShardFormat.listDir(ns)
      .filter(n => ShardFormat.hasManifest(ns.resolve(n).toString))
      .map(n => Identifier.of(namespace, n))
      .toArray
  }

  /** SCHEMA EVOLUTION, all ZERO-REWRITE kinds. Shard files carry no
    * column names — blocks are POSITIONAL against the manifest
    * schema — which makes three evolutions pure metadata:
    *
    *  - `ADD COLUMN` (nullable, trailing): existing files carry fewer
    *    columns (their header count is authoritative) and read the
    *    new columns as NULL.
    *  - `RENAME COLUMN`: the manifest schema field and every entry's
    *    per-column stats rekey; position (and therefore every byte)
    *    unchanged. Time travel reads the OLD name from the archived
    *    generation.
    *  - `DROP COLUMN`: the field becomes a positional TOMBSTONE
    *    (`__dropped_<pos>`, storage type kept so old files still
    *    decode); it vanishes from every visible schema and its stats
    *    and blooms strip; new files write an all-null block in the
    *    slot (bytes-per-file, not a rewrite). A pre-drop generation
    *    still reads the column via VERSION AS OF.
    *
    * Type changes, positioned/nested adds, and NOT NULL still
    * reject: each would need a rewrite or a null-violating
    * backfill. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = dirOf(ident).toString
    // a schema change is a table GENERATION like any other mutation:
    // VERSION AS OF the previous generation reads the prior schema
    val next = ShardFormat.commit(dir) { head =>
      val m = head.getOrElse(throw new NoSuchTableException(ident))
      val (schema, entries) = changes.foldLeft((m.schema, m.entries)) {
        case ((s, es), ch) => ch match {
          case add: TableChange.AddColumn =>
            require(add.fieldNames.length == 1,
              "gshard: only top-level ADD COLUMN is supported")
            require(add.position == null,
              "gshard ADD COLUMN appends at the end; positions need a rewrite")
            require(add.isNullable,
              "gshard ADD COLUMN must be nullable: existing rows read NULL")
            val name = add.fieldNames()(0)
            ShardFormat.validateFieldName(name)
            require(!s.fieldNames.contains(name),
              s"gshard: column $name already exists")
            ShardFormat.typeTag(add.dataType) // validate supported type
            (StructType(s.fields :+
              org.apache.spark.sql.types.StructField(name, add.dataType)), es)
          case ren: TableChange.RenameColumn =>
            require(ren.fieldNames.length == 1,
              "gshard: only top-level RENAME COLUMN is supported")
            val from = ren.fieldNames()(0)
            val to = ren.newName
            val pos = s.fieldNames.indexOf(from)
            require(pos >= 0 && !ShardFormat.isTombstone(from),
              s"gshard: no such column $from")
            ShardFormat.validateFieldName(to)
            require(!s.fieldNames.contains(to),
              s"gshard: column $to already exists")
            (StructType(s.fields.updated(pos, s.fields(pos).copy(name = to))),
              es.map(e => ShardFormat.renameStats(e, from, to)))
          case del: TableChange.DeleteColumn =>
            require(del.fieldNames.length == 1,
              "gshard: only top-level DROP COLUMN is supported")
            val name = del.fieldNames()(0)
            val pos = s.fieldNames.indexOf(name)
            require(pos >= 0 && !ShardFormat.isTombstone(name),
              s"gshard: no such column $name")
            require(ShardFormat.visible(s).length > 1,
              "gshard: cannot drop the last visible column")
            (StructType(s.fields.updated(pos, s.fields(pos)
              .copy(name = s"${ShardFormat.TombstonePrefix}$pos"))),
              es.map(e => ShardFormat.stripStats(e, name)))
          case other => throw new UnsupportedOperationException(
            "gshard supports ADD/RENAME/DROP COLUMN (zero-rewrite " +
              s"evolutions), not $other")
        }
      }
      ShardFormat.Manifest(schema, entries)
    }
    new ShardTable(dir, ShardFormat.visible(next.schema))
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("gshard rename unsupported")
}
