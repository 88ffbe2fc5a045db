package graft.sources.shard.tests

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructType}

import graft.sources.shard.{ShardColumnarReader, ShardFormat,
  ShardInputPartition, ShardTable}

/** Test-only handle onto the package-private [[ShardTable]] API —
  * lets specs outside the shard package probe the metadata-delete
  * decision procedure directly. */
class TableProbe(dir: String) {
  private val table =
    new ShardTable(dir, ShardFormat.readManifest(dir).schema)
  def canDeleteWhere(filters: Array[Filter]): Boolean =
    table.canDeleteWhere(filters)
}

/** Test-only handles onto `private[shard]` format internals. */
object FormatProbe {
  /** Replay the FIRST HALF of a foreign process's commit — the
    * exclusive-create of the next generation's commit record, WITHOUT
    * the head-pointer move — to drive the crash/interleave windows
    * from specs. */
  def forgeCommitRecord(dir: String,
      m: ShardFormat.Manifest, gen: Long): Unit =
    ShardFormat.linkCommitRecord(dir, m.copy(gen = gen))

  def commitRecordGens(dir: String): Seq[Long] =
    ShardFormat.commitRecordGens(dir)

  def maybeDeflate(raw: Array[Byte]): Option[Array[Byte]] =
    ShardFormat.maybeDeflate(raw)

  def inflate(comp: Array[Byte]): Array[Byte] =
    ShardFormat.inflate(comp)
}

/** Test-side decode of one shard file through the production reader,
  * [[ShardColumnarReader]]: every batch drained, each cell mapped back
  * to its storage value ([[ShardFormat.storageValue]]: long-block types
  * as Long, strings as UTF-8 bytes, lists as arrays), plus the size of
  * each batch and the reader's chunk audit. `_pos` may be required. */
object ReadProbe {
  final case class FileRead(cols: IndexedSeq[IndexedSeq[Any]],
      batchRows: Seq[Int], chunksRead: Int, chunksTotal: Int) {
    def nRows: Int = batchRows.sum
  }

  def read(path: String, schema: StructType, required: Seq[String],
      filters: Seq[Filter] = Nil, dvPath: String = null): FileRead = {
    val types = required.map {
      case "_pos" => LongType
      case n => schema(n).dataType
    }.toIndexedSeq
    val r = new ShardColumnarReader(ShardInputPartition(path,
      schema.fields.map(f => (f.name, ShardFormat.typeTag(f.dataType))),
      required.toArray, filters.toArray, dvPath))
    try {
      val rows = ArrayBuffer.empty[IndexedSeq[Any]]
      val sizes = ArrayBuffer.empty[Int]
      while (r.next()) {
        val b = r.get()
        sizes += b.numRows()
        b.rowIterator().asScala.foreach(row => rows +=
          types.indices.map(c => ShardFormat.storageValue(row, c, types(c))))
      }
      FileRead(types.indices.map(c => rows.map(_(c)).toIndexedSeq),
        sizes.toSeq, r.chunksRead, r.chunksTotal)
    } finally r.close()
  }
}

/** Test-side reads of a commit's row-grain change files. */
object ChangeProbe {
  import java.nio.charset.StandardCharsets
  import org.apache.spark.sql.types.{IntegerType, StructField}
  import graft.sources.shard.ShardCdc

  /** The head generation's change rows, decoded straight from its
    * `chg-` files: the visible columns then the side (±1), with
    * long-encoded values as Long, strings as String, doubles as Double
    * and lists as Seq. */
  def headRows(dir: String): Seq[Seq[Any]] = {
    val m = ShardFormat.readManifest(dir)
    val schema = StructType(ShardFormat.visible(m.schema).fields :+
      StructField(ShardCdc.SideCol, IntegerType))
    m.changes.flatMap { case (f, _) =>
      val dec = ReadProbe.read(s"$dir/$f", schema,
        schema.fieldNames.toIndexedSeq)
      (0 until dec.nRows).map(r => dec.cols.map(c => external(c(r))))
    }
  }

  /** A row as one comparable string: doubles by their raw bits (so NaN
    * matches NaN and −0.0 differs from 0.0), numbers by value
    * whatever their width, lists element-wise. */
  def show(row: Seq[Any]): String = row.map(cell).mkString("(", ",", ")")

  private def cell(v: Any): String = v match {
    case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
    case s: Seq[_] => s.map(cell).mkString("[", ",", "]")
    case null => "null"
    case other => other.toString
  }

  private def external(v: Any): Any = v match {
    case b: Array[Byte] => new String(b, StandardCharsets.UTF_8)
    case a: Array[_] => a.toSeq.map(external)
    case other => other
  }
}
