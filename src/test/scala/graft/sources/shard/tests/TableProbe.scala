package graft.sources.shard.tests

import org.apache.spark.sql.sources.Filter

import graft.sources.shard.{ShardFormat, ShardTable}

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

/** Test-side reads of a commit's row-grain change files. */
object ChangeProbe {
  import java.nio.charset.StandardCharsets
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
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
      val dec = ShardFormat.readShardFile(s"$dir/$f", schema,
        schema.fieldNames.toIndexedSeq)
      (0 until dec.nRows).map(r => dec.cols.toSeq.map(c => external(c(r))))
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
