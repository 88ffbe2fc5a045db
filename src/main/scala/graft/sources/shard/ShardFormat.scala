package graft.sources.shard

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataInputStream,
  DataOutputStream, EOFException, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Base64

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._

/** B20 — the `gshard` COLUMNAR shard format: the storage half of the
  * engine's DataSource-V2 connector ([[ShardDataSource]]).
  *
  * This is deliberately a real, self-contained file format — not a
  * parquet wrapper — because the point of the connector is to
  * demonstrate the full public `org.apache.spark.sql.connector` read
  * contract (schema inference, COLUMN PRUNING that skips bytes on
  * disk, FILTER-pushdown file skipping over zone maps, partition
  * planning) against storage the engine owns end to end.
  *
  * File layout v4 (`part-<shard>.gshard`) — CHUNKED row groups, the
  * parquet/ORC shape: the writer never holds more than one chunk
  * (default 64k rows) in memory, and a selective reader skips whole
  * chunks off their zone maps without decoding a byte of them:
  * {{{
  *   magic "GSHD" | version INT | nCols INT
  *   chunk*, until EOF:
  *     nRows INT | restLen LONG      (restLen = zone header + columns)
  *     zone header:
  *       one slot per PHYSICALLY-LONG column in schema order:
  *         hasValues BYTE | min LONG | max LONG  (non-null values only)
  *       one slot per STRING column in schema order:
  *         hasValues BYTE
  *         [minLen INT | min bytes | maxLen INT | max bytes]
  *         (slots with either bound over 64 bytes write hasValues=0 —
  *          a missing bound only widens admission, never unsound)
  *       one slot per DOUBLE column in schema order:
  *         hasValues BYTE | min DOUBLE | max DOUBLE
  *         (a chunk holding ANY NaN writes hasValues=0 — NaN orders
  *          specially in Spark (largest, NaN = NaN true), so bounds
  *          that ignored it would prune unsoundly; a missing bound
  *          only admits. -0.0/0.0 compare equal on both sides, so
  *          primitive bounds agree with Spark's evaluation.)
  *     per column, in schema order:
  *       byteLen LONG | encoded block:
  *         null bitmap: ceil(nRows/8) bytes, bit set = NULL
  *         physically-long: tag BYTE —
  *           0 plain        : nRows × 8 bytes (null slots carry 0)
  *           1 delta-varint : zigzag varints of deltas (null slots
  *                            repeat the previous value, delta 0);
  *                            chosen by MEASURED size, so a sorted
  *                            cluster column lands ≪ 8 bytes/row
  *           2 FOR-bitpack  : base LONG | width BYTE (≤ 56) | values
  *                            re-based to the chunk min and packed at
  *                            the minimal bit width, LSB-first (null
  *                            slots pack 0 = base); the parquet
  *                            RLE/bit-packing idea — a BOOLEAN column
  *                            lands at ~1 BIT/row, a constant column
  *                            at ~0; chosen by MEASURED size against
  *                            plain and delta, never worse
  *         double : nRows × 8 bytes (no tag; IEEE bits don't delta)
  *         string : tag BYTE — 0 plain offsets+bytes / 1 dictionary
  *         vector : tag BYTE — 0 fixed-dim: dim INT | nRows×dim elems
  *                             1 variable : (nRows+1)×INT elem offsets
  *                                          | elems
  *                  elems are RAW IEEE bits (4 B float / 8 B double —
  *                  exact roundtrip); fixed-dim null rows hold dim
  *                  zero elements (implicit addressing), variable null
  *                  rows an empty slot; NULL ELEMENTS are rejected at
  *                  write, so blocks need no per-element bitmaps
  *         liststr: (nRows+1)×INT row element offsets
  *                  | (nElems+1)×INT element byte offsets | bytes —
  *                  the plain string block nested under the vector
  *                  offset scheme; null/empty rows hold zero elements
  *                  (their offsets repeat), NULL ELEMENTS are rejected
  *                  at write as for vectors
  * }}}
  *
  * LOGICAL TYPES ride the long block: timestamp / timestamp_ntz
  * (epoch micros — Catalyst's own internal encoding), date (epoch
  * days), int, and boolean (0/1) all encode as physically-long
  * columns, tagged logically in the manifest schema line — the
  * parquet logical-type idea. Zone maps, delta encoding, blooms, and
  * metadata DELETE coverage all apply unchanged because micros/days
  * order exactly as their logical values do.
  * Every column block is length-prefixed, so a reader materializes
  * exactly the requested columns and skips past the rest — column
  * pruning as real IO savings, not a post-read projection. Chunks are
  * self-delimiting (clean EOF at a chunk boundary ends the file; EOF
  * anywhere else is corruption and fails loudly — skips go through
  * [[skipFully]], which can never spin on a truncated file).
  *
  * Sidecar `_manifest.gshard` (line-oriented, our own format so the
  * reader needs no JSON dependency). It is a second hard link to the
  * head generation's immutable commit record `_manifest.v<gen>.gshard`
  * (see [[ShardFormat.publishManifest]]):
  * {{{
  *   gshard v3
  *   schema <name>:<tag>,...   tag ∈ long|double|string|timestamp|
  *                                   timestampntz|date|int|boolean
  *   txn <lastAppliedTxnId>            (optional; append idempotence,
  *                                      the default/anonymous writer)
  *   txnapp <appId> <version>          (optional, repeated; per-app
  *                                      idempotence — Delta's
  *                                      txnAppId/txnVersion shape, so
  *                                      two writers with independent
  *                                      id sequences never dedupe
  *                                      each other)
  *   file <name> <rows> <zones>
  *     zones ;-joined:  <col>=<min>:<max>        physically-long
  *                      <col>#<b64min>:<b64max>  string, base64(UTF-8)
  *                      <col>~<bitsMin>:<bitsMax> double bounds as RAW
  *                                               IEEE bits (decimal
  *                                               long — exact
  *                                               roundtrip, no
  *                                               parse/print drift);
  *                                               absent when the file
  *                                               holds any NaN
  *                      <col>!<nullCount>
  *                      <col>*<sum>              exact per-file SUM of
  *                                               non-null long-domain
  *                                               values; absent when
  *                                               the sum overflowed at
  *                                               write time (the sum
  *                                               pushdown then scans)
  *                      <col>?<b64bloom>
  *                      <col>^<bitsPerValue>     bloom sizing audit
  * }}}
  * Older manifest generations (v1/v2/v3) are REJECTED up front with a
  * rewrite-required error — the chunk layout changed, so a partial
  * "plans fine, dies mid-scan" acceptance would be worse than the
  * loud refusal.
  * The per-file min/max entries are the ZONE MAPS the scan builder
  * prunes with — false-negative-free by construction (a file's map
  * covers every NON-NULL value it holds; a filter comparison against
  * NULL is never true, so null rows can never be the reason a file
  * must survive), so skipping is always sound and the residual filter
  * Spark re-applies keeps results exact. String bounds use UNSIGNED
  * BYTE order — the same order `UTF8String.compareTo` gives Spark's
  * string comparisons, so the pruning decision and the residual
  * evaluation agree on ordering by construction.
  *
  * Shards are RANGE-assigned on a caller-named cluster column
  * (deterministic width from the driver-side min/max — one
  * metadata-scale agg), so selective predicates on that column prune
  * most files; rows sort within shard for deterministic bytes. At
  * 100 TB the writer shape holds: one range shuffle, each task
  * streams its shard out chunk by chunk (peak memory = one chunk, not
  * one shard); only the ≤ nShards stat rows return to the driver.
  * (Local-FS writes here; a production deploy swaps the stream target
  * for an object store and a commit protocol.)
  */
object ShardFormat {

  val Magic = 0x47534844 // "GSHD"
  val Version = 4
  val DefaultChunkRows = 65536

  /** Manifest parses this process performed — the observability hook
    * the per-trigger-caching spec counts (a streaming source must not
    * re-read the manifest once per planning call). */
  val manifestReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Characters with reserved meaning in the manifest's line format:
    * the seven per-file stat markers ('=' '#' '~' '!' '*' '?' '^'),
    * the stat separators (';' ':'), the schema-line separators
    * (',' ':'), and the token separators (space, newline). The stat
    * parser relies on field names containing NONE of these — enforce
    * the invariant at write time instead of assuming it, so a column
    * named `a*b` is rejected loudly rather than mis-parsed on read. */
  private val ManifestReserved = "=#~!*?^:;, \n\r\t".toSet

  private[shard] def validateFieldName(name: String): Unit = {
    require(name.nonEmpty, "gshard: empty column name")
    // `_file` is the reader-synthesized METADATA column: a data
    // column of that name would be silently shadowed by the file-name
    // constant on every read — reject at write, don't hijack at read
    require(name != "_file",
      "gshard: '_file' is a reserved metadata column name")
    // drop tombstones are format-internal placeholders
    require(!isTombstone(name),
      s"gshard: '$TombstonePrefix*' column names are reserved " +
        "(DROP COLUMN tombstones)")
    val bad = name.filter(ManifestReserved)
    require(bad.isEmpty,
      s"gshard: column name '$name' contains manifest-reserved " +
        s"character(s) ${bad.distinct.map(c => s"'$c'").mkString(" ")} — " +
        "rename the column (reserved: = # ~ ! * ? ^ : ; , whitespace)")
  }

  private[shard] def typeTag(dt: DataType): String = dt match {
    case LongType => "long"
    case DoubleType => "double"
    case StringType => "string"
    case TimestampType => "timestamp"
    case TimestampNTZType => "timestampntz"
    case DateType => "date"
    case IntegerType => "int"
    case BooleanType => "boolean"
    // long-backed decimals only (p ≤ 18): the unscaled value rides
    // the long block and ORDERS exactly as the decimal does (fixed
    // scale), so zone maps and delta encoding apply unchanged; the
    // tag carries neither ':' nor ',' (the manifest schema line's
    // field and name/tag separators)
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
      s"decimal_${d.precision}_${d.scale}"
    // VECTOR columns — the embedding type the LLM mandate centers on:
    // float/double element arrays, raw IEEE bits on disk (exact
    // roundtrip), null bitmap at ROW grain as for every other column,
    // no zone maps (no meaningful order), NO null elements (enforced
    // at write — an embedding with null dimensions is malformed, and
    // rejecting them keeps the block layout offset-only). containsNull
    // deliberately collapses in the tag: the data either has null
    // elements (rejected loudly) or doesn't, so both type spellings
    // name the same storage.
    case ArrayType(FloatType, _) => "vecf"
    case ArrayType(DoubleType, _) => "vecd"
    // STRING-LIST columns — the tokenized-corpus currency
    // (text_bpe_tokens output, corpus_token_shards input): the
    // existing string block's offsets+bytes nested under the vector
    // tag scheme (row-grain element offsets over one flattened string
    // block). Same null policy as vectors: row-grain null bitmap,
    // NO null elements (a token list with null tokens is malformed;
    // rejecting keeps the layout offset-only).
    case ArrayType(StringType, _) => "liststr"
    // TOKEN-ID LIST columns — the post-BPE training currency (integer
    // token ids, not strings): row-grain element offsets over ONE
    // flat long-domain element block that rides the SAME measured
    // plain/delta-varint/FOR-bitpack encodings as scalar long columns
    // (ids are small and repetitive — FOR packs them at a few bits
    // per token). Null policy as for every list: row-grain bitmap,
    // NULL ELEMENTS rejected at write (offset-only layout).
    case ArrayType(IntegerType, _) => "listi"
    case ArrayType(LongType, _) => "listl"
    case other => throw new IllegalArgumentException(
      "gshard supports long/double/string/timestamp/timestamp_ntz/" +
        "date/int/boolean/decimal(<=18,s)/array<float>/array<double>/" +
        s"array<string>/array<int>/array<long>, got $other")
  }

  private val DecimalTag = """decimal_(\d+)_(\d+)""".r

  /** Tag → type, the inverse of [[typeTag]]: manifests and task
    * payloads spell every type by its tag. */
  private[shard] def dataTypeOf(tag: String): DataType = tag match {
    case "long" => LongType
    case "double" => DoubleType
    case "string" => StringType
    case "timestamp" => TimestampType
    case "timestampntz" => TimestampNTZType
    case "date" => DateType
    case "int" => IntegerType
    case "boolean" => BooleanType
    case DecimalTag(p, s) => DecimalType(p.toInt, s.toInt)
    // write-time enforcement of no-null-elements makes containsNull =
    // false the honest read schema (tighter codegen downstream)
    case "vecf" => ArrayType(FloatType, containsNull = false)
    case "vecd" => ArrayType(DoubleType, containsNull = false)
    case "liststr" => ArrayType(StringType, containsNull = false)
    case "listi" => ArrayType(IntegerType, containsNull = false)
    case "listl" => ArrayType(LongType, containsNull = false)
  }

  /** Types that ride the physically-long block (and therefore get
    * zone maps, delta encoding, blooms, and metadata-DELETE coverage
    * for free — their long encodings order exactly as the logical
    * values do). */
  private[shard] def physicallyLong(dt: DataType): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType | DateType |
         IntegerType | BooleanType => true
    case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS
    case _ => false
  }

  /** Normalize a FILTER VALUE on a physically-long column into the
    * long domain the zone maps / blooms live in. Pushed-down filter
    * literals arrive as external JVM types (`java.sql.Timestamp` /
    * `Instant` / `LocalDateTime` / `Date` / `LocalDate` / boxed
    * Int/Boolean, depending on the session's java8 datetime setting);
    * anything unrecognized returns None and the filter simply isn't
    * used for skipping — sound, because every filter stays residual. */
  private[shard] def toPhysLong(dt: DataType, v: Any): Option[Long] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    (dt, v) match {
      case (LongType, l: Long) => Some(l)
      case (LongType, l: java.lang.Long) => Some(l.longValue())
      case (TimestampType, t: java.sql.Timestamp) =>
        Some(DateTimeUtils.fromJavaTimestamp(t))
      case (TimestampType, i: java.time.Instant) =>
        Some(DateTimeUtils.instantToMicros(i))
      case (TimestampNTZType, l: java.time.LocalDateTime) =>
        Some(DateTimeUtils.localDateTimeToMicros(l))
      case (DateType, d: java.sql.Date) =>
        Some(DateTimeUtils.fromJavaDate(d).toLong)
      case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay)
      case (IntegerType, i: java.lang.Integer) => Some(i.longValue())
      case (BooleanType, b: java.lang.Boolean) =>
        Some(if (b.booleanValue()) 1L else 0L)
      case (d: DecimalType, v: java.math.BigDecimal)
          if d.precision <= Decimal.MAX_LONG_DIGITS =>
        // bring the literal to the COLUMN's scale; a literal needing
        // more fractional digits cannot equal any stored value, but
        // range-pruning with a rounded bound would be UNSOUND — so
        // normalize only exact rescales, else skip the filter
        try Some(v.setScale(d.scale).unscaledValue().longValueExact())
        catch { case _: ArithmeticException => None }
      case (d: DecimalType, v: Decimal)
          if d.precision <= Decimal.MAX_LONG_DIGITS =>
        toPhysLong(d, v.toJavaBigDecimal)
      case _ => None
    }
  }

  /** Rewrite pushed filters into the storage domain: comparisons on
    * physically-long columns get Long literals (via [[toPhysLong]]),
    * strings pass through, and any filter whose value can't be
    * normalized is DROPPED from the skipping set (never from the
    * residual Spark evaluates — dropping only widens admission). */
  private[shard] def normalizeFilters(schema: StructType,
      filters: Seq[Filter]): Seq[Filter] = {
    def typ(c: String): Option[DataType] =
      schema.fields.find(_.name == c).map(_.dataType)
    def norm(c: String, v: Any): Option[Any] = typ(c) match {
      case Some(StringType) => v match {
        case s: String => Some(s)
        case _ => None
      }
      // doubles need no rewrite — the literal already lives in the
      // storage domain; doubleZoneAdmits handles NaN specially
      case Some(DoubleType) => v match {
        case d: Double => Some(d)
        case _ => None
      }
      case Some(dt) if physicallyLong(dt) => toPhysLong(dt, v)
      case _ => None
    }
    filters.flatMap {
      case EqualTo(c, v) => norm(c, v).map(EqualTo(c, _))
      case GreaterThan(c, v) => norm(c, v).map(GreaterThan(c, _))
      case GreaterThanOrEqual(c, v) =>
        norm(c, v).map(GreaterThanOrEqual(c, _))
      case LessThan(c, v) => norm(c, v).map(LessThan(c, _))
      case LessThanOrEqual(c, v) => norm(c, v).map(LessThanOrEqual(c, _))
      case In(c, vs) if vs.nonEmpty =>
        val nv = vs.map(norm(c, _))
        if (nv.forall(_.isDefined)) Some(In(c, nv.map(_.get)))
        else None
      case f => Some(f) // IsNull etc. — zone testers keep what they
                        // don't recognize, so passing through is sound
    }
  }

  private[graft] def b64(bytes: Array[Byte]): String =
    Base64.getEncoder.encodeToString(bytes)
  private[graft] def unb64(s: String): Array[Byte] =
    Base64.getDecoder.decode(s)

  /** One manifest entry: a shard file plus its zone maps — long
    * columns as (min, max) longs, string columns as base64(UTF-8)
    * bounds in unsigned-byte order. A column ABSENT from the maps
    * held no non-null value in the file (or predates the map);
    * pruning keeps such files. `nullCnt` carries EVERY column (zero
    * included): a column absent from it means the count is UNKNOWN (a
    * pre-nullcount manifest), which delete coverage treats as
    * not-provably-null-free. `bloomBpv` records each bloom's ACHIEVED
    * bits-per-value — the sizing audit that makes a capped
    * (degraded-FP) bloom visible instead of silently admitting
    * everything. */
  /** `dv` — the file's DELETE VECTOR (merge-on-read row-level
    * deletes): `Some((sidecarName, deletedCount))` when a position-
    * delete sidecar masks rows of this file at read time. `rows`
    * stays the PHYSICAL row count (the decode contract); live rows =
    * `rows - dv.count`. Sidecars are immutable per generation — a
    * further delete merges positions into a NEW sidecar — so time
    * travel and CDC read each generation's mask exactly. */
  final case class ShardEntry(file: String, rows: Long,
      zMin: Map[String, Long], zMax: Map[String, Long],
      sMin: Map[String, String] = Map.empty,
      sMax: Map[String, String] = Map.empty,
      nullCnt: Map[String, Long] = Map.empty,
      bloom: Map[String, String] = Map.empty,
      bloomBpv: Map[String, Long] = Map.empty,
      dMin: Map[String, Double] = Map.empty,
      dMax: Map[String, Double] = Map.empty,
      sums: Map[String, Long] = Map.empty,
      dv: Option[(String, Long)] = None) {
    /** Rows a reader returns after DV masking. */
    def liveRows: Long = rows - dv.map(_._2).getOrElse(0L)
  }

  /** `lastTxn` is the DEFAULT (anonymous) writer's last applied txn
    * id; `txns` namespaces per-app versions (Delta's
    * txnAppId/txnVersion), so independent writers never dedupe each
    * other's ids. `gen` is the table GENERATION (commit version):
    * every commit archives the previous head manifest as
    * `_manifest.v<gen>.gshard` and writes gen+1 — the retained chain
    * is what `VERSION AS OF` reads and what vacuum's retention
    * protects.
    *
    * `changes` are THIS generation's row-grain CHANGE FILES (the Delta
    * CDF choice): `(file, rows)` pairs naming `chg-*` data files that
    * hold the commit's NET preimage/postimage rows (visible columns +
    * `_change_side` ±1), written by the mutation at commit time where
    * the data was already in hand. `cdf` is true when the commit
    * CAPTURED row-grain changes, even an empty net set (a
    * value-identical re-upsert changes zero rows). Both describe ONE
    * commit: [[commit]] sets them, so they never carry into the next
    * generation. The rowlevel CDC feed falls back to the ±file diff
    * only for commits WITHOUT capture (appends, ALTERs, metadata
    * deletes, SQL row-level rewrites). Change files are invisible to
    * normal scans and vacuum under the same retention as data files. */
  final case class Manifest(schema: StructType, entries: Seq[ShardEntry],
      lastTxn: Long = -1L, txns: Map[String, Long] = Map.empty,
      gen: Long = 0L, changes: Seq[(String, Long)] = Seq.empty,
      cdf: Boolean = false)

  /** Per-file BLOOM filters for point lookups on columns the range
    * clustering does NOT order — where zone maps cannot prune because
    * every file's [min,max] spans the domain (Parquet solves the same
    * gap with column-index bloom filters). No false negatives by
    * construction; k=4 double hashing over an FNV-1a 64 of the value
    * bytes; sized at close to ~16 bits per distinct-ish value (the
    * writer buffers 8-byte hashes, never values). */
  private[graft] object Bloom {
    val K = 4
    def hash64(bytes: Array[Byte]): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < bytes.length) {
        h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1
      }
      h
    }
    def longBytes(v: Long): Array[Byte] = {
      val b = new Array[Byte](8)
      var i = 0
      while (i < 8) { b(i) = (v >>> (56 - 8 * i)).toByte; i += 1 }
      b
    }
    def build(hashes: Iterable[Long]): Array[Byte] = {
      val n = hashes.size.max(1)
      var mBits = java.lang.Long.highestOneBit(16L * n) << 1
      mBits = math.max(1024L, math.min(mBits, 1L << 23))
      val bits = new Array[Byte]((mBits / 8).toInt)
      hashes.foreach { h => set(bits, h) }
      bits
    }
    private def positions(bits: Array[Byte], h: Long): Seq[Int] = {
      val m = bits.length * 8
      val h1 = (h & 0xffffffffL).toInt
      val h2 = ((h >>> 32) | 1L).toInt // odd step
      (0 until K).map(i => math.floorMod(h1.toLong + i.toLong * h2, m).toInt)
    }
    def set(bits: Array[Byte], h: Long): Unit =
      positions(bits, h).foreach { p =>
        bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte
      }
    def mightContain(bits: Array[Byte], h: Long): Boolean =
      positions(bits, h).forall(p => (bits(p >> 3) & (1 << (p & 7))) != 0)
  }

  // ── varint / zigzag (the delta long-block encoding) ────────────────
  private[shard] def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  private[shard] def unzigzag(u: Long): Long = (u >>> 1) ^ -(u & 1L)
  private[shard] def varintLen(u: Long): Int =
    (63 - java.lang.Long.numberOfLeadingZeros(u | 1L)) / 7 + 1
  private[shard] def writeVarint(out: DataOutputStream, u0: Long): Unit = {
    var u = u0
    while ((u & ~0x7FL) != 0L) {
      out.writeByte(((u & 0x7FL) | 0x80L).toInt); u >>>= 7
    }
    out.writeByte(u.toInt)
  }
  private[shard] def readVarint(in: DataInputStream): Long = {
    var u = 0L; var shift = 0
    var b = in.readUnsignedByte()
    while ((b & 0x80) != 0) {
      u |= (b & 0x7FL) << shift; shift += 7; b = in.readUnsignedByte()
    }
    u | (b.toLong << shift)
  }

  // ── flat long-sequence codec (token-id list elements) ──────────────
  // The SAME measured three-way choice as scalar long columns — plain
  // 8-byte, zigzag-delta varint, FOR-bitpack — over a flat element
  // sequence: tag BYTE + payload. Token ids are small and repetitive,
  // so FOR typically lands a few BITS per token.

  private[shard] def writeLongSeq(bdos: DataOutputStream,
      vals: Array[Long]): Unit = {
    val n = vals.length
    var mn = Long.MaxValue; var mx = Long.MinValue
    var deltaLen = 0L
    var prev = 0L
    var i = 0
    while (i < n) {
      val v = vals(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      deltaLen += varintLen(zigzag(v - prev))
      prev = v
      i += 1
    }
    if (n == 0) { bdos.writeByte(0); return }
    val range = mx - mn
    val width =
      if (range == 0L) 0
      else if (range < 0L) 64
      else 64 - java.lang.Long.numberOfLeadingZeros(range)
    val forLen =
      if (width > 56) Long.MaxValue
      else 9L + (n.toLong * width + 7) / 8
    if (forLen < 8L * n && forLen <= deltaLen) {
      bdos.writeByte(2)
      bdos.writeLong(mn)
      bdos.writeByte(width)
      var acc = 0L; var nb = 0
      i = 0
      while (i < n) {
        acc |= (vals(i) - mn) << nb
        nb += width
        while (nb >= 8) {
          bdos.writeByte((acc & 0xFFL).toInt); acc >>>= 8; nb -= 8
        }
        i += 1
      }
      if (nb > 0) bdos.writeByte((acc & 0xFFL).toInt)
    } else if (deltaLen < 8L * n) {
      bdos.writeByte(1)
      prev = 0L
      i = 0
      while (i < n) {
        writeVarint(bdos, zigzag(vals(i) - prev)); prev = vals(i); i += 1
      }
    } else {
      bdos.writeByte(0)
      i = 0
      while (i < n) { bdos.writeLong(vals(i)); i += 1 }
    }
  }

  private[shard] def readLongSeq(dis: DataInputStream,
      n: Int): Array[Long] = {
    val out = new Array[Long](n)
    dis.readByte() match {
      case 0 =>
        var i = 0
        while (i < n) { out(i) = dis.readLong(); i += 1 }
      case 1 =>
        var prev = 0L
        var i = 0
        while (i < n) {
          prev += unzigzag(readVarint(dis)); out(i) = prev; i += 1
        }
      case 2 =>
        val base = dis.readLong()
        val width = dis.readUnsignedByte()
        val packed = new Array[Byte](((n.toLong * width + 7) / 8).toInt)
        dis.readFully(packed)
        val mask = if (width == 0) 0L else (1L << width) - 1L
        var acc = 0L; var nb = 0; var bp = 0
        var i = 0
        while (i < n) {
          while (nb < width) {
            acc |= (packed(bp) & 0xFFL) << nb; bp += 1; nb += 8
          }
          out(i) = base + (acc & mask)
          acc >>>= width; nb -= width
          i += 1
        }
      case other => throw new IllegalStateException(
        s"gshard: unknown long-seq encoding tag $other")
    }
    out
  }

  // ── payload block compression (string / string-list blocks) ────────
  // Per-block DEFLATE (java.util.zip, BEST_SPEED), chosen by MEASURED
  // size like every other encoding in the format — never larger than
  // raw, never applied to blocks too small to matter. The flag bit
  // rides the block's existing encoding tag; compressed payloads
  // carry a 4-byte raw length so the reader can size its buffer. Zone
  // maps, null bitmaps, and the chunk header stay uncompressed — the
  // skipping machinery never inflates a byte it then discards.

  /** OR'd into a string/liststr block tag when the payload deflated. */
  private[shard] val CompressFlag = 2
  /** Blocks under this size skip the probe (the 4-byte header + zlib
    * overhead can't win). */
  private[shard] val MinCompressBytes = 64

  /** Toggle: `-Dgraft.gshard.compress=false` writes raw payloads
    * (readers accept both unconditionally). */
  private[shard] def compressEnabled: Boolean =
    sys.props.get("graft.gshard.compress").forall(_.toBoolean)

  /** Deflate `raw`; Some(4-byte rawLen + deflated bytes) only when
    * strictly smaller than `raw`, else None (keep raw). */
  private[shard] def maybeDeflate(raw: Array[Byte]): Option[Array[Byte]] = {
    if (!compressEnabled || raw.length < MinCompressBytes) return None
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.BEST_SPEED)
    try {
      d.setInput(raw); d.finish()
      // worst case a hair over input size; cap the probe buffer at
      // raw size — overflowing it just means "didn't win"
      val buf = new Array[Byte](raw.length)
      var off = 4
      while (!d.finished() && off < buf.length)
        off += d.deflate(buf, off, buf.length - off)
      if (!d.finished() || off >= raw.length) None
      else {
        val out = java.util.Arrays.copyOf(buf, off)
        out(0) = (raw.length >>> 24).toByte
        out(1) = (raw.length >>> 16).toByte
        out(2) = (raw.length >>> 8).toByte
        out(3) = raw.length.toByte
        Some(out)
      }
    } finally d.end()
  }

  /** Inflate a compressed payload read off disk: `comp` holds the
    * 4-byte raw length followed by the deflated bytes. */
  private[shard] def inflate(comp: Array[Byte]): Array[Byte] = {
    val rawLen = ((comp(0) & 0xFF) << 24) | ((comp(1) & 0xFF) << 16) |
      ((comp(2) & 0xFF) << 8) | (comp(3) & 0xFF)
    require(rawLen >= 0, s"gshard: corrupt compressed block ($rawLen)")
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(comp, 4, comp.length - 4)
      val out = new Array[Byte](rawLen)
      var off = 0
      var progress = true
      while (off < rawLen && !inf.finished() && progress) {
        val n = inf.inflate(out, off, rawLen - off)
        // a truncated-but-valid deflate prefix returns 0 forever
        // (needsInput with nothing left) — FAIL, never hang (the
        // skipFully contract: truncation is loud)
        progress = n > 0
        off += n
      }
      require(off == rawLen, "gshard: truncated compressed block")
      out
    } finally inf.end()
  }

  /** Chunk-header string zone bounds are capped at this length: a
    * chunk whose min or max exceeds it writes an empty slot (admit
    * always) rather than truncated bounds — missing bounds are sound,
    * truncated upper bounds would not be. */
  private[shard] val MaxChunkStringBound = 64

  /** Write `df` as `nShards` range-clustered shard files + manifest.
    * `rangeCol` must be a non-null long column; every column must have
    * a [[typeTag]] (nullable — nulls roundtrip exactly). One job reads
    * the key range before the directory is touched, so a NULL key
    * fails it and leaves the directory as it was.
    *
    * This is a REBUILD, not a commit on top: the directory is deleted
    * first and the table starts again at generation 0, so no earlier
    * generation stays readable. Staged builds rebuild from scratch
    * ([[ensureStaged]]), and specs and the benchmark read generation 0
    * after it. A DSv2 `mode("overwrite")`, by contrast, publishes a new
    * generation on top of the head. */
  def write(df: DataFrame, dir: String, rangeCol: String,
      nShards: Int, chunkRows: Int = DefaultChunkRows): Manifest = {
    val schema = df.schema
    schema.fields.foreach { f => // validate early, before any shuffle
      validateFieldName(f.name); typeTag(f.dataType)
    }
    require(schema(rangeCol).dataType == LongType,
      s"range column $rangeCol must be long")
    // each non-empty partition's key range
    val ranges = PlanBridge.collectPartitions(df.select(col(rangeCol)),
        "gshard range") { it =>
      var lo = Long.MaxValue
      var hi = Long.MinValue
      it.foreach { r =>
        require(!r.isNullAt(0), s"gshard: range column $rangeCol must be non-null")
        lo = math.min(lo, r.getLong(0))
        hi = math.max(hi, r.getLong(0))
      }
      if (lo > hi) Iterator.empty else Iterator.single((lo, hi))
    }
    deleteTree(Paths.get(dir))
    Files.createDirectories(Paths.get(dir))
    val entries =
      if (ranges.isEmpty) Seq.empty // an empty frame: no shard file
      else writeData(df, dir, col(rangeCol),
        (ranges.map(_._1).min, ranges.map(_._2).max), nShards, chunkRows)
    commit(dir, basedOn = Some(-1L))(_ => Manifest(schema, entries))
  }

  /** Deletes `path` and everything under it, if it exists. */
  private[shard] def deleteTree(path: java.nio.file.Path): Unit =
    if (Files.exists(path)) {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(path)
      try s.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }

  /** The range-clustered DATA write alone — shard files land in `dir`
    * (named `<namePrefix><prefix><shard>.gshard`) and their manifest
    * entries return to the caller, who decides how to publish them
    * (fresh manifest for [[write]], change files for
    * [[ShardOps.deleteMor]]). Nothing is visible to readers until a
    * manifest names the files. `rk` is the clustering key as a storage
    * long and `bounds` its range, which the caller knows; shard `i`
    * holds the keys of the `i`-th of `nShards` equal-width slices of
    * it, and neither the bounds nor any other per-call value becomes a
    * SQL literal, so repeated writes reuse their generated code
    * ([[clusteredWrite]]). */
  private[shard] def writeData(df: DataFrame, dir: String, rk: Column,
      bounds: (Long, Long), nShards: Int, chunkRows: Int = DefaultChunkRows,
      prefix: String = "", namePrefix: String = "part-"): Seq[ShardEntry] = {
    val schema = df.schema
    clusteredWrite(df, rk, bounds, nShards,
      schema.fieldNames.toSeq.map(col)) { it =>
      writeTaskShard(it, dir, schema, chunkRows, prefix, namePrefix)
    }
  }

  /** Name prefix of a commit's row-grain change files. */
  private[shard] val ChangePrefix = "chg-"

  /** Input sides of a MERGE rewrite row: sorted source rows first. */
  private[shard] val SourceSide = 0
  private[shard] val TouchedSide = 1

  /** The fused MERGE rewrite: one clustered write of `tagged` (key,
    * input side, touched row as a struct of the visible columns, source
    * row as a struct), each shard's rows sorted by (key, side) for
    * [[mergeTaskShard]], whose data files roll over at `fileRows` rows.
    * Returns (data entries, change entries). */
  private[shard] def writeMerge(tagged: DataFrame, dir: String,
      schema: StructType, rangeExpr: Column, nShards: Int, fileRows: Long,
      bounds: (Long, Long), prefix: String, bloomCols: Set[String],
      perKey: ShardOps.PerKey): (Seq[ShardEntry], Seq[ShardEntry]) = {
    val keyAt = visible(schema).fieldIndex(tagged.columns.head)
    val srcWidth = tagged.schema(3).dataType.asInstanceOf[StructType].length
    clusteredWrite(tagged, rangeExpr.cast("long"), bounds, nShards,
      tagged.columns.toSeq.take(2).map(col)) { it =>
      mergeTaskShard(it, dir, schema, keyAt, srcWidth, fileRows, prefix,
        bloomCols, perKey)
    }.partition(e => !e.file.startsWith(ChangePrefix))
  }

  /** One shuffle of `df` into `nShards` write tasks, task `i` holding
    * exactly the rows of shard `i` ([[shardOf]] over `bounds` on the
    * storage-long `rk`, passed through as the partition id, so no two
    * shards share a task), sorted within it by `sortCols`; each task
    * streams its Catalyst rows, the shard id trailing, through `task`
    * (one SQL execution, so listeners see the write like any action);
    * only the manifest entries return to the driver.
    *
    * No per-commit value may enter the plan as a SQL literal: Spark
    * inlines a literal into the generated Java source, so bounds or a
    * shard count that change every commit would compile new classes on
    * every commit. The bounds ride in [[shardOf]]'s closure; the shard
    * count is the partition count, which a merge keeps from commit to
    * commit ([[ShardOps.merge]]). */
  private def clusteredWrite(df: DataFrame, rk: Column, bounds: (Long, Long),
      nShards: Int, sortCols: Seq[Column])(
      task: Iterator[InternalRow] => Iterator[ShardEntry]): Seq[ShardEntry] = {
    val clustered = df
      .withColumn("__shard", shardOf(bounds._1, bounds._2, nShards)(rk))
      .repartitionById(nShards, col("__shard"))
      .sortWithinPartitions(sortCols: _*)
    PlanBridge.collectPartitions(clustered, "gshard write")(task)
      .sortBy(_.file).toSeq
  }

  /** The shard of a storage-long key: `n` slices of equal width over
    * [lo, hi], a key outside them clamped to the first or last shard.
    * A UDF, not a SQL expression: its closure, not a literal, carries
    * (lo, width, n), so the generated code is the same for every range
    * ([[clusteredWrite]]). The width and the offset are unsigned, so a
    * range wider than 2^63 (signed 64-bit hash ids) neither overflows
    * nor trips ANSI; one shard over all 2^64 keys wraps its width to 0.
    * A NULL key gives a NULL shard, which the write task rejects. */
  private def shardOf(lo: Long, hi: Long, n: Int): UserDefinedFunction = {
    val width = java.lang.Long.divideUnsigned(hi - lo, n.toLong) + 1
    udf { (k: Long) =>
      if (k < lo || width == 0) 0
      else if (k > hi) n - 1
      else java.lang.Long.divideUnsigned(k - lo, width).toInt
    }
  }

  /** A storage value as Spark's grouping sees it — −0.0 as 0.0, every
    * NaN as the canonical NaN (its NormalizeFloatingNumbers), also
    * inside float/double arrays: the cells a MERGE change row carries
    * for its run of equal rows. */
  private def canonical(v: Any): Any = v match {
    case d: Double => if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d
    case a: Array[Double] =>
      a.map(d => if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d)
    case a: Array[Float] =>
      a.map(f => if (f == 0.0f) 0.0f else if (f.isNaN) Float.NaN else f)
    case other => other
  }

  /** Executor side: stream this task's rows, all of one shard, into
    * that shard's file through the chunked writer — peak memory is one
    * chunk, regardless of shard size. The trailing shard id names the
    * file; it is NULL only for a NULL key, whose row reaches task 0
    * and fails it here. */
  private def writeTaskShard(
      it: Iterator[InternalRow], dir: String, schema: StructType,
      chunkRows: Int, prefix: String, namePrefix: String)
      : Iterator[ShardEntry] = {
    val nCols = schema.length
    val types = schema.fields.map(_.dataType)
    var writer: ShardFileWriter = null
    it.foreach { r =>
      require(!r.isNullAt(nCols), "gshard: range column must be non-null")
      if (writer == null) writer = new ShardFileWriter(
        f"$dir/$namePrefix$prefix${r.getInt(nCols)}%05d.gshard", schema,
        chunkRows)
      val values = new Array[Any](nCols)
      var i = 0
      while (i < nCols) { values(i) = storageValue(r, i, types(i)); i += 1 }
      writer.add(values)
    }
    Option(writer).map(_.close()).filter(_.rows > 0).iterator
  }

  /** Executor side of [[writeMerge]]: the task's shard (named as in
    * [[writeTaskShard]]) as data files of at most `fileRows` rows each
    * (`part-<prefix><shard>.gshard`, then `-1`, `-2`, … before the
    * extension) and one change file. A key without source rows streams
    * into the data files; a key with source rows (at most
    * [[DefaultChunkRows]] with its touched rows, held in memory) goes
    * through `perKey`, its output into the data files and, against its
    * touched rows, its non-zero net differences into the change file. */
  private def mergeTaskShard(it: Iterator[InternalRow], dir: String,
      schema: StructType, keyAt: Int, srcWidth: Int, fileRows: Long,
      prefix: String, bloomCols: Set[String], perKey: ShardOps.PerKey)
      : Iterator[ShardEntry] = {
    val visIdx = schema.fields.indices
      .filterNot(i => isTombstone(schema(i).name)).toArray
    val visTypes = visIdx.map(schema(_).dataType)
    val nVis = visIdx.length
    val keyType = visTypes(keyAt)
    val chgSchema = StructType(visIdx.map(schema(_)).toSeq :+
      StructField(ShardCdc.SideCol, IntegerType, nullable = false))
    val order = org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
      .forSchema(visTypes.toSeq)
    var shard = -1
    val files = mutable.ArrayBuffer.empty[ShardEntry] // full data files
    var writer: ShardFileWriter = null
    var chgWriter: ShardFileWriter = null
    def dataFile() = {
      val roll = if (files.isEmpty) "" else s"-${files.size}"
      new ShardFileWriter(f"$dir/part-$prefix$shard%05d$roll.gshard",
        schema, DefaultChunkRows, bloomCols)
    }
    def write(values: Array[Any]): Unit = {
      if (writer.rows == fileRows) {
        files += writer.close(); writer = dataFile()
      }
      writer.add(values)
    }
    // the open key: its key value, touched rows and source rows
    var key: Any = null
    val touched = mutable.ArrayBuffer.empty[InternalRow]
    val source = mutable.ArrayBuffer.empty[InternalRow]

    // a visible row's storage values in the physical slots; tombstone
    // slots stay null, so rewritten files stay positionally compatible
    def physical(row: InternalRow): Array[Any] = {
      val values = new Array[Any](schema.length)
      var j = 0
      while (j < nVis) {
        values(visIdx(j)) = storageValue(row, j, visTypes(j)); j += 1
      }
      values
    }
    def mergeKey(): Unit = if (source.nonEmpty) {
      // an output value of the wrong type fails its storage encoding
      def bad(r: InternalRow) = new IllegalArgumentException(
        s"gshard merge: an output row of key $key does not match the " +
          s"table's visible schema ${visible(schema).catalogString}: $r")
      val merged = perKey(touched.toIndexedSeq, source.toIndexedSeq).map { r =>
        if (r.numFields != nVis || r.get(keyAt, keyType) != key) throw bad(r)
        (r, try physical(r) catch { case _: ClassCastException => throw bad(r) }, 1)
      }
      val sorted = (touched.map(r => (r, physical(r), -1)) ++ merged)
        .sortBy(_._1)(order)
      sorted.foreach { case (_, values, side) => if (side > 0) write(values) }
      // each run of equal rows (Catalyst's ordering equates what Spark's
      // grouping does) leaves its canonical cells and net count
      var from = 0
      sorted.indices.foreach { i =>
        if (i + 1 == sorted.length ||
            !order.equiv(sorted(i)._1, sorted(i + 1)._1)) {
          val net = (from to i).map(sorted(_)._3).sum
          val row = visIdx.map(v => canonical(sorted(i)._2(v))) :+
            (math.signum(net).toLong: Any) // a storage value: int as long
          (0 until net.abs).foreach(_ => chgWriter.add(row))
          from = i + 1
        }
      }
      touched.clear(); source.clear()
    }
    it.foreach { r =>
      require(!r.isNullAt(4), "gshard: range column must be non-null")
      if (writer == null) {
        shard = r.getInt(4) // trailing __shard column
        writer = dataFile()
        chgWriter = new ShardFileWriter(
          f"$dir/${ChangePrefix}c$prefix$shard%05d.gshard", chgSchema)
      }
      val k = r.get(0, keyType)
      val inKey = source.nonEmpty && k == key
      val isSource = r.getInt(1) == SourceSide
      if (!inKey) mergeKey()
      if (!inKey && !isSource) write(physical(r.getStruct(2, nVis)))
      else if (touched.size + source.size == DefaultChunkRows)
        throw new IllegalStateException(s"gshard merge: key $k brings " +
          s"more than $DefaultChunkRows touched and source rows")
      else if (!isSource) touched += r.getStruct(2, nVis).copy()
      else {
        if (!inKey) key = InternalRow.copyValue(k)
        source += r.getStruct(3, srcWidth).copy()
      }
    }
    if (writer == null) Iterator.empty
    else {
      mergeKey()
      (files ++ Seq(writer.close(), chgWriter.close())).filter(_.rows > 0)
        .iterator
    }
  }

  /** THE STORAGE-VALUE CONTRACT — the one map from a Spark cell to the
    * value [[ShardFileWriter.add]] takes, called by both writers (the
    * DSv2 [[ShardDataWriter]] and [[writeTaskShard]]). The input is
    * Catalyst's internal encoding, which the long block already
    * matches for every logical type:
    *  - NULL → `null` (the block's null bitmap);
    *  - long, timestamp, timestamp_ntz (micros), date (days), int,
    *    boolean (0/1), decimal(p ≤ 18) (the unscaled value) → `Long`;
    *  - double → `Double`;
    *  - string → its UTF-8 `Array[Byte]`;
    *  - array<float|double|int|long> → a primitive array of the element
    *    type, array<string> → `Array[Array[Byte]]`; a NULL ELEMENT
    *    rejects (the list blocks are offset-only).
    * Every value is copied out, so a reused `UnsafeRow` buffer may be
    * overwritten after the call. [[ShardColumnarReader]] is the inverse:
    * it decodes the same values into Catalyst column vectors. */
  private[shard] def storageValue(row: InternalRow, i: Int,
      dt: DataType): Any =
    if (row.isNullAt(i)) null
    else dt match {
      case LongType | TimestampType | TimestampNTZType => row.getLong(i)
      case DateType | IntegerType => row.getInt(i).toLong
      case BooleanType => if (row.getBoolean(i)) 1L else 0L
      case d: DecimalType =>
        row.getDecimal(i, d.precision, d.scale).toUnscaledLong
      case DoubleType => row.getDouble(i)
      case StringType => row.getUTF8String(i).getBytes
      case ArrayType(et, _) =>
        val a = row.getArray(i)
        val n = a.numElements()
        var j = 0
        while (j < n) {
          require(!a.isNullAt(j), s"gshard: null ${et match {
            case FloatType | DoubleType => "vector"
            case StringType => "string-list"
            case _ => "token-id"
          }} element")
          j += 1
        }
        et match {
          case FloatType => a.toFloatArray()
          case DoubleType => a.toDoubleArray()
          case IntegerType => a.toIntArray()
          case LongType => a.toLongArray()
          case StringType => Array.tabulate(n)(a.getUTF8String(_).getBytes)
          case other => throw new IllegalStateException(other.toString)
        }
      case other => throw new IllegalStateException(other.toString)
    }

  /** Streaming chunked shard-file writer: callers [[add]] one row at a
    * time as `Array[Any]` of storage values ([[storageValue]]); a chunk
    * flushes to disk every `chunkRows` rows,
    * so writer memory is bounded by the chunk, not the shard — the
    * property that lets a DSv2 write task emit an arbitrarily large
    * range partition. [[close]] returns the file's manifest entry with
    * its zone maps (non-null values only; an all-null column is absent
    * from them).
    */
  private[shard] final class ShardFileWriter(path: String,
      schema: StructType, chunkRows: Int = DefaultChunkRows,
      bloomCols: Set[String] = Set.empty) {
    require(chunkRows > 0, s"chunkRows must be positive: $chunkRows")

    private val nCols = schema.length
    // bloom state: 8-byte hashes only, never buffered values
    private val bloomIdx = schema.fields.zipWithIndex.collect {
      case (f, i) if bloomCols(f.name) &&
        (physicallyLong(f.dataType) || f.dataType == StringType) => i
    }
    private val bloomHashes: Map[Int, mutable.ArrayBuffer[Long]] =
      bloomIdx.map(i => i -> mutable.ArrayBuffer.empty[Long]).toMap
    private val longIdx = schema.fields.zipWithIndex
      .collect { case (f, i) if physicallyLong(f.dataType) => i }
    private val strIdx = schema.fields.zipWithIndex
      .collect { case (f, i) if f.dataType == StringType => i }
    private val dblIdx = schema.fields.zipWithIndex
      .collect { case (f, i) if f.dataType == DoubleType => i }

    // file-level zone state, folded over chunks
    private val fNulls = new Array[Long](nCols)
    private val fLongHas = new Array[Boolean](longIdx.length)
    private val fLongMin = new Array[Long](longIdx.length)
    private val fLongMax = new Array[Long](longIdx.length)
    // per-column exact SUM of non-null long-domain values; one
    // overflow poisons the stat (absent from the manifest → the sum
    // pushdown refuses and scans — never a silently wrapped answer)
    private val fSum = new Array[Long](longIdx.length)
    private val fSumOk = Array.fill(longIdx.length)(true)
    private val fStrHas = new Array[Boolean](strIdx.length)
    private val fStrMin = new Array[Array[Byte]](strIdx.length)
    private val fStrMax = new Array[Array[Byte]](strIdx.length)
    // a NaN anywhere in the file poisons that column's FILE bounds
    // (sticky) — clean chunks still carry their own chunk-grain slots
    private val fDblHas = new Array[Boolean](dblIdx.length)
    private val fDblNaN = new Array[Boolean](dblIdx.length)
    private val fDblMin = new Array[Double](dblIdx.length)
    private val fDblMax = new Array[Double](dblIdx.length)

    private var totalRows = 0L
    private val buf = new mutable.ArrayBuffer[Array[Any]](chunkRows)
    private var dos: DataOutputStream = null

    /** Rows added so far. */
    def rows: Long = totalRows + buf.length

    def add(values: Array[Any]): Unit = {
      buf += values
      if (buf.length >= chunkRows) flushChunk()
    }

    private def open(): Unit = if (dos == null) {
      dos = new DataOutputStream(
        new BufferedOutputStream(new FileOutputStream(path), 1 << 16))
      dos.writeInt(Magic); dos.writeInt(Version); dos.writeInt(nCols)
    }

    private def flushChunk(): Unit = {
      if (buf.isEmpty) return
      open()
      val n = buf.length
      val body = new ByteArrayOutputStream(1 << 16)
      val bdos = new DataOutputStream(body)
      // zone header: one slot per physically-long column, non-null
      // values only; the bounds are kept (indexed by schema position)
      // so the FOR-bitpack probe below reuses them instead of
      // rescanning the chunk
      val chHas = new Array[Boolean](nCols)
      val chMin = new Array[Long](nCols)
      val chMax = new Array[Long](nCols)
      longIdx.foreach { i =>
        var mn = Long.MaxValue; var mx = Long.MinValue; var has = false
        var r = 0
        while (r < n) {
          val v = buf(r)(i)
          if (v != null) {
            val l = v.asInstanceOf[Long]
            if (!has || l < mn) mn = l
            if (!has || l > mx) mx = l
            has = true
          }
          r += 1
        }
        chHas(i) = has; chMin(i) = mn; chMax(i) = mx
        bdos.writeByte(if (has) 1 else 0)
        bdos.writeLong(if (has) mn else 0L)
        bdos.writeLong(if (has) mx else 0L)
      }
      // then one slot per string column (unsigned-byte bounds, the
      // order Spark's own string comparisons use); oversized bounds
      // degrade to an empty slot — admit-always, still sound
      strIdx.foreach { i =>
        var mn: Array[Byte] = null; var mx: Array[Byte] = null
        var r = 0
        while (r < n) {
          val v = buf(r)(i)
          if (v != null) {
            val b = v.asInstanceOf[Array[Byte]]
            if (mn == null || java.util.Arrays.compareUnsigned(b, mn) < 0)
              mn = b
            if (mx == null || java.util.Arrays.compareUnsigned(b, mx) > 0)
              mx = b
          }
          r += 1
        }
        val fits = mn != null && mn.length <= MaxChunkStringBound &&
          mx.length <= MaxChunkStringBound
        bdos.writeByte(if (fits) 1 else 0)
        if (fits) {
          bdos.writeInt(mn.length); bdos.write(mn)
          bdos.writeInt(mx.length); bdos.write(mx)
        }
      }
      // then one slot per double column — NaN-free chunks only (NaN
      // orders specially in Spark; a bound ignoring it would be
      // unsound, a missing bound only admits)
      dblIdx.foreach { i =>
        var mn = 0.0; var mx = 0.0; var has = false; var sawNaN = false
        var r = 0
        while (r < n) {
          val v = buf(r)(i)
          if (v != null) {
            val d = v.asInstanceOf[Double]
            if (d != d) sawNaN = true
            else {
              if (!has || d < mn) mn = d
              if (!has || d > mx) mx = d
              has = true
            }
          }
          r += 1
        }
        val ok = has && !sawNaN
        bdos.writeByte(if (ok) 1 else 0)
        bdos.writeDouble(if (ok) mn else 0.0)
        bdos.writeDouble(if (ok) mx else 0.0)
      }
      // column blocks: null bitmap + values
      var c = 0
      while (c < nCols) {
        val bitmap = new Array[Byte]((n + 7) / 8)
        var r = 0
        while (r < n) {
          if (buf(r)(c) == null) {
            bitmap(r >> 3) = (bitmap(r >> 3) | (1 << (r & 7))).toByte
            fNulls(c) += 1
          }
          r += 1
        }
        schema(c).dataType match {
          case dt if physicallyLong(dt) =>
            // MEASURED choice among plain 8-byte values, zigzag-delta
            // varints (null slots repeat the previous value, delta 0,
            // so nulls never blow up the deltas), and FOR-bitpack
            // (values re-based to the chunk min at the minimal bit
            // width; null slots pack 0) — a sorted cluster column
            // delta-encodes ≪ 8 bytes/row, a BOOLEAN column bitpacks
            // to ~1 BIT/row, a constant column to ~0, and a
            // high-entropy column stays plain; never worse than plain
            var deltaLen = 0L
            var prev = 0L
            r = 0
            while (r < n) {
              val v = buf(r)(c)
              val l = if (v == null) prev else v.asInstanceOf[Long]
              deltaLen += varintLen(zigzag(l - prev))
              prev = l
              r += 1
            }
            // chunk bounds come from the zone-slot pass above
            val vMin = if (chHas(c)) chMin(c) else 0L
            val vMax = if (chHas(c)) chMax(c) else 0L
            val range = vMax - vMin
            // width > 56 (or an overflowing range) never picks FOR:
            // the gain over plain is < 1 byte/row there, and ≤ 56
            // keeps the packer's 64-bit accumulator spill-free
            val width =
              if (range == 0L) 0
              else if (range < 0L) 64
              else 64 - java.lang.Long.numberOfLeadingZeros(range)
            val forLen =
              if (width > 56) Long.MaxValue
              else 9L + (n.toLong * width + 7) / 8
            if (forLen < 8L * n && forLen <= deltaLen) {
              bdos.writeLong(bitmap.length + 1L + forLen)
              bdos.write(bitmap)
              bdos.writeByte(2) // encoding tag: FOR-bitpack
              bdos.writeLong(vMin)
              bdos.writeByte(width)
              var acc = 0L; var nb = 0
              r = 0
              while (r < n) {
                val v = buf(r)(c)
                val off = if (v == null) 0L else v.asInstanceOf[Long] - vMin
                acc |= off << nb // nb ≤ 7 here, width ≤ 56: no spill
                nb += width
                while (nb >= 8) {
                  bdos.writeByte((acc & 0xFFL).toInt); acc >>>= 8; nb -= 8
                }
                r += 1
              }
              if (nb > 0) bdos.writeByte((acc & 0xFFL).toInt)
            } else if (deltaLen < 8L * n) {
              bdos.writeLong(bitmap.length + 1L + deltaLen)
              bdos.write(bitmap)
              bdos.writeByte(1) // encoding tag: delta-varint
              prev = 0L
              r = 0
              while (r < n) {
                val v = buf(r)(c)
                val l = if (v == null) prev else v.asInstanceOf[Long]
                writeVarint(bdos, zigzag(l - prev))
                prev = l
                r += 1
              }
            } else {
              bdos.writeLong(bitmap.length + 1L + 8L * n)
              bdos.write(bitmap)
              bdos.writeByte(0) // encoding tag: plain
              r = 0
              while (r < n) {
                val v = buf(r)(c)
                bdos.writeLong(if (v == null) 0L else v.asInstanceOf[Long])
                r += 1
              }
            }
          case DoubleType =>
            bdos.writeLong(bitmap.length + 8L * n)
            bdos.write(bitmap)
            r = 0
            while (r < n) {
              val v = buf(r)(c)
              bdos.writeDouble(if (v == null) 0.0 else v.asInstanceOf[Double])
              r += 1
            }
          case StringType =>
            // per-row byte slices (null → zero-width, bitmap carries it)
            val slices = new Array[Array[Byte]](n)
            var total = 0L
            r = 0
            while (r < n) {
              val v = buf(r)(c)
              slices(r) =
                if (v == null) Array.emptyByteArray
                else v.asInstanceOf[Array[Byte]]
              total += slices(r).length
              r += 1
            }
            // DICTIONARY probe: low-cardinality chunks encode as a
            // ≤255-entry dictionary + one index byte per row (the
            // parquet/ORC dictionary-page idea at chunk grain) —
            // chosen by MEASURED size, never by heuristic, so the
            // format is never larger than plain. First-seen order
            // keeps the bytes deterministic.
            val dict = mutable.LinkedHashMap.empty[String, Int]
            var dictBytes = 0L
            var tooMany = false
            r = 0
            while (r < n && !tooMany) {
              if (!((bitmap(r >> 3) & (1 << (r & 7))) != 0)) {
                val key = new String(slices(r), "ISO-8859-1")
                if (!dict.contains(key)) {
                  if (dict.size >= 255) tooMany = true
                  else { dict.put(key, dict.size); dictBytes += slices(r).length }
                }
              }
              r += 1
            }
            val d = dict.size
            // payload sizes EXCLUDING bitmap and the 1-byte tag (the
            // tag is common to both, so the comparison ignores it)
            val plainLen = 4L * (n + 1) + total
            val dictLen = 1L + 4L * (d + 1) + dictBytes + n
            // build the chosen payload off-stream so the DEFLATE
            // probe can measure it (tag bit 2 = compressed payload,
            // 4-byte raw length prefixed — chosen by size, never
            // worse than raw)
            val pbody = new ByteArrayOutputStream(1 << 12)
            val pdos = new DataOutputStream(pbody)
            val baseTag =
              if (!tooMany && dictLen < plainLen) {
                pdos.writeByte(d)
                var off = 0
                pdos.writeInt(0)
                dict.keysIterator.foreach { k =>
                  off += k.length; pdos.writeInt(off)
                }
                dict.keysIterator
                  .foreach(k => pdos.write(k.getBytes("ISO-8859-1")))
                r = 0
                while (r < n) {
                  val isNull = (bitmap(r >> 3) & (1 << (r & 7))) != 0
                  pdos.writeByte(
                    if (isNull) 0
                    else dict(new String(slices(r), "ISO-8859-1")))
                  r += 1
                }
                1 // dictionary
              } else {
                var off = 0
                pdos.writeInt(0)
                r = 0
                while (r < n) {
                  off += slices(r).length
                  pdos.writeInt(off)
                  r += 1
                }
                r = 0
                while (r < n) { pdos.write(slices(r)); r += 1 }
                0 // plain offsets+bytes
              }
            pdos.flush()
            val raw = pbody.toByteArray
            val (tag, payload) = maybeDeflate(raw) match {
              case Some(comp) => (baseTag | CompressFlag, comp)
              case None => (baseTag, raw)
            }
            bdos.writeLong(bitmap.length + 1L + payload.length)
            bdos.write(bitmap)
            bdos.writeByte(tag)
            bdos.write(payload)
          case ArrayType(StringType, _) =>
            // string-list block: row-grain element offsets over ONE
            // flattened plain string block (element byte offsets +
            // bytes) — the token-list layout; null/empty rows hold
            // zero elements, null ELEMENTS were rejected at intake
            var totalElems = 0L
            var totalBytes = 0L
            r = 0
            while (r < n) {
              val v = buf(r)(c)
              if (v != null) {
                val a = v.asInstanceOf[Array[Array[Byte]]]
                totalElems += a.length
                var j = 0
                while (j < a.length) { totalBytes += a(j).length; j += 1 }
              }
              r += 1
            }
            // the reader addresses both tables with INT offsets —
            // fail at write, never commit an undecodable file
            require(totalElems <= Int.MaxValue - 64 &&
              totalBytes <= Int.MaxValue - 64,
              s"gshard: string-list chunk block holds $totalElems " +
                s"elements / $totalBytes bytes (> Int.MaxValue) — " +
                "reduce chunkRows")
            // tag byte (0 plain / 0|CompressFlag deflated) + payload;
            // built off-stream so the DEFLATE probe can measure it
            val pbody = new ByteArrayOutputStream(1 << 12)
            val pdos = new DataOutputStream(pbody)
            var eOff = 0
            pdos.writeInt(0)
            r = 0
            while (r < n) {
              val v = buf(r)(c)
              if (v != null) eOff += v.asInstanceOf[Array[Array[Byte]]].length
              pdos.writeInt(eOff)
              r += 1
            }
            var bOff = 0
            pdos.writeInt(0)
            r = 0
            while (r < n) {
              val v = buf(r)(c)
              if (v != null) {
                val a = v.asInstanceOf[Array[Array[Byte]]]
                var j = 0
                while (j < a.length) {
                  bOff += a(j).length; pdos.writeInt(bOff); j += 1
                }
              }
              r += 1
            }
            r = 0
            while (r < n) {
              val v = buf(r)(c)
              if (v != null) {
                val a = v.asInstanceOf[Array[Array[Byte]]]
                var j = 0
                while (j < a.length) { pdos.write(a(j)); j += 1 }
              }
              r += 1
            }
            pdos.flush()
            val raw = pbody.toByteArray
            val (tag, payload) = maybeDeflate(raw) match {
              case Some(comp) => (CompressFlag, comp)
              case None => (0, raw)
            }
            bdos.writeLong(bitmap.length + 1L + payload.length)
            bdos.write(bitmap)
            bdos.writeByte(tag)
            bdos.write(payload)
          case ArrayType(IntegerType, _) | ArrayType(LongType, _) =>
            // token-id list block: (nRows+1)×INT row element offsets
            // over ONE flat long-domain element sequence riding the
            // measured plain/delta/FOR codec ([[writeLongSeq]] — ids
            // FOR-pack to a few bits per token; no outer deflate, the
            // bit packing already is the compression). null/empty
            // rows hold zero elements; null ELEMENTS were rejected
            // at intake.
            var totalElems = 0L
            r = 0
            while (r < n) {
              buf(r)(c) match {
                case null => ()
                case a: Array[Int] => totalElems += a.length
                case a: Array[Long] => totalElems += a.length
              }
              r += 1
            }
            // the reader materializes the flat element array and
            // addresses rows with INT offsets — fail at write, never
            // commit an undecodable file
            require(totalElems * 8 <= Int.MaxValue - 64,
              s"gshard: token-id chunk block holds $totalElems " +
                "elements (> Int.MaxValue/8) — reduce chunkRows")
            val flat = new Array[Long](totalElems.toInt)
            var fi = 0
            r = 0
            while (r < n) {
              buf(r)(c) match {
                case null => ()
                case a: Array[Int] =>
                  var j = 0
                  while (j < a.length) { flat(fi) = a(j); fi += 1; j += 1 }
                case a: Array[Long] =>
                  var j = 0
                  while (j < a.length) { flat(fi) = a(j); fi += 1; j += 1 }
              }
              r += 1
            }
            val pb = new ByteArrayOutputStream(1 << 12)
            val pd = new DataOutputStream(pb)
            var eo = 0
            pd.writeInt(0)
            r = 0
            while (r < n) {
              buf(r)(c) match {
                case null => ()
                case a: Array[Int] => eo += a.length
                case a: Array[Long] => eo += a.length
              }
              pd.writeInt(eo)
              r += 1
            }
            writeLongSeq(pd, flat)
            pd.flush()
            val body2 = pb.toByteArray
            bdos.writeLong(bitmap.length.toLong + body2.length)
            bdos.write(bitmap)
            bdos.write(body2)
          case ArrayType(et, _) =>
            // vector block: raw IEEE bits, FIXED-DIM when every
            // non-null row agrees on length (the embedding case —
            // zero per-row overhead, implicit addressing) else
            // VARIABLE with an element-offset table; MEASURED choice
            // is unnecessary — fixed is never larger than variable
            // unless null rows dominate, and even then only by
            // dim×esz per null row
            val esz = if (et == FloatType) 4 else 8
            def lenOf(v: Any): Int = v match {
              case null => 0
              case a: Array[Float] => a.length
              case a: Array[Double] => a.length
            }
            var dim = -1; var fixed = true; var totalElems = 0L
            r = 0
            while (r < n) {
              val v = buf(r)(c)
              if (v != null) {
                val l = lenOf(v)
                totalElems += l
                if (dim == -1) dim = l else if (l != dim) fixed = false
              }
              r += 1
            }
            // the reader materializes one BYTE array per chunk block
            // and addresses elements with INT offsets, so the bound
            // must be on BYTES — including the fixed layout's per-null
            // dim-zero padding, which totalElems does not count;
            // failing at WRITE time beats committing a file no reader
            // can ever decode
            val paddedElems =
              if (dim >= 0 && fixed) n.toLong * dim else totalElems
            require(paddedElems * esz <= Int.MaxValue - 64,
              s"gshard: vector chunk block is ${paddedElems * esz} " +
                "bytes (> Int.MaxValue) — reduce chunkRows")
            if (dim == -1) { dim = 0 } // all-null chunk: 0-dim fixed
            def writeElems(v: Any, pad: Int): Unit = v match {
              case null =>
                var j = 0
                while (j < pad) {
                  if (esz == 4) bdos.writeInt(0) else bdos.writeLong(0L)
                  j += 1
                }
              case a: Array[Float] =>
                var j = 0
                while (j < a.length) {
                  bdos.writeInt(java.lang.Float.floatToRawIntBits(a(j)))
                  j += 1
                }
              case a: Array[Double] =>
                var j = 0
                while (j < a.length) {
                  bdos.writeLong(java.lang.Double.doubleToRawLongBits(a(j)))
                  j += 1
                }
            }
            if (fixed) {
              bdos.writeLong(bitmap.length + 1L + 4L +
                n.toLong * dim * esz)
              bdos.write(bitmap)
              bdos.writeByte(0) // encoding tag: fixed-dim
              bdos.writeInt(dim)
              r = 0
              while (r < n) { writeElems(buf(r)(c), dim); r += 1 }
            } else {
              bdos.writeLong(bitmap.length + 1L + 4L * (n + 1) +
                totalElems * esz)
              bdos.write(bitmap)
              bdos.writeByte(1) // encoding tag: variable
              var off = 0L
              bdos.writeInt(0)
              r = 0
              while (r < n) {
                off += lenOf(buf(r)(c))
                bdos.writeInt(off.toInt)
                r += 1
              }
              r = 0
              while (r < n) { writeElems(buf(r)(c), 0); r += 1 }
            }
          case other => throw new IllegalStateException(other.toString)
        }
        c += 1
      }
      bdos.flush()
      dos.writeInt(n)
      dos.writeLong(body.size().toLong)
      body.writeTo(dos)
      // fold this chunk into the file-level zone maps
      var li = 0
      while (li < longIdx.length) {
        val i = longIdx(li)
        var r = 0
        while (r < n) {
          val v = buf(r)(i)
          if (v != null) {
            val l = v.asInstanceOf[Long]
            if (!fLongHas(li) || l < fLongMin(li)) fLongMin(li) = l
            if (!fLongHas(li) || l > fLongMax(li)) fLongMax(li) = l
            fLongHas(li) = true
            if (fSumOk(li)) {
              try fSum(li) = Math.addExact(fSum(li), l)
              catch { case _: ArithmeticException => fSumOk(li) = false }
            }
          }
          r += 1
        }
        li += 1
      }
      var si = 0
      while (si < strIdx.length) {
        val i = strIdx(si)
        var r = 0
        while (r < n) {
          val v = buf(r)(i)
          if (v != null) {
            val b = v.asInstanceOf[Array[Byte]]
            if (!fStrHas(si) ||
                java.util.Arrays.compareUnsigned(b, fStrMin(si)) < 0)
              fStrMin(si) = b
            if (!fStrHas(si) ||
                java.util.Arrays.compareUnsigned(b, fStrMax(si)) > 0)
              fStrMax(si) = b
            fStrHas(si) = true
          }
          r += 1
        }
        si += 1
      }
      var di = 0
      while (di < dblIdx.length) {
        val i = dblIdx(di)
        var r = 0
        while (r < n) {
          val v = buf(r)(i)
          if (v != null) {
            val d = v.asInstanceOf[Double]
            if (d != d) fDblNaN(di) = true
            else {
              if (!fDblHas(di) || d < fDblMin(di)) fDblMin(di) = d
              if (!fDblHas(di) || d > fDblMax(di)) fDblMax(di) = d
              fDblHas(di) = true
            }
          }
          r += 1
        }
        di += 1
      }
      // fold this chunk's values into the per-column bloom hash logs
      bloomIdx.foreach { i =>
        val log = bloomHashes(i)
        val isStr = schema(i).dataType == StringType
        var r = 0
        while (r < n) {
          val v = buf(r)(i)
          if (v != null) log += Bloom.hash64(
            if (isStr) v.asInstanceOf[Array[Byte]]
            else Bloom.longBytes(v.asInstanceOf[Long]))
          r += 1
        }
      }
      totalRows += n
      buf.clear()
    }

    /** Flush the tail chunk and return the file's manifest entry. A
      * writer that never saw a row leaves NO file behind (rows=0). */
    def close(): ShardEntry = {
      flushChunk()
      if (dos != null) dos.close()
      val zMin = longIdx.indices.collect {
        case li if fLongHas(li) => schema(longIdx(li)).name -> fLongMin(li)
      }.toMap
      val zMax = longIdx.indices.collect {
        case li if fLongHas(li) => schema(longIdx(li)).name -> fLongMax(li)
      }.toMap
      val sMin = strIdx.indices.collect {
        case si if fStrHas(si) => schema(strIdx(si)).name -> b64(fStrMin(si))
      }.toMap
      val sMax = strIdx.indices.collect {
        case si if fStrHas(si) => schema(strIdx(si)).name -> b64(fStrMax(si))
      }.toMap
      val dMin = dblIdx.indices.collect {
        case di if fDblHas(di) && !fDblNaN(di) =>
          schema(dblIdx(di)).name -> fDblMin(di)
      }.toMap
      val dMax = dblIdx.indices.collect {
        case di if fDblHas(di) && !fDblNaN(di) =>
          schema(dblIdx(di)).name -> fDblMax(di)
      }.toMap
      val nulls = schema.fields.indices
        .map(c => schema(c).name -> fNulls(c)).toMap
      val sums = longIdx.indices.collect {
        case li if fSumOk(li) => schema(longIdx(li)).name -> fSum(li)
      }.toMap
      val built = bloomIdx.flatMap { i =>
        val log = bloomHashes(i)
        if (log.isEmpty) None
        else {
          val bits = Bloom.build(log)
          // achieved bits-per-value: the sizing audit — a capped
          // bloom (giant file) surfaces as a LOW bpv in the manifest
          // instead of silently degrading toward admit-everything
          Some((schema(i).name, b64(bits), 8L * bits.length / log.size))
        }
      }
      ShardEntry(Paths.get(path).getFileName.toString, totalRows, zMin, zMax,
        sMin, sMax, nulls, built.map(t => t._1 -> t._2).toMap,
        built.map(t => t._1 -> t._3).toMap, dMin, dMax, sums)
    }
  }

  private[graft] def hasManifest(dir: String): Boolean =
    Files.exists(Paths.get(dir, "_manifest.gshard")) ||
      // crash window: a commit record was exclusively created but the
      // process died before linking the head pointer to it — the
      // table IS committed (the record is the commit), so report it
      commitRecordGens(dir).nonEmpty

  /** Replace the head pointer with `m`, bypassing the commit protocol
    * (specs use it to stage legacy or hand-edited heads). The bytes go
    * to a fresh file renamed over the pointer: writing through the
    * pointer would rewrite the head's commit record, which it links. */
  private[graft] def writeManifest(dir: String, m: Manifest): Unit = {
    val tmp = Files.createTempFile(Paths.get(dir), ".gshard_manifest", ".tmp")
    Files.write(tmp, renderManifest(m))
    Files.move(tmp, Paths.get(dir, "_manifest.gshard"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Serialize `m` to the manifest's line format. The single
    * chokepoint every write path (batch, streaming, truncate, delete,
    * merge) flows through — the parser's no-marker-in-names invariant
    * is enforced here, not assumed. Format-internal drop tombstones
    * pass (reserved-char-free by construction; rejected on USER
    * schemas at the write builders). */
  private def renderManifest(m: Manifest): Array[Byte] = {
    m.schema.fieldNames.filterNot(isTombstone).foreach(validateFieldName)
    val sb = new StringBuilder
    sb.append("gshard v4\n")
    sb.append("schema ").append(m.schema.fields
      .map(f => s"${f.name}:${typeTag(f.dataType)}").mkString(",")).append('\n')
    if (m.gen > 0L) sb.append(s"gen ${m.gen}\n")
    if (m.lastTxn >= 0L) sb.append(s"txn ${m.lastTxn}\n")
    m.txns.toSeq.sortBy(_._1).foreach { case (app, v) =>
      require(app.nonEmpty && !app.exists(ch => ch == ' ' || ch == '\n'),
        s"gshard: bad txn app id '$app'")
      sb.append(s"txnapp $app $v\n")
    }
    m.entries.foreach { e =>
      val longs = e.zMin.keys.toSeq.sorted
        .map(c => s"$c=${e.zMin(c)}:${e.zMax(c)}")
      val strs = e.sMin.keys.toSeq.sorted
        .map(c => s"$c#${e.sMin(c)}:${e.sMax(c)}")
      // double bounds as RAW IEEE bits (decimal long): exact
      // roundtrip with no parse/print drift; NaN-holding files have
      // no entry here by construction
      val dbls = e.dMin.keys.toSeq.sorted.map { c =>
        s"$c~${java.lang.Double.doubleToRawLongBits(e.dMin(c))}:" +
          s"${java.lang.Double.doubleToRawLongBits(e.dMax(c))}"
      }
      val nulls = e.nullCnt.keys.toSeq.sorted
        .map(c => s"$c!${e.nullCnt(c)}")
      // exact per-file SUMs of non-null long-domain values ('*' is
      // outside the base64 alphabet and never in a column name);
      // columns whose sum overflowed at write time are simply absent
      val sums = e.sums.keys.toSeq.sorted
        .map(c => s"$c*${e.sums(c)}")
      val blooms = e.bloom.keys.toSeq.sorted
        .map(c => s"$c?${e.bloom(c)}")
      val bpvs = e.bloomBpv.keys.toSeq.sorted
        .map(c => s"$c^${e.bloomBpv(c)}")
      sb.append(s"file ${e.file} ${e.rows} " +
        s"${(longs ++ strs ++ dbls ++ nulls ++ sums ++ blooms ++ bpvs)
          .mkString(";")}\n")
    }
    // delete vectors as their own line type (per-FILE, not
    // per-column — the stat-marker scheme doesn't fit them)
    m.entries.foreach { e =>
      e.dv.foreach { case (sc, cnt) =>
        sb.append(s"dv ${e.file} $sc $cnt\n")
      }
    }
    // this generation's row-grain change files (Delta CDF shape);
    // `cdf` marks capture even when the net set is empty
    if (m.cdf) sb.append("cdf 1\n")
    m.changes.foreach { case (f, rows) =>
      sb.append(s"change $f $rows\n")
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  def readManifest(dir: String): Manifest = {
    manifestReads.incrementAndGet()
    val ptr = Paths.get(dir, "_manifest.gshard")
    var m =
      if (Files.exists(ptr)) readManifestLines(Files.readAllLines(ptr))
      else {
        // the pointer never landed (crash between the commit record's
        // exclusive create and the pointer link): recover from the
        // newest commit record — the record IS the commit
        val gens = commitRecordGens(dir)
        require(gens.nonEmpty, s"gshard: no manifest at $dir")
        readManifestLines(
          Files.readAllLines(Paths.get(dir, archiveName(gens.last))))
      }
    // RECONCILE: commit records are the source of truth (the pointer
    // is a second link to the head record, made after it) — a record
    // one or more generations AHEAD of the pointer means another process
    // committed and hasn't (or never will have) moved the pointer;
    // the newest record wins.
    var g = m.gen + 1
    while (Files.exists(Paths.get(dir, archiveName(g)))) {
      val r = readManifestLines(
        Files.readAllLines(Paths.get(dir, archiveName(g))))
      // records render their gen BEFORE linking, so name and content
      // agree by construction — a mismatch is corruption, and looping
      // on it would never terminate
      require(r.gen == g,
        s"gshard: commit record v$g carries generation ${r.gen} — corrupt")
      m = r
      g += 1
    }
    m
  }

  private def readManifestLines(lines: java.util.List[String]): Manifest = {
    // older generations are rejected UP FRONT with the honest error —
    // the chunk layout changed, so accepting the manifest and dying
    // mid-scan would be misleading partial compatibility
    require(lines.get(0) != "gshard v1" && lines.get(0) != "gshard v2" &&
        lines.get(0) != "gshard v3",
      s"gshard: ${lines.get(0)} table predates the v4 chunk layout — " +
        "rewrite required (read nothing, re-save with the current writer)")
    require(lines.get(0) == "gshard v4",
      s"bad manifest header: ${lines.get(0)}")
    val schema = StructType(lines.get(1).stripPrefix("schema ").split(",")
      .filter(_.nonEmpty).toIndexedSeq.map { s =>
        val Array(n, t) = s.split(":")
        StructField(n, dataTypeOf(t))
      })
    import scala.jdk.CollectionConverters._
    val rest = lines.asScala.drop(2)
    val gen = rest.find(_.startsWith("gen "))
      .map(_.stripPrefix("gen ").trim.toLong).getOrElse(0L)
    val lastTxn = rest.find(_.startsWith("txn "))
      .map(_.stripPrefix("txn ").trim.toLong).getOrElse(-1L)
    val txns = rest.filter(_.startsWith("txnapp ")).map { l =>
      val p = l.split(" ")
      p(1) -> p(2).toLong
    }.toMap
    val dvs: Map[String, (String, Long)] =
      rest.filter(_.startsWith("dv ")).map { l =>
        val p = l.split(" ")
        p(1) -> ((p(2), p(3).toLong))
      }.toMap
    val changes: Seq[(String, Long)] =
      rest.filter(_.startsWith("change ")).map { l =>
        val p = l.split(" ")
        (p(1), p(2).toLong)
      }.toSeq
    val cdf = rest.exists(_.startsWith("cdf "))
    val entries = rest.filter(_.startsWith("file ")).map { l =>
      val parts = l.split(" ")
      val (file, rows) = (parts(1), parts(2).toLong)
      var zMin = Map.empty[String, Long]; var zMax = Map.empty[String, Long]
      var sMin = Map.empty[String, String]; var sMax = Map.empty[String, String]
      var nulls = Map.empty[String, Long]
      var blooms = Map.empty[String, String]
      var bpvs = Map.empty[String, Long]
      var dMin = Map.empty[String, Double]; var dMax = Map.empty[String, Double]
      var sums = Map.empty[String, Long]
      if (parts.length > 3 && parts(3).nonEmpty)
        parts(3).split(";").foreach { kv =>
          // the column name contains none of the seven markers, so the
          // EARLIEST marker in the segment is the one that tags it
          // ('=' long bounds, '#' base64 string bounds, '~' double
          // bounds as raw IEEE bits, '!' null count, '*' column sum,
          // '?' base64 bloom, '^' bloom bits-per-value — base64 can
          // contain '=' but the tag marker always precedes it)
          val eq = kv.indexOf('='); val hs = kv.indexOf('#')
          val bg = kv.indexOf('!'); val qm = kv.indexOf('?')
          val ct = kv.indexOf('^'); val td = kv.indexOf('~')
          val st = kv.indexOf('*')
          def before(a: Int, b: Int) = a >= 0 && (b < 0 || a < b)
          def first(a: Int, rest: Int*) = rest.forall(before(a, _))
          if (first(st, eq, hs, bg, qm, ct, td)) {
            sums += kv.substring(0, st) -> kv.substring(st + 1).toLong
          } else if (first(td, eq, hs, bg, qm, ct)) {
            val c = kv.substring(0, td)
            val Array(mn, mx) = kv.substring(td + 1).split(":")
            dMin += c -> java.lang.Double.longBitsToDouble(mn.toLong)
            dMax += c -> java.lang.Double.longBitsToDouble(mx.toLong)
          } else if (first(ct, eq, hs, bg, qm)) {
            bpvs += kv.substring(0, ct) -> kv.substring(ct + 1).toLong
          } else if (first(qm, eq, hs, bg)) {
            blooms += kv.substring(0, qm) -> kv.substring(qm + 1)
          } else if (first(bg, eq, hs)) {
            nulls += kv.substring(0, bg) -> kv.substring(bg + 1).toLong
          } else if (before(eq, hs)) {
            val c = kv.substring(0, eq)
            val Array(mn, mx) = kv.substring(eq + 1).split(":")
            zMin += c -> mn.toLong; zMax += c -> mx.toLong
          } else {
            val c = kv.substring(0, hs)
            // base64 never contains ':', so the first split is exact
            val Array(mn, mx) = kv.substring(hs + 1).split(":", 2)
            sMin += c -> mn; sMax += c -> mx
          }
        }
      ShardEntry(file, rows, zMin, zMax, sMin, sMax, nulls, blooms, bpvs,
        dMin, dMax, sums, dv = dvs.get(file))
    }.toSeq
    Manifest(schema, entries, lastTxn, txns, gen, changes, cdf)
  }

  // ── DELETE VECTORS (merge-on-read position deletes) ────────────────

  private val DvMagic = 0x47534456 // "GSDV"

  /** Write a delete-vector sidecar: strictly-ascending PHYSICAL row
    * positions, delta-varint encoded. Returns the sidecar file name
    * (UUID-fresh — sidecars are immutable; merges write a new one). */
  private[graft] def writeDeleteVector(dir: String,
      positions: Array[Long]): String = {
    require(positions.nonEmpty, "gshard: empty delete vector")
    val name = s"dv-${java.util.UUID.randomUUID.toString.take(12)}.gshard"
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(s"$dir/$name"), 1 << 14))
    try {
      out.writeInt(DvMagic)
      out.writeInt(positions.length)
      var prev = -1L
      var i = 0
      while (i < positions.length) {
        val p = positions(i)
        require(p > prev,
          s"gshard: delete vector positions not strictly ascending ($p)")
        writeVarint(out, p - prev)
        prev = p
        i += 1
      }
    } finally out.close()
    name
  }

  private[graft] def readDeleteVector(path: String): Array[Long] = {
    val in = new DataInputStream(new java.io.BufferedInputStream(
      new FileInputStream(path), 1 << 14))
    try {
      require(in.readInt() == DvMagic, s"bad delete-vector magic in $path")
      val n = in.readInt()
      require(n >= 0, s"corrupt delete vector $path")
      val out = new Array[Long](n)
      var prev = -1L
      var i = 0
      while (i < n) {
        prev += readVarint(in)
        out(i) = prev
        i += 1
      }
      out
    } finally in.close()
  }

  // ── GENERATIONS: archive-on-publish, VERSION AS OF, vacuum ─────────

  private def archiveName(gen: Long) = s"_manifest.v$gen.gshard"

  /** Per-table commit locks (keyed by normalized absolute path):
    * [[commit]] holds one over its whole read-modify-publish section,
    * so in-JVM writers of one table never interleave there.
    * CROSS-PROCESS writers are serialized by [[publishManifest]]'s
    * commit point itself: the next generation's commit record is
    * EXCLUSIVELY CREATED (O_EXCL — the filesystem's own
    * compare-and-swap, the public Delta-log commit protocol), so two
    * processes can never both win a generation. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def tableLock(dir: String): Object =
    tableLocks.computeIfAbsent(
      Paths.get(dir).toAbsolutePath.normalize.toString, _ => new Object)

  /** The table's head manifest, None while it is uncommitted. */
  private[graft] def headOf(dir: String): Option[Manifest] =
    if (hasManifest(dir)) Some(readManifest(dir)) else None

  /** A replay-idempotent writer's token (Delta's txnAppId/txnVersion):
    * `id` < 0 is a writer without one; `app` names the slot, so writers
    * with independent id sequences never dedupe each other (no `app` is
    * the default slot, the manifest's `txn` line). */
  private[graft] final case class Txn(id: Long = -1L,
      app: Option[String] = None) {
    private def slot(m: Manifest): Long =
      app.map(m.txns.getOrElse(_, -1L)).getOrElse(m.lastTxn)

    /** `head` already applied this id: the commit is a replay. */
    def applied(head: Manifest): Boolean = id >= 0 && slot(head) >= id

    /** The slots (`lastTxn`, `txns`) after this commit: its own slot
      * advances to `id`, or is set to it by a truncate (a fresh query
      * restarts its ids at 0); every other slot carries forward. */
    def advance(head: Option[Manifest],
        truncate: Boolean): (Long, Map[String, Long]) = {
      val last = head.map(_.lastTxn).getOrElse(-1L)
      val txns = head.map(_.txns).getOrElse(Map.empty[String, Long])
      if (id < 0) (last, txns)
      else {
        val v = if (truncate) id else math.max(id, head.map(slot).getOrElse(-1L))
        app.fold((v, txns))(a => (last, txns + (a -> v)))
      }
    }
  }

  /** A schema's columns as (name, storage tag) pairs, in order. */
  private[shard] def columns(st: StructType): Seq[(String, String)] =
    st.fields.toSeq.map(f => (f.name, typeTag(f.dataType)))

  /** The one schema rule for rows written into an existing table: they
    * carry exactly the table's VISIBLE columns, matched by name and
    * STORAGE tag in any order. Tags, not DataTypes: the manifest
    * round-trips neither nullability nor metadata, and a tag collapses
    * an array's containsNull (null elements reject at write either
    * way). Drop tombstones are physical slots the writer fills, never
    * part of the user's frame. */
  private[graft] def requireSchema(table: StructType,
      write: StructType): Unit =
    require(columns(visible(table)).sorted == columns(write).sorted,
      s"gshard schema mismatch: table=${visible(table).catalogString} " +
        s"write=${write.catalogString}")

  /** THE gshard commit: every writer publishes its generation here.
    * Under the table lock it reads the head once, then:
    *
    *  - `basedOn` is the generation the caller planned against (-1 =
    *    an uncommitted table): a moved head fails the commit with
    *    [[java.util.ConcurrentModificationException]]. None is a blind
    *    writer that plans on the head read here;
    *  - `txn`: an id the head already applied makes the commit a no-op
    *    that returns the head; otherwise the slot advances
    *    ([[Txn.advance]]). A `truncate` is never a replay: a fresh
    *    query reusing the directory restarts its ids at 0, and
    *    dropping its data for the stale table's would invert the
    *    contract;
    *  - `write`, the schema of the rows written, must pass
    *    [[requireSchema]] against the head (a truncate may replace the
    *    schema, so it is not checked);
    *  - `edit` turns the head into the next schema and entry list.
    *    `gen`, the txn slots, `changes` and `cdf` are set here, never
    *    carried from the head: change files describe one commit.
    *
    * It publishes through [[publishManifest]] on the head it read, so
    * the publish reads no manifest. A commit that publishes nothing (a
    * replay, a failed check, a lost race) deletes `staged`, the files
    * the caller wrote for it; once the commit record is linked the
    * generation is committed, and a failure after that (the pointer
    * rename) deletes nothing. Returns the published manifest. */
  private[graft] def commit(dir: String, basedOn: Option[Long] = None,
      txn: Txn = Txn(), truncate: Boolean = false,
      write: Option[StructType] = None, staged: Seq[String] = Seq.empty,
      changes: Seq[(String, Long)] = Seq.empty, cdf: Boolean = false)(
      edit: Option[Manifest] => Manifest): Manifest =
    tableLock(dir).synchronized {
      def discard(): Unit =
        staged.foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
      val head = headOf(dir)
      val headG = head.map(_.gen).getOrElse(-1L)
      val next =
        try {
          basedOn.foreach(requireHead(dir, _, headG))
          if (!truncate && head.exists(txn.applied)) None
          else {
            if (!truncate) for (w <- write; h <- head) requireSchema(h.schema, w)
            val e = edit(head)
            val (lastTxn, txns) = txn.advance(head, truncate)
            Some(Manifest(e.schema, e.entries, lastTxn, txns, headG + 1,
              changes, cdf))
          }
        } catch { case t: Throwable => discard(); throw t }
      next match {
        case None => discard(); head.get
        case Some(m) =>
          try publishManifest(dir, m, headG, _ => head)
          catch {
            case t: java.util.ConcurrentModificationException =>
              discard(); throw t
          }
      }
    }

  /** Fails unless the head sits at `basedOn`, the generation the
    * writer planned against. */
  private def requireHead(dir: String, basedOn: Long, headG: Long): Unit =
    if (headG != basedOn)
      throw new java.util.ConcurrentModificationException(
        s"gshard: concurrent commit detected at $dir — this write " +
          s"planned against generation $basedOn but the head is now " +
          s"$headG (a concurrent writer committed); re-plan against " +
          "the new head and retry")

  // ── SCHEMA EVOLUTION: tombstones (DROP) and renames ────────────────
  //
  // Shard files carry NO column names — blocks are POSITIONAL against
  // the manifest schema, and every file's blocks are a PREFIX of it.
  // That makes RENAME a manifest-only rekey (position unchanged) and
  // DROP a positional TOMBSTONE: the field stays in the manifest
  // schema (keeping its storage type, so old files still decode) under
  // the reserved name `__dropped_<pos>`, hidden from every user-facing
  // schema; new files write an all-null block in that slot (a null
  // bitmap + a ~zero-byte FOR/empty block — bytes, not a rewrite).
  // Time travel is untouched: archived generations carry their own
  // schema line, so a pre-drop version still shows (and decodes) the
  // column.

  private[shard] val TombstonePrefix = "__dropped_"

  private[shard] def isTombstone(name: String): Boolean =
    name.startsWith(TombstonePrefix)

  /** The USER-VISIBLE schema: the physical manifest schema minus
    * drop tombstones. Everything user-facing (table schemas, scans'
    * default projection, CDC feeds, append schema checks) speaks
    * visible; decode paths speak physical. */
  private[graft] def visible(schema: StructType): StructType =
    StructType(schema.fields.filterNot(f => isTombstone(f.name)))

  /** Rekey one entry's per-column stats for a RENAME. */
  private[shard] def renameStats(e: ShardEntry, from: String,
      to: String): ShardEntry = {
    def rk[V](m: Map[String, V]): Map[String, V] =
      m.get(from) match {
        case Some(v) => m - from + (to -> v)
        case None => m
      }
    e.copy(zMin = rk(e.zMin), zMax = rk(e.zMax), sMin = rk(e.sMin),
      sMax = rk(e.sMax), nullCnt = rk(e.nullCnt), bloom = rk(e.bloom),
      bloomBpv = rk(e.bloomBpv), dMin = rk(e.dMin), dMax = rk(e.dMax),
      sums = rk(e.sums))
  }

  /** Drop one column's stats (a DROPPED column must not keep pruning
    * or bloom state alive under its tombstone). */
  private[shard] def stripStats(e: ShardEntry, name: String): ShardEntry =
    e.copy(zMin = e.zMin - name, zMax = e.zMax - name,
      sMin = e.sMin - name, sMax = e.sMax - name,
      nullCnt = e.nullCnt - name, bloom = e.bloom - name,
      bloomBpv = e.bloomBpv - name, dMin = e.dMin - name,
      dMax = e.dMax - name, sums = e.sums - name)

  /** Memoized staged-table build: the hasManifest probe and `build`
    * run under the per-table lock, so two concurrent cold consumers
    * never BOTH run the build ([[write]] recursively deletes the
    * directory — the second builder would tear the first's table out
    * from under its readers). Readers outside the lock stay safe via
    * the manifest-written-last invariant. Reentrant for the building
    * thread (same monitor). */
  private[graft] def ensureStaged(dir: String)(build: => Unit): Unit =
    tableLock(dir).synchronized {
      if (!hasManifest(dir)) build
    }

  /** The commit point, with ATOMIC cross-process concurrency control;
    * [[commit]] is its one caller in the engine, and specs drive it
    * directly. The COMMIT POINT is an EXCLUSIVE CREATE: the manifest
    * body is written to a temp name, then hard-linked to the next
    * generation's immutable commit record `_manifest.v<gen+1>.gshard`
    * — `Files.createLink` fails with `FileAlreadyExistsException`
    * when the record exists, which is the filesystem's own
    * compare-and-swap (O_EXCL / link(2) EEXIST), the public Delta-log
    * commit protocol on HDFS-class stores. Two PROCESSES can
    * therefore never both win generation N+1: exactly one link
    * succeeds; the loser throws
    * [[java.util.ConcurrentModificationException]].
    *
    * `_manifest.gshard` (what readers open first) is the head
    * pointer: after the record lands, a fresh name is hard-linked to
    * the record and atomically renamed over the pointer, so the
    * pointer is a SECOND LINK TO THE HEAD RECORD. The commit renders
    * and writes the manifest once, and the rename frees no disk
    * blocks: the old pointer's inode is the previous record, still
    * linked (on a file system that frees blocks slowly, such as ext4
    * mounted `discard`, freeing them was a large share of each
    * upsert; `scripts/fs_probe.py` times both steps). A crash in
    * between leaves the pointer behind, and [[readManifest]]
    * reconciles forward off the records — the record IS the commit.
    *
    * `basedOn` is the head generation the caller READ when it planned
    * the mutation (-1 = planned against an uncommitted table): a
    * moved head fails fast here before staging the record; a head
    * that moves BETWEEN that check and the link loses at the link —
    * either way, never last-writer-wins. `readHead` reads the head to
    * check; [[commit]] passes the one it already read. Returns the
    * published manifest with its assigned generation. */
  private[graft] def publishManifest(dir: String, m: Manifest,
      basedOn: Long,
      readHead: String => Option[Manifest] = headOf): Manifest = {
    val head = readHead(dir)
    val headG = head.map(_.gen).getOrElse(-1L)
    requireHead(dir, basedOn, headG)
    Files.createDirectories(Paths.get(dir))
    // self-heal: a pre-record table (bootstrapped by a legacy layout
    // or a crash that lost records to manual cleanup) gets its head's
    // own record re-materialized so the chain stays contiguous
    head.foreach { h =>
      val rec = Paths.get(dir, archiveName(h.gen))
      if (!Files.exists(rec)) {
        val t = Files.createTempFile(Paths.get(dir), ".gshard_heal", ".tmp")
        Files.write(t, renderManifest(h))
        try Files.createLink(rec, t)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        Files.deleteIfExists(t)
      }
    }
    val next = m.copy(gen = headG + 1)
    linkCommitRecord(dir, next)
    // the head pointer becomes a second name of the record just
    // linked — readers that catch us between link and move reconcile
    // forward
    val tmp = Paths.get(dir, s".gshard_head${java.util.UUID.randomUUID}.tmp")
    Files.createLink(tmp, Paths.get(dir, archiveName(next.gen)))
    Files.move(tmp, Paths.get(dir, "_manifest.gshard"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    next
  }

  /** The CAS primitive: render `m` to a temp file, then exclusively
    * create `_manifest.v<m.gen>.gshard` as a hard link to it. Exactly
    * one caller (across ALL processes) can succeed per generation;
    * losers throw [[java.util.ConcurrentModificationException]]. */
  private[shard] def linkCommitRecord(dir: String, m: Manifest): Unit = {
    val tmp = Files.createTempFile(Paths.get(dir), ".gshard_commit", ".tmp")
    Files.write(tmp, renderManifest(m))
    try Files.createLink(Paths.get(dir, archiveName(m.gen)), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new java.util.ConcurrentModificationException(
          s"gshard: lost the commit race at $dir — generation ${m.gen} " +
            "was committed by a concurrent writer (its commit record " +
            "already exists); re-plan against the new head and retry")
    }
    Files.deleteIfExists(tmp)
  }

  /** Directory listing that CLOSES the underlying stream —
    * `Files.list` holds a directory fd until closed, and the callers
    * here (archive scans, vacuum, catalog listing) run per-query. */
  private[graft] def listDir(d: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString).toVector
    finally s.close()
  }

  /** ALL commit-record generations on disk (ascending) — since r17
    * every generation INCLUDING the head carries its own record (the
    * record is the commit). */
  private[shard] def commitRecordGens(dir: String): Seq[Long] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    val Pat = """_manifest\.v(\d+)\.gshard""".r
    listDir(d).flatMap {
      case Pat(g) => Some(g.toLong)
      case _ => None
    }.sorted
  }

  /** ARCHIVED generation numbers (ascending): retained generations
    * STRICTLY BELOW the head — the set time travel and vacuum
    * retention reason about. (The head's own commit record is not an
    * archive; it is the live commit.) */
  private[graft] def archivedGens(dir: String): Seq[Long] = {
    val recs = commitRecordGens(dir)
    if (recs.isEmpty) Seq.empty
    else {
      val headG = readManifest(dir).gen
      recs.filter(_ < headG)
    }
  }

  /** `VERSION AS OF v`: the head when v is the head generation, else
    * the retained archive — a version beyond head fails as
    * not-committed, a missing archive as vacuumed (the Delta
    * contract: loud, never a partial read). */
  def readManifestVersion(dir: String, version: Option[Long]): Manifest = {
    val head = readManifest(dir)
    version match {
      case None => head
      case Some(v) if v == head.gen => head
      case Some(v) =>
        require(v >= 0 && v < head.gen,
          s"gshard: version $v not committed (head is ${head.gen})")
        val p = Paths.get(dir, archiveName(v))
        require(Files.exists(p),
          s"gshard: version $v was vacuumed (retained: " +
            s"${archivedGens(dir).mkString(",")} + head ${head.gen})")
        manifestReads.incrementAndGet()
        readManifestLines(Files.readAllLines(p))
    }
  }

  /** VACUUM with retention: drop archived manifests older than the
    * newest `keepVersions`, then sweep data files referenced by NO
    * retained manifest (head + surviving archives). Time travel to a
    * vacuumed generation then fails loudly ([[readManifestVersion]]);
    * the head read is never affected. Returns the swept data files.
    * Manifests are deleted FIRST: a crash mid-sweep leaves orphan
    * data files (re-sweepable), never a retained manifest naming
    * deleted data.
    *
    * `minAgeSeconds` is the CONCURRENT-WRITER guard (Delta's vacuum
    * retention-period discipline): an unreferenced file is swept only
    * when older than the threshold, so an in-flight writer's
    * staged-but-not-yet-published files (they become referenced at
    * its publish, which vacuum cannot see coming) are never deleted
    * from under it. 0 (the default) sweeps everything — correct for
    * single-writer maintenance windows and what the specs/gates
    * exercise; a deployment with concurrent writers must pass an age
    * comfortably above its longest write job. */
  def vacuum(dir: String, keepVersions: Int = 0,
      minAgeSeconds: Long = 0L): Seq[String] = {
    require(keepVersions >= 0, "keepVersions must be >= 0")
    // ONE head parse for the whole sweep (archivedGens would re-read
    // the manifest per call — three full parses per vacuum otherwise)
    val head = readManifest(dir)
    val archived = commitRecordGens(dir).filter(_ < head.gen)
    val drop = archived.dropRight(keepVersions)
    drop.foreach(g => Files.deleteIfExists(Paths.get(dir, archiveName(g))))
    val retainedManifests = head +:
      archived.drop(drop.length).map(g =>
        readManifestLines(Files.readAllLines(Paths.get(dir, archiveName(g)))))
    // retained = data files, delete-vector sidecars, AND change
    // files any retained generation references; everything else
    // part-/dv-/chg- sweeps
    val retained = retainedManifests.flatMap(m =>
      m.entries.map(_.file) ++ m.entries.flatMap(_.dv.map(_._1)) ++
        m.changes.map(_._1)).toSet
    val cutoff = System.currentTimeMillis() - minAgeSeconds * 1000L
    val swept = listDir(Paths.get(dir))
      .filter(f => (f.startsWith("part-") || f.startsWith("dv-") ||
        f.startsWith("chg-")) &&
        f.endsWith(".gshard") &&
        !retained(f) &&
        (minAgeSeconds <= 0L ||
          Files.getLastModifiedTime(Paths.get(dir, f)).toMillis <= cutoff))
      .sorted
    swept.foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
    swept
  }

  /** EOF-safe skip: `InputStream.skip` may legally return 0 forever
    * (and does at EOF), so a truncated or corrupt file must FAIL, not
    * hang — any shortfall falls back to `read()` and a -1 there is a
    * loud EOFException. */
  private def skipFully(dis: DataInputStream, n: Long): Unit = {
    var toSkip = n
    while (toSkip > 0) {
      val s = dis.skip(toSkip)
      if (s > 0) toSkip -= s
      else if (dis.read() == -1)
        throw new EOFException(s"gshard: truncated file ($toSkip bytes missing)")
      else toSkip -= 1
    }
  }

  /** Sound zone test shared by file- and chunk-level pruning: may a
    * region with these LONG bounds contain a row satisfying ALL the
    * conjuncts? Columns without bounds (all-null or unknown) and
    * unrecognized filter shapes always admit — every filter is
    * residual, so admitting too much only costs IO. NULL semantics
    * make ignoring null rows sound: a comparison to NULL is never
    * true, so nulls can't be the reason a region must survive. */
  private[shard] def longZoneAdmits(filters: Seq[Filter],
      has: String => Boolean, lo: String => Long, hi: String => Long)
      : Boolean =
    filters.forall {
      case EqualTo(c, v: Long) if has(c) => lo(c) <= v && v <= hi(c)
      case GreaterThan(c, v: Long) if has(c) => hi(c) > v
      case GreaterThanOrEqual(c, v: Long) if has(c) => hi(c) >= v
      case LessThan(c, v: Long) if has(c) => lo(c) < v
      case LessThanOrEqual(c, v: Long) if has(c) => lo(c) <= v
      case In(c, vs) if has(c) && vs.nonEmpty => vs.exists {
        case v: Long => lo(c) <= v && v <= hi(c)
        case _ => true
      }
      case _ => true
    }

  /** NULL-predicate admission from the manifest's per-column null
    * counts (the parquet null_count statistic): `IsNull(c)` cannot
    * match a file with ZERO nulls in c; `IsNotNull(c)` cannot match a
    * file where EVERY row is null in c. Files without a recorded
    * count (pre-nullcount manifests) always admit — sound, because
    * every filter stays residual. */
  private[shard] def nullCountAdmits(filters: Seq[Filter],
      nullCnt: String => Option[Long], rows: Long): Boolean =
    filters.forall {
      case org.apache.spark.sql.sources.IsNull(c) =>
        !nullCnt(c).contains(0L)
      case org.apache.spark.sql.sources.IsNotNull(c) =>
        nullCnt(c).forall(_ < rows)
      case _ => true
    }

  /** The string twin of [[longZoneAdmits]], over unsigned-byte bounds
    * (the `UTF8String` comparison order Spark itself evaluates string
    * predicates in — pruning and residual agree by construction). */
  private[shard] def stringZoneAdmits(filters: Seq[Filter],
      has: String => Boolean, lo: String => Array[Byte],
      hi: String => Array[Byte]): Boolean = {
    def bytes(v: String) = v.getBytes(StandardCharsets.UTF_8)
    def cmp(a: Array[Byte], b: Array[Byte]) =
      java.util.Arrays.compareUnsigned(a, b)
    filters.forall {
      case EqualTo(c, v: String) if has(c) =>
        cmp(lo(c), bytes(v)) <= 0 && cmp(bytes(v), hi(c)) <= 0
      case GreaterThan(c, v: String) if has(c) => cmp(hi(c), bytes(v)) > 0
      case GreaterThanOrEqual(c, v: String) if has(c) =>
        cmp(hi(c), bytes(v)) >= 0
      case LessThan(c, v: String) if has(c) => cmp(lo(c), bytes(v)) < 0
      case LessThanOrEqual(c, v: String) if has(c) =>
        cmp(lo(c), bytes(v)) <= 0
      case In(c, vs) if has(c) && vs.nonEmpty => vs.exists {
        case v: String =>
          cmp(lo(c), bytes(v)) <= 0 && cmp(bytes(v), hi(c)) <= 0
        case _ => true
      }
      case _ => true
    }
  }

  /** The DOUBLE twin of [[longZoneAdmits]]. Bounds exist only for
    * NaN-FREE regions (the writer suppresses the slot otherwise), so
    * inside a bounded region Java's primitive comparisons agree with
    * Spark's evaluation (-0.0 == 0.0 on both; no NaN present). A NaN
    * LITERAL always admits: Spark orders NaN largest and NaN = NaN
    * true — e.g. `x < NaN` holds for every non-NaN x, so a primitive
    * test against it would prune wrongly; admitting costs only IO. */
  private[shard] def doubleZoneAdmits(filters: Seq[Filter],
      has: String => Boolean, lo: String => Double, hi: String => Double)
      : Boolean = {
    def isNaN(v: Double) = v != v
    filters.forall {
      case EqualTo(c, v: Double) if has(c) =>
        isNaN(v) || (lo(c) <= v && v <= hi(c))
      case GreaterThan(c, v: Double) if has(c) => isNaN(v) || hi(c) > v
      case GreaterThanOrEqual(c, v: Double) if has(c) =>
        isNaN(v) || hi(c) >= v
      case LessThan(c, v: Double) if has(c) => isNaN(v) || lo(c) < v
      case LessThanOrEqual(c, v: Double) if has(c) =>
        isNaN(v) || lo(c) <= v
      case In(c, vs) if has(c) && vs.nonEmpty => vs.exists {
        case v: Double => isNaN(v) || (lo(c) <= v && v <= hi(c))
        case _ => true
      }
      case _ => true
    }
  }

  /** THE gshard decode, the inverse of [[storageValue]]: one shard
    * file read chunk by chunk straight into Catalyst column vectors.
    * The file opens at the first [[next]] and closes once its last
    * chunk is read (or at [[close]]). Each [[next]] walks chunk headers
    * and skips every chunk whose zone maps reject `filters` (chunk
    * skipping — the intra-file analog of manifest file skipping; sound
    * because every filter is residual) or whose rows the sorted delete
    * vector `deleted` masks entirely. It decodes the next surviving
    * chunk's `required` columns into `out` (one vector per name, in
    * order; the other columns are skipped via their length prefix) and
    * returns the chunk's unmasked row count. Masking happens in the
    * same per-row loop as the decode; a required `_pos` receives each
    * row's PHYSICAL position in the file — stable across chunk skipping
    * AND masking, the coordinate system delete vectors address — and a
    * required column the file predates reads all-NULL. Memory is one
    * chunk per column, the writer's bound. A truncated file fails
    * loudly ([[skipFully]], `readFully`) while iterating. */
  private[shard] final class ChunkReader(path: String, schema: StructType,
      required: Seq[String], filters: Seq[Filter] = Nil,
      deleted: Array[Long] = null) extends java.io.Closeable {
    import org.apache.spark.sql.execution.vectorized.WritableColumnVector

    /** The chunk audit: chunks decoded, and chunk headers walked. */
    var chunksRead = 0
    var chunksTotal = 0

    private val dv = if (deleted == null) Array.emptyLongArray else deleted
    private val posSlot = required.indexOf("_pos")
    private var in: DataInputStream = null
    private var done = false
    // the file's column PREFIX of the schema; per column its slot in
    // `required` (-1: skipped); required columns the file predates
    private var fields: Array[StructField] = null
    private var slot: Array[Int] = null
    private var missing: Seq[Int] = null
    // PHYSICAL position of the next chunk's first row — it advances
    // over SKIPPED chunks too (their headers carry nRows), so `_pos`
    // and masking stay exact under chunk skipping; `dvAt` is the first
    // delete-vector entry at or past it
    private var rowBase = 0L
    private var dvAt = 0

    private def open(): Unit = {
      in = new DataInputStream(
        new java.io.BufferedInputStream(new FileInputStream(path), 1 << 16))
      require(in.readInt() == Magic, s"bad magic in $path")
      require(in.readInt() == Version, s"bad version in $path")
      val nCols = in.readInt()
      // SCHEMA EVOLUTION: a file may predate trailing ADD COLUMNs —
      // its chunks carry slots and blocks only for its own column
      // PREFIX of the (append-only) table schema; the columns it
      // doesn't know read back as all-NULL. More columns than the
      // schema is corruption, not evolution.
      require(nCols <= schema.length,
        s"file/schema column count mismatch in $path")
      fields = schema.fields.take(nCols)
      slot = fields.map(f => required.indexOf(f.name))
      missing = required.indices.filter(o =>
        o != posSlot && !fields.exists(_.name == required(o)))
    }

    override def close(): Unit = {
      done = true
      if (in != null) { in.close(); in = null }
    }

    /** Decode the next surviving chunk into `out`; returns its row
      * count, or -1 once the file is exhausted. */
    def next(out: Array[WritableColumnVector]): Int = {
      if (in == null && !done) open()
      while (!done) {
        // chunks are self-delimiting: clean EOF on the first header
        // byte ends the file; EOF anywhere inside a chunk is corruption
        val b0 = in.read()
        if (b0 == -1) close()
        else {
          val nRows = (b0 << 24) | (in.readUnsignedByte() << 16) |
            (in.readUnsignedByte() << 8) | in.readUnsignedByte()
          val restLen = in.readLong()
          chunksTotal += 1
          var zoneLen = 0L
          val zHas = mutable.Map.empty[String, (Long, Long)]
          fields.filter(f => physicallyLong(f.dataType)).foreach { f =>
            val has = in.readByte() != 0
            val mn = in.readLong(); val mx = in.readLong()
            zoneLen += 17L
            if (has) zHas(f.name) = (mn, mx)
          }
          val sHas = mutable.Map.empty[String, (Array[Byte], Array[Byte])]
          fields.filter(_.dataType == StringType).foreach { f =>
            val has = in.readByte() != 0
            zoneLen += 1L
            if (has) {
              val mn = new Array[Byte](in.readInt()); in.readFully(mn)
              val mx = new Array[Byte](in.readInt()); in.readFully(mx)
              zoneLen += 8L + mn.length + mx.length
              sHas(f.name) = (mn, mx)
            }
          }
          val dHas = mutable.Map.empty[String, (Double, Double)]
          fields.filter(_.dataType == DoubleType).foreach { f =>
            val has = in.readByte() != 0
            val mn = in.readDouble(); val mx = in.readDouble()
            zoneLen += 17L
            if (has) dHas(f.name) = (mn, mx)
          }
          val admit =
            longZoneAdmits(filters, zHas.contains, zHas(_)._1, zHas(_)._2) &&
              stringZoneAdmits(filters,
                sHas.contains, sHas(_)._1, sHas(_)._2) &&
              doubleZoneAdmits(filters,
                dHas.contains, dHas(_)._1, dHas(_)._2)
          // this chunk's delete-vector entries: dv(from until dvAt)
          val base = rowBase
          rowBase += nRows
          val from = dvAt
          while (dvAt < dv.length && dv(dvAt) < rowBase) dvAt += 1
          val n = nRows - (dvAt - from)
          if (!admit || n == 0) skipFully(in, restLen - zoneLen)
          else {
            // the surviving local rows, ascending (null: all survive)
            val rows =
              if (n == nRows) null
              else {
                val a = new Array[Int](n)
                var p = from
                var w = 0
                var i = 0
                while (i < nRows) {
                  if (p < dvAt && dv(p) == base + i) p += 1
                  else { a(w) = i; w += 1 }
                  i += 1
                }
                a
              }
            out.foreach { v => v.reset(); v.reserve(n) }
            var c = 0
            while (c < fields.length) {
              val len = in.readLong()
              if (slot(c) < 0) skipFully(in, len)
              else decodeColumn(fields(c).dataType, len, nRows, n, rows,
                out(slot(c)))
              c += 1
            }
            if (posSlot >= 0) {
              val v = out(posSlot)
              var w = 0
              while (w < n) {
                v.putLong(w, base + (if (rows == null) w else rows(w)))
                w += 1
              }
            }
            missing.foreach(o => out(o).putNulls(0, n))
            chunksRead += 1
            return n
          }
        }
      }
      -1
    }

    /** One column block (`len` bytes) of an `nRows`-row chunk into `v`:
      * output row `w` takes the chunk's local row `rows(w)` (`w` when
      * `rows` is null). */
    private def decodeColumn(dt: DataType, len: Long, nRows: Int, n: Int,
        rows: Array[Int], v: WritableColumnVector): Unit = {
      val nulls = new Array[Byte]((nRows + 7) / 8)
      in.readFully(nulls)
      // the per-row loop every block shares: NULL slots set the
      // vector's null bit, the others `put(w, i)`
      def each(put: (Int, Int) => Unit): Unit = {
        var w = 0
        while (w < n) {
          val i = if (rows == null) w else rows(w)
          if ((nulls(i >> 3) & (1 << (i & 7))) != 0) v.putNull(w)
          else put(w, i)
          w += 1
        }
      }
      // list rows: row i's elements [offs(i), offs(i + 1)) land in the
      // child vector at the next free offset, `put(childOffset, i)`
      def eachList(offs: Array[Int])(put: (Int, Int) => Unit): Unit = {
        v.arrayData().reserve(offs(nRows))
        var off = 0
        each { (w, i) =>
          val m = offs(i + 1) - offs(i)
          put(off, i)
          v.putArray(w, off, m)
          off += m
        }
      }
      // a string or string-list payload: deflated when the tag's
      // CompressFlag is set, inflated to the raw encoding, which then
      // parses identically
      def payload(tag: Int): DataInputStream =
        if ((tag & CompressFlag) == 0) in
        else {
          val comp = new Array[Byte]((len - nulls.length - 1).toInt)
          in.readFully(comp)
          new DataInputStream(new java.io.ByteArrayInputStream(inflate(comp)))
        }
      dt match {
        case _ if physicallyLong(dt) =>
          val x = readLongSeq(in, nRows)
          dt match {
            case DateType | IntegerType => each((w, i) => v.putInt(w, x(i).toInt))
            case BooleanType => each((w, i) => v.putBoolean(w, x(i) != 0L))
            case d: DecimalType => each((w, i) =>
              v.putDecimal(w, Decimal(x(i), d.precision, d.scale), d.precision))
            // long and timestamps: the stored micros ARE the Catalyst
            // internal encoding
            case _ => each((w, i) => v.putLong(w, x(i)))
          }
        case DoubleType =>
          val raw = new Array[Byte](8 * nRows)
          in.readFully(raw)
          val x = new Array[Double](nRows)
          java.nio.ByteBuffer.wrap(raw).asDoubleBuffer().get(x)
          each((w, i) => v.putDouble(w, x(i)))
        case StringType =>
          val t = in.readByte()
          val src = payload(t)
          (t & ~CompressFlag) match {
            case 0 => // plain: offsets + one byte buffer
              val offs = readInts(src, nRows + 1)
              val bytes = new Array[Byte](offs(nRows))
              src.readFully(bytes)
              each((w, i) =>
                v.putByteArray(w, bytes, offs(i), offs(i + 1) - offs(i)))
            case 1 => // dictionary: entries once in one buffer, u8 indices
              val d = src.readUnsignedByte()
              val offs = readInts(src, d + 1)
              val dict = new Array[Byte](offs(d))
              src.readFully(dict)
              val idx = new Array[Byte](nRows)
              src.readFully(idx)
              each { (w, i) =>
                val k = idx(i) & 0xFF
                v.putByteArray(w, dict, offs(k), offs(k + 1) - offs(k))
              }
            case other => throw new IllegalStateException(
              s"gshard: unknown string encoding tag $other")
          }
        case ArrayType(StringType, _) =>
          // tag byte (plain / deflated payload), then row element
          // offsets, element byte offsets, ONE bulk byte read
          val t = in.readByte()
          val src = payload(t)
          require((t & ~CompressFlag) == 0,
            s"gshard: unknown string-list encoding tag $t")
          val rOffs = readInts(src, nRows + 1)
          val nElems = rOffs(nRows)
          require(nElems >= 0 && nElems <= Int.MaxValue - 64,
            s"gshard: corrupt string-list block ($nElems elements)")
          val eOffs = readInts(src, nElems + 1)
          val bytes = new Array[Byte](eOffs(nElems))
          src.readFully(bytes)
          val child = v.arrayData()
          eachList(rOffs) { (off, i) =>
            var e = rOffs(i)
            while (e < rOffs(i + 1)) {
              child.putByteArray(off + e - rOffs(i), bytes, eOffs(e),
                eOffs(e + 1) - eOffs(e))
              e += 1
            }
          }
        case ArrayType(et @ (IntegerType | LongType), _) =>
          // token-id list: row offsets + one flat long-seq decode
          val rOffs = readInts(in, nRows + 1)
          val nElems = rOffs(nRows)
          require(nElems >= 0 && nElems.toLong * 8 <= Int.MaxValue - 64,
            s"gshard: corrupt token-id block ($nElems elements)")
          val flat = readLongSeq(in, nElems)
          val child = v.arrayData()
          if (et == LongType)
            eachList(rOffs)((off, i) =>
              child.putLongs(off, rOffs(i + 1) - rOffs(i), flat, rOffs(i)))
          else {
            val ints = flat.map(_.toInt)
            eachList(rOffs)((off, i) =>
              child.putInts(off, rOffs(i + 1) - rOffs(i), ints, rOffs(i)))
          }
        case ArrayType(et, _) =>
          // vector block: one bulk read of raw (big-endian) IEEE bits —
          // exact, the writer used raw bits too
          val esz = if (et == FloatType) 4 else 8
          val offs: Array[Int] = in.readByte() match {
            case 0 => // fixed-dim: implicit addressing
              val dim = in.readInt()
              // a corrupt dim would overflow the Int offsets silently —
              // fail loudly instead
              require(dim >= 0 &&
                nRows.toLong * dim * esz <= Int.MaxValue - 64,
                s"gshard: corrupt vector block (dim=$dim)")
              Array.tabulate(nRows + 1)(_ * dim)
            case 1 => readInts(in, nRows + 1) // variable: element offsets
            case other => throw new IllegalStateException(
              s"gshard: unknown vector encoding tag $other")
          }
          val total = offs(nRows).toLong
          require(total >= 0 && total * esz <= Int.MaxValue - 64,
            s"gshard: corrupt vector block ($total elements)")
          val raw = new Array[Byte]((total * esz).toInt)
          in.readFully(raw)
          val bb = java.nio.ByteBuffer.wrap(raw)
          val child = v.arrayData()
          if (et == FloatType) {
            val x = new Array[Float](total.toInt)
            bb.asFloatBuffer().get(x)
            eachList(offs)((off, i) =>
              child.putFloats(off, offs(i + 1) - offs(i), x, offs(i)))
          } else {
            val x = new Array[Double](total.toInt)
            bb.asDoubleBuffer().get(x)
            eachList(offs)((off, i) =>
              child.putDoubles(off, offs(i + 1) - offs(i), x, offs(i)))
          }
        case other => throw new IllegalStateException(other.toString)
      }
    }
  }

  private def readInts(in: DataInputStream, n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var i = 0
    while (i < n) { out(i) = in.readInt(); i += 1 }
    out
  }
}
