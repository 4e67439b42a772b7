package graft.functions

import graft.functions.Bytes.{leU16, leU32, leU64}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Shard-archive surface: the container formats training data actually
 * ships in. WebDataset shards are tar files (members grouped into
 * samples by the basename before the first dot), NumPy bundles are
 * zip files of npy members (npz), and both travel gzip-compressed.
 * Listing members and slicing STORED entries are pure byte walks — no
 * decompression — so a 100 TB lake can be inventoried, sampled and
 * validated without decoding anything:
 *
 *  - [[TarHeaders]]: ustar 512-byte headers (octal sizes, prefix field,
 *    GNU longname 'L' entries), entries as (name, size, offset, type).
 *  - [[ZipHeaders]]: end-of-central-directory scan from the tail, then
 *    the central directory; STORED members resolve to exact payload
 *    slices via their local headers — `zip_stored_member` feeds
 *    `npy_meta`/`image_dims`/... directly.
 *  - [[GzipBytes]]: bounded gzip inflate (header flag fields skipped per
 *    RFC 1952) with an explicit output cap so a zip bomb costs a null,
 *    not an OOM — composes as `tar_entries(gunzip(blob, cap))` for
 *    .tar.gz shards.
 *
 * All walks are bounds-checked; corrupt bytes decode to null.
 */
object TarHeaders {

  val elementType: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("type", StringType, nullable = false)))

  final case class Entry(name: String, size: Long, offset: Long, typ: String)

  private val MaxEntries = 1 << 20

  private def str(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    val stop = off + len
    while (end < stop && b(end) != 0) end += 1
    new String(b, off, end - off, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Octal field (NUL/space-terminated); -1 on garbage. Base-256 (GNU
   *  binary) sizes use the 0x80 marker on the first byte. */
  private def num(b: Array[Byte], off: Int, len: Int): Long = {
    if ((b(off) & 0x80) != 0) { // GNU base-256
      var v = (b(off) & 0x7fL)
      var i = off + 1
      while (i < off + len) {
        if (v > (Long.MaxValue >> 8)) return -1L
        v = (v << 8) | (b(i) & 0xffL)
        i += 1
      }
      return v
    }
    var v = 0L
    var i = off
    var seen = false
    while (i < off + len) {
      val c = b(i)
      if (c >= '0' && c <= '7') {
        if (v > (Long.MaxValue >> 3)) return -1L
        v = (v << 3) | (c - '0')
        seen = true
      } else if (c == 0 || c == ' ') {
        if (seen) return v
      } else return -1L
      i += 1
    }
    if (seen) v else -1L
  }

  /** The format's own validity gate: the simple sum of the 512 header
   *  bytes with the checksum field read as spaces must equal the recorded
   *  octal value (the historical signed-byte variant is accepted too).
   *  This is what distinguishes a real tar header from a random blob
   *  whose byte 124 happens to parse as octal. */
  private def checksumOk(b: Array[Byte], off: Int): Boolean = {
    val recorded = num(b, off + 148, 8)
    if (recorded < 0) return false
    var unsigned = 0L
    var signed = 0L
    var k = 0
    while (k < 512) {
      val v: Byte = if (k >= 148 && k < 156) ' '.toByte else b(off + k)
      unsigned += v & 0xff
      signed += v
      k += 1
    }
    recorded == unsigned || recorded == signed
  }

  /** PAX extended-header payload: "<len> <key>=<value>\n" records; the
   *  `path` value, or null. */
  private def paxPath(b: Array[Byte], off: Int, len: Int): String = {
    var i = off
    val end = off + len
    while (i < end) {
      var j = i
      var rl = 0L
      while (j < end && b(j) >= '0' && b(j) <= '9' && rl < (1 << 20)) {
        rl = rl * 10 + (b(j) - '0'); j += 1
      }
      if (j >= end || b(j) != ' ' || rl <= 0 || i + rl > end) return null
      val recEnd = i + rl.toInt
      var eq = j + 1
      while (eq < recEnd && b(eq) != '=') eq += 1
      if (eq < recEnd) {
        val key = new String(b, j + 1, eq - (j + 1),
          java.nio.charset.StandardCharsets.UTF_8)
        if (key == "path" && recEnd - 1 > eq + 1)
          return new String(b, eq + 1, recEnd - 1 - (eq + 1),
            java.nio.charset.StandardCharsets.UTF_8) // strip trailing \n
      }
      i = recEnd
    }
    null
  }

  /** Parsed fields of ONE 512-byte header block — shared by the in-row
   *  blob walk ([[entries]]) and the streaming shard source
   *  ([[graft.sources.TarShards]]), so header semantics (checksum gate,
   *  POSIX-vs-old-GNU prefix, octal/base-256 sizes) cannot diverge.
   *  Longname/PAX override state is walk-level and stays with callers.
   *  Null when the checksum gate or size field fails. */
  private[graft] final case class Header(name: String, size: Long, typ: Char)

  private[graft] def headerAt(b: Array[Byte], off: Int): Header = {
    if (!checksumOk(b, off)) return null
    val size = num(b, off + 124, 12)
    if (size < 0) return null
    val typ = (b(off + 156) & 0xff).toChar
    val base = str(b, off, 100)
    // the prefix field exists only in POSIX ustar (magic "ustar\0",
    // version "00"); old-GNU format ("ustar  ") stores atime/ctime
    // there, which must NOT be read as a path prefix
    val posix = b(off + 257) == 'u' && b(off + 258) == 's' &&
      b(off + 259) == 't' && b(off + 260) == 'a' && b(off + 261) == 'r' &&
      b(off + 262) == 0 && b(off + 263) == '0' && b(off + 264) == '0'
    val prefix = if (posix) str(b, off + 345, 155) else ""
    Header(if (prefix.nonEmpty) prefix + "/" + base else base, size, typ)
  }

  private[graft] def typeName(typ: Char): String = typ match {
    case '0' | 0 => "file"
    case '5' => "dir"
    case '1' => "hardlink"
    case '2' => "symlink"
    case other => other.toString
  }

  /** GNU longname payload: NUL-terminated ISO-8859-1. */
  private[graft] def longName(b: Array[Byte], off: Int, len: Int): String =
    str(b, off, len)

  /** PAX 'x' payload's `path` override, or null. */
  private[graft] def paxPathOf(b: Array[Byte], off: Int, len: Int): String =
    paxPath(b, off, len)

  def entries(b: Array[Byte]): Array[Entry] = {
    if (b == null || b.length < 512) return null
    // checksum gate: a random/non-tar first block fails with overwhelming
    // probability — the 'null for non-tar bytes' contract rides on it
    if (!checksumOk(b, 0)) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[Entry]
    var i = 0L
    var pendingLongName: String = null
    var pendingPaxPath: String = null
    while (i + 512 <= b.length && out.length < MaxEntries) {
      val off = i.toInt
      if (b(off) == 0) return out.toArray // end-of-archive zero block
      val h = headerAt(b, off)
      if (h == null) return out.toArray // corrupt header ends the walk
      val dataStart = i + 512
      val dataBlocks = (h.size + 511) / 512
      if (dataStart + h.size > b.length) return out.toArray // truncated
      if (h.typ == 'L') { // GNU longname: data IS the next entry's name
        pendingLongName = str(b, dataStart.toInt,
          math.min(h.size, 4096L).toInt)
      } else if (h.typ == 'x' || h.typ == 'g') {
        // PAX extended header (bsdtar / GNU --format=posix): the per-file
        // 'x' record's path= overrides the NEXT entry's name; global 'g'
        // records are skipped. Neither is a member.
        if (h.typ == 'x')
          pendingPaxPath = paxPath(b, dataStart.toInt, math.min(h.size, 1 << 16).toInt)
      } else {
        val name =
          if (pendingPaxPath != null) pendingPaxPath
          else if (pendingLongName != null) pendingLongName
          else h.name
        pendingLongName = null
        pendingPaxPath = null
        if (name.nonEmpty) out += Entry(name, h.size, dataStart, typeName(h.typ))
      }
      i = dataStart + dataBlocks * 512
    }
    out.toArray
  }

  /** Shared eval for interpreted and generated code paths. */
  def entriesArray(b: Array[Byte]): GenericArrayData = {
    val es =
      try entries(b)
      catch { case _: IndexOutOfBoundsException => null }
    if (es == null) return null
    new GenericArrayData(es.map[Any](e => new GenericInternalRow(Array[Any](
      UTF8String.fromString(e.name), e.size, e.offset,
      UTF8String.fromString(e.typ)))))
  }

  /** Exact payload slice of one member — the WebDataset member decode
   *  path: `npy_meta(tar_member(shard, '000001.npy'))`, image dims of
   *  one thumbnail, etc., without unpacking the shard. Null when absent
   *  or the archive is not a tar. */
  def member(b: Array[Byte], name: String): Array[Byte] = {
    val es = entries(b)
    if (es == null || name == null) return null
    var i = 0
    while (i < es.length) {
      val e = es(i)
      if (e.typ == "file" && e.name == name) {
        if (e.size > Int.MaxValue || e.offset + e.size > b.length) return null
        return java.util.Arrays.copyOfRange(
          b, e.offset.toInt, (e.offset + e.size).toInt)
      }
      i += 1
    }
    null
  }

  def memberOrNull(b: Array[Byte], name: UTF8String): Array[Byte] =
    try member(b, if (name == null) null else name.toString)
    catch { case _: IndexOutOfBoundsException => null }
}

/** `tar_member(blob, name)` → binary payload of a tar member; null when
 *  absent or the bytes are not a tar. */
case class TarMemberExpr(child: Expression, name: Expression)
    extends BlobDecoder with BinaryLike[Expression] {
  override def left: Expression = child
  override def right: Expression = name
  override protected def inputTypes: Seq[DataType] = Seq(BinaryType, StringType)
  override def dataType: DataType = BinaryType
  override def decode(in: Array[Any]): Any =
    TarHeaders.memberOrNull(blob(in), in(1).asInstanceOf[UTF8String])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, name = newRight)
  override def prettyName: String = "tar_member"
}

object TarMemberExpr {
  def apply(col: Column, name: Column): Column =
    GraftShims.column(new TarMemberExpr(
      GraftShims.expression(col), GraftShims.expression(name)))
}

/** `tar_entries(blob)` → array<struct<name, size, offset, type>>; null
 *  for non-tar bytes, truncated members end the listing. */
case class TarEntriesExpr(child: Expression)
    extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType =
    ArrayType(TarHeaders.elementType, containsNull = false)
  override def decode(in: Array[Any]): Any = TarHeaders.entriesArray(blob(in))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "tar_entries"
}

object TarEntriesExpr {
  def apply(col: Column): Column =
    GraftShims.column(new TarEntriesExpr(GraftShims.expression(col)))
}

object ZipHeaders {

  val elementType: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("method", IntegerType, nullable = false), // 0=stored, 8=deflate
    StructField("comp_size", LongType, nullable = false),
    StructField("size", LongType, nullable = false)))

  final case class Entry(name: String, method: Int, compSize: Long,
      size: Long, localOff: Long)

  private[graft] val MaxEntries = 1 << 20

  private[graft] final case class Eocd(count: Long, cdOff: Long, cdEnd: Long)

  /** Locate and VALIDATE the end-of-central-directory record: the
   *  candidate's comment must reach exactly end-of-buffer and the central
   *  directory must end exactly where the EOCD chain begins — so a
   *  PK\x05\x06 byte pattern inside a comment or inside random non-zip
   *  bytes is rejected instead of fabricating a listing. zip64 sentinel
   *  values route through the zip64 locator + EOCD (8-byte counts and
   *  offsets); a sentinel without a valid zip64 record is a lying header
   *  (null), never a silent truncation. */
  private def findEocd(b: Array[Byte]): Eocd = findEocdIn(b, 0L)

  /** EOCD scan over a buffer whose first byte sits at absolute file
   *  offset `base` (the seekable source reads only the archive TAIL);
   *  returned cdOff/cdEnd are ABSOLUTE. The zip64 record usually sits
   *  between the CD and the locator and so inside the sized tail read,
   *  but a record carrying a large extensible data sector (or extra
   *  records before the locator) can start EARLIER than the window — a
   *  well-formed archive the fixed window must not reject. `fetchAt`
   *  (absolute offset → 56 bytes), when non-null, resolves those with
   *  one more positioned read; the in-row blob path passes null (the
   *  whole archive IS the buffer, so out-of-buffer means lying). */
  private[graft] def findEocdIn(b: Array[Byte], base: Long,
      fetchAt: Long => Array[Byte] = null): Eocd = {
    if (b == null || b.length < 22) return null
    var e = b.length - 22
    val stop = math.max(0, b.length - 22 - 65535)
    while (e >= stop) {
      if (b(e) == 'P' && b(e + 1) == 'K' && b(e + 2) == 5 && b(e + 3) == 6 &&
        e + 22 + leU16(b, e + 20) == b.length) {
        var count = leU16(b, e + 10).toLong
        var cdSize = leU32(b, e + 12)
        var cdOff = leU32(b, e + 16)
        var cdEnd = base + e
        if (count == 0xffffL || cdOff == 0xffffffffL || cdSize == 0xffffffffL) {
          val l = e - 20
          if (l < 0 || b(l) != 'P' || b(l + 1) != 'K' || b(l + 2) != 6 ||
            b(l + 3) != 7) return null
          val zAbs = leU64(b, l + 8)
          if (zAbs < 0) return null
          val z = zAbs - base // buffer-relative
          val zb: Array[Byte] =
            if (z >= 0 && z + 56 <= b.length) b
            else if (fetchAt != null) { val r = fetchAt(zAbs); if (r == null || r.length < 56) return null; r }
            else return null
          val zi = if (zb eq b) z.toInt else 0
          if (zb(zi) != 'P' || zb(zi + 1) != 'K' || zb(zi + 2) != 6 ||
            zb(zi + 3) != 6) return null
          count = leU64(zb, zi + 32)
          cdSize = leU64(zb, zi + 40)
          cdOff = leU64(zb, zi + 48)
          cdEnd = zAbs
        }
        if (count >= 0 && cdOff >= 0 && cdSize >= 0 && cdOff + cdSize == cdEnd)
          return Eocd(count, cdOff, cdEnd)
        // inconsistent candidate (e.g. the pattern inside a comment):
        // keep scanning backwards for the real record
      }
      e -= 1
    }
    null
  }

  /** Walk the central directory, yielding entries lazily — shared by the
   *  full listing and the early-exit member lookup. zip64 per-entry
   *  sentinels (0xFFFFFFFF sizes/offset) resolve through the 0x0001 extra
   *  field; a sentinel without the extra is a lying entry and ends the
   *  walk. */
  private def cdEntries(b: Array[Byte], eocd: Eocd): Iterator[Entry] =
    cdEntriesIn(b, eocd.cdOff, eocd.cdEnd, eocd.count)

  /** The central-directory walk over an explicit [start, end) region of
   *  `b` — shared by the in-row blob listing and the SEEKABLE shard
   *  source ([[graft.sources.ZipShards]]), which positioned-reads ONLY
   *  the CD slice of a multi-GB archive and walks it here with relative
   *  bounds, so the two surfaces cannot diverge. */
  private[graft] def cdEntriesIn(b: Array[Byte], start: Long, end: Long,
      total: Long): Iterator[Entry] =
    new Iterator[Entry] {
      private var i = start
      private var k = 0L
      private var nxt: Entry = advance()
      private def advance(): Entry = {
        if (k >= total || k >= MaxEntries || i + 46 > end) return null
        val p = i.toInt
        if (b(p) != 'P' || b(p + 1) != 'K' || b(p + 2) != 1 || b(p + 3) != 2)
          return null
        val method = leU16(b, p + 10)
        var compSize = leU32(b, p + 20)
        var size = leU32(b, p + 24)
        val nameLen = leU16(b, p + 28)
        val extraLen = leU16(b, p + 30)
        val commentLen = leU16(b, p + 32)
        var localOff = leU32(b, p + 42)
        if (i + 46 + nameLen + extraLen > end) return null
        val name = new String(b, p + 46, nameLen,
          java.nio.charset.StandardCharsets.UTF_8)
        if (size == 0xffffffffL || compSize == 0xffffffffL ||
          localOff == 0xffffffffL) {
          // zip64 extra field 0x0001: values present in spec order for
          // exactly the sentinel fields
          var x = p + 46 + nameLen
          val xe = x + extraLen
          var found = false
          while (x + 4 <= xe && !found) {
            val id = leU16(b, x)
            val len = leU16(b, x + 2)
            // a lying extra length that overruns the extra region would
            // read "zip64 values" out of the comment or the next CD entry
            if (x + 4 + len > xe) return null
            if (id == 1) {
              var v = x + 4
              if (size == 0xffffffffL) {
                if (v + 8 > x + 4 + len) return null
                size = leU64(b, v); v += 8
              }
              if (compSize == 0xffffffffL) {
                if (v + 8 > x + 4 + len) return null
                compSize = leU64(b, v); v += 8
              }
              if (localOff == 0xffffffffL) {
                if (v + 8 > x + 4 + len) return null
                localOff = leU64(b, v); v += 8
              }
              found = true
            } else x += 4 + len
          }
          if (!found) return null // sentinel without zip64 extra: lying
          // a forged extra can set bit 63: leU64 then yields a negative
          // value that slips past the downstream `data + size > length` /
          // `size > Int.MaxValue` guards (both false for negatives) and
          // turns into a thrown copyOfRange(from > to) instead of a null
          if (size < 0 || compSize < 0 || localOff < 0) return null
        }
        i += 46 + nameLen + extraLen + commentLen
        k += 1
        Entry(name, method, compSize, size, localOff)
      }
      override def hasNext: Boolean = nxt != null
      override def next(): Entry = { val out = nxt; nxt = advance(); out }
    }

  def entries(b: Array[Byte]): Array[Entry] = {
    val eocd = findEocd(b)
    if (eocd == null) return null
    cdEntries(b, eocd).toArray
  }

  /** Absolute payload offset of `entry` resolved through its LOCAL
   *  header (whose name/extra lengths may differ from the central
   *  directory's); -1 when out of range or lying — ONE hardened copy
   *  shared by the stored and deflated member paths. */
  private def localDataOffset(b: Array[Byte], entry: Entry): Long = {
    val lo = entry.localOff
    if (lo < 0 || lo + 30 > b.length) return -1L
    val i = lo.toInt
    if (b(i) != 'P' || b(i + 1) != 'K' || b(i + 2) != 3 || b(i + 3) != 4)
      return -1L
    val nameLen = leU16(b, i + 26)
    val extraLen = leU16(b, i + 28)
    lo + 30 + nameLen + extraLen
  }

  /** Exact payload slice of a STORED member (method 0), resolved through
   *  its LOCAL header; null when absent, compressed, or lying.
   *  Early-exit central-directory scan — O(entries-before-match), no
   *  full-listing materialization per lookup. */
  def storedMember(b: Array[Byte], name: String): Array[Byte] = {
    val eocd = findEocd(b)
    if (eocd == null) return null
    val it = cdEntries(b, eocd)
    while (it.hasNext) {
      val entry = it.next()
      if (entry.name == name && entry.method == 0) {
        val data = localDataOffset(b, entry)
        if (data < 0) return null
        if (data + entry.size > b.length || entry.size > Int.MaxValue) return null
        return java.util.Arrays.copyOfRange(b, data.toInt, (data + entry.size).toInt)
      }
    }
    null
  }

  /** Shared eval for interpreted and generated code paths. */
  def entriesArray(b: Array[Byte]): GenericArrayData = {
    val es =
      try entries(b)
      catch { case _: IndexOutOfBoundsException => null }
    if (es == null) return null
    new GenericArrayData(es.map[Any](e => new GenericInternalRow(Array[Any](
      UTF8String.fromString(e.name), e.method, e.compSize, e.size))))
  }

  def memberOrNull(b: Array[Byte], name: UTF8String): Array[Byte] =
    try storedMember(b, if (name == null) return null else name.toString)
    catch {
      case _: IndexOutOfBoundsException => null
      // belt to the negative-size braces above: copyOfRange(from > to)
      // throws IllegalArgumentException, and hostile bytes must cost a
      // null, never a task failure
      case _: IllegalArgumentException => null
    }

  /** Bounded raw-deflate inflate of `b[off, off+len)` — null on garbage,
   *  truncation, or output past `maxBytes` (a bomb costs a null, never an
   *  OOM; nothing is pre-allocated from attacker-declared sizes). Shared
   *  by [[member]] and the seekable fetch ([[graft.sources.ZipShards]]). */
  private[graft] def inflateRaw(b: Array[Byte], off: Int, len: Int,
      maxBytes: Long): Array[Byte] = {
    if (off < 0 || len < 0 || off.toLong + len > b.length) return null
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b, off, len)
      val out = new java.io.ByteArrayOutputStream(
        math.max(64, math.min(maxBytes, 1L << 16).toInt))
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0) {
          if (inf.needsInput() || inf.needsDictionary()) return null // truncated
        } else {
          if (out.size() + n > maxBytes) return null // bomb guard
          out.write(buf, 0, n)
        }
      }
      out.toByteArray
    } catch {
      case _: java.util.zip.DataFormatException => null
    } finally inf.end()
  }

  /** Payload of a zip member by name — method 0 (stored) slices, method 8
   *  (deflated) inflates through the bounded raw-deflate path: the
   *  `numpy.savez_compressed` case, whose npz members always deflate.
   *  The inflated output must equal the CD-declared `size` EXACTLY (a
   *  stream yielding more or fewer bytes is a lying entry → null); sizes
   *  past `maxBytes` are null. Early-exit CD scan like [[storedMember]]. */
  def member(b: Array[Byte], name: String, maxBytes: Long): Array[Byte] = {
    val eocd = findEocd(b)
    if (eocd == null) return null
    val it = cdEntries(b, eocd)
    while (it.hasNext) {
      val entry = it.next()
      if (entry.name == name && (entry.method == 0 || entry.method == 8)) {
        if (entry.size < 0 || entry.size > maxBytes || entry.size > Int.MaxValue)
          return null
        val data = localDataOffset(b, entry)
        if (data < 0) return null
        if (entry.method == 0) {
          if (data + entry.size > b.length) return null
          return java.util.Arrays.copyOfRange(b, data.toInt, (data + entry.size).toInt)
        }
        if (entry.compSize < 0 || entry.compSize > Int.MaxValue ||
          data + entry.compSize > b.length) return null
        val out = inflateRaw(b, data.toInt, entry.compSize.toInt, entry.size)
        if (out == null || out.length != entry.size) return null
        return out
      }
    }
    null
  }

  def memberAnyOrNull(b: Array[Byte], name: UTF8String, maxBytes: Long): Array[Byte] =
    try member(b, if (name == null) return null else name.toString, maxBytes)
    catch {
      case _: IndexOutOfBoundsException => null
      case _: IllegalArgumentException => null
    }
}

/** `zip_entries(blob)` → array<struct<name, method, comp_size, size>>;
 *  null for non-zip bytes. */
case class ZipEntriesExpr(child: Expression)
    extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType =
    ArrayType(ZipHeaders.elementType, containsNull = false)
  override def decode(in: Array[Any]): Any = ZipHeaders.entriesArray(blob(in))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "zip_entries"
}

object ZipEntriesExpr {
  def apply(col: Column): Column =
    GraftShims.column(new ZipEntriesExpr(GraftShims.expression(col)))
}

/** `zip_stored_member(blob, name)` → binary payload of a STORED zip
 *  member — the npz path: `npy_meta(zip_stored_member(blob, 'arr_0.npy'))`.
 *  Null when the member is absent, compressed, or the headers lie. */
case class ZipStoredMemberExpr(child: Expression, name: Expression)
    extends BlobDecoder with BinaryLike[Expression] {
  override def left: Expression = child
  override def right: Expression = name
  override protected def inputTypes: Seq[DataType] = Seq(BinaryType, StringType)
  override def dataType: DataType = BinaryType
  override def decode(in: Array[Any]): Any =
    ZipHeaders.memberOrNull(blob(in), in(1).asInstanceOf[UTF8String])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, name = newRight)
  override def prettyName: String = "zip_stored_member"
}

object ZipStoredMemberExpr {
  def apply(col: Column, name: Column): Column =
    GraftShims.column(new ZipStoredMemberExpr(
      GraftShims.expression(col), GraftShims.expression(name)))
}

/** `zip_member(blob, name, maxBytes)` → binary payload of a zip member,
 *  STORED or DEFLATED (method 8 inflates through the bounded raw-deflate
 *  path — `numpy.savez_compressed` bundles, whose members always
 *  deflate). Null when absent, another method, output past `maxBytes`,
 *  or the headers/stream lie (inflated length must equal the declared
 *  size exactly). */
case class ZipMemberExpr(child: Expression, name: Expression, maxBytes: Long)
    extends BlobDecoder with BinaryLike[Expression] {

  require(maxBytes > 0, "maxBytes must be positive")

  override def left: Expression = child
  override def right: Expression = name
  override protected def inputTypes: Seq[DataType] = Seq(BinaryType, StringType)
  override def dataType: DataType = BinaryType
  override def decode(in: Array[Any]): Any =
    ZipHeaders.memberAnyOrNull(blob(in), in(1).asInstanceOf[UTF8String], maxBytes)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, name = newRight)
  override def prettyName: String = "zip_member"
}

object ZipMemberExpr {
  def apply(col: Column, name: Column, maxBytes: Long): Column =
    GraftShims.column(new ZipMemberExpr(
      GraftShims.expression(col), GraftShims.expression(name), maxBytes))
}

object GzipBytes {

  /** Bounded gzip inflate: RFC 1952 header (FEXTRA/FNAME/FCOMMENT/FHCRC
   *  skipped), raw-deflate body via Inflater(nowrap). Output longer than
   *  `maxBytes` is null — a zip bomb costs a null, never an OOM. Only the
   *  FIRST member of a multi-member stream is returned (the WebDataset
   *  and npz cases are single-member). */
  def gunzip(b: Array[Byte], maxBytes: Int): Array[Byte] = {
    if (b == null || b.length < 18) return null
    if ((b(0) & 0xff) != 0x1f || (b(1) & 0xff) != 0x8b || b(2) != 8) return null
    val flg = b(3) & 0xff
    var i = 10
    if ((flg & 4) != 0) { // FEXTRA
      if (i + 2 > b.length) return null
      i += 2 + ((b(i) & 0xff) | ((b(i + 1) & 0xff) << 8))
    }
    if ((flg & 8) != 0) { while (i < b.length && b(i) != 0) i += 1; i += 1 } // FNAME
    if ((flg & 16) != 0) { while (i < b.length && b(i) != 0) i += 1; i += 1 } // FCOMMENT
    if ((flg & 2) != 0) i += 2 // FHCRC
    if (i >= b.length) return null
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b, i, b.length - i)
      val out = new java.io.ByteArrayOutputStream(math.min(maxBytes, 1 << 16))
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0) {
          if (inf.needsInput() || inf.needsDictionary()) return null // truncated
        } else {
          if (out.size() + n > maxBytes) return null // bomb guard
          out.write(buf, 0, n)
        }
      }
      out.toByteArray
    } catch {
      case _: java.util.zip.DataFormatException => null
    } finally inf.end()
  }
}

/** `gunzip(blob, maxBytes)` → decompressed binary (first gzip member),
 *  null for non-gzip bytes, truncation, or output past `maxBytes`. */
case class GunzipExpr(child: Expression, maxBytes: Int)
    extends BlobDecoder with UnaryLike[Expression] {

  require(maxBytes > 0, "maxBytes must be positive")

  override def dataType: DataType = BinaryType
  override def decode(in: Array[Any]): Any = GzipBytes.gunzip(blob(in), maxBytes)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "gunzip"
}

object GunzipExpr {
  def apply(col: Column, maxBytes: Int): Column =
    GraftShims.column(new GunzipExpr(GraftShims.expression(col), maxBytes))
}

object ZstdBytes {

  /** Frame magic per RFC 8878: 0xFD2FB528 LE, OR a skippable-frame magic
   *  0x184D2A50..5F LE — pzstd and seekable writers prepend skippable
   *  frames, which the decoder skips per spec; rejecting them would null
   *  out perfectly valid shards. */
  private[graft] def isZstd(b: Array[Byte]): Boolean =
    b.length >= 4 && (
      ((b(0) & 0xff) == 0x28 && (b(1) & 0xff) == 0xb5 &&
        (b(2) & 0xff) == 0x2f && (b(3) & 0xff) == 0xfd) ||
      ((b(0) & 0xf0) == 0x50 && (b(1) & 0xff) == 0x2a &&
        (b(2) & 0xff) == 0x4d && (b(3) & 0xff) == 0x18))

  /** Bounded zstd inflate via the zstd-jni already on the Spark
   *  classpath (the engine ships no extra dependency): output longer
   *  than `maxBytes` is null — a zstd bomb costs a null, never an OOM —
   *  and corrupt/truncated frames are null. The streaming decoder never
   *  trusts the frame header's declared content size, so a lying header
   *  cannot pre-allocate anything. Modern WebDataset/text-corpus shards
   *  ship `.tar.zst`; compose `tar_entries(zunstd(blob, cap))` exactly
   *  like the gzip twin. Concatenated frames decode as one stream (the
   *  multi-frame layout `zstd --rsyncable` and seekable writers emit). */
  def zunstd(b: Array[Byte], maxBytes: Int): Array[Byte] = {
    if (b == null || !isZstd(b)) return null
    val in = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
      new java.io.ByteArrayInputStream(b))
    try {
      in.setContinuous(false)
      val out = new java.io.ByteArrayOutputStream(math.min(maxBytes, 1 << 16))
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) {
        if (out.size() + n > maxBytes) return null // bomb guard
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } catch {
      case _: java.io.IOException => null // corrupt/truncated frame
    } finally in.close()
  }
}

/** `zunstd(blob, maxBytes)` → decompressed binary of a zstd frame
 *  sequence; null for non-zstd bytes, truncation, or output past
 *  `maxBytes` — the zstd twin of [[GunzipExpr]]. */
case class ZunstdExpr(child: Expression, maxBytes: Int)
    extends BlobDecoder with UnaryLike[Expression] {

  require(maxBytes > 0, "maxBytes must be positive")

  override def dataType: DataType = BinaryType
  override def decode(in: Array[Any]): Any = ZstdBytes.zunstd(blob(in), maxBytes)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "zunstd"
}

object ZunstdExpr {
  def apply(col: Column, maxBytes: Int): Column =
    GraftShims.column(new ZunstdExpr(GraftShims.expression(col), maxBytes))
}

/** Fixture encoders: ustar tars, stored-member zips, gzip wrappers. */
object ArchiveCodec {

  def tar(members: Seq[(String, Array[Byte])]): Array[Byte] =
    tarTyped(members.map { case (n, d) => (n, d, '0') })

  /** One 512-byte ustar header — shared by [[tarTyped]] and streaming
   *  fixtures that plant headers for payloads they never materialize
   *  (the multi-GB generated-shard specs). */
  def tarHeader(name: String, size: Long, typ: Char,
      gnuMagic: Boolean = false, gnuAtime: Long = 0L): Array[Byte] = {
    val h = new Array[Byte](512)
    val nb = name.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    require(nb.length <= 100, "fixture names fit the base field")
    System.arraycopy(nb, 0, h, 0, nb.length)
    def octal(off: Int, len: Int, v: Long): Unit = {
      val s = java.lang.Long.toOctalString(v)
      val padded = ("0" * (len - 1 - s.length)) + s
      var k = 0
      while (k < len - 1) { h(off + k) = padded.charAt(k).toByte; k += 1 }
      h(off + len - 1) = 0
    }
    octal(100, 8, 420) // mode 0644
    octal(108, 8, 0); octal(116, 8, 0)
    octal(124, 12, size)
    octal(136, 12, 0)
    h(156) = typ.toByte
    if (gnuMagic) {
      System.arraycopy("ustar  ".getBytes, 0, h, 257, 7) // old-GNU magic
      octal(345, 12, gnuAtime) // atime where POSIX puts prefix
    } else {
      System.arraycopy("ustar".getBytes, 0, h, 257, 5)
      h(263) = '0'; h(264) = '0' // version "00"
    }
    // checksum: field as spaces, unsigned byte sum, 6 octal + NUL + space
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0
    var k = 0
    while (k < 512) { sum += h(k) & 0xff; k += 1 }
    val cs = java.lang.Long.toOctalString(sum)
    val csp = ("0" * (6 - cs.length)) + cs
    k = 0
    while (k < 6) { h(148 + k) = csp.charAt(k).toByte; k += 1 }
    h(154) = 0; h(155) = ' '
    h
  }

  /** Typed members; `gnuMagic` writes the old-GNU "ustar  \0" magic with
   *  an atime at offset 345 (where POSIX puts the prefix field). */
  def tarTyped(members: Seq[(String, Array[Byte], Char)],
      gnuMagic: Boolean = false, gnuAtime: Long = 0L): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    for ((name, data, typ) <- members) {
      out.write(tarHeader(name, data.length, typ, gnuMagic, gnuAtime))
      out.write(data)
      val pad = (512 - data.length % 512) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024)) // two zero blocks
    out.toByteArray
  }

  /** A PAX 'x' extended-header payload for a single path override. */
  def paxPayload(path: String): Array[Byte] = {
    // the POSIX record length is a BYTE count (including its own decimal
    // digits) — non-ASCII paths make UTF-8 bytes > UTF-16 chars, and a
    // char-counted length would land the parser mid-record
    val kvBytes = s" path=$path\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var len = kvBytes.length + 1
    while (len.toString.length + kvBytes.length != len)
      len = len.toString.length + kvBytes.length
    val digits = len.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](digits.length + kvBytes.length)
    System.arraycopy(digits, 0, out, 0, digits.length)
    System.arraycopy(kvBytes, 0, out, digits.length, kvBytes.length)
    out
  }

  /** Stored-only (method 0) zip — the npz layout np.savez emits. With
   *  `zip64`, central entries carry sentinel local offsets resolved via
   *  the 0x0001 extra field and the EOCD chain goes through the zip64
   *  record + locator (sentinel classic fields). */
  def zipStored(members: Seq[(String, Array[Byte])],
      comment: Array[Byte] = Array.emptyByteArray,
      zip64: Boolean = false): Array[Byte] =
    zip(members.map { case (n, d) => (n, d, 0) }, comment, zip64)

  /** Mixed-method zip: per-member method 0 (stored) or 8 (raw-deflated) —
   *  the `numpy.savez_compressed` layout, whose npy members all deflate.
   *  Classic (non-zip64) offsets; [[zipStored]] keeps the zip64 corner. */
  def zipMixed(members: Seq[(String, Array[Byte], Int)],
      comment: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    // classic EOCD counts are 16-bit: a silent wrap would truncate the
    // listing a validating reader then rejects — fail at the writer
    require(members.size <= 0xffff,
      s"zipMixed writes classic (non-zip64) archives: ${members.size} members exceed 65535")
    zip(members, comment, zip64 = false)
  }

  private def zip(members: Seq[(String, Array[Byte], Int)], comment: Array[Byte],
      zip64: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val w = new ZipWriter(out)
    for ((name, data, method) <- members) {
      require(method == 0 || method == 8, s"method $method unsupported")
      w.add(name.getBytes(java.nio.charset.StandardCharsets.UTF_8), data,
        if (method == 8) ZipWriter.deflateRaw(data) else data, method)
    }
    w.finish(comment, zip64)
    out.toByteArray
  }

  /** zstd frame via zstd-jni (same library the decoder uses; the DuckDB
   *  oracles carry fixture independence, as with the MP3 tables). */
  def zstd(data: Array[Byte], level: Int = 3): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(data, level)

  /** A zstd SKIPPABLE frame (magic 0x184D2A50|nibble LE + u32 size +
   *  opaque body) — what pzstd/seekable writers prepend; decoders must
   *  skip it per RFC 8878. */
  def zstdSkippable(body: Array[Byte], nibble: Int = 0): Array[Byte] = {
    require(nibble >= 0 && nibble <= 15)
    val out = new Array[Byte](8 + body.length)
    out(0) = (0x50 | nibble).toByte; out(1) = 0x2a; out(2) = 0x4d; out(3) = 0x18
    Bytes.putLe32(out, 4, body.length)
    System.arraycopy(body, 0, out, 8, body.length)
    out
  }

  def gzip(data: Array[Byte], withName: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x1f); out.write(0x8b); out.write(8)
    out.write(if (withName) 8 else 0)
    out.write(Array[Byte](0, 0, 0, 0, 0, 0)) // mtime/xfl/os
    if (withName) { out.write("fixture.bin".getBytes); out.write(0) }
    out.write(ZipWriter.deflateRaw(data))
    val crc = new java.util.zip.CRC32
    crc.update(data)
    out.write(Bytes.le32(crc.getValue)); out.write(Bytes.le32(data.length.toLong))
    out.toByteArray
  }
}

/** Streaming zip writer — the one encoder behind the fixture zips and the
 *  `writeBundles` shard parts. [[add]] writes a member's local header and
 *  body at once and keeps its central-directory record; [[finish]] writes
 *  the central directory and the end record: classic, or with `zip64` the
 *  zip64 record + locator chain, each central entry's local offset moved
 *  into a 0x0001 extra field. No data descriptors and zeroed timestamps,
 *  so the bytes are a pure function of the members. */
final class ZipWriter(out: java.io.OutputStream) {
  import Bytes.{putLe16, putLe32, putLe64}
  import ZipWriter.Central

  private val central = scala.collection.mutable.ArrayBuffer.empty[Central]
  private val crc32 = new java.util.zip.CRC32
  private var off = 0L

  /** Bytes written so far (before [[finish]]: local headers and bodies). */
  def offset: Long = off
  def members: Int = central.size

  private def write(b: Array[Byte]): Unit = { out.write(b); off += b.length }

  /** One member: `body` is `data` itself for method 0 (stored) or
   *  [[ZipWriter.deflateRaw]]`(data)` for method 8 (deflated). */
  def add(name: Array[Byte], data: Array[Byte], body: Array[Byte], method: Int): Unit = {
    crc32.reset(); crc32.update(data)
    val h = new Array[Byte](30) // version 20; flags, time, date, extra: 0
    putLe32(h, 0, 0x04034b50); putLe16(h, 4, 20); putLe16(h, 8, method)
    putLe32(h, 14, crc32.getValue.toInt); putLe32(h, 18, body.length)
    putLe32(h, 22, data.length); putLe16(h, 26, name.length)
    central += Central(name, crc32.getValue, body.length, data.length, method, off)
    write(h); write(name); write(body)
  }

  def finish(comment: Array[Byte] = Array.emptyByteArray, zip64: Boolean = false): Unit = {
    val cdStart = off
    for (c <- central) {
      val h = new Array[Byte](46) // flags, time, date, comment, disk, attrs: 0
      putLe32(h, 0, 0x02014b50); putLe16(h, 4, 20); putLe16(h, 6, if (zip64) 45 else 20)
      putLe16(h, 10, c.method); putLe32(h, 16, c.crc.toInt)
      putLe32(h, 20, c.compSize); putLe32(h, 24, c.size); putLe16(h, 28, c.name.length)
      putLe16(h, 30, if (zip64) 12 else 0)
      putLe32(h, 42, if (zip64) -1 else c.localOff.toInt)
      write(h); write(c.name)
      if (zip64) { // extra 0x0001, 8 bytes: the local offset
        val x = new Array[Byte](12)
        putLe16(x, 0, 1); putLe16(x, 2, 8); putLe64(x, 4, c.localOff)
        write(x)
      }
    }
    val cdSize = off - cdStart
    val eocd = new Array[Byte](22)
    putLe32(eocd, 0, 0x06054b50); putLe16(eocd, 20, comment.length)
    if (!zip64) {
      putLe16(eocd, 8, central.size); putLe16(eocd, 10, central.size)
      putLe32(eocd, 12, cdSize.toInt); putLe32(eocd, 16, cdStart.toInt)
    } else {
      val rec = new Array[Byte](56) // zip64 end record; disks 0
      putLe32(rec, 0, 0x06064b50); putLe64(rec, 4, 44)
      putLe16(rec, 12, 45); putLe16(rec, 14, 45)
      putLe64(rec, 24, central.size); putLe64(rec, 32, central.size)
      putLe64(rec, 40, cdSize); putLe64(rec, 48, cdStart)
      val loc = new Array[Byte](20) // locator: disk 0, record offset, 1 disk
      putLe32(loc, 0, 0x07064b50); putLe64(loc, 8, off); putLe32(loc, 16, 1)
      write(rec); write(loc)
      putLe32(eocd, 8, -1); putLe32(eocd, 12, -1); putLe32(eocd, 16, -1)
    }
    write(eocd); write(comment)
  }
}

object ZipWriter {

  private final case class Central(name: Array[Byte], crc: Long, compSize: Int,
      size: Int, method: Int, localOff: Long)

  /** Raw (no zlib wrapper) deflate at the default level — the body of a
   *  method-8 zip member and of a gzip member. */
  def deflateRaw(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(math.max(64, data.length / 2))
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }
}
