package graft.functions

import graft.functions.Bytes.beU32

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * ID3v2 text-frame extraction from MP3 prefixes — the tag metadata a
 * crawled-audio pipeline wants next to [[Mp3Headers]]'s stream fields:
 * title/artist/album/year/genre as a `map<string,string>` keyed by the
 * 4-char frame id (TIT2, TPE1, TALB, TDRC/TYER, TCON, ...).
 *
 * Layout per the public spec: `ID3` + version(2) + flags(1) + syncsafe
 * u28 size, then frames of id(4) + size(4; syncsafe in v2.4, plain u32
 * in v2.3 — both handled by version) + flags(2) + body. Text frames
 * (id starting with 'T') carry an encoding byte then the value:
 * 0 = Latin-1, 1 = UTF-16 with BOM, 2 = UTF-16BE, 3 = UTF-8. Values are
 * trimmed at the first NUL terminator. Unknown/binary frames are
 * skipped; a corrupt frame header ends the walk. Null when no ID3v2 tag
 * is present; an empty tag yields an empty map.
 */
object Id3Headers {

  private val MaxFrames = 256
  private val MaxValueBytes = 1 << 16

  /** Remove unsynchronisation stuffing: every 0x00 immediately after an
   *  0xFF is writer-inserted (to keep MPEG sync patterns out of the tag)
   *  and is dropped; all other bytes pass through. */
  private def deUnsync(b: Array[Byte], from: Int, to: Int): Array[Byte] = {
    val out = new Array[Byte](to - from)
    var n = 0
    var i = from
    while (i < to) {
      out(n) = b(i)
      n += 1
      if ((b(i) & 0xff) == 0xff && i + 1 < to && b(i + 1) == 0) i += 2
      else i += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  def parse(b: Array[Byte]): Seq[(String, String)] = {
    if (b == null || b.length < 10) return null
    if (b(0) != 'I' || b(1) != 'D' || b(2) != '3') return null
    val major = b(3) & 0xff
    if ((b(6) | b(7) | b(8) | b(9)) < 0) return null
    val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
      ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
    val tagEnd = math.min(b.length.toLong, 10L + size).toInt
    // v2.3 unsynchronisation (header flag 0x80) applies to the WHOLE tag
    // body after frame assembly — frame sizes describe the un-stuffed
    // data — so de-unsync once up front and walk the clean copy; v2.4
    // moved the flag per frame (format flag 0x02, handled below), where
    // frame sizes count the stuffed on-disk bytes
    val (buf, bodyStart, end) =
      if (major < 4 && (b(5) & 0x80) != 0) {
        val body = deUnsync(b, 10, tagEnd)
        (body, 0, body.length)
      } else (b, 10, tagEnd)
    var i = bodyStart
    // extended header: v2.4 syncsafe size INCLUDES the header itself;
    // v2.3 u32 size excludes its own 4 size bytes
    if ((b(5) & 0x40) != 0 && i + 4 <= end) {
      val ext =
        if (major >= 4)
          ((buf(i) & 0x7f) << 21) | ((buf(i + 1) & 0x7f) << 14) |
            ((buf(i + 2) & 0x7f) << 7) | (buf(i + 3) & 0x7f)
        else
          beU32(buf, i).toInt + 4
      if (ext < 4 || i + ext > end) return Seq.empty
      i += ext
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var frames = 0
    while (i + 10 <= end && frames < MaxFrames && buf(i) != 0) {
      val idOk = (0 until 4).forall { k =>
        val c = buf(i + k); (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
      }
      if (!idOk) return out.toSeq // padding/garbage ends the walk
      val id = new String(buf, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val fsize =
        if (major >= 4) {
          if ((buf(i + 4) | buf(i + 5) | buf(i + 6) | buf(i + 7)) < 0) return out.toSeq
          ((buf(i + 4) & 0x7f) << 21) | ((buf(i + 5) & 0x7f) << 14) |
            ((buf(i + 6) & 0x7f) << 7) | (buf(i + 7) & 0x7f)
        } else {
          val v = beU32(buf, i + 4)
          if (v > Int.MaxValue) return out.toSeq else v.toInt
        }
      if (fsize < 0 || i + 10 + fsize > end) return out.toSeq
      if (id.charAt(0) == 'T' && fsize >= 1 && fsize <= MaxValueBytes) {
        // v2.4 format flags (second flags byte): 0x02 = this frame's body
        // is unsynchronised (fsize counts the stuffed on-disk bytes),
        // 0x01 = a 4-byte data-length indicator precedes the body
        val flags2 = buf(i + 9) & 0xff
        val frameUnsync = major >= 4 && (flags2 & 0x02) != 0
        val dli = major >= 4 && (flags2 & 0x01) != 0
        val body = if (frameUnsync) deUnsync(buf, i + 10, i + 10 + fsize) else buf
        val bs = if (frameUnsync) 0 else i + 10
        val blen = if (frameUnsync) body.length else fsize
        val skip = if (dli) 4 else 0
        if (blen - skip >= 1) {
          val enc = body(bs + skip) & 0xff
          val vs = bs + skip + 1
          val vlen = blen - skip - 1
          val cs = enc match {
            case 0 => java.nio.charset.StandardCharsets.ISO_8859_1
            case 1 => java.nio.charset.StandardCharsets.UTF_16 // BOM-aware
            case 2 => java.nio.charset.StandardCharsets.UTF_16BE
            case 3 => java.nio.charset.StandardCharsets.UTF_8
            case _ => null
          }
          if (cs != null && vlen > 0) {
            val raw = new String(body, vs, vlen, cs)
            val nul = raw.indexOf('\u0000')
            val v = if (nul < 0) raw else raw.substring(0, nul)
            // Spark maps require unique keys: first frame of an id wins
            // (repeated TXXX frames are common in the wild)
            if (v.nonEmpty && !out.exists(_._1 == id)) out += ((id, v))
          }
        }
      }
      i += 10 + fsize
      frames += 1
    }
    out.toSeq
  }

  val sparkType: DataType =
    MapType(StringType, StringType, valueContainsNull = false)

  /** Shared eval for interpreted and generated code paths. */
  def parseMap(bytes: Array[Byte]): ArrayBasedMapData = {
    val tags =
      try parse(bytes)
      catch {
        case _: IndexOutOfBoundsException => null
        case _: IllegalArgumentException => null
      }
    if (tags == null) return null
    ArrayBasedMapData(
      tags.map(t => UTF8String.fromString(t._1)).toArray[Any],
      tags.map(t => UTF8String.fromString(t._2)).toArray[Any])
  }
}

/** `id3_tags(blob)` → map<string,string> of ID3v2 text frames; null when
 *  no tag is present, empty map for a tag with no text frames. */
case class Id3TagsExpr(child: Expression) extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType = Id3Headers.sparkType
  override def decode(in: Array[Any]): Any = Id3Headers.parseMap(blob(in))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "id3_tags"
}

object Id3TagsExpr {
  def apply(col: Column): Column =
    GraftShims.column(new Id3TagsExpr(GraftShims.expression(col)))
}

/** Fixture side: render ID3v2.3/2.4 tags with chosen text frames and
 *  encodings in front of an MP3 stream (or alone). */
object Id3Codec {

  /** Writer-side unsynchronisation: insert 0x00 after every 0xFF (a
   *  superset of the spec's required FF-Ex / FF-00 stuffing — readers
   *  drop any 00-after-FF, so always-stuff is valid output). */
  private def stuff(bs: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(bs.length + 8)
    for (x <- bs) { out.write(x); if ((x & 0xff) == 0xff) out.write(0) }
    out.toByteArray
  }

  /** With `unsync`: v2.3 stuffs the whole assembled frame block and sets
   *  header flag 0x80 (tag-level); v2.4 stuffs each frame body, records
   *  the STUFFED size, and sets the per-frame format flag 0x02. */
  def encode(major: Int, frames: Seq[(String, String, Int)],
      padding: Int = 16, unsync: Boolean = false): Array[Byte] = {
    require(major == 3 || major == 4)
    val frameBlock = frames.flatMap { case (id, value, enc) =>
      val cs = enc match {
        case 0 => java.nio.charset.StandardCharsets.ISO_8859_1
        case 1 => java.nio.charset.StandardCharsets.UTF_16 // writes BOM
        case 2 => java.nio.charset.StandardCharsets.UTF_16BE
        case 3 => java.nio.charset.StandardCharsets.UTF_8
      }
      val vb0 = Array(enc.toByte) ++ value.getBytes(cs)
      val vb = if (unsync && major == 4) stuff(vb0) else vb0
      val fsize = vb.length
      val sz =
        if (major == 4) Array[Byte](((fsize >> 21) & 0x7f).toByte,
          ((fsize >> 14) & 0x7f).toByte, ((fsize >> 7) & 0x7f).toByte,
          (fsize & 0x7f).toByte)
        else Array[Byte]((fsize >>> 24).toByte, (fsize >>> 16).toByte,
          (fsize >>> 8).toByte, fsize.toByte)
      val fmtFlags: Byte = if (unsync && major == 4) 0x02 else 0x00
      id.getBytes("US-ASCII") ++ sz ++ Array[Byte](0, fmtFlags) ++ vb
    }.toArray
    val body = (if (unsync && major == 3) stuff(frameBlock) else frameBlock) ++
      new Array[Byte](padding)
    val size = body.length
    require(size < (1 << 28))
    val tagFlags: Byte = if (unsync) 0x80.toByte else 0
    Array[Byte]('I', 'D', '3', major.toByte, 0, tagFlags,
      ((size >> 21) & 0x7f).toByte, ((size >> 14) & 0x7f).toByte,
      ((size >> 7) & 0x7f).toByte, (size & 0x7f).toByte) ++ body
  }
}
