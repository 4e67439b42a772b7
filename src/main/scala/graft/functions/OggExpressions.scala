package graft.functions

import graft.functions.Bytes.{le16, le32, leU16, leU32, leU64}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Headers-only Ogg container metadata (Vorbis and Opus streams) from the
 * published page layout: the BOS page's identification header carries the
 * codec, channel count and sample rate; duration follows from the LAST
 * page's granule position (PCM sample count for Vorbis; 48 kHz samples
 * minus pre-skip for Opus, per RFC 7845). The page walk is exact — each
 * page's size is 27 + segments + Σ lacing values — bounds-checked, and
 * capped, so lying segment tables terminate the walk instead of looping.
 * CRCs are not verified (metadata extraction, not playback). Corrupt
 * bytes decode to null, never exceptions.
 */
object OggHeaders {

  final case class OggMeta(
      codec: String, channels: Int, sampleRate: Int, durationMs: Long)

  private val MaxPages = 1 << 20

  private def tag(b: Array[Byte], i: Int, s: String): Boolean =
    i + s.length <= b.length &&
      (0 until s.length).forall(k => b(i + k) == s.charAt(k))

  def parse(b: Array[Byte]): OggMeta = {
    if (b == null || b.length < 47 || !tag(b, 0, "OggS")) return null
    var codec: String = null
    var channels = -1
    var rate = -1
    var preskip = 0
    var lastGranule = -1L
    var i = 0
    var pages = 0
    while (i + 27 <= b.length && tag(b, i, "OggS") && pages < MaxPages) {
      if (b(i + 4) != 0) return if (pages == 0) null else finish(
        codec, channels, rate, preskip, lastGranule)
      val granule = leU64(b, i + 6)
      val nseg = b(i + 26) & 0xff
      if (i + 27 + nseg > b.length) return finishOrNull(
        pages, codec, channels, rate, preskip, lastGranule)
      var bodyLen = 0
      var s = 0
      while (s < nseg) { bodyLen += b(i + 27 + s) & 0xff; s += 1 }
      val body = i + 27 + nseg
      if (body + bodyLen > b.length) return finishOrNull(
        pages, codec, channels, rate, preskip, lastGranule)
      if (pages == 0) {
        // BOS identification header
        // Vorbis packets open with a type byte (0x01 = ident) BEFORE
        // the codec tag; OpusHead is bare
        if (bodyLen >= 30 && b(body) == 1 && tag(b, body + 1, "vorbis")) {
          codec = "vorbis"
          channels = b(body + 11) & 0xff
          rate = leU32(b, body + 12).toInt
        } else if (tag(b, body, "OpusHead") && bodyLen >= 19) {
          codec = "opus"
          channels = b(body + 9) & 0xff
          preskip = leU16(b, body + 10)
          rate = 48000 // Opus always decodes at 48 kHz (RFC 7845 §5.1)
        } else return null
      }
      // granule -1 (all ones) marks a continuation page with no packet
      // end; any OTHER negative value is a lying table — reject like the
      // >= 2^50 positive case instead of clamping to a plausible zero
      if (granule != -1L) {
        if (granule < 0) return null
        lastGranule = granule
      }
      i = body + bodyLen
      pages += 1
    }
    finish(codec, channels, rate, preskip, lastGranule)
  }

  private def finishOrNull(pages: Int, codec: String, channels: Int,
      rate: Int, preskip: Int, lastGranule: Long): OggMeta =
    if (pages == 0) null else finish(codec, channels, rate, preskip, lastGranule)

  private def finish(codec: String, channels: Int, rate: Int,
      preskip: Int, lastGranule: Long): OggMeta = {
    if (codec == null || channels <= 0 || rate <= 0) return null
    val samples =
      if (lastGranule < 0) 0L
      else if (codec == "opus") math.max(0L, lastGranule - preskip)
      else lastGranule
    if (samples >= (1L << 50)) return null // lying granule
    OggMeta(codec, channels, rate,
      if (codec == "opus") samples * 1000L / 48000 else samples * 1000L / rate)
  }

  val sparkType: StructType = StructType(Seq(
    StructField("codec", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  /** Shared eval for interpreted and generated code paths. */
  def parseRow(bytes: Array[Byte]): InternalRow = {
    val m =
      try parse(bytes)
      catch { case _: IndexOutOfBoundsException => null }
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(m.codec), m.channels, m.sampleRate, m.durationMs))
  }
}

/** `ogg_meta(blob)` → struct(codec, channels, sample_rate, duration_ms);
 *  null for non-Ogg bytes or unknown codecs. */
case class OggMetaExpr(child: Expression) extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType = OggHeaders.sparkType
  override def decode(in: Array[Any]): Any = OggHeaders.parseRow(blob(in))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "ogg_meta"
}

object OggMetaExpr {
  def apply(col: Column): Column =
    GraftShims.column(new OggMetaExpr(GraftShims.expression(col)))
}

/**
 * Ogg granule SEEK PLANNING — the Vorbis/Opus twin of the FLAC SEEKTABLE
 * plan ([[FlacSeek]]) and the MP4/MKV keyframe plans: ogg carries no
 * seek table, but every page header carries its granule position (the
 * last sample completed on that page), so the page walk IS the seek
 * index. Each emitted point (granule, byte_off) means "samples after
 * `granule` begin at `byte_off`" — byte_off is the NEXT page boundary,
 * where a decoder can resync (pages open with a capture pattern) and
 * decode only the tail a selection wants.
 */
object OggSeek {

  val elementType: StructType = StructType(Seq(
    StructField("granule", LongType, nullable = false),
    StructField("byte_off", LongType, nullable = false)))

  private val MaxPages = 1 << 20

  private def tag(b: Array[Byte], i: Int): Boolean =
    i + 4 <= b.length && b(i) == 'O' && b(i + 1) == 'g' &&
      b(i + 2) == 'g' && b(i + 3) == 'S'

  /**
   * Seek plan as (granule, byte_off) pairs, file order, granules
   * ascending. Pages whose granule is -1 (a packet spans them) carry no
   * point; any OTHER negative or >= 2^50 granule is a lying header and
   * ends the plan (corrupt data, never an exception). When the stream
   * has more point-bearing pages than `maxPoints`, points DECIMATE
   * evenly (every 2^k-th page) and the FINAL point always survives — its
   * byte_off is the end of the walked stream, so tail selections stay
   * addressable. Null for non-Ogg bytes.
   */
  def pagepoints(b: Array[Byte], maxPoints: Int): Array[(Long, Long)] =
    try pagepointsUnsafe(b, maxPoints)
    catch { case _: IndexOutOfBoundsException => null }

  private def pagepointsUnsafe(b: Array[Byte], maxPoints: Int): Array[(Long, Long)] = {
    if (b == null || b.length < 27 || !tag(b, 0)) return null
    val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
      math.min(maxPoints * 2, 128))
    var step = 1L
    var count = 0L
    var lastPoint: (Long, Long) = null
    def halve(): Unit = {
      // drop odd positions, double the stride: even spacing at O(maxPoints)
      var w = 0
      var r = 0
      while (r < buf.length) { buf(w) = buf(r); w += 1; r += 2 }
      buf.remove(w, buf.length - w)
      step *= 2
    }
    var i = 0
    var pages = 0
    var ok = true
    while (ok && i + 27 <= b.length && tag(b, i) && pages < MaxPages) {
      if (b(i + 4) != 0) ok = false // unknown version: stop at what we have
      else {
        val granule = leU64(b, i + 6)
        val nseg = b(i + 26) & 0xff
        if (i + 27 + nseg > b.length) ok = false
        else {
          var bodyLen = 0
          var s = 0
          while (s < nseg) { bodyLen += b(i + 27 + s) & 0xff; s += 1 }
          val next = i + 27 + nseg + bodyLen
          if (next > b.length) ok = false
          else {
            if (granule != -1L) {
              if (granule < 0 || granule >= (1L << 50)) ok = false // lying
              else {
                val p = (granule, next.toLong)
                lastPoint = p
                if (count % step == 0) {
                  buf += p
                  if (buf.length >= 2 * maxPoints && buf.length >= 2) halve()
                }
                count += 1
              }
            }
            if (ok) { i = next; pages += 1 }
          }
        }
      }
    }
    if (pages == 0) return null
    // the final point must survive decimation: tail seeks depend on it
    if (lastPoint != null && (buf.isEmpty || buf.last != lastPoint)) {
      if (buf.length >= maxPoints) buf(buf.length - 1) = lastPoint
      else buf += lastPoint
    }
    while (buf.length > maxPoints && buf.length >= 2) {
      val last = buf.last
      halve()
      if (buf.last != last) {
        if (buf.length >= maxPoints) buf(buf.length - 1) = last else buf += last
      }
    }
    buf.toArray
  }

  /** Shared eval for interpreted and generated code paths. */
  def pagepointsArray(b: Array[Byte], maxPoints: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val pts = pagepoints(b, maxPoints)
    if (pts == null) return null
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      pts.map[Any](p => new GenericInternalRow(Array[Any](p._1, p._2))))
  }
}

/** `ogg_pagepoints(blob, maxPoints)` → array<struct<granule, byte_off>>
 *  seek plan from the page walk ([[OggSeek]]); null for non-Ogg bytes. */
case class OggPagepointsExpr(child: Expression, maxPoints: Int)
    extends BlobDecoder with UnaryLike[Expression] {

  require(maxPoints >= 2 && maxPoints <= 1000000, "need 2 <= maxPoints <= 1e6")

  override def dataType: DataType = ArrayType(OggSeek.elementType, containsNull = false)
  override def decode(in: Array[Any]): Any = OggSeek.pagepointsArray(blob(in), maxPoints)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "ogg_pagepoints"
}

object OggPagepointsExpr {
  def apply(col: Column, maxPoints: Int): Column =
    GraftShims.column(new OggPagepointsExpr(GraftShims.expression(col), maxPoints))
}

/** Fixture encoder: spec-layout Ogg pages around Vorbis/Opus
 *  identification headers (CRCs zero — the parser extracts metadata and
 *  does not verify checksums). */
object OggCodec {

  private def page(headerType: Int, granule: Long, seq: Int,
      body: Array[Byte]): Array[Byte] = {
    require(body.length < 255, "fixture bodies stay under one lacing value")
    val out = new Array[Byte](27 + 1 + body.length)
    out(0) = 'O'; out(1) = 'g'; out(2) = 'g'; out(3) = 'S'
    out(4) = 0
    out(5) = headerType.toByte
    var k = 0
    while (k < 8) { out(6 + k) = ((granule >>> (8 * k)) & 0xff).toByte; k += 1 }
    out(14) = 0x42; out(15) = 0x42; out(16) = 0x42; out(17) = 0x42 // serial
    out(18) = (seq & 0xff).toByte; out(19) = ((seq >> 8) & 0xff).toByte
    // crc (22..25) left zero
    out(26) = 1
    out(27) = body.length.toByte
    System.arraycopy(body, 0, out, 28, body.length)
    out
  }

  def encodeVorbis(channels: Int, sampleRate: Int, granule: Long,
      dataPages: Int = 2): Array[Byte] = {
    val ident = Array[Byte](1) ++ "vorbis".getBytes("US-ASCII") ++
      le32(0) ++ Array(channels.toByte) ++ le32(sampleRate) ++
      new Array[Byte](12) ++ Array[Byte](0x66, 1) // blocksizes + framing
    build(ident, granule, dataPages)
  }

  def encodeOpus(channels: Int, preskip: Int, granule: Long,
      dataPages: Int = 2): Array[Byte] = {
    val ident = "OpusHead".getBytes("US-ASCII") ++ Array[Byte](1, channels.toByte) ++
      le16(preskip) ++ le32(48000) ++ le16(0) ++ Array[Byte](0)
    build(ident, granule, dataPages)
  }

  private def build(ident: Array[Byte], granule: Long, dataPages: Int): Array[Byte] = {
    require(dataPages >= 1)
    val bos = page(2, 0, 0, ident)
    val mids = (1 until dataPages).toArray.flatMap { s =>
      // continuation-style page: granule -1 (no packet ends here)
      page(0, -1L, s, Array[Byte](0x11, 0x22))
    }
    val eos = page(4, granule, dataPages, Array[Byte](0x33))
    bos ++ mids ++ eos
  }

  /** Multi-page Vorbis fixture with EXPLICIT per-page granules (the
   *  [[OggSeek]] plan oracle): BOS ident page (granule 0), then one data
   *  page per entry — granule -1 entries model packet-spanning pages.
   *  Bodies are `bodyBytes` long so page offsets are closed-form. */
  def vorbisPaged(channels: Int, sampleRate: Int, granules: Seq[Long],
      bodyBytes: Int = 16): Array[Byte] = {
    val ident = Array[Byte](1) ++ "vorbis".getBytes("US-ASCII") ++
      le32(0) ++ Array(channels.toByte) ++ le32(sampleRate) ++
      new Array[Byte](12) ++ Array[Byte](0x66, 1)
    val bos = page(2, 0, 0, ident)
    val data = granules.zipWithIndex.toArray.flatMap { case (g, s) =>
      page(if (s == granules.size - 1) 4 else 0, g, s + 1,
        Array.tabulate[Byte](bodyBytes)(k => ((k + s) % 251).toByte))
    }
    bos ++ data
  }
}
