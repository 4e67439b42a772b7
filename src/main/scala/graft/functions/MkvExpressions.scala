package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._

/**
 * Headers-only Matroska / WebM metadata from the published EBML layout —
 * the web-video container sibling of [[Mp4Headers]]: Segment → Info
 * gives the timestamp scale and (float) duration; Segment → Tracks →
 * TrackEntry gives video pixel dimensions and audio sampling
 * frequency / channels from the first track of each type.
 *
 * EBML elements are (varint id, varint size, payload); both varints are
 * length-prefixed by their leading-zero count. The walk is depth-first
 * over exactly the four container levels needed (Segment, Info, Tracks,
 * TrackEntry, Video/Audio), bounds-checked, with unknown-size (all-ones)
 * elements treated as extending to the parent's end — legal only for
 * Segment in practice, and handled that way here. Corrupt bytes decode
 * to null, never exceptions.
 */
object MkvHeaders {

  final case class MkvMeta(
      durationMs: Long, // -1 = absent
      width: Int, height: Int, // -1 = no video track
      channels: Int, sampleRate: Int) // -1 = no audio track

  // element ids (class-prefixed form, as they appear in the stream)
  private val EbmlHeader = 0x1a45dfa3L
  private val Segment = 0x18538067L
  private val Info = 0x1549a966L
  private val TimestampScale = 0x2ad7b1L
  private val Duration = 0x4489L
  private val Tracks = 0x1654ae6bL
  private val TrackEntry = 0xaeL
  private val TrackType = 0x83L
  private val VideoElem = 0xe0L
  private val AudioElem = 0xe1L
  private val PixelWidth = 0xb0L
  private val PixelHeight = 0xbaL
  private val SamplingFrequency = 0xb5L
  private val Channels = 0x9fL

  /** (value, bytesConsumed) of the varint at i, id form (marker bit kept);
   *  null on truncation/invalid. */
  private def readId(b: Array[Byte], i: Int, end: Int): (Long, Int) = {
    if (i >= end) return null
    val first = b(i) & 0xff
    if (first == 0) return null
    val len = Integer.numberOfLeadingZeros(first) - 23 // 1..8
    if (len < 1 || len > 4 || i + len > end) return null // ids are 1-4 bytes
    var v = first.toLong
    var k = 1
    while (k < len) { v = (v << 8) | (b(i + k) & 0xff); k += 1 }
    (v, len)
  }

  /** (value, bytesConsumed) of the size varint at i (marker bit cleared);
   *  value -1 = "unknown size". null on truncation/invalid. */
  private def readSize(b: Array[Byte], i: Int, end: Int): (Long, Int) = {
    if (i >= end) return null
    val first = b(i) & 0xff
    if (first == 0) return null
    val len = Integer.numberOfLeadingZeros(first) - 23
    if (len < 1 || len > 8 || i + len > end) return null
    var v = (first & (0xff >>> len)).toLong
    var allOnes = (first & (0xff >>> len)) == (0xff >>> len)
    var k = 1
    while (k < len) {
      val byte = b(i + k) & 0xff
      v = (v << 8) | byte
      allOnes &&= byte == 0xff
      k += 1
    }
    (if (allOnes) -1L else v, len)
  }

  /** Children of [start,end): (id, payloadStart, payloadEnd). A lying
   *  size or truncated varint terminates the walk. */
  private def children(b: Array[Byte], start: Int, end: Int)
      : Iterator[(Long, Int, Int)] = new Iterator[(Long, Int, Int)] {
    private var i = start
    private var nxt: (Long, Int, Int) = advance()
    private def advance(): (Long, Int, Int) = {
      val id = readId(b, i, end)
      if (id == null) return null
      val sz = readSize(b, i + id._2, end)
      if (sz == null) return null
      val ps = i + id._2 + sz._2
      val pe =
        if (sz._1 < 0) end // unknown size: runs to parent end
        else if (sz._1 > end - ps) return null
        else ps + sz._1.toInt
      i = pe
      (id._1, ps, pe)
    }
    override def hasNext: Boolean = nxt != null
    override def next(): (Long, Int, Int) = {
      val out = nxt; nxt = advance(); out
    }
  }

  private def childOf(b: Array[Byte], s: Int, e: Int, id: Long): Option[(Int, Int)] =
    children(b, s, e).collectFirst { case (`id`, ps, pe) => (ps, pe) }

  private def uint(b: Array[Byte], s: Int, e: Int): Long = {
    if (e - s > 8 || e <= s) return -1L
    var v = 0L
    var i = s
    while (i < e) { v = (v << 8) | (b(i) & 0xff); i += 1 }
    v
  }

  /** Bounded uint for fields that land in an Int (pixel dims, channel
   *  count): a corrupt 5-8-byte element like 0x100000010 must be REJECTED
   *  (-1 = absent), not silently truncated by .toInt into a plausible
   *  small value — lying headers decode to null like everywhere else. */
  private def uintCapped(b: Array[Byte], s: Int, e: Int, cap: Long): Int = {
    val v = uint(b, s, e)
    if (v < 1 || v > cap) -1 else v.toInt
  }

  private val MaxPixels = 1L << 20 // 1M px per side is beyond any real video
  private val MaxChannels = 255L

  private def float(b: Array[Byte], s: Int, e: Int): Double = (e - s) match {
    case 4 => java.lang.Float.intBitsToFloat(uint(b, s, e).toInt).toDouble
    case 8 => java.lang.Double.longBitsToDouble(uint(b, s, e))
    case _ => Double.NaN
  }

  def parse(b: Array[Byte]): MkvMeta = {
    if (b == null || b.length < 8) return null
    // must open with the EBML header element
    val head = readId(b, 0, b.length)
    if (head == null || head._1 != EbmlHeader) return null
    val seg = childOf(b, 0, b.length, Segment).getOrElse(return null)
    var scale = 1000000L // default: 1 ms ticks
    var durTicks = Double.NaN
    childOf(b, seg._1, seg._2, Info).foreach { case (is, ie) =>
      childOf(b, is, ie, TimestampScale).foreach { case (s, e) =>
        val v = uint(b, s, e); if (v > 0) scale = v
      }
      childOf(b, is, ie, Duration).foreach { case (s, e) =>
        durTicks = float(b, s, e)
      }
    }
    var width = -1
    var height = -1
    var channels = -1
    var rate = -1
    // latch on the FIRST track of each type, not on "first track that
    // happened to carry field X" — a first video track missing PixelWidth
    // must not let a later track's dimensions mix in
    var videoSeen = false
    var audioSeen = false
    childOf(b, seg._1, seg._2, Tracks).foreach { case (ts, te) =>
      for ((id, es, ee) <- children(b, ts, te) if id == TrackEntry) {
        val typ = childOf(b, es, ee, TrackType)
          .map { case (s, e) => uint(b, s, e) }.getOrElse(-1L)
        if (typ == 1 && !videoSeen) {
          videoSeen = true
          childOf(b, es, ee, VideoElem).foreach { case (vs, ve) =>
            childOf(b, vs, ve, PixelWidth)
              .foreach { case (s, e) => width = uintCapped(b, s, e, MaxPixels) }
            childOf(b, vs, ve, PixelHeight)
              .foreach { case (s, e) => height = uintCapped(b, s, e, MaxPixels) }
          }
        } else if (typ == 2 && !audioSeen) {
          audioSeen = true
          childOf(b, es, ee, AudioElem).foreach { case (as, ae) =>
            childOf(b, as, ae, Channels)
              .foreach { case (s, e) => channels = uintCapped(b, s, e, MaxChannels) }
            childOf(b, as, ae, SamplingFrequency)
              .foreach { case (s, e) =>
                val f = float(b, s, e)
                if (!f.isNaN && f > 0 && f < 1e9) rate = f.toInt
              }
          }
        }
      }
    }
    val durMs =
      if (durTicks.isNaN || durTicks < 0 || scale <= 0) -1L
      else {
        val ms = durTicks * scale / 1e6
        if (ms >= (1L << 50).toDouble) return null // lying duration
        ms.toLong
      }
    if (durMs < 0 && width < 0 && height < 0 && channels < 0 && rate < 0)
      return null // nothing parsed
    MkvMeta(durMs, width, height, channels, rate)
  }

  val sparkType: StructType = StructType(Seq(
    StructField("duration_ms", LongType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true)))

  // Cues: Matroska's seek index — the element a player reads to jump to
  // keyframes without scanning Clusters
  private val Cues = 0x1c53bb6bL
  private val CuePoint = 0xbbL
  private val CueTime = 0xb3L
  private val CueTrackPositions = 0xb7L
  private val CueClusterPosition = 0xf1L

  /** KEYFRAME plan from the Cues element — the Matroska twin of MP4's
   *  stss planning ([[VideoKeyframes]]): each CuePoint is a seekable
   *  sync position, (t_ms from CueTime x TimestampScale, cluster byte
   *  offset from the first CueTrackPositions' CueClusterPosition,
   *  segment-relative per the spec). First `maxPoints` cue points — the
   *  planning cap, same semantics as the MP4 twin. Null when the
   *  document has no parseable Cues. */
  def cues(b: Array[Byte], maxPoints: Int): Array[(Long, Long)] = {
    if (b == null || b.length < 8 || maxPoints <= 0) return null
    val head = readId(b, 0, b.length)
    if (head == null || head._1 != EbmlHeader) return null
    val seg = childOf(b, 0, b.length, Segment).getOrElse(return null)
    var scale = 1000000L
    childOf(b, seg._1, seg._2, Info).foreach { case (is, ie) =>
      childOf(b, is, ie, TimestampScale).foreach { case (s, e) =>
        val v = uint(b, s, e); if (v > 0) scale = v
      }
    }
    val cuesElem = childOf(b, seg._1, seg._2, Cues).getOrElse(return null)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val it = children(b, cuesElem._1, cuesElem._2)
    while (it.hasNext && out.length < maxPoints) {
      val (id, ps, pe) = it.next()
      if (id == CuePoint) {
        val ticks = childOf(b, ps, pe, CueTime)
          .map { case (s, e) => uint(b, s, e) }.getOrElse(-1L)
        val clusterOff = childOf(b, ps, pe, CueTrackPositions)
          .flatMap { case (ts, te) => childOf(b, ts, te, CueClusterPosition) }
          .map { case (s, e) => uint(b, s, e) }.getOrElse(-1L)
        // a cue point missing its time or position is a lying index
        // entry: null the whole plan — a silently truncated prefix would
        // be indistinguishable from a legitimately short one, and the
        // corrupt-bytes contract is decode-to-null
        if (ticks < 0 || clusterOff < 0) return null
        if (ticks > (1L << 50) / scale) return null // lying timestamp
        out += ((ticks * scale / 1000000L, clusterOff))
      }
    }
    if (out.isEmpty) null else out.toArray
  }

  val cueElementType: StructType = StructType(Seq(
    StructField("t_ms", LongType, nullable = false),
    StructField("cluster_off", LongType, nullable = false)))

  /** Shared eval for interpreted and generated code paths. */
  def cuesArray(b: Array[Byte], maxPoints: Int): GenericArrayData = {
    val cs =
      try cues(b, maxPoints)
      catch { case _: IndexOutOfBoundsException => null }
    if (cs == null) return null
    new GenericArrayData(cs.map[Any] { case (t, off) =>
      new GenericInternalRow(Array[Any](t, off))
    })
  }

  /** Shared eval for interpreted and generated code paths. */
  def parseRow(bytes: Array[Byte]): InternalRow = {
    val m =
      try parse(bytes)
      catch { case _: IndexOutOfBoundsException => null }
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      if (m.durationMs < 0) null else m.durationMs,
      if (m.width < 0) null else m.width,
      if (m.height < 0) null else m.height,
      if (m.channels < 0) null else m.channels,
      if (m.sampleRate < 0) null else m.sampleRate))
  }
}

/** `mkv_meta(blob)` → struct(duration_ms, width, height, channels,
 *  sample_rate) from a Matroska/WebM EBML walk; null for non-EBML bytes.
 *  Fields are null when the corresponding element is absent. */
case class MkvMetaExpr(child: Expression) extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType = MkvHeaders.sparkType
  override def decode(in: Array[Any]): Any = MkvHeaders.parseRow(blob(in))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "mkv_meta"
}

object MkvMetaExpr {
  def apply(col: Column): Column =
    GraftShims.column(new MkvMetaExpr(GraftShims.expression(col)))
}

/** `mkv_cues(blob, maxPoints)` → array<struct<t_ms, cluster_off>> of the
 *  first `maxPoints` Cues keyframe positions; null for non-EBML bytes or
 *  documents without a Cues index. */
case class MkvCuesExpr(child: Expression, maxPoints: Int)
    extends BlobDecoder with UnaryLike[Expression] {

  require(maxPoints > 0, "maxPoints must be positive")

  override def dataType: DataType =
    ArrayType(MkvHeaders.cueElementType, containsNull = false)
  override def decode(in: Array[Any]): Any = MkvHeaders.cuesArray(blob(in), maxPoints)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "mkv_cues"
}

object MkvCuesExpr {
  def apply(col: Column, maxPoints: Int): Column =
    GraftShims.column(new MkvCuesExpr(GraftShims.expression(col), maxPoints))
}

/** Fixture encoder: minimal spec-layout EBML/Matroska documents. */
object MkvCodec {

  private def idBytes(id: Long): Array[Byte] = {
    // ids are stored with their marker bit — emit minimal big-endian form
    val n = (64 - java.lang.Long.numberOfLeadingZeros(id) + 7) / 8
    Array.tabulate[Byte](n)(k => ((id >>> (8 * (n - 1 - k))) & 0xff).toByte)
  }

  private def sizeBytes(size: Long): Array[Byte] = {
    // 2-byte form fits all fixture sizes: 0x4000 | size (size < 0x3fff)
    require(size >= 0 && size < 0x3fff)
    Array((0x40 | (size >> 8)).toByte, (size & 0xff).toByte)
  }

  def elem(id: Long, payload: Array[Byte]): Array[Byte] =
    idBytes(id) ++ sizeBytes(payload.length) ++ payload

  def uintPayload(v: Long): Array[Byte] = {
    val n = math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8)
    Array.tabulate[Byte](n)(k => ((v >>> (8 * (n - 1 - k))) & 0xff).toByte)
  }

  def floatPayload(v: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(v)
    Array.tabulate[Byte](8)(k => ((bits >>> (8 * (7 - k))) & 0xff).toByte)
  }

  def encode(
      durationTicks: Double, timestampScale: Long = 1000000L,
      video: Option[(Int, Int)] = None,
      audio: Option[(Int, Double)] = None, // (channels, samplingFrequency)
      unknownSizeSegment: Boolean = false,
      cues: Seq[(Long, Long)] = Nil): Array[Byte] = { // (ticks, clusterOff)
    val ebml = elem(0x1a45dfa3L, Array.emptyByteArray)
    val info = elem(0x1549a966L,
      elem(0x2ad7b1L, uintPayload(timestampScale)) ++
        (if (durationTicks.isNaN) Array.emptyByteArray
         else elem(0x4489L, floatPayload(durationTicks))))
    val vTrack = video.map { case (w, h) =>
      elem(0xaeL,
        elem(0x83L, uintPayload(1)) ++
          elem(0xe0L,
            elem(0xb0L, uintPayload(w)) ++ elem(0xbaL, uintPayload(h))))
    }.getOrElse(Array.emptyByteArray)
    val aTrack = audio.map { case (ch, freq) =>
      elem(0xaeL,
        elem(0x83L, uintPayload(2)) ++
          elem(0xe1L,
            elem(0x9fL, uintPayload(ch)) ++ elem(0xb5L, floatPayload(freq))))
    }.getOrElse(Array.emptyByteArray)
    val tracks =
      if (vTrack.isEmpty && aTrack.isEmpty) Array.emptyByteArray
      else elem(0x1654ae6bL, vTrack ++ aTrack)
    val cuesElem =
      if (cues.isEmpty) Array.emptyByteArray
      else elem(0x1c53bb6bL, cues.toArray.flatMap { case (ticks, off) =>
        elem(0xbbL,
          elem(0xb3L, uintPayload(ticks)) ++
            elem(0xb7L, elem(0xf1L, uintPayload(off))))
      })
    val segPayload = info ++ tracks ++ cuesElem
    val segment =
      if (!unknownSizeSegment) elem(0x18538067L, segPayload)
      else idBytes(0x18538067L) ++ Array(0xff.toByte) ++ segPayload
    ebml ++ segment
  }
}
