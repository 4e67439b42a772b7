package graft.functions

import graft.functions.Bytes.beU32

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._

/**
 * Headers-only metadata for the two dominant COMPRESSED crawled-audio
 * formats, parsed from the published container layouts with no codec
 * library — the compressed siblings of [[AudioHeaders]] (WAV):
 *
 *  - MPEG audio (MP3): the 32-bit frame header carries version / layer /
 *    bitrate / sample rate / channel mode; frame count and duration follow
 *    arithmetically for CBR streams, and from the Xing/Info VBR header
 *    (first frame, after the layer-III side info) when present. ID3v2
 *    prefix tags are skipped by their syncsafe size; sync is then scanned
 *    within a bounded prefix and cross-checked against the NEXT frame
 *    header when one fits, so random 0xFF bytes in tag padding don't
 *    false-sync.
 *  - FLAC: the mandatory first STREAMINFO metadata block carries sample
 *    rate / channels / bits-per-sample / total samples packed as
 *    20+3+5+36 bits.
 *
 * Sample-level decode of either format needs entropy decoding (Huffman /
 * Rice) and stays behind the [[graft.operators.Multimodal]] decoder seam,
 * exactly like JPEG pixel decode before round 15. Corrupt bytes decode to
 * null, never exceptions; all walks are bounds-checked.
 */
object Mp3Headers {

  final case class Mp3Meta(
      versionX10: Int, // 10 = MPEG1, 20 = MPEG2, 25 = MPEG2.5
      layer: Int, // 1..3
      bitrateKbps: Int,
      sampleRate: Int,
      channels: Int,
      frames: Long,
      durationMs: Long,
      vbr: Boolean)

  // bitrate tables (kbps) indexed by the 4-bit header field; 0 = "free"
  // (unsupported here → null), 15 = invalid
  private val V1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
  private val V1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
  private val V1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val V2L1 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
  private val V2L23 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

  private val SrV1 = Array(44100, 48000, 32000)
  private val SrV2 = Array(22050, 24000, 16000)
  private val SrV25 = Array(11025, 12000, 8000)

  /** How far past the ID3 tag (or file start) to scan for the first sync. */
  private val MaxSyncScan = 1 << 16

  /** Decoded fields of one frame header, or null if the 4 bytes at `i`
   *  are not a valid frame header. */
  private final class Frame(
      val versionX10: Int, val layer: Int, val bitrateKbps: Int,
      val sampleRate: Int, val channels: Int, val crc: Boolean,
      val frameLen: Int, val samplesPerFrame: Int)

  /** (kbps, sampleRate, samplesPerFrame, unpadded frameLen) for a field
   *  combination, or null for free/invalid indexes — the ONE copy of the
   *  published tables, shared by the parser and the fixture encoder
   *  (fixture independence is carried by the DuckDB oracles, not by
   *  duplicating the tables). */
  private[functions] def frameParams(versionX10: Int, layer: Int,
      brIdx: Int, srIdx: Int): Array[Int] = {
    if (brIdx <= 0 || brIdx >= 15 || srIdx < 0 || srIdx > 2) return null
    val kbps = (versionX10, layer) match {
      case (10, 1) => V1L1(brIdx)
      case (10, 2) => V1L2(brIdx)
      case (10, 3) => V1L3(brIdx)
      case (_, 1) => V2L1(brIdx)
      case _ => V2L23(brIdx)
    }
    val sr = versionX10 match {
      case 10 => SrV1(srIdx)
      case 20 => SrV2(srIdx)
      case _ => SrV25(srIdx)
    }
    val spf =
      if (layer == 1) 384
      else if (layer == 2) 1152
      else if (versionX10 == 10) 1152
      else 576
    // slots are 4 bytes in Layer I, 1 byte otherwise
    val frameLen =
      if (layer == 1) (12 * kbps * 1000 / sr) * 4
      else spf / 8 * kbps * 1000 / sr
    Array(kbps, sr, spf, frameLen)
  }

  private def frameAt(b: Array[Byte], i: Int): Frame = {
    if (i + 4 > b.length) return null
    if ((b(i) & 0xff) != 0xff || (b(i + 1) & 0xe0) != 0xe0) return null
    val verBits = (b(i + 1) >> 3) & 3 // 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
    val layerBits = (b(i + 1) >> 1) & 3 // 0=reserved, 1=III, 2=II, 3=I
    if (verBits == 1 || layerBits == 0) return null
    val brIdx = (b(i + 2) >> 4) & 0xf
    val srIdx = (b(i + 2) >> 2) & 3
    if (srIdx == 3) return null
    val versionX10 = verBits match { case 3 => 10; case 2 => 20; case _ => 25 }
    val layer = 4 - layerBits
    val params = frameParams(versionX10, layer, brIdx, srIdx)
    if (params == null) return null
    val kbps = params(0)
    val sr = params(1)
    val spf = params(2)
    val padding = (b(i + 2) >> 1) & 1
    val mode = (b(i + 3) >> 6) & 3
    val channels = if (mode == 3) 1 else 2
    val crc = (b(i + 1) & 1) == 0
    val frameLen = params(3) + (if (layer == 1) 4 * padding else padding)
    if (frameLen < 4) return null
    new Frame(versionX10, layer, kbps, sr, channels, crc, frameLen, spf)
  }

  /** Skip an ID3v2 prefix tag: "ID3" + version(2) + flags(1) + syncsafe
   *  u28 size (+10 footer when flag bit 4 set). 0 when absent. */
  private def id3Skip(b: Array[Byte]): Int = {
    if (b.length < 10 || b(0) != 'I' || b(1) != 'D' || b(2) != '3') return 0
    if ((b(6) | b(7) | b(8) | b(9)) < 0) return 0 // syncsafe bytes are 7-bit
    val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
      ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
    val footer = if ((b(5) & 0x10) != 0) 10 else 0
    val skip = 10L + size + footer
    if (skip >= b.length) 0 else skip.toInt
  }

  def parse(b: Array[Byte]): Mp3Meta = {
    if (b == null || b.length < 4) return null
    val start0 = id3Skip(b)
    val limit = math.min(b.length.toLong, start0.toLong + MaxSyncScan).toInt
    var i = start0
    var f: Frame = null
    var at = -1
    while (at < 0 && i + 4 <= limit) {
      val c = frameAt(b, i)
      if (c != null) {
        // reject false syncs: when a second frame fits in the buffer it
        // must also parse; a single-frame file is accepted as-is
        val nxt = i + c.frameLen
        if (nxt + 4 > b.length || frameAt(b, nxt) != null) { f = c; at = i }
        else i += 1
      } else i += 1
    }
    if (at < 0) return null
    // Xing/Info VBR header: first frame, after the layer-III side info
    // (MPEG1: 17 mono / 32 stereo; MPEG2/2.5: 9 / 17), after the optional
    // 2-byte CRC
    var frames = -1L
    var vbr = false
    if (f.layer == 3) {
      val side =
        if (f.versionX10 == 10) { if (f.channels == 1) 17 else 32 }
        else { if (f.channels == 1) 9 else 17 }
      val x = at + 4 + (if (f.crc) 2 else 0) + side
      // the whole tag + flags + count (12 bytes) must fit INSIDE the first
      // frame — reading the count across the frame boundary would pull the
      // next frame's sync bytes into the frame count
      if (x + 12 <= b.length && x + 12 <= at + f.frameLen) {
        val isXing = b(x) == 'X' && b(x + 1) == 'i' && b(x + 2) == 'n' && b(x + 3) == 'g'
        val isInfo = b(x) == 'I' && b(x + 1) == 'n' && b(x + 2) == 'f' && b(x + 3) == 'o'
        if (isXing || isInfo) {
          val flags = beU32(b, x + 4)
          if ((flags & 1L) != 0) {
            frames = beU32(b, x + 8)
            vbr = isXing
          }
        }
      }
    }
    if (frames < 0) {
      // CBR estimate: whole frames in the remaining bytes at the first
      // frame's length (padding of later frames not modeled — estimate)
      frames = (b.length - at).toLong / f.frameLen
      if (frames <= 0) return null
    }
    val durationMs = frames * f.samplesPerFrame * 1000L / f.sampleRate
    Mp3Meta(f.versionX10, f.layer, f.bitrateKbps, f.sampleRate, f.channels,
      frames, durationMs, vbr)
  }

  val sparkType: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false), // ×10: 10/20/25
    StructField("layer", IntegerType, nullable = false),
    StructField("bitrate_kbps", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("frames", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("vbr", BooleanType, nullable = false)))

  /** Shared eval for interpreted and generated code paths. */
  def parseRow(bytes: Array[Byte]): InternalRow = {
    val m =
      try parse(bytes)
      catch { case _: IndexOutOfBoundsException => null }
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      m.versionX10, m.layer, m.bitrateKbps, m.sampleRate, m.channels,
      m.frames, m.durationMs, m.vbr))
  }
}

/** `mp3_meta(blob)` → struct(version, layer, bitrate_kbps, sample_rate,
 *  channels, frames, duration_ms, vbr); null for non-MPEG-audio bytes. */
case class Mp3MetaExpr(child: Expression) extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType = Mp3Headers.sparkType
  override def decode(in: Array[Any]): Any = Mp3Headers.parseRow(blob(in))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "mp3_meta"
}

object Mp3MetaExpr {
  def apply(col: Column): Column =
    GraftShims.column(new Mp3MetaExpr(GraftShims.expression(col)))
}

object FlacHeaders {

  final case class FlacMeta(
      sampleRate: Int, channels: Int, bits: Int,
      totalSamples: Long, durationMs: Long,
      /** STREAMINFO min/max block size — min == max pins the constant
       *  block size fixed-blocking seek math multiplies frame numbers
       *  by; not part of the `flac_meta` SQL row. */
      minBlock: Int = 0, maxBlock: Int = 0)

  def parse(b: Array[Byte]): FlacMeta = {
    if (b == null || b.length < 8) return null
    if (b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C') return null
    // metadata blocks: header byte (last<<7 | type) + u24 length; the
    // spec mandates STREAMINFO (type 0, 34 bytes) first, but tolerate
    // leading non-zero blocks from sloppy writers
    var i = 4
    var guard = 0
    while (i + 4 <= b.length && guard < 64) {
      val typ = b(i) & 0x7f
      val last = (b(i) & 0x80) != 0
      val len = ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
      if (typ == 0) {
        val p = i + 4
        if (len < 34 || p + 34 > b.length) return null
        // after 4B min/max blocksize + 6B min/max framesize:
        // 20b sample rate | 3b channels-1 | 5b bps-1 | 36b total samples
        val sr = ((b(p + 10) & 0xff) << 12) | ((b(p + 11) & 0xff) << 4) |
          ((b(p + 12) & 0xff) >> 4)
        val channels = ((b(p + 12) >> 1) & 7) + 1
        val bits = (((b(p + 12) & 1) << 4) | ((b(p + 13) & 0xff) >> 4)) + 1
        val total = ((b(p + 13) & 0xfL) << 32) | beU32(b, p + 14)
        if (sr <= 0) return null
        return FlacMeta(sr, channels, bits, total, total * 1000L / sr,
          minBlock = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff),
          maxBlock = ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff))
      }
      if (last) return null
      val step = 4L + len
      if (i + step > b.length) return null
      i += step.toInt
      guard += 1
    }
    null
  }

  val sparkType: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("total_samples", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  /** Shared eval for interpreted and generated code paths. */
  def parseRow(bytes: Array[Byte]): InternalRow = {
    val m =
      try parse(bytes)
      catch { case _: IndexOutOfBoundsException => null }
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      m.sampleRate, m.channels, m.bits, m.totalSamples, m.durationMs))
  }
}

/** `flac_meta(blob)` → struct(sample_rate, channels, bits, total_samples,
 *  duration_ms) from the STREAMINFO block; null for non-FLAC bytes. */
case class FlacMetaExpr(child: Expression)
    extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType = FlacHeaders.sparkType
  override def decode(in: Array[Any]): Any = FlacHeaders.parseRow(blob(in))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "flac_meta"
}

object FlacMetaExpr {
  def apply(col: Column): Column =
    GraftShims.column(new FlacMetaExpr(GraftShims.expression(col)))
}

/** Fixture encoders for the compressed-audio parsers: spec-layout MP3
 *  frame sequences (optional ID3v2 prefix, optional Xing/Info first-frame
 *  VBR header) and FLAC STREAMINFO containers. Payloads are zeros — these
 *  exercise the HEADER paths, not codecs. */
object CodedAudioCodec {

  /** One CBR MPEG audio stream.
   *  @param versionX10 10 = MPEG1, 20 = MPEG2, 25 = MPEG2.5
   *  @param xingFrames when >= 0, write a Xing (or Info for
   *                    `xingIsInfo`) header claiming this frame count */
  def encodeMp3(
      versionX10: Int, layer: Int, bitrateIdx: Int, srIdx: Int,
      mono: Boolean, nFrames: Int, id3PadBytes: Int = -1,
      xingFrames: Long = -1L, xingIsInfo: Boolean = false): Array[Byte] = {
    require(Set(10, 20, 25)(versionX10) && layer >= 1 && layer <= 3)
    require(bitrateIdx >= 1 && bitrateIdx <= 14 && srIdx >= 0 && srIdx <= 2)
    val verBits = versionX10 match { case 10 => 3; case 20 => 2; case _ => 0 }
    val layerBits = 4 - layer
    val hdr = Array[Byte](
      0xff.toByte,
      (0xe0 | (verBits << 3) | (layerBits << 1) | 1).toByte, // no CRC
      ((bitrateIdx << 4) | (srIdx << 2)).toByte, // padding 0
      (if (mono) 0xc0 else 0x00).toByte)
    val params = Mp3Headers.frameParams(versionX10, layer, bitrateIdx, srIdx)
    require(params != null, s"invalid field combination")
    val frameLen = params(3)
    require(frameLen >= 4, s"degenerate frame: $frameLen")
    val id3 =
      if (id3PadBytes < 0) Array.emptyByteArray
      else {
        val size = id3PadBytes
        require(size < (1 << 28))
        Array[Byte]('I', 'D', '3', 4, 0, 0,
          ((size >> 21) & 0x7f).toByte, ((size >> 14) & 0x7f).toByte,
          ((size >> 7) & 0x7f).toByte, (size & 0x7f).toByte) ++
          new Array[Byte](size)
      }
    val out = new Array[Byte](id3.length + frameLen * nFrames)
    System.arraycopy(id3, 0, out, 0, id3.length)
    var f = 0
    while (f < nFrames) {
      System.arraycopy(hdr, 0, out, id3.length + f * frameLen, 4)
      f += 1
    }
    if (xingFrames >= 0 && layer == 3 && nFrames > 0) {
      val side =
        if (versionX10 == 10) { if (mono) 17 else 32 }
        else { if (mono) 9 else 17 }
      val x = id3.length + 4 + side
      require(x + 12 <= id3.length + frameLen, "first frame too small for Xing")
      val tag = if (xingIsInfo) "Info" else "Xing"
      var i = 0
      while (i < 4) { out(x + i) = tag.charAt(i).toByte; i += 1 }
      out(x + 7) = 1 // flags: FRAMES
      out(x + 8) = ((xingFrames >> 24) & 0xff).toByte
      out(x + 9) = ((xingFrames >> 16) & 0xff).toByte
      out(x + 10) = ((xingFrames >> 8) & 0xff).toByte
      out(x + 11) = (xingFrames & 0xff).toByte
    }
    out
  }

  def encodeFlac(
      sampleRate: Int, channels: Int, bits: Int, totalSamples: Long,
      leadingPaddingBlock: Boolean = false,
      blockSize: Int = 4096): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20))
    require(channels >= 1 && channels <= 8 && bits >= 1 && bits <= 32)
    require(totalSamples >= 0 && totalSamples < (1L << 36))
    require(blockSize > 0 && blockSize <= 0xffff)
    val info = new Array[Byte](34)
    // min/max blocksize: the stream's constant block size (real encoders
    // record it; fixed-blocking seek math multiplies frame numbers by it)
    info(0) = ((blockSize >> 8) & 0xff).toByte; info(1) = (blockSize & 0xff).toByte
    info(2) = info(0); info(3) = info(1)
    // min/max framesize 0 (unknown) — bytes 4..9 stay zero
    info(10) = ((sampleRate >> 12) & 0xff).toByte
    info(11) = ((sampleRate >> 4) & 0xff).toByte
    info(12) = (((sampleRate & 0xf) << 4) | ((channels - 1) << 1) |
      ((bits - 1) >> 4)).toByte
    info(13) = ((((bits - 1) & 0xf) << 4) | ((totalSamples >> 32) & 0xf).toInt).toByte
    info(14) = ((totalSamples >> 24) & 0xff).toByte
    info(15) = ((totalSamples >> 16) & 0xff).toByte
    info(16) = ((totalSamples >> 8) & 0xff).toByte
    info(17) = (totalSamples & 0xff).toByte
    // bytes 18..33: MD5 of the unencoded audio — zeros in fixtures
    val pad =
      if (!leadingPaddingBlock) Array.emptyByteArray
      else Array[Byte](1, 0, 0, 2, 0, 0) // PADDING block, 2 bytes
    "fLaC".getBytes("US-ASCII") ++ pad ++
      Array[Byte](0x80.toByte, 0, 0, 34) ++ info
  }
}
