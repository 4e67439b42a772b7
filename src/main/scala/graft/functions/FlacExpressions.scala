package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.{TernaryLike, UnaryLike}
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._

/**
 * FLAC sample decode from the published format layout — the audio twin
 * of the hand-rolled GIF/PNG pixel decoders: FLAC is lossless and
 * bit-deterministic, so decoded samples can join the oracle-gated
 * sample-level pipeline (stats, fingerprints, segmentation) with no
 * codec library. `flac_pcm(blob, maxSamples)` normalizes a 16-bit FLAC
 * stream to WAV-PCM16 bytes; every existing PCM operator composes:
 * `audio_stats(flac_pcm(b))` equals the stats of the un-encoded WAV
 * bit-for-bit (q243 pins this with the WAV twin's closed form).
 *
 * Decoded per the spec (RFC 9639 layout):
 *  - frame header: 14-bit sync, blocking strategy, block-size /
 *    sample-rate / channel-assignment / sample-size codes, UTF-8-coded
 *    frame number, trailing CRC-8 (validated);
 *  - subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders 1-32
 *    (quantized coefficients + shift), each with optional wasted-bits
 *    unary prefix;
 *  - residuals: Rice partitions (4- and 5-bit parameter widths) with the
 *    escape-to-raw code, zigzag-signed;
 *  - stereo decorrelation: left/side, right/side, mid/side (side channel
 *    carries one extra bit);
 *  - frame footer CRC-16 (validated).
 *
 * 8-24-bit streams all normalize to the PCM16 contract (high bits kept
 * via `s >> (bits-16)` for deeper sources, `s << (16-bits)` for
 * shallower — the q222 16-bit-PNG discipline applied to audio); depths
 * past 24 bits, lying headers, CRC mismatches and outputs past
 * `maxSamples` decode to null, never exceptions.
 */
/** CRC routines shared by the decoder and the fixture encoder — one
 *  copy, so a polynomial fix can never break the round trip. */
private[functions] object FlacCrc {

  def crc8(b: Array[Byte], from: Int, to: Int): Int = {
    var crc = 0
    var i = from
    while (i < to) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  def crc16(b: Array[Byte], from: Int, to: Int): Int = {
    var crc = 0
    var i = from
    while (i < to) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
              else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }
}

object FlacPcm {

  /** The ONE depth -> frame sample-size-code table, shared by the
   *  decoder's lying-frame gate and the fixture encoder (the FlacCrc
   *  single-copy discipline): skewing the two would yield streams the
   *  twin rejects. */
  private[functions] val DepthSsCodes: Map[Int, Int] =
    Map(8 -> 1, 12 -> 2, 16 -> 4, 20 -> 5, 24 -> 6)

  /** Signals any malformed-stream condition; caught at the boundary. */
  private final class Malformed extends RuntimeException(null, null, false, false)
  private def bad(): Nothing = throw new Malformed

  private final class BitReader(val b: Array[Byte]) {
    var bytePos = 0
    var bitPos = 0 // 0..7, bits already consumed of b(bytePos)
    def alignToByte(): Unit = if (bitPos != 0) { bitPos = 0; bytePos += 1 }
    def bit(): Int = {
      if (bytePos >= b.length) bad()
      val v = (b(bytePos) >> (7 - bitPos)) & 1
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; bytePos += 1 }
      v
    }
    /** n <= 57 unsigned bits. */
    def bits(n: Int): Long = {
      var v = 0L
      var left = n
      while (left > 0) {
        if (bytePos >= b.length) bad()
        val avail = 8 - bitPos
        val take = math.min(avail, left)
        val chunk = (b(bytePos) >> (avail - take)) & ((1 << take) - 1)
        v = (v << take) | chunk
        bitPos += take
        if (bitPos == 8) { bitPos = 0; bytePos += 1 }
        left -= take
      }
      v
    }
    def signedBits(n: Int): Int = {
      val v = bits(n)
      ((v << (64 - n)) >> (64 - n)).toInt
    }
    /** Count of zero bits before the next 1 (unary). */
    def unary(): Int = {
      var q = 0
      while (bit() == 0) { q += 1; if (q > (1 << 24)) bad() }
      q
    }
  }

  /** UTF-8-style coded number (frame/sample index), up to 36 bits. */
  private def codedNumber(r: BitReader): Long = {
    val first = r.bits(8).toInt
    if ((first & 0x80) == 0) return first
    var n = 0
    var mask = 0x40
    while ((first & mask) != 0 && n < 7) { n += 1; mask >>= 1 }
    if (n < 1 || n > 6) bad()
    var v = (first & (0x3f >> n)).toLong
    var k = 0
    while (k < n) {
      val c = r.bits(8).toInt
      if ((c & 0xc0) != 0x80) bad()
      v = (v << 6) | (c & 0x3f)
      k += 1
    }
    v
  }

  /** Rice-partitioned residual into `out[predOrder, blockSize)`. */
  private def residual(r: BitReader, out: Array[Int], predOrder: Int,
      blockSize: Int): Unit = {
    val method = r.bits(2).toInt
    if (method > 1) bad()
    val paramBits = if (method == 0) 4 else 5
    val escape = (1 << paramBits) - 1
    val partOrder = r.bits(4).toInt
    val parts = 1 << partOrder
    if (blockSize % parts != 0) bad()
    val perPart = blockSize >> partOrder
    if (perPart <= 0 || (partOrder == 0 && perPart <= predOrder) ||
      (partOrder > 0 && perPart < predOrder)) bad()
    var p = 0
    var i = predOrder
    while (p < parts) {
      val count = if (p == 0) perPart - predOrder else perPart
      val param = r.bits(paramBits).toInt
      if (param == escape) {
        val raw = r.bits(5).toInt
        var k = 0
        while (k < count) {
          out(i) = if (raw == 0) 0 else r.signedBits(raw)
          i += 1; k += 1
        }
      } else {
        var k = 0
        while (k < count) {
          val q = r.unary().toLong
          val u = (q << param) | r.bits(param)
          out(i) = ((u >>> 1) ^ -(u & 1L)).toInt
          i += 1; k += 1
        }
      }
      p += 1
    }
  }

  /** One subframe of `blockSize` samples at `bps` bits. */
  private def subframe(r: BitReader, blockSize: Int, bps0: Int): Array[Int] = {
    if (r.bit() != 0) bad() // mandatory zero pad
    val typ = r.bits(6).toInt
    val wasted =
      if (r.bit() == 1) r.unary() + 1
      else 0
    if (wasted >= bps0) bad()
    val bps = bps0 - wasted
    val out = new Array[Int](blockSize)
    if (typ == 0) { // CONSTANT
      val v = r.signedBits(bps)
      java.util.Arrays.fill(out, v)
    } else if (typ == 1) { // VERBATIM
      var i = 0
      while (i < blockSize) { out(i) = r.signedBits(bps); i += 1 }
    } else if ((typ & 0x38) == 0x08 && (typ & 7) <= 4) { // FIXED 001ooo
      val order = typ & 7
      if (order > blockSize) bad()
      var i = 0
      while (i < order) { out(i) = r.signedBits(bps); i += 1 }
      residual(r, out, order, blockSize)
      i = order
      order match {
        case 0 =>
        case 1 => while (i < blockSize) { out(i) += out(i - 1); i += 1 }
        case 2 => while (i < blockSize) {
          out(i) += 2 * out(i - 1) - out(i - 2); i += 1 }
        case 3 => while (i < blockSize) {
          out(i) += 3 * out(i - 1) - 3 * out(i - 2) + out(i - 3); i += 1 }
        case _ => while (i < blockSize) {
          out(i) += 4 * out(i - 1) - 6 * out(i - 2) + 4 * out(i - 3) - out(i - 4)
          i += 1 }
      }
    } else if ((typ & 0x20) != 0) { // LPC 1ooooo
      val order = (typ & 0x1f) + 1
      if (order > blockSize) bad()
      var i = 0
      while (i < order) { out(i) = r.signedBits(bps); i += 1 }
      val precision = r.bits(4).toInt + 1
      if (precision == 16) bad() // 1111 is invalid
      val shift = r.signedBits(5)
      if (shift < 0) bad()
      val coefs = new Array[Int](order)
      var c = 0
      while (c < order) { coefs(c) = r.signedBits(precision); c += 1 }
      residual(r, out, order, blockSize)
      i = order
      while (i < blockSize) {
        var acc = 0L
        c = 0
        while (c < order) { acc += coefs(c).toLong * out(i - 1 - c); c += 1 }
        out(i) += (acc >> shift).toInt
        i += 1
      }
    } else bad() // reserved type
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { out(i) <<= wasted; i += 1 }
    }
    out
  }

  private val BlockSizes = Array(-1, 192, 576, 1152, 2304, 4608, -8, -16,
    256, 512, 1024, 2048, 4096, 8192, 16384, 32768)

  /** Decode an 8-24-bit FLAC stream to interleaved PCM16 samples
   *  (depth-normalized), or null. `maxSamples` bounds total interleaved
   *  output (OOM guard). */
  def decode(b: Array[Byte], maxSamples: Int): DecodedPcm = {
    try decodeOrThrow(b, maxSamples, 0L, -1L)
    catch {
      case _: Malformed => null
      case _: IndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
    }
  }

  /** Offset-aware decode: samples [sampleOff, total) starting at the
   *  frame whose first byte is `byteOff` — the (sample_off, byte_off) a
   *  SEEKTABLE plan row carries ([[FlacSeek]]), so sampling the tail of
   *  a long stream skips the full-prefix decode. The first frame's coded
   *  number must agree with `sampleOff` (variable blocking: directly;
   *  fixed blocking: frame number × the STREAMINFO constant block size) —
   *  a lying seekpoint costs a null, never misplaced audio. */
  def decodeFrom(b: Array[Byte], sampleOff: Long, byteOff: Long,
      maxSamples: Int): DecodedPcm = {
    try decodeOrThrow(b, maxSamples, sampleOff, byteOff)
    catch {
      case _: Malformed => null
      case _: IndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
    }
  }

  final case class DecodedPcm(sampleRate: Int, channels: Int, samples: Array[Int])

  private def decodeOrThrow(b: Array[Byte], maxSamples: Int,
      startSample: Long, startByte: Long): DecodedPcm = {
    val meta = FlacHeaders.parse(b)
    // 8-24-bit streams normalize to the PCM16 contract: high bits kept
    // (s >> (bits-16)) for deeper sources, scaled up (s << (16-bits))
    // for shallower ones. Deeper than 24 bits would push the side
    // channel past Int range — behind the seam like WebP
    if (meta == null || meta.bits < 8 || meta.bits > 24) return null
    if (meta.totalSamples <= 0) return null
    if (meta.channels < 1 || meta.channels > 8) return null
    if (startSample < 0 || startSample >= meta.totalSamples) return null
    val bits = meta.bits
    val wantSamples = meta.totalSamples - startSample
    val totalInterleaved = wantSamples * meta.channels
    if (totalInterleaved > maxSamples) return null
    // skip metadata blocks to the first frame
    var i = 4
    var last = false
    while (!last) {
      if (i + 4 > b.length) return null
      last = (b(i) & 0x80) != 0
      val len = ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
      i += 4 + len
      if (i > b.length) return null
    }
    val seeked = startByte >= 0
    if (seeked && (startByte < i || startByte >= b.length)) return null
    val out = new Array[Int](totalInterleaved.toInt)
    var decoded = 0L // per-channel samples decoded so far (from startSample)
    var firstFrame = true
    val r = new BitReader(b)
    r.bytePos = if (seeked) startByte.toInt else i
    while (decoded < wantSamples) {
      val frameStart = r.bytePos
      if (r.bits(14) != 0x3ffe) bad() // sync
      r.bit() // reserved
      val variableBlocking = r.bit() != 0
      val bsCode = r.bits(4).toInt
      val srCode = r.bits(4).toInt
      val chCode = r.bits(4).toInt
      val ssCode = r.bits(3).toInt
      if (r.bit() != 0) bad() // reserved
      val coded = codedNumber(r)
      val blockSize = bsCode match {
        case 0 => bad()
        case 6 => r.bits(8).toInt + 1
        case 7 => r.bits(16).toInt + 1
        case c => BlockSizes(c)
      }
      srCode match { // only the extra-byte codes consume header bits
        case 12 => r.bits(8)
        case 13 | 14 => r.bits(16)
        case 15 => bad()
        case _ =>
      }
      // sample size: from STREAMINFO (000) or the explicit code matching
      // the stream depth; a mismatched depth is a lying frame
      if (ssCode != 0 && !DepthSsCodes.get(bits).contains(ssCode)) return null
      r.alignToByte()
      val crc8Read = r.bits(8).toInt // the header's trailing CRC-8 byte
      if (FlacCrc.crc8(b, frameStart, r.bytePos - 1) != crc8Read) bad()
      if (blockSize <= 0 || decoded + blockSize > wantSamples) bad()
      if (firstFrame && seeked) {
        // the seekpoint's sample_off must be the frame's own first
        // sample: variable blocking codes it directly; fixed blocking
        // codes the frame NUMBER (× the constant stream block size —
        // verifiable only when STREAMINFO pins min == max)
        if (variableBlocking) {
          if (coded != startSample) bad()
        } else if (meta.minBlock == meta.maxBlock && meta.minBlock > 0 &&
          coded * meta.minBlock != startSample) bad()
      }
      firstFrame = false
      // channels per assignment; side channels carry one extra bit
      val (nCh, sideOf) = chCode match {
        case c if c <= 7 => (c + 1, -1)
        case 8 => (2, 1)  // left/side
        case 9 => (2, 0)  // right/side
        case 10 => (2, 1) // mid/side
        case _ => bad()
      }
      if (nCh != meta.channels) bad()
      val chans = new Array[Array[Int]](nCh)
      var c = 0
      while (c < nCh) {
        chans(c) = subframe(r, blockSize, if (c == sideOf) bits + 1 else bits)
        c += 1
      }
      chCode match {
        case 8 => // left/side: right = left - side
          var k = 0
          while (k < blockSize) { chans(1)(k) = chans(0)(k) - chans(1)(k); k += 1 }
        case 9 => // right/side: left = right + side; streams as (side, right)
          var k = 0
          while (k < blockSize) {
            val right = chans(1)(k)
            chans(0)(k) = right + chans(0)(k)
            k += 1
          }
        case 10 => // mid/side
          var k = 0
          while (k < blockSize) {
            val side = chans(1)(k)
            var mid = chans(0)(k)
            mid = (mid << 1) | (side & 1)
            chans(0)(k) = (mid + side) >> 1
            chans(1)(k) = (mid - side) >> 1
            k += 1
          }
        case _ =>
      }
      r.alignToByte()
      if (r.bytePos + 2 > b.length) bad()
      val wantCrc = ((b(r.bytePos) & 0xff) << 8) | (b(r.bytePos + 1) & 0xff)
      if (FlacCrc.crc16(b, frameStart, r.bytePos) != wantCrc) bad()
      r.bytePos += 2
      // normalize to PCM16, then interleave. The lying-stream clamp runs
      // on the RAW sample against the declared depth BEFORE the shift —
      // a crafted shallow-depth stream could otherwise wrap `raw << k`
      // past Int range and sneak back under the 16-bit check
      val shift = bits - 16
      val railLo = -(1 << (bits - 1))
      val railHi = (1 << (bits - 1)) - 1
      var k = 0
      while (k < blockSize) {
        c = 0
        while (c < nCh) {
          val raw = chans(c)(k)
          if (raw < railLo || raw > railHi) bad()
          val s = if (shift > 0) raw >> shift
                  else if (shift < 0) raw << -shift
                  else raw
          out(((decoded + k) * nCh + c).toInt) = s
          c += 1
        }
        k += 1
      }
      decoded += blockSize
    }
    DecodedPcm(meta.sampleRate, meta.channels, out)
  }

  /** `flac_pcm` eval: decoded stream re-emitted as WAV-PCM16 bytes so the
   *  whole PCM operator battery composes unchanged. */
  def toWav(b: Array[Byte], maxSamples: Int): Array[Byte] = {
    val d = decode(b, maxSamples)
    if (d == null) null
    else AudioCodec.encodeWavPcm16(d.sampleRate, d.channels, d.samples)
  }

  /** `flac_pcm_from` eval: the tail [sampleOff, total) decoded from a
   *  seekpoint, as WAV-PCM16. */
  def toWavFrom(b: Array[Byte], sampleOff: Long, byteOff: Long,
      maxSamples: Int): Array[Byte] = {
    val d = decodeFrom(b, sampleOff, byteOff, maxSamples)
    if (d == null) null
    else AudioCodec.encodeWavPcm16(d.sampleRate, d.channels, d.samples)
  }
}

/** SEEKTABLE planning (metadata block type 3): each seekpoint names the
 *  first sample of a frame and that frame's byte offset — the audio twin
 *  of the MP4 stss / MKV Cues plans. Emitted byte offsets are ABSOLUTE
 *  (first-frame offset added), ready for [[FlacPcm.decodeFrom]]. */
object FlacSeek {

  val elementType: StructType = StructType(Seq(
    StructField("sample_off", LongType, nullable = false),
    StructField("byte_off", LongType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false)))

  /** Seekpoints as (sample_off, ABSOLUTE byte_off, n_samples): placeholder
   *  points skipped, entries required ascending and inside the stream —
   *  a violation ends the plan (corrupt data). Null for non-FLAC bytes or
   *  streams WITHOUT a seektable (an empty table yields an empty array). */
  def seekpoints(b: Array[Byte], maxPoints: Int): Array[(Long, Long, Int)] =
    try seekpointsUnsafe(b, maxPoints)
    catch { case _: IndexOutOfBoundsException => null }

  private def seekpointsUnsafe(b: Array[Byte], maxPoints: Int): Array[(Long, Long, Int)] = {
    if (b == null || b.length < 8) return null
    if (b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C') return null
    var i = 4
    var last = false
    var table = -1L
    var tableLen = 0L
    while (!last) {
      if (i + 4 > b.length) return null
      last = (b(i) & 0x80) != 0
      val typ = b(i) & 0x7f
      val len = ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
      if (typ == 3 && table < 0) { table = i + 4; tableLen = len }
      i += 4 + len
      if (i > b.length) return null
    }
    if (table < 0) return null // no seektable: planning has nothing to say
    val firstFrame = i.toLong
    val n = math.min(tableLen / 18, maxPoints.toLong).toInt
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Int)](n)
    var e = 0
    var prev = -1L
    var ok = true
    while (ok && e < n) {
      val p = (table + 18L * e).toInt
      val sample = Bytes.beU64(b, p)
      if (sample == -1L) e += 1 // placeholder point: skip
      else {
        val off = Bytes.beU64(b, p + 8)
        val ns = ((b(p + 16) & 0xff) << 8) | (b(p + 17) & 0xff)
        val abs = firstFrame + off
        // lying tables end the plan: offsets must land inside the stream,
        // sample numbers must ascend
        if (sample <= prev || off < 0 || abs < firstFrame || abs >= b.length) ok = false
        else {
          out += ((sample, abs, ns))
          prev = sample
          e += 1
        }
      }
    }
    out.toArray
  }

  /** Shared eval for interpreted and generated code paths. */
  def seekpointsArray(b: Array[Byte], maxPoints: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val pts = seekpoints(b, maxPoints)
    if (pts == null) return null
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      pts.map[Any](p =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](p._1, p._2, p._3))))
  }
}

/** `flac_seekpoints(blob, maxPoints)` →
 *  array<struct<sample_off, byte_off, n_samples>> from the SEEKTABLE
 *  metadata block (absolute byte offsets); null for non-FLAC bytes or
 *  streams without a seektable. */
case class FlacSeekpointsExpr(child: Expression, maxPoints: Int)
    extends BlobDecoder with UnaryLike[Expression] {

  require(maxPoints > 0 && maxPoints <= 1000000, "need 0 < maxPoints <= 1e6")

  override def dataType: DataType = ArrayType(FlacSeek.elementType, containsNull = false)
  override def decode(in: Array[Any]): Any = FlacSeek.seekpointsArray(blob(in), maxPoints)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "flac_seekpoints"
}

object FlacSeekpointsExpr {
  def apply(col: Column, maxPoints: Int): Column =
    GraftShims.column(new FlacSeekpointsExpr(GraftShims.expression(col), maxPoints))
}

/** `flac_pcm_from(blob, sample_off, byte_off, maxSamples)` → WAV-PCM16 of
 *  the samples [sample_off, total) decoded from the frame at byte_off —
 *  the decode leg of the seektable plan ([[FlacSeek]]). The frame's own
 *  coded number must agree with sample_off (lying seekpoints are null,
 *  never misplaced audio). */
case class FlacPcmFromExpr(child: Expression, sampleOff: Expression,
    byteOff: Expression, maxSamples: Int)
    extends BlobDecoder with TernaryLike[Expression] {

  require(maxSamples > 0, "maxSamples must be positive")

  override def first: Expression = child
  override def second: Expression = sampleOff
  override def third: Expression = byteOff
  override protected def inputTypes: Seq[DataType] = Seq(BinaryType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def decode(in: Array[Any]): Any = FlacPcm.toWavFrom(blob(in),
    in(1).asInstanceOf[Long], in(2).asInstanceOf[Long], maxSamples)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(child = newFirst, sampleOff = newSecond, byteOff = newThird)
  override def prettyName: String = "flac_pcm_from"
}

object FlacPcmFromExpr {
  def apply(col: Column, sampleOff: Column, byteOff: Column,
      maxSamples: Int = 1 << 25): Column =
    GraftShims.column(new FlacPcmFromExpr(GraftShims.expression(col),
      GraftShims.expression(sampleOff), GraftShims.expression(byteOff),
      maxSamples))
}

/** `flac_pcm(blob, maxSamples)` → WAV-PCM16 bytes of a decoded 8-24-bit
 *  FLAC stream (all depths normalize to PCM16); null for
 *  non-FLAC/undecodable bytes or streams past `maxSamples` interleaved
 *  samples. Compose with `audio_stats`, `audio_ahash`,
 *  `audio_segments`, ... exactly like `gunzip` feeds `tar_entries`. */
case class FlacPcmExpr(child: Expression, maxSamples: Int)
    extends BlobDecoder with UnaryLike[Expression] {

  require(maxSamples > 0, "maxSamples must be positive")

  override def dataType: DataType = BinaryType
  override def decode(in: Array[Any]): Any = FlacPcm.toWav(blob(in), maxSamples)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "flac_pcm"
}

object FlacPcmExpr {
  def apply(col: Column, maxSamples: Int = 1 << 25): Column =
    GraftShims.column(new FlacPcmExpr(GraftShims.expression(col), maxSamples))
}

/**
 * Fixture side: a real (if size-naive) FLAC encoder — planted PCM goes
 * through actual Rice coding, fixed/LPC prediction and stereo
 * decorrelation, and must come back bit-for-bit through [[FlacPcm]];
 * the WAV twin carries the oracle (q243).
 */
object FlacCodec {

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nbits = 0
    def bit(v: Int): Unit = {
      cur = (cur << 1) | (v & 1)
      nbits += 1
      if (nbits == 8) { out.write(cur); cur = 0; nbits = 0 }
    }
    def bits(v: Long, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) { bit(((v >>> k) & 1L).toInt); k -= 1 }
    }
    def alignZero(): Unit = while (nbits != 0) bit(0)
    def toArray: Array[Byte] = { require(nbits == 0); out.toByteArray }
  }

  private def utf8Coded(v: Long): Array[Byte] = {
    if (v < 0x80) return Array(v.toByte)
    var n = 1
    while (v >= (1L << (6 - n + n * 6)) && n < 6) n += 1 // bits: 6-n lead + 6n cont
    val out = new Array[Byte](n + 1)
    var k = n
    var x = v
    while (k >= 1) { out(k) = (0x80 | (x & 0x3f)).toByte; x >>= 6; k -= 1 }
    val leadMask = (0xff << (7 - n)) & 0xff
    out(0) = (leadMask | x.toInt).toByte
    out
  }

  /** Zigzag Rice with a fixed parameter; partition order 0. */
  private def writeRice(w: BitWriter, residuals: Seq[Int], param: Int): Unit = {
    w.bits(0, 2) // method 00: 4-bit params
    w.bits(0, 4) // partition order 0
    w.bits(param.toLong, 4)
    for (v <- residuals) {
      val u = ((v.toLong << 1) ^ (v.toLong >> 63)) & 0xffffffffL
      val q = (u >>> param).toInt
      var k = 0
      while (k < q) { w.bit(0); k += 1 }
      w.bit(1)
      w.bits(u & ((1L << param) - 1), param)
    }
  }

  private def riceParamFor(residuals: Seq[Int]): Int = {
    val mean = if (residuals.isEmpty) 0L
      else residuals.map(v => math.abs(v.toLong)).sum / math.max(1, residuals.length)
    var p = 0
    while ((1L << p) < mean + 1 && p < 14) p += 1
    p
  }

  /** One subframe: constant when flat, else verbatim / fixed order k /
   *  LPC order 1 per `mode`. `bps` is 16 (17 for side channels). */
  private def writeSubframe(w: BitWriter, samples: Array[Int], bps: Int,
      mode: String): Unit = {
    w.bit(0)
    if (samples.nonEmpty && samples.forall(_ == samples.head)) {
      w.bits(0, 6) // CONSTANT
      w.bit(0) // no wasted bits
      w.bits(samples.head.toLong & ((1L << bps) - 1), bps)
      return
    }
    mode match {
      case "verbatim" =>
        w.bits(1, 6)
        w.bit(0)
        for (s <- samples) w.bits(s.toLong & ((1L << bps) - 1), bps)
      case "lpc1" =>
        // order-1 LPC with coef 1, shift 0 — numerically the fixed-1
        // predictor, but exercises the LPC header/coef/shift path
        w.bits(0x20, 6)
        w.bit(0)
        w.bits(samples(0).toLong & ((1L << bps) - 1), bps)
        w.bits(14, 4) // precision 15 (code 14)
        w.bits(0, 5) // shift 0
        w.bits(1L, 15) // coef = 1
        val res = (1 until samples.length).map(i => samples(i) - samples(i - 1))
        writeRice(w, res, riceParamFor(res))
      case fixed if fixed.startsWith("fixed") =>
        // a short last frame may not cover the requested order's warmup
        val order = math.min(fixed.stripPrefix("fixed").toInt,
          math.max(0, samples.length - 1))
        require(order >= 0 && order <= 4 && samples.length > order)
        w.bits(0x08 | order, 6)
        w.bit(0)
        for (i <- 0 until order)
          w.bits(samples(i).toLong & ((1L << bps) - 1), bps)
        val res = (order until samples.length).map { i =>
          order match {
            case 0 => samples(i)
            case 1 => samples(i) - samples(i - 1)
            case 2 => samples(i) - 2 * samples(i - 1) + samples(i - 2)
            case 3 => samples(i) - 3 * samples(i - 1) + 3 * samples(i - 2) - samples(i - 3)
            case _ => samples(i) - 4 * samples(i - 1) + 6 * samples(i - 2) -
              4 * samples(i - 3) + samples(i - 4)
          }
        }
        writeRice(w, res, riceParamFor(res))
    }
  }

  /**
   * Encode interleaved PCM16 as FLAC. `mode` picks the subframe coding
   * ("fixed0".."fixed4", "verbatim", "lpc1"); `stereo` picks the channel
   * assignment for 2-channel input ("independent", "leftside",
   * "rightside", "midside").
   */
  def encodePcm16(sampleRate: Int, channels: Int, samples: Array[Int],
      blockSize: Int = 4096, mode: String = "fixed2",
      stereo: String = "independent", bits: Int = 16,
      seekEvery: Int = 0): Array[Byte] = {
    require(channels >= 1 && channels <= 8 && samples.length % channels == 0)
    require(FlacPcm.DepthSsCodes.contains(bits), s"unsupported depth $bits")
    // out-of-depth samples would be silently masked into a valid-CRC
    // stream that decodes to DIFFERENT values — refuse at the source
    require(samples.forall(v =>
      v >= -(1 << (bits - 1)) && v <= (1 << (bits - 1)) - 1),
      s"samples exceed the declared $bits-bit depth")
    val nFrames = samples.length / channels
    require(nFrames > 0)
    val header = CodedAudioCodec.encodeFlac(sampleRate, channels, bits, nFrames,
      blockSize = blockSize)
    val out = new java.io.ByteArrayOutputStream()
    out.write(header)
    // SEEKTABLE fixture: one point per `seekEvery` frames, byte offsets
    // relative to the first frame (the spec's reference point). Offsets
    // are known before frames are written because each frame's size is a
    // pure function of its samples — write frames to a side buffer first
    val frameBuf = new java.io.ByteArrayOutputStream()
    val seekPts = new scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
    var off = 0
    var frameIdx = 0L
    while (off < nFrames) {
      val n = math.min(blockSize, nFrames - off)
      val hw = new BitWriter
      hw.bits(0x3ffe, 14) // sync
      hw.bit(0) // reserved
      hw.bit(0) // fixed blocking strategy
      hw.bits(7, 4) // block size: 16-bit value follows
      hw.bits(0, 4) // sample rate: from STREAMINFO
      val chCode = if (channels == 2) stereo match {
        case "independent" => 1
        case "leftside" => 8
        case "rightside" => 9
        case "midside" => 10
      } else channels - 1
      hw.bits(chCode.toLong, 4)
      hw.bits(FlacPcm.DepthSsCodes(bits).toLong, 3) // sample size
      hw.bit(0) // reserved
      for (byte <- utf8Coded(frameIdx)) hw.bits(byte.toLong & 0xff, 8)
      hw.bits((n - 1).toLong, 16)
      val headBytes = hw.toArray
      val body = new BitWriter
      // per-channel planes for this frame
      val planes = Array.tabulate(channels) { c =>
        Array.tabulate(n)(k => samples((off + k) * channels + c))
      }
      if (channels == 2 && chCode >= 8) {
        val l = planes(0); val rr = planes(1)
        val side = Array.tabulate(n)(k => l(k) - rr(k))
        chCode match {
          case 8 => // left, side
            writeSubframe(body, l, bits, mode)
            writeSubframe(body, side, bits + 1, mode)
          case 9 => // side, right
            writeSubframe(body, side, bits + 1, mode)
            writeSubframe(body, rr, bits, mode)
          case _ => // mid, side: mid = (l+r)>>1
            val mid = Array.tabulate(n)(k => (l(k) + rr(k)) >> 1)
            writeSubframe(body, mid, bits, mode)
            writeSubframe(body, side, bits + 1, mode)
        }
      } else {
        for (c <- 0 until channels) writeSubframe(body, planes(c), bits, mode)
      }
      body.alignZero()
      val bodyBytes = body.toArray
      val frame = new Array[Byte](headBytes.length + 1 + bodyBytes.length + 2)
      System.arraycopy(headBytes, 0, frame, 0, headBytes.length)
      frame(headBytes.length) = FlacCrc.crc8(frame, 0, headBytes.length).toByte
      System.arraycopy(bodyBytes, 0, frame, headBytes.length + 1, bodyBytes.length)
      val c16 = FlacCrc.crc16(frame, 0, headBytes.length + 1 + bodyBytes.length)
      frame(frame.length - 2) = (c16 >> 8).toByte
      frame(frame.length - 1) = c16.toByte
      if (seekEvery > 0 && frameIdx % seekEvery == 0)
        seekPts += ((off.toLong, frameBuf.size().toLong, n))
      frameBuf.write(frame)
      off += n
      frameIdx += 1
    }
    if (seekEvery > 0) {
      // splice the SEEKTABLE between STREAMINFO and the frames: clear
      // STREAMINFO's last-block bit, append block type 3 marked last
      val h = out.toByteArray
      h(4) = (h(4) & 0x7f).toByte
      out.reset()
      out.write(h)
      val len = seekPts.length * 18
      out.write(Array[Byte]((0x80 | 3).toByte,
        ((len >> 16) & 0xff).toByte, ((len >> 8) & 0xff).toByte, (len & 0xff).toByte))
      for ((sample, boff, n) <- seekPts) {
        for (k <- 7 to 0 by -1) out.write(((sample >> (8 * k)) & 0xff).toInt)
        for (k <- 7 to 0 by -1) out.write(((boff >> (8 * k)) & 0xff).toInt)
        out.write((n >> 8) & 0xff); out.write(n & 0xff)
      }
    }
    frameBuf.writeTo(out)
    out.toByteArray
  }
}
