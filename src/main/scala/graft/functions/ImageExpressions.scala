package graft.functions

import graft.functions.Bytes.{beI32, beU16, leI32, leU16}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Headers-only image metadata: real, dependency-free parsing of the PUBLIC
 * container formats' leading bytes — PNG (IHDR), GIF (logical screen
 * descriptor), JPEG (SOFn marker scan), BMP (BITMAPINFOHEADER) — yielding
 * width/height/channels/format without any codec library. This is the
 * "metadata decode" half of the multimodal surface; pixel-level decode
 * (luma, features) stays behind [[graft.operators.Multimodal.ImageDecoder]].
 *
 * All formats are parsed from the first ~KB; the scan is O(markers) for
 * JPEG and O(1) for the rest. Returns null (not an error) for anything
 * unrecognized or truncated — corrupt blobs are data, not exceptions.
 */
object ImageHeaders {

  final case class Dims(width: Int, height: Int, channels: Int, format: String)

  def parse(b: Array[Byte]): Dims = {
    if (b == null || b.length < 10) return null
    // PNG: 8-byte signature, IHDR length+type at 8..15, width/height BE at
    // 16/20, bit depth 24, color type 25 (0 gray,2 rgb,3 palette,4 ga,6 rgba)
    if (b.length >= 26 &&
        (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') {
      val ch = (b(25) & 0xff) match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4; case _ => -1
      }
      if (ch < 0) return null
      return Dims(beI32(b, 16), beI32(b, 20), ch, "png")
    }
    // GIF87a/GIF89a: width/height LE u16 at 6/8; palette-indexed = 1 channel
    if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
      return Dims(leU16(b, 6), leU16(b, 8), 1, "gif")
    }
    // BMP: "BM", BITMAPINFOHEADER width/height LE i32 at 18/22 (height may
    // be negative for top-down rows), bpp at 28
    if (b.length >= 30 && b(0) == 'B' && b(1) == 'M') {
      val bpp = leU16(b, 28)
      val ch = if (bpp <= 8) 1 else bpp / 8
      return Dims(leI32(b, 18), math.abs(leI32(b, 22)), ch, "bmp")
    }
    // WEBP: RIFF container with form "WEBP"; the first chunk's fourCC
    // selects the codec header — VP8 (lossy frame tag), VP8L (lossless
    // 14-bit packed dims + alpha bit), VP8X (extended: 24-bit canvas)
    if (b.length >= 16 &&
        b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P') {
      if (b(12) == 'V' && b(13) == 'P' && b(14) == '8' && b(15) == ' ') {
        // lossy: 3-byte frame tag at 20, sync code 9D 01 2A, LE 14-bit dims
        if (b.length < 30 ||
            (b(23) & 0xff) != 0x9d || (b(24) & 0xff) != 0x01 ||
            (b(25) & 0xff) != 0x2a) return null
        return Dims(leU16(b, 26) & 0x3fff, leU16(b, 28) & 0x3fff, 3, "webp")
      }
      if (b(12) == 'V' && b(13) == 'P' && b(14) == '8' && b(15) == 'L') {
        // lossless: 0x2F signature, then LE32 = (w-1) | (h-1)<<14 |
        // alpha<<28 | version<<29 (version must be 0)
        if (b.length < 25 || (b(20) & 0xff) != 0x2f) return null
        val bits = leI32(b, 21)
        if (((bits >>> 29) & 0x7) != 0) return null
        val ch = if (((bits >>> 28) & 1) == 1) 4 else 3
        return Dims((bits & 0x3fff) + 1, ((bits >>> 14) & 0x3fff) + 1, ch, "webp")
      }
      if (b(12) == 'V' && b(13) == 'P' && b(14) == '8' && b(15) == 'X') {
        // extended: flags byte at 20 (bit 4 = alpha), 24-bit LE canvas
        // width-1 / height-1 at 24 / 27
        if (b.length < 30) return null
        val w = ((b(24) & 0xff) | ((b(25) & 0xff) << 8) | ((b(26) & 0xff) << 16)) + 1
        val h = ((b(27) & 0xff) | ((b(28) & 0xff) << 8) | ((b(29) & 0xff) << 16)) + 1
        val ch = if ((b(20) & 0x10) != 0) 4 else 3
        return Dims(w, h, ch, "webp")
      }
      return null
    }
    // JPEG: SOI then marker segments; any SOFn (C0-CF minus C4/C8/CC)
    // carries precision(1) height(2) width(2) components(1)
    if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xff) != 0xff) return null
        var m = b(i + 1) & 0xff
        // fill bytes: consecutive FFs before a marker are legal padding
        while (m == 0xff && i + 2 < b.length) { i += 1; m = b(i + 1) & 0xff }
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          if (i + 9 >= b.length) return null
          return Dims(beU16(b, i + 7), beU16(b, i + 5), b(i + 9) & 0xff, "jpeg")
        }
        if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) { i += 2 } // standalone markers
        else {
          if (i + 3 >= b.length) return null
          val segLen = beU16(b, i + 2)
          if (segLen < 2) return null
          i += 2 + segLen
        }
      }
      return null
    }
    null
  }

  val sparkType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** Shared eval for interpreted and generated code paths. */
  def parseRow(bytes: Array[Byte]): InternalRow = {
    val d = parse(bytes)
    if (d == null) null
    else new GenericInternalRow(
      Array[Any](d.width, d.height, d.channels, UTF8String.fromString(d.format)))
  }
}

/** `image_dims(blob)` → struct(width, height, channels, format), null for
 *  unrecognized bytes. */
case class ImageDims(child: Expression) extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType = ImageHeaders.sparkType
  override def decode(in: Array[Any]): Any = ImageHeaders.parseRow(blob(in))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "image_dims"
}

object ImageDims {
  def apply(col: Column): Column = GraftShims.column(new ImageDims(GraftShims.expression(col)))
}
