package graft.functions

import graft.functions.Bytes.{leU16, leU32}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * NumPy `.npy` header metadata — embedding/logit shards in training-data
 * lakes ship as npy/npz far more often than as parquet, and a pipeline
 * wants dtype/shape validation BEFORE shipping blobs to a Python UDF:
 * `\\x93NUMPY` magic, version, u16 (v1) / u32 (v2+) little-endian header
 * length, then an ASCII Python dict literal
 * `{'descr': '<f4', 'fortran_order': False, 'shape': (3, 4), }`.
 * The dict is parsed with a purpose-built scanner (quoted value for
 * descr, True/False, int tuple for shape — the exact grammar np.save
 * emits), never an eval. n_elems is the shape product; expected payload
 * bytes = n_elems × dtype width when the descr width is numeric.
 * Corrupt bytes decode to null, never exceptions.
 */
object NpyHeaders {

  final case class NpyMeta(
      descr: String, fortran: Boolean, shape: Array[Long], nElems: Long,
      headerLen: Int)

  private val MaxDims = 32

  def parse(b: Array[Byte]): NpyMeta = {
    if (b == null || b.length < 10) return null
    if ((b(0) & 0xff) != 0x93 || b(1) != 'N' || b(2) != 'U' || b(3) != 'M' ||
      b(4) != 'P' || b(5) != 'Y') return null
    val major = b(6) & 0xff
    val (hlen, hoff) =
      if (major <= 1) (leU16(b, 8).toLong, 10)
      else {
        if (b.length < 12) return null
        (leU32(b, 8), 12)
      }
    if (hlen <= 0 || hlen > (1 << 20) || hoff + hlen > b.length) return null
    val h = new String(b, hoff, hlen.toInt,
      java.nio.charset.StandardCharsets.US_ASCII)
    // 'descr': quoted value
    val dk = h.indexOf("'descr'")
    if (dk < 0) return null
    val q1 = h.indexOf('\'', h.indexOf(':', dk) + 1)
    if (q1 < 0) return null
    val q2 = h.indexOf('\'', q1 + 1)
    if (q2 < 0) return null
    val descr = h.substring(q1 + 1, q2)
    if (descr.isEmpty || descr.length > 16) return null
    // 'fortran_order': True/False
    val fk = h.indexOf("'fortran_order'")
    if (fk < 0) return null
    val rest = h.substring(h.indexOf(':', fk) + 1)
    val fortran = rest.trim.startsWith("True")
    if (!fortran && !rest.trim.startsWith("False")) return null
    // 'shape': int tuple
    val sk = h.indexOf("'shape'")
    if (sk < 0) return null
    val p1 = h.indexOf('(', sk)
    val p2 = h.indexOf(')', p1 + 1)
    if (p1 < 0 || p2 < 0) return null
    val dims = h.substring(p1 + 1, p2).split(',').map(_.trim).filter(_.nonEmpty)
    if (dims.length > MaxDims) return null
    val shape = new Array[Long](dims.length)
    var i = 0
    var n = 1L
    while (i < dims.length) {
      val d =
        try java.lang.Long.parseLong(dims(i))
        catch { case _: NumberFormatException => return null }
      if (d < 0 || (d > 0 && n > Long.MaxValue / d)) return null
      shape(i) = d
      n *= d
      i += 1
    }
    NpyMeta(descr, fortran, shape, n, hoff + hlen.toInt)
  }

  val sparkType: StructType = StructType(Seq(
    StructField("dtype", StringType, nullable = false),
    StructField("fortran_order", BooleanType, nullable = false),
    StructField("shape", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("n_elems", LongType, nullable = false),
    StructField("data_bytes", LongType, nullable = false)))

  /** Shared eval for interpreted and generated code paths. */
  def parseRow(bytes: Array[Byte]): InternalRow = {
    val m =
      try parse(bytes)
      catch { case _: IndexOutOfBoundsException => null }
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(m.descr), m.fortran,
      new GenericArrayData(m.shape.map[Any](identity)), m.nElems,
      bytes.length.toLong - m.headerLen))
  }
}

/** `npy_meta(blob)` → struct(dtype, fortran_order, shape, n_elems,
 *  data_bytes); null for non-npy bytes. `data_bytes` is the actual
 *  payload size — compare against n_elems x dtype width to validate
 *  shards before decode. */
case class NpyMetaExpr(child: Expression) extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType = NpyHeaders.sparkType
  override def decode(in: Array[Any]): Any = NpyHeaders.parseRow(blob(in))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "npy_meta"
}

object NpyMetaExpr {
  def apply(col: Column): Column =
    GraftShims.column(new NpyMetaExpr(GraftShims.expression(col)))
}

/** Fixture side: render v1/v2 npy headers exactly as np.save lays them
 *  out (16-byte alignment, trailing newline). */
object NpyCodec {

  def encode(descr: String, fortran: Boolean, shape: Seq[Long],
      dataBytes: Int, v2: Boolean = false): Array[Byte] = {
    val shapeStr = shape.length match {
      case 0 => "()"
      case 1 => s"(${shape.head},)"
      case _ => shape.mkString("(", ", ", ")")
    }
    val dict = s"{'descr': '$descr', 'fortran_order': " +
      s"${if (fortran) "True" else "False"}, 'shape': $shapeStr, }"
    val base = if (v2) 12 else 10
    val pad = (16 - (base + dict.length + 1) % 16) % 16
    val header = dict + (" " * pad) + "\n"
    val hlen = header.length
    val out = new Array[Byte](base + hlen + dataBytes)
    out(0) = 0x93.toByte; out(1) = 'N'; out(2) = 'U'; out(3) = 'M'
    out(4) = 'P'; out(5) = 'Y'
    out(6) = if (v2) 2 else 1
    out(7) = 0
    out(8) = (hlen & 0xff).toByte
    out(9) = ((hlen >> 8) & 0xff).toByte
    if (v2) { out(10) = 0; out(11) = 0 }
    System.arraycopy(header.getBytes("US-ASCII"), 0, out, base, hlen)
    out
  }
}
