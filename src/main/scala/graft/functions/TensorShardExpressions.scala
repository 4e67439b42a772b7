package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Safetensors header metadata — the HF-native tensor-shard format: a
 * u64 little-endian header length, then a JSON object mapping tensor
 * names to {"dtype": "...", "shape": [..], "data_offsets": [b, e]}
 * (plus an optional "__metadata__" string map, skipped here). The JSON
 * is read by a purpose-built scanner for exactly that grammar — objects
 * of objects, string scalars, integer arrays — never a general parser
 * or eval. One walk, bounds-checked; anything outside the grammar is
 * null. The per-tensor byte ranges let a shard be validated (offsets
 * contiguous? sizes match dtype x shape?) without touching the payload.
 */
object SafetensorsHeaders {

  final case class TensorMeta(
      name: String, dtype: String, shape: Array[Long], begin: Long, end: Long)

  private val MaxHeader = 1 << 24
  private val MaxTensors = 1 << 16

  private final class P(val s: String) {
    var i = 0
    def ws(): Unit = { while (i < s.length && s.charAt(i).isWhitespace) i += 1 }
    def eat(c: Char): Boolean = {
      ws()
      if (i < s.length && s.charAt(i) == c) { i += 1; true } else false
    }
    def peek(): Char = { ws(); if (i < s.length) s.charAt(i) else ' ' }
    def str(): String = {
      ws()
      if (i >= s.length || s.charAt(i) != '"') return null
      i += 1
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          if (i + 1 >= s.length) return null
          val e = s.charAt(i + 1)
          if (e == 'u') {
            // ensure_ascii serializers (python json.dumps default) encode
            // every non-ASCII char this way — decode the 4 hex digits
            // (surrogate pairs compose naturally as chars)
            if (i + 6 > s.length) return null
            var v = 0
            var k = i + 2
            while (k < i + 6) {
              val h = Character.digit(s.charAt(k), 16)
              if (h < 0) return null
              v = (v << 4) | h
              k += 1
            }
            sb.append(v.toChar)
            i += 6
          } else {
            sb.append(e match {
              case 'n' => '\n'
              case 't' => '\t'
              case 'r' => '\r'
              case other => other
            })
            i += 2
          }
        } else { sb.append(c); i += 1 }
      }
      if (i >= s.length) return null
      i += 1
      sb.result()
    }
    def long(): java.lang.Long = {
      ws()
      var v = 0L
      var seen = false
      while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
        if (v > (Long.MaxValue - 9) / 10) return null
        v = v * 10 + (s.charAt(i) - '0')
        seen = true
        i += 1
      }
      if (seen) java.lang.Long.valueOf(v) else null
    }
    def longArray(): Array[Long] = {
      if (!eat('[')) return null
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      if (peek() == ']') { i += 1; return out.toArray }
      var ok = true
      while (ok) {
        val v = long()
        if (v == null) return null
        out += v.longValue()
        if (eat(']')) ok = false
        else if (!eat(',')) return null
        if (out.length > 64) return null
      }
      out.toArray
    }
  }

  def parse(b: Array[Byte]): Array[TensorMeta] = {
    if (b == null || b.length < 10) return null
    var hlen = 0L
    var k = 0
    while (k < 8) { hlen |= (b(k) & 0xffL) << (8 * k); k += 1 }
    if (hlen <= 0 || hlen > MaxHeader || 8 + hlen > b.length) return null
    val p = new P(new String(b, 8, hlen.toInt,
      java.nio.charset.StandardCharsets.UTF_8))
    if (!p.eat('{')) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[TensorMeta]
    if (p.peek() == '}') {
      p.i += 1
      p.ws()
      return if (p.i == p.s.length) out.toArray else null
    }
    var more = true
    while (more && out.length < MaxTensors) {
      val name = p.str()
      if (name == null || !p.eat(':')) return null
      if (name == "__metadata__") {
        // string map: skip keys/values pairwise
        if (!p.eat('{')) return null
        if (p.peek() != '}') {
          var inner = true
          while (inner) {
            if (p.str() == null || !p.eat(':') || p.str() == null) return null
            if (p.eat('}')) inner = false
            else if (!p.eat(',')) return null
          }
        } else p.i += 1
      } else {
        if (!p.eat('{')) return null
        var dtype: String = null
        var shape: Array[Long] = null
        var offs: Array[Long] = null
        var inner = true
        while (inner) {
          val key = p.str()
          if (key == null || !p.eat(':')) return null
          key match {
            case "dtype" =>
              dtype = p.str()
              if (dtype == null) return null
            case "shape" =>
              shape = p.longArray()
              if (shape == null) return null
            case "data_offsets" =>
              offs = p.longArray()
              if (offs == null || offs.length != 2) return null
            case _ => return null // outside the emitted grammar
          }
          if (p.eat('}')) inner = false
          else if (!p.eat(',')) return null
        }
        if (dtype == null || shape == null || offs == null) return null
        if (offs(0) < 0 || offs(1) < offs(0)) return null
        out += TensorMeta(name, dtype, shape, offs(0), offs(1))
      }
      if (p.eat('}')) more = false
      else if (!p.eat(',')) return null
    }
    if (more) return null // tensor-count cap hit: refuse, don't truncate
    // the declared header length may be padded, but only with whitespace —
    // trailing garbage after the closing brace is a corrupt/spliced header
    p.ws()
    if (p.i != p.s.length) return null
    out.toArray
  }

  val elementType: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("dtype", StringType, nullable = false),
    StructField("shape", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("n_elems", LongType, nullable = false),
    StructField("data_bytes", LongType, nullable = false)))

  /** Shared eval for interpreted and generated code paths. */
  def tensorsArray(b: Array[Byte]): GenericArrayData = {
    val ts =
      try parse(b)
      catch { case _: IndexOutOfBoundsException => null }
    if (ts == null) return null
    new GenericArrayData(ts.map[Any] { t =>
      var n = 1L
      var bad = false
      t.shape.foreach { d =>
        if (d < 0 || (d > 0 && n > Long.MaxValue / d)) bad = true else n *= d
      }
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(t.name), UTF8String.fromString(t.dtype),
        new GenericArrayData(t.shape.map[Any](identity)),
        if (bad) -1L else n, t.end - t.begin))
    })
  }
}

/** `safetensors_tensors(blob)` →
 *  array<struct<name, dtype, shape, n_elems, data_bytes>>; null for
 *  non-safetensors bytes. */
case class SafetensorsExpr(child: Expression)
    extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType =
    ArrayType(SafetensorsHeaders.elementType, containsNull = false)
  override def decode(in: Array[Any]): Any = SafetensorsHeaders.tensorsArray(blob(in))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "safetensors_tensors"
}

object SafetensorsExpr {
  def apply(col: Column): Column =
    GraftShims.column(new SafetensorsExpr(GraftShims.expression(col)))
}

/**
 * TFRecord framing — TensorFlow's training-shard format: records of
 * u64-LE payload length + u32 masked-CRC32C(length) + payload +
 * u32 masked-CRC32C(payload). The walk yields (offset, size) per record
 * so shards can be counted, sampled and sliced without interpreting the
 * protobuf payloads. The LENGTH field's CRC is validated per record
 * (cheap — 8 bytes — and catches desync/corruption immediately);
 * payload CRCs are not recomputed, which would read every byte and
 * defeat the inventory-without-decode point — a downstream reader
 * validates on consumption.
 */
object TfRecordHeaders {

  val elementType: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("size", LongType, nullable = false)))

  private val MaxRecords = 1 << 22

  /** CRC32C (Castagnoli) with TFRecord's mask:
   *  ((crc >> 15) | (crc << 17)) + 0xa282ead8. */
  private[functions] def maskedCrc32c(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C
    c.update(b, off, len)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  def entries(b: Array[Byte]): Array[(Long, Long)] = {
    if (b == null || b.length < 16) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 0L
    while (i + 16 <= b.length && out.length < MaxRecords) {
      val p = i.toInt
      var len = 0L
      var k = 0
      while (k < 8) { len |= (b(p + k) & 0xffL) << (8 * k); k += 1 }
      var lenCrc = 0
      k = 0
      while (k < 4) { lenCrc |= (b(p + 8 + k) & 0xff) << (8 * k); k += 1 }
      if (maskedCrc32c(b, p, 8) != lenCrc)
        return if (out.isEmpty) null else out.toArray // not a record boundary
      // a VALID length CRC whose payload doesn't fit is a provably
      // truncated shard (cut mid-payload/mid-trailer) — refuse like the
      // mid-header cut below, don't return a listing indistinguishable
      // from a cleanly framed shorter one; a negative u64 length is a
      // lying header, same refusal
      if (len < 0 || len > b.length - i - 16) return null
      out += ((i + 12, len))
      i += 12 + len + 4
    }
    // hitting the record cap means the inventory is INCOMPLETE: refuse
    // (consistent with every other lying/oversized-header case) rather
    // than return a truncated listing indistinguishable from a full one
    if (i + 16 <= b.length && out.length >= MaxRecords) return null
    // trailing bytes too short to even hold a record header: a shard
    // truncated MID-HEADER must not be indistinguishable from a cleanly
    // framed one — refuse. (Trailing garbage >= 16 bytes fails its
    // length-CRC above and ends the listing there — the record-boundary
    // detection the walk is built on.)
    if (i < b.length && b.length - i < 16) return null
    if (out.isEmpty) null else out.toArray
  }

  /** Shared eval for interpreted and generated code paths. */
  def entriesArray(b: Array[Byte]): GenericArrayData = {
    val es =
      try entries(b)
      catch { case _: IndexOutOfBoundsException => null }
    if (es == null) return null
    new GenericArrayData(es.map[Any] { case (off, len) =>
      new GenericInternalRow(Array[Any](off, len))
    })
  }

  /** Payload of record `idx` — the step from inventory to ingestion. The
   *  ONE record extracted has its payload masked-CRC32C verified (the
   *  u32 after the payload), so corruption surfaces exactly where bytes
   *  are first consumed; the inventory walk stays CRC-free by design.
   *  Null when the index is out of range or the payload CRC lies.
   *  EARLY-EXIT header chain: the walk stops at record `idx` — slicing
   *  all N records of a shard costs O(N) header hops per record, never a
   *  full re-inventory per call. */
  def member(b: Array[Byte], idx: Int): Array[Byte] = {
    if (b == null || idx < 0 || b.length < 16) return null
    var i = 0L
    var k = 0
    while (i + 16 <= b.length && k <= idx && k < MaxRecords) {
      val p = i.toInt
      var len = 0L
      var j = 0
      while (j < 8) { len |= (b(p + j) & 0xffL) << (8 * j); j += 1 }
      var lenCrc = 0
      j = 0
      while (j < 4) { lenCrc |= (b(p + 8 + j) & 0xff) << (8 * j); j += 1 }
      if (maskedCrc32c(b, p, 8) != lenCrc) return null // not a boundary
      if (len < 0 || len > b.length - i - 16) return null // truncated/lying
      if (k == idx) {
        if (len > Int.MaxValue - 16) return null
        val d = p + 12
        val n = len.toInt
        var crc = 0
        j = 0
        while (j < 4) { crc |= (b(d + n + j) & 0xff) << (8 * j); j += 1 }
        if (maskedCrc32c(b, d, n) != crc) return null
        return java.util.Arrays.copyOfRange(b, d, d + n)
      }
      i += 12 + len + 4
      k += 1
    }
    null
  }

  def memberOrNull(b: Array[Byte], idx: Int): Array[Byte] =
    try member(b, idx)
    catch { case _: IndexOutOfBoundsException => null }
}

/** `tfrecord_entries(blob)` → array<struct<offset, size>> of record
 *  payloads (length CRCs validated); null when the bytes don't frame as
 *  TFRecord at all. */
case class TfRecordEntriesExpr(child: Expression)
    extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType =
    ArrayType(TfRecordHeaders.elementType, containsNull = false)
  override def decode(in: Array[Any]): Any = TfRecordHeaders.entriesArray(blob(in))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "tfrecord_entries"
}

object TfRecordEntriesExpr {
  def apply(col: Column): Column =
    GraftShims.column(new TfRecordEntriesExpr(GraftShims.expression(col)))
}

/** `tfrecord_member(blob, idx)` → binary payload of record `idx`, its
 *  masked CRC32C verified on extraction; null when out of range or the
 *  payload is corrupt — the TFRecord twin of `tar_member`. */
case class TfRecordMemberExpr(child: Expression, idx: Expression)
    extends BlobDecoder with BinaryLike[Expression] {
  override def left: Expression = child
  override def right: Expression = idx
  override protected def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = BinaryType
  override def decode(in: Array[Any]): Any =
    TfRecordHeaders.memberOrNull(blob(in), in(1).asInstanceOf[Int])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, idx = newRight)
  override def prettyName: String = "tfrecord_member"
}

object TfRecordMemberExpr {
  def apply(col: Column, idx: Column): Column =
    GraftShims.column(new TfRecordMemberExpr(
      GraftShims.expression(col), GraftShims.expression(idx)))
}

/** Fixture encoders: safetensors headers and TFRecord framing. */
object TensorShardCodec {

  def safetensors(tensors: Seq[(String, String, Seq[Long])],
      withMetadata: Boolean = false): Array[Byte] = {
    val widths = Map("F64" -> 8L, "F32" -> 4L, "F16" -> 2L, "BF16" -> 2L,
      "I64" -> 8L, "I32" -> 4L, "I8" -> 1L, "U8" -> 1L)
    var off = 0L
    val entries = tensors.map { case (name, dtype, shape) =>
      // scalar (empty shape) = 1 element; a 0 in the shape = 0 elements
      val n = if (shape.isEmpty) 1L else shape.product
      val bytes = n * widths.getOrElse(dtype, 4L)
      val e = s""""$name":{"dtype":"$dtype","shape":[${shape.mkString(",")}],""" +
        s""""data_offsets":[$off,${off + bytes}]}"""
      off += bytes
      e
    }
    val meta = if (withMetadata) Seq(""""__metadata__":{"format":"pt"}""") else Nil
    val json = (meta ++ entries).mkString("{", ",", "}")
    val jb = json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Byte](8 + jb.length + off.toInt)
    var k = 0
    while (k < 8) { out(k) = ((jb.length.toLong >> (8 * k)) & 0xff).toByte; k += 1 }
    System.arraycopy(jb, 0, out, 8, jb.length)
    out
  }

  def tfrecord(payloads: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    for (p <- payloads) {
      val lenB = Bytes.le64(p.length.toLong)
      out.write(lenB)
      out.write(Bytes.le32(TfRecordHeaders.maskedCrc32c(lenB, 0, 8)))
      out.write(p)
      out.write(Bytes.le32(TfRecordHeaders.maskedCrc32c(p, 0, p.length)))
    }
    out.toByteArray
  }
}
