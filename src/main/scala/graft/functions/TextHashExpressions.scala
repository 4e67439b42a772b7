package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `ngram_md5_hashes(text, n, hexLen)` — the md5-prefix hash of every
 * n-token window of a whitespace-tokenized string, as `array<string>` of
 * lowercase hex prefixes.
 *
 * Exactly equivalent to
 * `transform(sequence(1, size(toks)-n+1), i -> substring(md5(array_join(slice(toks, i, n), " ")), 1, hexLen))`
 * (the [[graft.operators.Decontaminate]] key), but one pass over the UTF-8
 * bytes with zero per-window allocations: word boundaries are single 0x20
 * bytes (safe in UTF-8 — continuation bytes never equal 0x20), and the
 * window's joined-with-single-space form IS the original byte span between
 * word i's start and word i+n-1's end, so the digest runs straight over
 * the input buffer. One `MessageDigest` per thread, reset per window.
 *
 * md5 (not xxhash) because the value is an ENGINE-PORTABLE key: any system
 * with md5 — including the DuckDB battery oracle — recomputes the
 * identical hex, which is what makes cross-engine decontamination joins
 * and their correctness checks possible. Fewer than `n` tokens → empty
 * array (a short document has no complete window).
 */
case class NgramMd5Hashes(child: Expression, n: Int, hexLen: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n >= 2 && hexLen >= 1 && hexLen <= 32 =>
      TypeCheckResult.TypeCheckSuccess
    case StringType =>
      TypeCheckResult.TypeCheckFailure(
        s"need n >= 2 and 1 <= hexLen <= 32, got ($n, $hexLen)")
    case dt =>
      TypeCheckResult.TypeCheckFailure(s"ngram_md5_hashes needs string input, got $dt")
  }

  override def nullSafeEval(input: Any): Any =
    NgramMd5Hashes.compute(input.asInstanceOf[UTF8String], n, hexLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = NgramMd5Hashes.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $cls.compute($a, $n, $hexLen);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "ngram_md5_hashes"
}

object NgramMd5Hashes {
  def apply(text: Column, n: Int, hexLen: Int = 16): Column =
    GraftShims.column(new NgramMd5Hashes(GraftShims.expression(text), n, hexLen))

  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  private val HexChars = "0123456789abcdef".toCharArray

  def compute(text: UTF8String, n: Int, hexLen: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    var numWords = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') numWords += 1; i += 1 }
    if (numWords < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](numWords + 1)
    var w = 1
    i = 0
    while (i < len) { if (bytes(i) == ' ') { starts(w) = i + 1; w += 1 }; i += 1 }
    starts(numWords) = len + 1 // sentinel: word k ends at starts(k+1)-1

    val md = digests.get()
    val numGrams = numWords - n + 1
    val out = new Array[Any](numGrams)
    val hexBytes = (hexLen + 1) / 2
    var g = 0
    while (g < numGrams) {
      val from = starts(g)
      val until = starts(g + n) - 1
      md.reset()
      md.update(bytes, from, until - from)
      val digest = md.digest()
      val hex = new Array[Byte](hexLen)
      var j = 0
      while (j < hexBytes) {
        val b = digest(j) & 0xff
        hex(2 * j) = HexChars(b >>> 4).toByte
        if (2 * j + 1 < hexLen) hex(2 * j + 1) = HexChars(b & 0xf).toByte
        j += 1
      }
      out(g) = UTF8String.fromBytes(hex)
      g += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * `drop_hashed_lines(text, hashes, sep)` — `text` split on the literal
 * `sep`, every line whose `xxhash64` is in `hashes` removed, the rest
 * re-joined with `sep`. Exactly
 * `array_join(filter(split(text, quote(sep)), l -> !array_contains(hashes, xxhash64(l))), sep)`
 * (the same `split`, the same seed-42 hash), but membership is a
 * [[LongSet]] probe instead of a scan of `hashes` per line.
 *
 * Contract: `hashes` holds the SAME value on every row — the one-row
 * broadcast frequent set of `Dedup.dropFrequentLines`. The set is built
 * from the first row's array and reused while the array's buffer stays
 * the same, so a 10M-hash set costs one build per task instead of a 10M
 * scan per line.
 */
case class DropHashedLines(text: Expression, hashes: Expression, sep: String)
    extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = hashes
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = (text.dataType, hashes.dataType) match {
    case (StringType, ArrayType(LongType, _)) if sep.nonEmpty => TypeCheckResult.TypeCheckSuccess
    case (StringType, ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckFailure("drop_hashed_lines needs a non-empty separator")
    case (t, h) => TypeCheckResult.TypeCheckFailure(
      s"drop_hashed_lines needs (string, array<bigint>), got ($t, $h)")
  }

  @transient private lazy val pattern =
    UTF8String.fromString(java.util.regex.Pattern.quote(sep))
  @transient private lazy val sepUtf8 = UTF8String.fromString(sep)
  // (buffer, offset, set) of the last array seen
  @transient @volatile private var cached: (AnyRef, Long, LongSet) = _

  private def setOf(a: ArrayData): LongSet = {
    val (base, off) = a match {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
        (u.getBaseObject, u.getBaseOffset)
      case other => (other, 0L)
    }
    val c = cached
    if (c != null && (c._1 eq base) && c._2 == off) c._3
    else {
      val s = new LongSet(a)
      cached = (base, off, s)
      s
    }
  }

  def drop(t: UTF8String, h: ArrayData): UTF8String = {
    val set = setOf(h)
    val kept = t.split(pattern, -1).filterNot(l =>
      set.contains(XXH64.hashUnsafeBytes(l.getBaseObject, l.getBaseOffset, l.numBytes, 42L)))
    UTF8String.concatWs(sepUtf8, kept: _*)
  }

  override def nullSafeEval(t: Any, h: Any): Any =
    drop(t.asInstanceOf[UTF8String], h.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dropLines", this, classOf[DropHashedLines].getName)
    nullSafeCodeGen(ctx, ev, (t, h) => s"${ev.value} = $ref.drop($t, $h);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(text = newLeft, hashes = newRight)

  override def prettyName: String = "drop_hashed_lines"
}

object DropHashedLines {
  def apply(text: Column, hashes: Column, sep: String): Column =
    GraftShims.column(new DropHashedLines(
      GraftShims.expression(text), GraftShims.expression(hashes), sep))
}
