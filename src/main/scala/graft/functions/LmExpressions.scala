package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression: the word n-grams of a string. Tokens are
 * those of `split(text, " ")` — empty tokens included (`"a  b "` →
 * `["a", "", "b", ""]`) — and n-gram i is the byte span from token i's
 * start to token i+n-1's end, which IS `array_join(slice(toks, i, n), " ")`.
 * Fewer than `n` tokens → empty array; null text → null.
 *
 * Why an expression and not `transform(sequence(1, k), i ->
 * concat_ws(" ", element_at(split(text, " "), i), …))`: the outer `split`
 * sits inside an interpreted lambda and is re-evaluated for every i, so
 * one document costs O(tokens²). This is one scan over the UTF-8 bytes
 * (0x20 never occurs inside a multi-byte sequence) plus one slice per
 * n-gram, inside whole-stage codegen.
 */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(s"need n >= 1, got $n")
    case dt => TypeCheckResult.TypeCheckFailure(s"word_ngrams needs string input, got $dt")
  }

  override def nullSafeEval(input: Any): Any =
    WordNgrams.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = WordNgrams.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $cls.compute($a, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "word_ngrams"
}

object WordNgrams {
  def apply(text: Column, n: Int): Column =
    GraftShims.column(new WordNgrams(GraftShims.expression(text), n))

  def compute(text: UTF8String, n: Int): ArrayData = {
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
    val out = new Array[Any](numWords - n + 1)
    var g = 0
    while (g < out.length) {
      out(g) = UTF8String.fromBytes(bytes, starts(g), starts(g + n) - 1 - starts(g))
      g += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * Open-addressing hash index over byte-string keys stored back to back
 * (key i = `keys[ends(i-1), ends(i))`). [[find]] probes a byte span of any
 * buffer — no String, no copy per probe. Built once per JVM by the
 * `@transient lazy val`s of [[LmTables]].
 */
private[functions] final class SpanTable(keys: Array[Byte], ends: Array[Int]) {
  private val mask = {
    var cap = 2
    while (cap < ends.length * 2) cap <<= 1
    cap - 1
  }
  private val slots = new Array[Int](mask + 1) // key index + 1; 0 = empty

  private def start(i: Int): Int = if (i == 0) 0 else ends(i - 1)
  private def slot(base: AnyRef, off: Long, len: Int): Int = {
    val h = XXH64.hashUnsafeBytes(base, off, len, 42L)
    (h ^ (h >>> 32)).toInt & mask
  }

  locally {
    var i = 0
    while (i < ends.length) {
      var s = slot(keys, Platform.BYTE_ARRAY_OFFSET + start(i), ends(i) - start(i))
      while (slots(s) != 0) s = (s + 1) & mask
      slots(s) = i + 1
      i += 1
    }
  }

  /** Index of the key equal to `len` bytes at `base`+`off`, or -1. */
  def find(base: AnyRef, off: Long, len: Int): Int = {
    if (ends.isEmpty) return -1
    var s = slot(base, off, len)
    while (true) {
      val k = slots(s) - 1
      if (k < 0) return -1
      val from = start(k)
      if (ends(k) - from == len && ByteArrayMethods.arrayEquals(
          keys, Platform.BYTE_ARRAY_OFFSET + from, base, off, len)) return k
      s = (s + 1) & mask
    }
    -1
  }
}

private[functions] object SpanTable {
  /** Concatenated UTF-8 bytes and end offsets of `keys`. */
  def pack(keys: Array[String]): (Array[Byte], Array[Int]) = {
    val utf8 = keys.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val ends = utf8.scanLeft(0)(_ + _.length).tail
    val out = new Array[Byte](if (ends.isEmpty) 0 else ends.last)
    var i = 0
    while (i < utf8.length) {
      System.arraycopy(utf8(i), 0, out, ends(i) - utf8(i).length, utf8(i).length)
      i += 1
    }
    (out, ends)
  }
}

/**
 * Open-addressing set of 64-bit hashes, built from an `array<bigint>`
 * value (zero is a legal hash, so it is tracked beside the table).
 */
private[functions] final class LongSet(values: ArrayData) {
  private val mask = {
    var cap = 2
    while (cap < values.numElements() * 2) cap <<= 1
    cap - 1
  }
  private val table = new Array[Long](mask + 1)
  private var hasZero = false

  private def slot(v: Long): Int = (v ^ (v >>> 32)).toInt & mask

  locally {
    var i = 0
    while (i < values.numElements()) {
      val v = values.getLong(i)
      if (v == 0L) hasZero = true
      else {
        var s = slot(v)
        while (table(s) != 0L && table(s) != v) s = (s + 1) & mask
        table(s) = v
      }
      i += 1
    }
  }

  def contains(v: Long): Boolean =
    if (v == 0L) hasZero
    else {
      var s = slot(v)
      while (table(s) != 0L && table(s) != v) s = (s + 1) & mask
      table(s) == v
    }
}

/**
 * Model side of [[LmProbe]]: a count-LM's term→count table and bigram set
 * as packed UTF-8 keys. Shipped to executors as ONE Spark `Broadcast` (not
 * a plan literal); the hash indexes are `@transient lazy val`s, so each
 * JVM builds them once on first probe (the [[BpeCodec]] pattern).
 */
final class LmTables private (
    termKeys: Array[Byte],
    termEnds: Array[Int],
    termCounts: Array[Long],
    bigramKeys: Array[Byte],
    bigramEnds: Array[Int]) extends Serializable {

  @transient private lazy val terms = new SpanTable(termKeys, termEnds)
  @transient private lazy val bigrams = new SpanTable(bigramKeys, bigramEnds)

  /** `(n, sum_c, oov, hits)` of `text`: token count, summed model counts
   *  of in-vocabulary tokens, out-of-vocabulary tokens, and adjacent token
   *  pairs present in the bigram set — tokens of `split(text, " ")`, one
   *  pass over the bytes. Null text gives all zeros. */
  def probe(text: UTF8String): InternalRow = {
    var n, sumC, oov, hits = 0L
    if (text != null) {
      val bytes = text.getBytes
      val len = bytes.length
      val off = Platform.BYTE_ARRAY_OFFSET
      var prev = -1 // start of the previous token
      var from = 0
      var i = 0
      while (i <= len) {
        if (i == len || bytes(i) == ' ') {
          n += 1
          val k = terms.find(bytes, off + from, i - from)
          if (k < 0) oov += 1 else sumC += termCounts(k)
          if (prev >= 0 && bigrams.find(bytes, off + prev, i - prev) >= 0) hits += 1
          prev = from
          from = i + 1
        }
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](n, sumC, oov, hits))
  }
}

object LmTables {
  def apply(terms: Array[(String, Long)], bigrams: Array[String]): LmTables = {
    val (tk, te) = SpanTable.pack(terms.map(_._1))
    val (bk, be) = SpanTable.pack(bigrams)
    new LmTables(tk, te, terms.map(_._2), bk, be)
  }
}

/**
 * Native Catalyst expression: every count-LM statistic of a document in one
 * pass — `struct<n, sum_c, oov, hits>` of longs from [[LmTables.probe]]
 * against a broadcast model. Null text gives zeros, the same answer as a
 * zero-token document. The broadcast value is resolved once per task.
 */
case class LmProbe(child: Expression, model: Broadcast[LmTables]) extends UnaryExpression {

  override def dataType: DataType = LmProbe.Schema
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"lm_probe needs string input, got $dt")
  }

  @transient private lazy val tables = model.value

  def probe(text: UTF8String): InternalRow = tables.probe(text)

  override def eval(input: InternalRow): Any =
    probe(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lmProbe", this, classOf[LmProbe].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |InternalRow ${ev.value} = $ref.probe(${c.isNull} ? null : ${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "lm_probe"
}

object LmProbe {
  val Schema: StructType = StructType(
    Seq("n", "sum_c", "oov", "hits").map(StructField(_, LongType, nullable = false)))

  def apply(text: Column, model: Broadcast[LmTables]): Column =
    GraftShims.column(new LmProbe(GraftShims.expression(text), model))
}
