package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * WebVTT / SubRip (SRT) subtitle cue extraction — the text half of
 * frame–caption alignment for video training data: cues join against
 * [[VideoKeyframes]] plans on media time to produce (frame, caption)
 * pairs without decoding a single video frame.
 *
 * Both formats are line-oriented public layouts:
 *  - WebVTT (W3C): `WEBVTT` signature line, blank-line-separated cue
 *    blocks of optional identifier, `H:MM:SS.mmm --> H:MM:SS.mmm`
 *    (hours optional, settings after the end stamp ignored), then payload
 *    lines. NOTE/STYLE/REGION blocks are skipped.
 *  - SRT: numeric counter line, `HH:MM:SS,mmm --> HH:MM:SS,mmm`, payload.
 *
 * The parser is shared: a timing line is recognized by the arrow and two
 * parseable stamps (`.` or `,` millisecond separators both accepted —
 * real crawled files mix them); everything until the next blank line is
 * the payload, joined with `\n`. Malformed blocks are skipped, not
 * errors; a text with no parseable cue yields an empty array (null only
 * for null input or, in VTT mode, a missing WEBVTT signature). Pure
 * per-row codegen — zero shuffle, the text column is read once.
 */
object SubtitleCues {

  val elementType: StructType = StructType(Seq(
    StructField("start_ms", LongType, nullable = false),
    StructField("end_ms", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  final case class Cue(startMs: Long, endMs: Long, text: String)

  /** `H:MM:SS.mmm` / `HH:MM:SS,mmm` / `MM:SS.mmm` → ms, or -1. */
  private[functions] def parseStamp(s: String): Long = {
    val t = s.trim
    val parts = t.split(':')
    if (parts.length < 2 || parts.length > 3) return -1L
    val secMs = parts(parts.length - 1)
    val dot = secMs.indexWhere(c => c == '.' || c == ',')
    if (dot < 0) return -1L
    val secStr = secMs.substring(0, dot)
    val msStr = secMs.substring(dot + 1)
    if (msStr.length < 1 || msStr.length > 3) return -1L
    try {
      val h = if (parts.length == 3) java.lang.Long.parseLong(parts(0).trim) else 0L
      val m = java.lang.Long.parseLong(parts(if (parts.length == 3) 1 else 0).trim)
      val sec = java.lang.Long.parseLong(secStr)
      // "5" after the dot means 500 ms per both specs' fixed-width forms
      val ms = java.lang.Long.parseLong(msStr) *
        (if (msStr.length == 1) 100 else if (msStr.length == 2) 10 else 1)
      if (h < 0 || m < 0 || m > 59 || sec < 0 || sec > 59) return -1L
      if (h > 1000000) return -1L // lying stamp: cap at ~114 years
      h * 3600000L + m * 60000L + sec * 1000L + ms
    } catch { case _: NumberFormatException => -1L }
  }

  /** The cue timing line `start --> end [settings...]`, or null. */
  private def parseTiming(line: String): Cue = {
    val arrow = line.indexOf("-->")
    if (arrow < 0) return null
    val start = parseStamp(line.substring(0, arrow))
    if (start < 0) return null
    // settings follow the end stamp after whitespace
    val rest = line.substring(arrow + 3).trim
    val sp = rest.indexWhere(c => c == ' ' || c == '\t')
    val end = parseStamp(if (sp < 0) rest else rest.substring(0, sp))
    if (end < 0) return null
    Cue(start, end, null)
  }

  def parse(text: String, requireVttHeader: Boolean): Array[Cue] = {
    if (text == null) return null
    val lines = text.split("\r\n|\n|\r", -1)
    var i = 0
    if (requireVttHeader) {
      // optional UTF-8 BOM before the signature
      val first = if (lines.isEmpty) "" else lines(0).stripPrefix("\uFEFF")
      if (!(first == "WEBVTT" || first.startsWith("WEBVTT ") ||
          first.startsWith("WEBVTT\t"))) return null
      i = 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Cue]
    while (i < lines.length) {
      if (lines(i).trim.isEmpty) i += 1
      else {
        // a block: first line may be an identifier/counter or the timing
        var timing = parseTiming(lines(i))
        var skipBlock = false
        if (timing == null) {
          val head = lines(i).trim
          // NOTE/STYLE/REGION blocks carry no cue
          skipBlock = head == "NOTE" || head.startsWith("NOTE ") ||
            head == "STYLE" || head == "REGION"
          if (!skipBlock && i + 1 < lines.length) {
            timing = parseTiming(lines(i + 1))
            if (timing != null) i += 1
          }
        }
        if (timing == null) {
          // not a cue block: skip through its blank-line terminator
          while (i < lines.length && lines(i).trim.nonEmpty) i += 1
        } else {
          i += 1
          val payload = new StringBuilder
          while (i < lines.length && lines(i).trim.nonEmpty) {
            if (payload.nonEmpty) payload.append('\n')
            payload.append(lines(i))
            i += 1
          }
          out += Cue(timing.startMs, timing.endMs, payload.result())
        }
      }
    }
    out.toArray
  }

  /** Shared eval for interpreted and generated code paths. */
  def cuesArray(text: UTF8String, requireVttHeader: Boolean): GenericArrayData = {
    val cues = parse(if (text == null) null else text.toString, requireVttHeader)
    if (cues == null) return null
    new GenericArrayData(cues.map[Any](c => new GenericInternalRow(Array[Any](
      c.startMs, c.endMs, UTF8String.fromString(c.text)))))
  }
}

/** `subtitle_cues(text, requireVtt)` →
 *  array<struct<start_ms, end_ms, text>>; see [[SubtitleCues]]. With
 *  `requireVtt` a missing WEBVTT signature is null; without, any text
 *  parses as SRT-ish (no parseable cue → empty array). */
case class SubtitleCuesExpr(child: Expression, requireVttHeader: Boolean)
    extends BlobDecoder with UnaryLike[Expression] {
  override protected def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(SubtitleCues.elementType, containsNull = false)
  override def decode(in: Array[Any]): Any =
    SubtitleCues.cuesArray(in(0).asInstanceOf[UTF8String], requireVttHeader)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "subtitle_cues"
}

object SubtitleCuesExpr {
  def apply(col: Column, requireVttHeader: Boolean): Column =
    GraftShims.column(new SubtitleCuesExpr(GraftShims.expression(col), requireVttHeader))
}
