package graft.functions

import graft.functions.Bytes.{be32, be64, beU32, beU64}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Headers-only video container metadata: real, dependency-free parsing of
 * the PUBLIC ISO BMFF (MP4) box layout — top-level box walk to `moov`, then
 * `mvhd` (version 0 or 1) for timescale and duration — completing the
 * image/audio/video metadata trio ([[ImageHeaders]], [[AudioHeaders]]).
 * Frame/sample decode stays behind the multimodal seam.
 *
 * The box walk is bounds-checked; 64-bit extended sizes, lying sizes and
 * truncation all return null, never an exception or a loop.
 */
object Mp4Headers {

  /** width/height are the integer part of tkhd's 16.16 fixed-point fields
   *  from the FIRST track; -1 when the moov carries no trak/tkhd (surfaced
   *  as SQL null). */
  final case class Mp4Meta(
      brand: String, timescale: Long, duration: Long, durationMs: Long,
      width: Int, height: Int)

  private def boxType(b: Array[Byte], i: Int): String =
    new String(b, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)

  def parse(b: Array[Byte]): Mp4Meta =
    // corrupt bytes parse to null, never exceptions (same contract as
    // [[Mp4Frames.frameCount]] and the image decoders)
    try parseUnsafe(b)
    catch { case _: IndexOutOfBoundsException => null }

  private def parseUnsafe(b: Array[Byte]): Mp4Meta = {
    if (b == null || b.length < 16) return null
    if (boxType(b, 0) != "ftyp") return null
    val brand = new String(b, 8, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // walk top-level boxes for moov
    var i = 0
    var moov = -1
    var moovEnd = -1L
    while (i + 8 <= b.length && moov < 0) {
      var size = beU32(b, i)
      var hdr = 8
      if (size == 1L) { // 64-bit extended size
        if (i + 16 > b.length) return null
        size = beU64(b, i + 8); hdr = 16
      } else if (size == 0L) size = b.length.toLong - i // box runs to EOF
      if (size < hdr) return null
      // overflow-safe overrun test: `size > b.length - i` cannot wrap the
      // way `i + size > …` does on a crafted 64-bit size near Long.MaxValue
      val overruns = size > b.length.toLong - i
      if (boxType(b, i) == "moov") {
        moov = i + hdr
        moovEnd = if (overruns) b.length.toLong else i + size
      }
      if (overruns) { if (moov < 0) return null }
      else i += size.toInt
      if (size <= 0) return null
    }
    if (moov < 0) return null
    // walk moov children: mvhd is required (timescale/duration); the FIRST
    // trak's tkhd is optional and contributes width/height
    var j = moov
    var ts = -1L
    var dur = -1L
    var w = -1
    var h = -1
    while (j + 8 <= moovEnd) {
      var size = beU32(b, j)
      var hdr = 8
      if (size == 1L) {
        if (j + 16 > moovEnd) return null
        size = beU64(b, j + 8); hdr = 16
      } else if (size == 0L) size = moovEnd - j
      // reject lying child sizes up front, overflow-safe (see the
      // top-level walk): everything below may then index within j+size
      if (size < hdr || size > moovEnd - j) return null
      val bt = boxType(b, j)
      if (bt == "mvhd" && ts < 0) {
        val ver = b(j + hdr) & 0xff
        if (ver == 0) {
          if (j + hdr + 20 > b.length) return null
          ts = beU32(b, j + hdr + 12)
          dur = beU32(b, j + hdr + 16)
        } else if (ver == 1) {
          if (j + hdr + 32 > b.length) return null
          ts = beU32(b, j + hdr + 20)
          dur = beU64(b, j + hdr + 24)
        } else return null
        if (ts <= 0 || dur < 0) return null
      } else if (bt == "trak" && w < 0) {
        // child walk for tkhd; a malformed trak voids only the dimensions
        // (mvhd metadata stays valid), matching the null-on-garbage contract
        // at the finest granularity the format allows
        val trakEnd = j + size // validated against moovEnd above
        var k = j + hdr
        var ok = true
        while (ok && w < 0 && k + 8 <= trakEnd) {
          var s2 = beU32(b, k)
          var h2 = 8
          if (s2 == 1L) {
            if (k + 16 > trakEnd) ok = false
            else { s2 = beU64(b, k + 8); h2 = 16 }
          } else if (s2 == 0L) s2 = trakEnd - k
          if (!ok || s2 < h2 || s2 > trakEnd - k) ok = false
          else {
            if (boxType(b, k) == "tkhd") {
              val ver = b(k + h2) & 0xff
              // tkhd payload: ver/flags(4) + creation/mod/track_ID/reserved/
              // duration (v0: 20 B, v1: 32 B) + reserved(8) + layer/alt/
              // volume/reserved(8) + matrix(36) + width(4) + height(4),
              // dimensions in 16.16 fixed point (integer part reported)
              val timesLen = if (ver == 0) 20 else if (ver == 1) 32 else -1
              if (timesLen > 0) {
                val dimOff = k + h2 + 4 + timesLen + 8 + 8 + 36
                if (dimOff + 8 <= trakEnd) {
                  w = (beU32(b, dimOff) >>> 16).toInt
                  h = (beU32(b, dimOff + 4) >>> 16).toInt
                }
              }
              ok = false // first tkhd decides, valid or not
            } else k += s2.toInt
          }
        }
      }
      j += size.toInt // within moovEnd by the guard above
    }
    if (ts <= 0) return null
    Mp4Meta(brand, ts, dur, dur * 1000L / ts, w, h)
  }

  val sparkType: StructType = StructType(Seq(
    StructField("brand", StringType, nullable = false),
    StructField("timescale", LongType, nullable = false),
    StructField("duration", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))

  /** Shared eval for interpreted and generated code paths. */
  def parseRow(bytes: Array[Byte]): InternalRow = {
    val m = parse(bytes)
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(m.brand), m.timescale, m.duration, m.durationMs,
      if (m.width < 0) null else m.width,
      if (m.height < 0) null else m.height))
  }
}

/** `video_meta(blob)` → struct(brand, timescale, duration, duration_ms),
 *  null for non-MP4 bytes. */
case class VideoMeta(child: Expression) extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType = Mp4Headers.sparkType
  override def decode(in: Array[Any]): Any = Mp4Headers.parseRow(blob(in))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "video_meta"
}

object VideoMeta {
  def apply(col: Column): Column = GraftShims.column(new VideoMeta(GraftShims.expression(col)))
}

/**
 * REAL frame count from the ISO BMFF sample tables: the first `trak`
 * whose `mdia/hdlr` handler is 'vide' contributes its
 * `mdia/minf/stbl/stsz` sample_count — the codec-free fact that makes
 * frame-sample PLANNING honest (which frame indexes exist) even though
 * frame pixel decode stays behind a codec seam. Null for non-MP4 bytes
 * or MP4s with no video track.
 */
object Mp4Frames {

  private def boxType(b: Array[Byte], i: Int): String =
    new String(b, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Children of the byte range [start, end): (type, payloadStart, boxEnd).
   *  Bounds-checked; a lying size terminates the walk (Nil tail). */
  private def children(b: Array[Byte], start: Long, end: Long)
      : Iterator[(String, Long, Long)] =
    childrenWithStart(b, start, end).map(t => (t._1, t._3, t._4))

  private def child(b: Array[Byte], start: Long, end: Long, t: String)
      : Option[(Long, Long)] =
    children(b, start, end).collectFirst { case (`t`, s, e) => (s, e) }

  /** Like [[children]] but yielding (type, BOX start, payload start,
   *  box end): default-base-is-moof offsets are relative to the first
   *  byte of the moof BOX header, which sits 16 bytes before the payload
   *  when the box uses a 64-bit largesize header — `payloadStart - 8`
   *  would silently shift every offset in such a fragment by 8. */
  private def childrenWithStart(b: Array[Byte], start: Long, end: Long)
      : Iterator[(String, Long, Long, Long)] =
    new Iterator[(String, Long, Long, Long)] {
      private var i = start
      override def hasNext: Boolean = i + 8 <= end
      override def next(): (String, Long, Long, Long) = {
        val boxStart = i
        var size = beU32(b, i.toInt)
        var hdr = 8
        if (size == 1L) {
          if (i + 16 > end) { i = end; return ("", end, end, end) }
          size = beU64(b, (i + 8).toInt); hdr = 16
        } else if (size == 0L) size = end - i
        // overflow-safe: a crafted 64-bit size near Long.MaxValue would
        // make `i + size` wrap negative and slip past a `i + size > end`
        // guard, walking wrapped offsets; `size > end - i` cannot
        // overflow (both operands are valid in-range offsets)
        if (size < hdr || size > end - i) { i = end; return ("", end, end, end) }
        val out = (boxType(b, i.toInt), boxStart, i + hdr, i + size)
        i += size
        out
      }
    }

  def frameCount(b: Array[Byte]): java.lang.Long =
    // corrupt bytes decode to null, never exceptions: any residual
    // index arithmetic slip on hostile box tables is corrupt DATA
    try frameCountUnsafe(b)
    catch { case _: IndexOutOfBoundsException => null }

  /** ALL video tracks' (mdia, stbl) byte ranges, in file order: traks
   *  whose mdia/hdlr handler is 'vide', each with its mdia/minf/stbl.
   *  Returned as a list so callers can FALL THROUGH past a video trak
   *  whose sample tables are stripped (a thumbnail/preview track ahead
   *  of the real stream) — the pre-round-16 frameCount loop behavior. */
  private def videoTracks(b: Array[Byte])
      : List[((Long, Long), (Long, Long), (Long, Long))] = {
    if (b == null || b.length < 16 || boxType(b, 0) != "ftyp") return Nil
    val moov = child(b, 0, b.length, "moov").getOrElse(return Nil)
    val out = List.newBuilder[((Long, Long), (Long, Long), (Long, Long))]
    for ((t, ts, te) <- children(b, moov._1, moov._2) if t == "trak") {
      child(b, ts, te, "mdia").foreach { case (ms, me) =>
        val isVideo = child(b, ms, me, "hdlr").exists { case (hs, he) =>
          // hdlr payload: ver/flags(4) + pre_defined(4) + handler_type(4);
          // bound by the box's OWN end — a truncated hdlr must not read
          // its sibling's bytes as a handler type
          hs + 12 <= he && boxType(b, (hs + 4).toInt) == "vide"
        }
        if (isVideo) {
          for {
            (ns, ne) <- child(b, ms, me, "minf")
            (ss, se) <- child(b, ns, ne, "stbl")
          } out += (((ts, te), (ms, me), (ss, se)))
        }
      }
    }
    out.result()
  }

  /**
   * The first NON-EMPTY edit's media_time from trak/edts/elst, in MEDIA
   * timescale units — presentation time = decode/composition time minus
   * this (DASH packagers routinely shift sample times by an edit list,
   * and reporting un-shifted times misplaces every keyframe/stride
   * boundary). Empty edits (media_time -1, a presentation delay) are
   * skipped; absent/zero/lying (negative or >= [[MaxTicks]]) values mean
   * no shift, keeping the composition-naive answer when no elst applies.
   */
  private def elstShift(b: Array[Byte], trak: (Long, Long)): Long = {
    val r = for {
      (es, ee) <- child(b, trak._1, trak._2, "edts").iterator
      (els, ele) <- child(b, es, ee, "elst").iterator
    } yield {
      if (els + 8 > ele) 0L
      else {
        val ver = b(els.toInt) & 0xff
        if (ver > 1) 0L
        else {
          val n = beU32(b, (els + 4).toInt)
          val entrySize = if (ver == 1) 20 else 12
          var i = 0L
          var p = els + 8
          var shift = 0L
          var done = false
          while (!done && i < n && p + entrySize <= ele) {
            // entry: segment_duration (u32/u64), media_time (s32/s64), rate
            val mediaTime =
              if (ver == 1) beU64(b, (p + 8).toInt)
              else beU32(b, (p + 4).toInt).toInt.toLong // sign-extend s32
            if (mediaTime != -1L) {
              if (mediaTime >= 0 && mediaTime < MaxTicks) shift = mediaTime
              done = true // a second non-empty edit never applies here
            }
            i += 1; p += entrySize
          }
          shift
        }
      }
    }
    r.nextOption().getOrElse(0L)
  }

  /** Sample count from stsz (ver/flags + sample_size + sample_count) or
   *  its compact stz2 sibling (ver/flags + reserved(3)+field_size(1) +
   *  sample_count) — the count sits at payload+8 in BOTH layouts. */
  private def sampleCount(b: Array[Byte], stbl: (Long, Long)): Option[Long] =
    child(b, stbl._1, stbl._2, "stsz").orElse(child(b, stbl._1, stbl._2, "stz2"))
      .collect { case (zs, ze) if zs + 12 <= ze => beU32(b, (zs + 8).toInt) }

  private def frameCountUnsafe(b: Array[Byte]): java.lang.Long = {
    val moov = videoTracks(b).iterator.flatMap(t => sampleCount(b, t._3))
      .nextOption().map(java.lang.Long.valueOf).orNull
    // a fragmented MP4 (DASH/CMAF) keeps moov's stbl empty and carries
    // samples in moof fragments — fall through to the traf walk
    if (moov != null && moov.longValue() > 0L) moov
    else {
      val frag = fragFrameCount(b)
      if (frag != null) frag else moov
    }
  }

  /** One planned frame sample: index, media start time (ms), and the
   *  byte offset of its data in the container (-1 = offset tables
   *  absent/unusable — surfaced as SQL null). */
  final case class PlannedSample(idx: Long, tMs: Long, byteOff: Long)

  /** Guard against lying u32/u64 table values: ticks past this are
   *  treated as end-of-track, byte walks past this give no offset. 2^50
   *  leaves ×1000 headroom in the ms conversions (2^60 < Long.MaxValue). */
  private val MaxTicks = 1L << 50
  private val MaxChunkWalk = 1 << 20

  /**
   * Media-TIME frame planning from the real sample tables: one sample per
   * `strideMs` of media time — for each boundary k·strideMs the sample
   * PLAYING at it (per `stts` run-length deltas and the `mdhd` media
   * timescale), deduplicated, capped at `maxFrames`. Each plan entry
   * carries the sample's own start time and, when the chunk tables
   * (`stsc` + `stco`/`co64`) and size tables (`stsz` const/table or
   * packed `stz2`) allow, the byte offset of its data — the seek a
   * downstream decoder would issue. Closed-form arithmetic over the
   * run-length tables: cost is O(runs + emitted frames), never a
   * per-sample scan, so a lying billion-sample table cannot stall a task.
   * Null for non-MP4 bytes, no video track, or missing stts/mdhd.
   */
  def samplePlan(b: Array[Byte], strideMs: Int, maxFrames: Int): Array[PlannedSample] =
    try samplePlanUnsafe(b, strideMs, maxFrames)
    catch { case _: IndexOutOfBoundsException => null }

  private def samplePlanUnsafe(
      b: Array[Byte], strideMs: Int, maxFrames: Int): Array[PlannedSample] = {
    require(strideMs > 0 && strideMs <= 1000000 &&
      maxFrames > 0 && maxFrames <= 1000000,
      s"need 0 < maxFrames <= 1e6 and 0 < strideMs <= 1e6")
    // fall through past video traks with stripped tables to the first
    // one that yields a plan — mirrors frameCount's track selection
    val moov = videoTracks(b).iterator
      .map { case (trak, mdia, stbl) =>
        planForTrack(b, mdia, stbl, strideMs, maxFrames, elstShift(b, trak)) }
      .collectFirst { case p if p != null => p }
      .orNull
    // empty moov tables + moof fragments = a DASH/CMAF segment: plan
    // from the traf/trun sample runs instead of zero rows
    if (moov != null && moov.nonEmpty) moov
    else {
      val frag = fragSamplePlan(b, strideMs, maxFrames)
      if (frag != null) frag else moov
    }
  }

  /** Media timescale from mdhd (ver/flags(4) + times (v0: 4+4, v1: 8+8) +
   *  timescale(4)), or -1 when absent/truncated. */
  private def mediaTimescale(b: Array[Byte], mdia: (Long, Long)): Long =
    child(b, mdia._1, mdia._2, "mdhd").flatMap { case (hs, he) =>
      (b(hs.toInt) & 0xff) match {
        case 0 if hs + 16 <= he => Some(beU32(b, (hs + 12).toInt))
        case 1 if hs + 24 <= he => Some(beU32(b, (hs + 20).toInt))
        case _ => None
      }
    }.getOrElse(-1L)

  private def planForTrack(
      b: Array[Byte], mdia: (Long, Long), stbl: (Long, Long),
      strideMs: Int, maxFrames: Int, shift: Long = 0L): Array[PlannedSample] = {
    val timescale = mediaTimescale(b, mdia)
    if (timescale <= 0) return null
    val n = sampleCount(b, stbl).getOrElse(return null)
    if (n <= 0) return Array.empty
    val (ts0, te0) = child(b, stbl._1, stbl._2, "stts").getOrElse(return null)
    if (ts0 + 8 > te0) return null
    val runsInBox = beU32(b, (ts0 + 4).toInt)
    val runs = math.min(runsInBox, (te0 - ts0 - 8) / 8).toInt
    if (runs <= 0) return null
    val offsets = new SampleOffsets(b, stbl)
    val out = new scala.collection.mutable.ArrayBuffer[PlannedSample](
      math.min(maxFrames, 64))
    var run = 0
    var base = 0L // run start in media ticks
    var idx0 = 0L // run first sample index
    var k = 0L // next stride boundary ordinal
    var done = false
    while (!done && run < runs && out.length < maxFrames) {
      val c = beU32(b, (ts0 + 8 + 8L * run).toInt)
      val d = beU32(b, (ts0 + 12 + 8L * run).toInt)
      if (c <= 0) { run += 1 } // empty run: no time, no samples
      else if (d <= 0) {
        // zero-DURATION samples occupy index space but no time: no stride
        // boundary can land inside the run, but the index cursor must
        // advance or every later sample is reported one run early
        idx0 += c
        run += 1
      } else {
        val runEnd = base + c * d
        var inRun = true
        while (inRun && out.length < maxFrames) {
          // boundary k in media ticks, floor — exact for the common
          // timescale-divides-1000 cases and monotone always. An elst
          // shift moves every PRESENTATION boundary forward by the edit's
          // media_time, and reported times subtract it back out
          val tk = k * strideMs * timescale / 1000L + shift
          if (tk >= runEnd || tk >= MaxTicks) inRun = false
          else {
            val j = (tk - base) / d
            val i = idx0 + j
            if (i >= n) { inRun = false; done = true } // table shorter than stts
            else {
              val start = base + j * d
              out += PlannedSample(i, (start - shift) * 1000L / timescale,
                offsets.byteOff(i))
              // skip every boundary inside this sample: smallest k with
              // k·strideMs·timescale/1000 + shift >= sample end (ceil)
              val e = start + d
              k = ((e - shift) * 1000L + strideMs.toLong * timescale - 1) /
                (strideMs.toLong * timescale)
            }
          }
        }
        base = runEnd
        idx0 += c
        run += 1
        if (base >= MaxTicks) done = true
      }
    }
    out.toArray
  }

  /**
   * KEYFRAME planning from the `stss` sync-sample table: the samples a
   * decoder can actually start at — the real "one thumbnail per shot" /
   * "split at keyframes" primitive (frame extraction at arbitrary t must
   * seek to the preceding sync sample first). Emits each sync sample's
   * index, start time (stts + mdhd timescale) and byte offset, capped at
   * `maxFrames`. Per ISO 14496-12, an ABSENT stss means every sample is a
   * sync sample — then the plan is simply the first `maxFrames` samples.
   * Entries are validated ascending and ≤ the sample count; a violation
   * ends the plan (corrupt data, not an exception). One forward walk over
   * the stts runs serves all entries: O(runs + emitted), never per-sample.
   * Null for non-MP4 bytes, no video track, or missing stts/mdhd.
   */
  def keyframePlan(b: Array[Byte], maxFrames: Int): Array[PlannedSample] =
    try {
      require(maxFrames > 0 && maxFrames <= 1000000, "need 0 < maxFrames <= 1e6")
      val moov = videoTracks(b).iterator
        .map { case (trak, mdia, stbl) =>
          keyframesForTrack(b, mdia, stbl, maxFrames, elstShift(b, trak)) }
        .collectFirst { case p if p != null => p }
        .orNull
      // empty moov tables + moof fragments = a DASH/CMAF segment: plan
      // keyframes from the trun sample-flags sync bits instead
      if (moov != null && moov.nonEmpty) moov
      else {
        val frag = fragKeyframePlan(b, maxFrames)
        if (frag != null) frag else moov
      }
    } catch { case _: IndexOutOfBoundsException => null }

  private def keyframesForTrack(
      b: Array[Byte], mdia: (Long, Long), stbl: (Long, Long),
      maxFrames: Int, shift: Long = 0L): Array[PlannedSample] = {
    val timescale = mediaTimescale(b, mdia)
    if (timescale <= 0) return null
    val n = sampleCount(b, stbl).getOrElse(return null)
    if (n <= 0) return Array.empty
    val (ts0, te0) = child(b, stbl._1, stbl._2, "stts").getOrElse(return null)
    if (ts0 + 8 > te0) return null
    val runs = math.min(beU32(b, (ts0 + 4).toInt), (te0 - ts0 - 8) / 8).toInt
    if (runs <= 0) return null
    val offsets = new SampleOffsets(b, stbl)
    // forward run cursor shared by all (ascending) sync indexes
    var run = 0
    var base = 0L
    var idx0 = 0L
    def startTicks(i: Long): Long = {
      while (run < runs) {
        val c = beU32(b, (ts0 + 8 + 8L * run).toInt)
        val d = beU32(b, (ts0 + 12 + 8L * run).toInt)
        if (c <= 0) run += 1 // empty run carries neither time nor samples
        else if (d <= 0) {
          // zero-DURATION samples still occupy index space (real muxers
          // emit them): they all start at the run boundary
          if (i < idx0 + c) return base
          idx0 += c
          run += 1
        } else if (c > (MaxTicks - base) / d) return -1L // lying table
        else if (i < idx0 + c) return base + (i - idx0) * d
        else { base += c * d; idx0 += c; run += 1 }
      }
      -1L // stts covers fewer samples than stsz claims
    }
    val out = new scala.collection.mutable.ArrayBuffer[PlannedSample](
      math.min(maxFrames, 64))
    child(b, stbl._1, stbl._2, "stss") match {
      case Some((ss, se)) =>
        if (ss + 8 > se) return null
        val cnt = math.min(beU32(b, (ss + 4).toInt), (se - ss - 8) / 4)
        var e = 0L
        var prev = 0L
        var ok = true
        while (ok && e < cnt && out.length < maxFrames) {
          val num = beU32(b, (ss + 8 + 4 * e).toInt) // 1-based sample number
          if (num <= prev || num > n) ok = false
          else {
            prev = num
            val i = num - 1
            val t = startTicks(i)
            if (t < 0) ok = false
            else {
              out += PlannedSample(i, (t - shift) * 1000L / timescale,
                offsets.byteOff(i))
              e += 1
            }
          }
        }
      case None =>
        var i = 0L
        var ok = true
        while (ok && i < n && out.length < maxFrames) {
          val t = startTicks(i)
          if (t < 0) ok = false
          else {
            out += PlannedSample(i, (t - shift) * 1000L / timescale,
              offsets.byteOff(i))
            i += 1
          }
        }
    }
    out.toArray
  }

  /** Lazy accessors over the chunk/size tables: sample index → byte
   *  offset of its data. -1 when any needed table is absent, truncated,
   *  or the within-chunk walk exceeds [[MaxChunkWalk]]. */
  private final class SampleOffsets(b: Array[Byte], stbl: (Long, Long)) {
    // stsz: const size or u32 table; stz2: packed 4/8/16-bit table
    private val stsz = child(b, stbl._1, stbl._2, "stsz")
    private val stz2 = child(b, stbl._1, stbl._2, "stz2")
    private val constSize: Long = stsz match {
      case Some((zs, ze)) if zs + 12 <= ze => beU32(b, (zs + 4).toInt)
      case _ => 0L
    }
    /** size of sample i, or -1 */
    private def sampleSize(i: Long): Long = {
      if (constSize > 0) return constSize
      stsz match {
        case Some((zs, ze)) =>
          val off = zs + 12 + 4 * i
          if (off + 4 <= ze) beU32(b, off.toInt) else -1L
        case None => stz2 match {
          case Some((zs, ze)) if zs + 12 <= ze =>
            val fieldSize = b((zs + 7).toInt) & 0xff
            fieldSize match {
              case 4 => // packed nibbles, high nibble first
                val off = zs + 12 + i / 2
                if (off + 1 <= ze)
                  if (i % 2 == 0) ((b(off.toInt) >> 4) & 0xf).toLong
                  else (b(off.toInt) & 0xf).toLong
                else -1L
              case 8 =>
                val off = zs + 12 + i
                if (off + 1 <= ze) b(off.toInt) & 0xffL else -1L
              case 16 =>
                val off = zs + 12 + 2 * i
                if (off + 2 <= ze)
                  ((b(off.toInt) & 0xffL) << 8) | (b(off.toInt + 1) & 0xffL)
                else -1L
              case _ => -1L
            }
          case _ => -1L
        }
      }
    }
    // stsc: runs of (first_chunk 1-based, samples_per_chunk, desc_index)
    private val stsc = child(b, stbl._1, stbl._2, "stsc")
    // stco (u32) or co64 (u64) chunk offsets
    private val stco = child(b, stbl._1, stbl._2, "stco")
    private val co64 = child(b, stbl._1, stbl._2, "co64")
    private def chunkOffset(chunk: Long): Long = {
      stco match {
        case Some((cs, ce)) =>
          val off = cs + 8 + 4 * chunk
          if (chunk < beU32(b, (cs + 4).toInt) && off + 4 <= ce)
            beU32(b, off.toInt)
          else -1L
        case None => co64 match {
          case Some((cs, ce)) =>
            val off = cs + 8 + 8 * chunk
            if (chunk < beU32(b, (cs + 4).toInt) && off + 8 <= ce) {
              val v = beU64(b, off.toInt)
              if (v < 0 || v >= MaxTicks) -1L else v
            } else -1L
          case None => -1L
        }
      }
    }
    /** byte offset of sample i's data, or -1 */
    def byteOff(i: Long): Long = {
      val (cs, ce) = stsc.getOrElse(return -1L)
      if (cs + 8 > ce) return -1L
      val entries = math.min(beU32(b, (cs + 4).toInt), (ce - cs - 8) / 12).toInt
      if (entries <= 0) return -1L
      // walk stsc runs: run r covers chunks first(r)..first(r+1)-1, each
      // holding spc(r) samples — find the run containing sample i
      var r = 0
      var cum = 0L // samples before current run
      var chunk = -1L
      var within = -1L
      var spcOfChunk = 0L
      while (r < entries && chunk < 0) {
        val first = beU32(b, (cs + 8 + 12L * r).toInt) // 1-based
        val spc = beU32(b, (cs + 12 + 12L * r).toInt)
        if (first <= 0 || spc <= 0) return -1L
        val nextFirst =
          if (r + 1 < entries) beU32(b, (cs + 20 + 12L * r).toInt)
          else Long.MaxValue // open-ended last run
        if (nextFirst <= first && r + 1 < entries) return -1L
        val runChunks = nextFirst - first
        val runSamples =
          if (runChunks >= Long.MaxValue / spc) Long.MaxValue
          else runChunks * spc
        if (i - cum < runSamples) {
          chunk = first - 1 + (i - cum) / spc
          within = (i - cum) % spc
          spcOfChunk = spc
        } else {
          cum += runSamples
          r += 1
        }
      }
      if (chunk < 0) return -1L
      val co = chunkOffset(chunk)
      if (co < 0) return -1L
      if (within > MaxChunkWalk) return -1L
      var off = co
      var m = i - within
      while (m < i) {
        val sz = sampleSize(m)
        if (sz < 0) return -1L
        off += sz
        m += 1
      }
      if (off < 0 || off >= MaxTicks) -1L else off
    }
  }

  // ------------------------------------------------------------------
  // Fragmented MP4 (moof/traf/trun): DASH/CMAF segments carry their
  // samples in movie fragments — the moov sample tables are empty, so
  // the moov-resident folds above plan zero rows. The walk below is
  // their traf twin: trex defaults -> tfhd overrides -> trun per-sample
  // entries, decode times from tfdt (or the running cursor), byte
  // offsets from base-data-offset / default-base-is-moof + trun
  // data_offset + cumulative sizes, keyframes from the sample-flags
  // sample_is_non_sync_sample bit (the fragment spelling of stss).
  // ------------------------------------------------------------------

  /** Lying trun sample_counts must not stall a task: the fragment walk
   *  touches at most this many samples. */
  private val MaxFragSamples = 1 << 20

  /** One fragment-resident sample: decode start ticks, duration ticks,
   *  payload size, ABSOLUTE byte offset (-1 = unresolvable), sync. */
  private final case class FragSample(
      startTicks: Long, dur: Long, size: Long, byteOff: Long, sync: Boolean)

  /** (track_ID, mdia range) of every video trak — fragment planning keys
   *  traf/tfhd track_IDs against tkhd's. */
  private def videoTrackIds(b: Array[Byte])
      : List[(Long, (Long, Long), Long)] = {
    if (b == null || b.length < 16 || boxType(b, 0) != "ftyp") return Nil
    val moov = child(b, 0, b.length, "moov").getOrElse(return Nil)
    val out = List.newBuilder[(Long, (Long, Long), Long)]
    for ((t, ts, te) <- children(b, moov._1, moov._2) if t == "trak") {
      val tid = child(b, ts, te, "tkhd").flatMap { case (hs, he) =>
        (b(hs.toInt) & 0xff) match {
          case 0 if hs + 16 <= he => Some(beU32(b, (hs + 12).toInt))
          case 1 if hs + 24 <= he => Some(beU32(b, (hs + 20).toInt))
          case _ => None
        }
      }
      child(b, ts, te, "mdia").foreach { case (ms, me) =>
        val isVideo = child(b, ms, me, "hdlr").exists { case (hs, he) =>
          hs + 12 <= he && boxType(b, (hs + 4).toInt) == "vide"
        }
        if (isVideo && tid.isDefined)
          out += ((tid.get, (ms, me), elstShift(b, (ts, te))))
      }
    }
    out.result()
  }

  /** moov/mvex/trex defaults for `trackId`: (duration, size, flags);
   *  zeros when absent (then tfhd/trun must supply the values). */
  private def trexDefaults(b: Array[Byte], trackId: Long): (Long, Long, Long) = {
    val r = for {
      moov <- child(b, 0, b.length, "moov").iterator
      (t, s, e) <- children(b, moov._1, moov._2) if t == "mvex"
      (t2, ts, te) <- children(b, s, e)
      if t2 == "trex" && ts + 24 <= te && beU32(b, (ts + 4).toInt) == trackId
    } yield (beU32(b, (ts + 12).toInt), beU32(b, (ts + 16).toInt),
      beU32(b, (ts + 20).toInt))
    r.nextOption().getOrElse((0L, 0L, 0L))
  }

  /** Every fragment-resident sample of `trackId`, file order, bounded by
   *  [[MaxFragSamples]]. Null when the file has no moof box at all (the
   *  caller keeps the moov-resident answer); bounds violations end the
   *  walk early (corrupt data, never an exception). */
  private def fragSamples(b: Array[Byte], trackId: Long): Array[FragSample] = {
    val (trexDur, trexSize, trexFlags) = trexDefaults(b, trackId)
    var sawMoof = false
    val out = new scala.collection.mutable.ArrayBuffer[FragSample](64)
    var cursor = 0L // decode time continues across fragments without tfdt
    for ((t, moofStart, ms, me) <- childrenWithStart(b, 0, b.length) if t == "moof") {
      sawMoof = true
      for ((tt, fs, fe) <- children(b, ms, me) if tt == "traf") {
        child(b, fs, fe, "tfhd").foreach { case (hs, he) =>
          if (hs + 8 <= he && beU32(b, (hs + 4).toInt) == trackId) {
            val tfFlags = beU32(b, hs.toInt) & 0xffffff
            var p = hs + 8
            var base = moofStart // default-base-is-moof AND the absent case
            if ((tfFlags & 0x1) != 0 && p + 8 <= he) { base = beU64(b, p.toInt); p += 8 }
            // a forged u64 base (bit 63 set reads negative, or a value
            // past the offset guard) makes every offset in this traf
            // unusable — the moov twin's SampleOffsets discipline
            if (base < 0 || base >= MaxTicks) base = -1
            if ((tfFlags & 0x2) != 0) p += 4 // sample_description_index
            var defDur = trexDur
            var defSize = trexSize
            var defFlags = trexFlags
            if ((tfFlags & 0x8) != 0 && p + 4 <= he) { defDur = beU32(b, p.toInt); p += 4 }
            if ((tfFlags & 0x10) != 0 && p + 4 <= he) { defSize = beU32(b, p.toInt); p += 4 }
            if ((tfFlags & 0x20) != 0 && p + 4 <= he) { defFlags = beU32(b, p.toInt); p += 4 }
            var decode = child(b, fs, fe, "tfdt") match {
              case Some((ds, de)) =>
                (b(ds.toInt) & 0xff) match {
                  case 1 if ds + 12 <= de => beU64(b, (ds + 4).toInt)
                  case 0 if ds + 8 <= de => beU32(b, (ds + 4).toInt)
                  case _ => cursor
                }
              case None => cursor
            }
            // a forged tfdt with bit 63 set reads negative and would emit
            // negative start times past every guard: poison the cursor so
            // the MaxTicks loop guard skips the traf as corrupt
            if (decode < 0) decode = MaxTicks
            var dataPos = -1L // unresolvable until a trun supplies data_offset
            for ((rt, rs, re) <- children(b, fs, fe) if rt == "trun") {
              if (rs + 8 <= re) {
                val trFlags = beU32(b, rs.toInt) & 0xffffff
                val count = beU32(b, (rs + 4).toInt)
                var q = rs + 8
                if ((trFlags & 0x1) != 0 && q + 4 <= re) {
                  // s32 data_offset; a poisoned base keeps offsets at -1
                  dataPos = if (base < 0) -1L else base + beU32(b, q.toInt).toInt
                  q += 4
                }
                var firstFlags = -1L
                if ((trFlags & 0x4) != 0 && q + 4 <= re) {
                  firstFlags = beU32(b, q.toInt); q += 4
                }
                val perSample = 4 * (((trFlags >> 8) & 1) + ((trFlags >> 9) & 1) +
                  ((trFlags >> 10) & 1) + ((trFlags >> 11) & 1))
                var i = 0L
                var ok = true
                while (ok && i < count && out.length < MaxFragSamples &&
                  decode < MaxTicks) {
                  if (q + perSample > re) ok = false // lying count: end walk
                  else {
                    var dur = defDur
                    var size = defSize
                    var sflags = if (i == 0 && firstFlags >= 0) firstFlags else defFlags
                    if ((trFlags & 0x100) != 0) { dur = beU32(b, q.toInt); q += 4 }
                    if ((trFlags & 0x200) != 0) { size = beU32(b, q.toInt); q += 4 }
                    if ((trFlags & 0x400) != 0) {
                      sflags = beU32(b, q.toInt); q += 4
                      if (i == 0 && firstFlags >= 0) sflags = firstFlags
                    }
                    if ((trFlags & 0x800) != 0) q += 4 // cto: presentation, not decode
                    // lying cumulative offsets (past the guard) surface
                    // as -1, never as a plausible seek target
                    val off = if (dataPos < 0 || dataPos >= MaxTicks) -1L else dataPos
                    out += FragSample(decode, dur, size, off,
                      (sflags & 0x10000L) == 0L)
                    decode += dur
                    if (dataPos >= 0) dataPos += size
                    i += 1
                  }
                }
              }
            }
            cursor = decode
          }
        }
      }
    }
    if (!sawMoof) null else out.toArray
  }

  /** Keyframe plan from fragments — the traf twin of [[keyframesForTrack]]:
   *  sync samples (sample_is_non_sync_sample clear), index/time/offset. */
  private def fragKeyframePlan(b: Array[Byte], maxFrames: Int): Array[PlannedSample] = {
    videoTrackIds(b).iterator.map { case (tid, mdia, shift) =>
      val timescale = mediaTimescale(b, mdia)
      if (timescale <= 0) null
      else {
        val samples = fragSamples(b, tid)
        if (samples == null || samples.isEmpty) null
        else {
          val out = new scala.collection.mutable.ArrayBuffer[PlannedSample](
            math.min(maxFrames, 64))
          var i = 0
          while (i < samples.length && out.length < maxFrames) {
            val s = samples(i)
            if (s.sync)
              out += PlannedSample(i,
                (s.startTicks - shift) * 1000L / timescale, s.byteOff)
            i += 1
          }
          out.toArray
        }
      }
    }.collectFirst { case p if p != null => p }.orNull
  }

  /** Media-time stride plan from fragments — the traf twin of
   *  [[planForTrack]]: for each k·strideMs boundary, the sample playing
   *  at it, deduplicated, capped. */
  private def fragSamplePlan(
      b: Array[Byte], strideMs: Int, maxFrames: Int): Array[PlannedSample] = {
    videoTrackIds(b).iterator.map { case (tid, mdia, shift) =>
      val timescale = mediaTimescale(b, mdia)
      if (timescale <= 0) null
      else {
        val samples = fragSamples(b, tid)
        if (samples == null || samples.isEmpty) null
        else {
          val out = new scala.collection.mutable.ArrayBuffer[PlannedSample](
            math.min(maxFrames, 64))
          var k = 0L
          var i = 0
          while (i < samples.length && out.length < maxFrames) {
            val s = samples(i)
            if (s.dur > 0) {
              val end = s.startTicks + s.dur
              var tk = k * strideMs * timescale / 1000L + shift
              if (tk < s.startTicks) {
                // the boundary fell in a media-time GAP (tfdt jumps
                // between DASH segments): advance to the first boundary
                // at/after this sample's start — stts runs are gapless so
                // the moov fold never needs this. (startTicks - shift) is
                // positive here: the gap branch only fires when the
                // sample starts past the current shifted boundary
                k = ((s.startTicks - shift) * 1000L +
                  strideMs.toLong * timescale - 1) /
                  (strideMs.toLong * timescale)
                tk = k * strideMs * timescale / 1000L + shift
              }
              if (tk >= s.startTicks && tk < end && tk < MaxTicks) {
                out += PlannedSample(i,
                  (s.startTicks - shift) * 1000L / timescale, s.byteOff)
                k = ((end - shift) * 1000L + strideMs.toLong * timescale - 1) /
                  (strideMs.toLong * timescale)
              }
            }
            i += 1
          }
          out.toArray
        }
      }
    }.collectFirst { case p if p != null => p }.orNull
  }

  /** Fragment-resident sample count of the first video track with
   *  fragments, or null when the file has no moofs. */
  private def fragFrameCount(b: Array[Byte]): java.lang.Long =
    videoTrackIds(b).iterator.map { case (tid, _, _) =>
      val s = fragSamples(b, tid)
      if (s == null || s.isEmpty) null
      else java.lang.Long.valueOf(s.length.toLong)
    }.collectFirst { case n if n != null => n }.orNull
}

/** `video_frames(blob)` → the first video track's stsz sample count
 *  (long), null for non-MP4 bytes or no video track. */
case class VideoFrames(child: Expression) extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType = LongType
  override def decode(in: Array[Any]): Any = Mp4Frames.frameCount(blob(in))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "video_frames"
}

object VideoFrames {
  def apply(col: Column): Column = GraftShims.column(new VideoFrames(GraftShims.expression(col)))
}

/** Row/array bridge for [[Mp4Frames.samplePlan]] shared by the
 *  interpreted and generated code paths of [[VideoSamplePlan]]. */
object Mp4SamplePlanEval {
  val elementType: StructType = StructType(Seq(
    StructField("frame_idx", LongType, nullable = false),
    StructField("t_ms", LongType, nullable = false),
    StructField("byte_off", LongType, nullable = true)))

  def planArray(b: Array[Byte], strideMs: Int, maxFrames: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val plan = Mp4Frames.samplePlan(b, strideMs, maxFrames)
    if (plan == null) return null
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      plan.map[Any](p => new GenericInternalRow(Array[Any](
        p.idx, p.tMs, if (p.byteOff < 0) null else p.byteOff))))
  }
}

/** `video_sample_plan(blob, strideMs, maxFrames)` →
 *  array<struct<frame_idx, t_ms, byte_off>> planned from the real sample
 *  tables ([[Mp4Frames.samplePlan]]); null for non-MP4 bytes / no video
 *  track / missing stts. byte_off is null when the chunk or size tables
 *  don't cover the sample. */
case class VideoSamplePlan(child: Expression, strideMs: Int, maxFrames: Int)
    extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType =
    ArrayType(Mp4SamplePlanEval.elementType, containsNull = false)
  override def decode(in: Array[Any]): Any =
    Mp4SamplePlanEval.planArray(blob(in), strideMs, maxFrames)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "video_sample_plan"
}

object VideoSamplePlan {
  def apply(col: Column, strideMs: Int, maxFrames: Int): Column =
    GraftShims.column(new VideoSamplePlan(GraftShims.expression(col), strideMs, maxFrames))
}

/** Row/array bridge for [[Mp4Frames.keyframePlan]] shared by the
 *  interpreted and generated code paths of [[VideoKeyframes]]. */
object Mp4KeyframeEval {
  def keyframeArray(b: Array[Byte], maxFrames: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val plan = Mp4Frames.keyframePlan(b, maxFrames)
    if (plan == null) return null
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      plan.map[Any](p => new GenericInternalRow(Array[Any](
        p.idx, p.tMs, if (p.byteOff < 0) null else p.byteOff))))
  }
}

/** `video_keyframes(blob, maxFrames)` →
 *  array<struct<frame_idx, t_ms, byte_off>> of the stss sync samples
 *  ([[Mp4Frames.keyframePlan]]; every sample when stss is absent, per
 *  spec); null for non-MP4 bytes / no video track / missing stts. */
case class VideoKeyframes(child: Expression, maxFrames: Int)
    extends BlobDecoder with UnaryLike[Expression] {
  override def dataType: DataType =
    ArrayType(Mp4SamplePlanEval.elementType, containsNull = false)
  override def decode(in: Array[Any]): Any =
    Mp4KeyframeEval.keyframeArray(blob(in), maxFrames)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "video_keyframes"
}

object VideoKeyframes {
  def apply(col: Column, maxFrames: Int): Column =
    GraftShims.column(new VideoKeyframes(GraftShims.expression(col), maxFrames))
}

/** Minimal ISO-BMFF writer (ftyp + moov{mvhd, trak{tkhd, mdia{hdlr(vide),
 *  minf{stbl{stsz}}}}}) for derived-metadata pipelines and fixtures —
 *  every box a full-size spec layout, parseable by [[Mp4Headers]] and
 *  [[Mp4Frames]]. */
object Mp4Codec {

  private def box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](8 + payload.length)
    val size = out.length
    out(0) = (size >>> 24).toByte; out(1) = (size >>> 16).toByte
    out(2) = (size >>> 8).toByte; out(3) = size.toByte
    var i = 0
    while (i < 4) { out(4 + i) = typ.charAt(i).toByte; i += 1 }
    System.arraycopy(payload, 0, out, 8, payload.length)
    out
  }

  /** Optional full sample-table layout for [[encode]] fixtures:
   *  stts run-length deltas, one of three size-table encodings (const
   *  stsz / u32 stsz table / packed stz2), and chunk maps (uniform stsc
   *  runs + stco or co64 offsets). */
  final case class SampleTables(
      mediaTimescale: Int,
      sttsRuns: Seq[(Long, Long)], // (sample_count, sample_delta)
      constSampleSize: Long = 0, // > 0 → stsz with constant size
      sampleSizes: Seq[Long] = Nil, // non-empty → per-sample table
      stz2FieldSize: Int = 0, // 4/8/16 → sizes packed as stz2 instead
      samplesPerChunk: Int = 0, // > 0 → stsc single uniform run
      chunkOffsets: Seq[Long] = Nil, // stco entries
      co64: Boolean = false, // write co64 (u64) instead of stco
      syncSamples: Seq[Long] = Nil) // stss entries (1-based sample numbers)

  def encode(timescale: Int, durationTicks: Long, width: Int, height: Int,
             nFrames: Long, tail: Array[Byte] = Array.emptyByteArray,
             tables: SampleTables = null,
             trex: (Long, Long, Long) = null,
             elst: Seq[(Long, Long)] = Nil, // (segment_duration, media_time)
             elstV1: Boolean = false): Array[Byte] = {
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0) ++
      "isom".getBytes("US-ASCII"))
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++
      be32(timescale) ++ be32(durationTicks) ++ new Array[Byte](80))
    // unity matrix, 36 bytes: [a b u, c d v, x y w] row-major 16.16/2.30
    val matrix = be32(0x00010000L) ++ new Array[Byte](12) ++
      be32(0x00010000L) ++ new Array[Byte](12) ++ be32(0x40000000L)
    val tkhd = box("tkhd", be32(3) ++ be32(0) ++ be32(0) ++ be32(1) ++
      be32(0) ++ be32(durationTicks) ++ new Array[Byte](16) ++ matrix ++
      be32(width.toLong << 16) ++ be32(height.toLong << 16))
    val hdlr = box("hdlr", be32(0) ++ be32(0) ++
      "vide".getBytes("US-ASCII") ++ new Array[Byte](13))
    val stblBoxes: Array[Byte] =
      if (tables == null) box("stsz", be32(0) ++ be32(0) ++ be32(nFrames))
      else {
        val t = tables
        val stts = box("stts", be32(0) ++ be32(t.sttsRuns.length) ++
          t.sttsRuns.flatMap { case (c, d) => be32(c) ++ be32(d) }.toArray)
        val sizeBox =
          if (t.stz2FieldSize > 0) {
            val packed = t.stz2FieldSize match {
              case 4 =>
                t.sampleSizes.grouped(2).flatMap { g =>
                  val hi = g.head.toInt & 0xf
                  val lo = if (g.length > 1) g(1).toInt & 0xf else 0
                  Seq(((hi << 4) | lo).toByte)
                }.toArray
              case 8 => t.sampleSizes.map(_.toByte).toArray
              case 16 => t.sampleSizes.flatMap(s =>
                Seq(((s >> 8) & 0xff).toByte, (s & 0xff).toByte)).toArray
              case other => throw new IllegalArgumentException(
                s"stz2 field size must be 4/8/16: $other")
            }
            // stz2 payload: ver/flags(4) + reserved(3) + field_size(1) +
            // sample_count(4) + packed entries
            box("stz2", be32(0) ++ Array[Byte](0, 0, 0) ++
              Array(t.stz2FieldSize.toByte) ++
              be32(t.sampleSizes.length) ++ packed)
          } else if (t.sampleSizes.nonEmpty)
            box("stsz", be32(0) ++ be32(0) ++ be32(t.sampleSizes.length) ++
              t.sampleSizes.flatMap(be32).toArray)
          else
            box("stsz", be32(0) ++ be32(t.constSampleSize) ++ be32(nFrames))
        val chunkBoxes =
          if (t.samplesPerChunk <= 0) Array.emptyByteArray
          else {
            val stsc = box("stsc", be32(0) ++ be32(1) ++
              be32(1) ++ be32(t.samplesPerChunk) ++ be32(1))
            val offs =
              if (t.co64) box("co64", be32(0) ++ be32(t.chunkOffsets.length) ++
                t.chunkOffsets.flatMap(be64).toArray)
              else box("stco", be32(0) ++ be32(t.chunkOffsets.length) ++
                t.chunkOffsets.flatMap(be32).toArray)
            stsc ++ offs
          }
        val stss =
          if (t.syncSamples.isEmpty) Array.emptyByteArray
          else box("stss", be32(0) ++ be32(t.syncSamples.length) ++
            t.syncSamples.flatMap(be32).toArray)
        stts ++ sizeBox ++ chunkBoxes ++ stss
      }
    val stbl = box("stbl", stblBoxes)
    val minf = box("minf", stbl)
    val mdhdTs = if (tables == null) timescale else tables.mediaTimescale
    val mdhd = box("mdhd", be32(0) ++ be32(0) ++ be32(0) ++
      be32(mdhdTs) ++ be32(durationTicks) ++ be32(0x55c40000L).take(4))
    val mdia = box("mdia", mdhd ++ hdlr ++ minf)
    // trak/edts/elst: (segment_duration, media_time, rate=1.0) entries —
    // media_time -1 encodes an EMPTY edit (presentation delay)
    val edts =
      if (elst.isEmpty) Array.emptyByteArray
      else box("edts", box("elst",
        (if (elstV1) be32(0x01000000L) else be32(0)) ++ be32(elst.length) ++
          elst.toArray.flatMap { case (dur, mt) =>
            if (elstV1) be64(dur) ++ be64(mt) ++ be32(0x00010000L)
            else be32(dur) ++ be32(mt) ++ be32(0x00010000L)
          }))
    val trak = box("trak", tkhd ++ edts ++ mdia)
    // mvex/trex (track 1 defaults: duration, size, flags) marks the file
    // fragmented — samples then live in moof boxes appended as `tail`
    val mvex =
      if (trex == null) Array.emptyByteArray
      else box("mvex", box("trex", be32(0) ++ be32(1) ++ be32(1) ++
        be32(trex._1) ++ be32(trex._2) ++ be32(trex._3)))
    val moov = box("moov", mvhd ++ trak ++ mvex)
    ftyp ++ moov ++ tail
  }

  /** One fragment fixture sample: decode duration, payload size, and the
   *  raw sample_flags u32 (bit 16 set = non-sync). */
  final case class FragSampleFx(duration: Long, size: Long, flags: Long)

  /**
   * A movie fragment for fMP4 fixtures: moof{mfhd(seq), traf{tfhd(track,
   * default-base-is-moof [+ optional defaults]), tfdt(baseDecodeTime),
   * trun(s)}} followed by the mdat holding the samples' payload bytes.
   * Per-sample duration/size/flags fields are written only when the
   * matching `*Present` knob is on — absent fields exercise the
   * tfhd-default → trex-default chain. `splitTrunAt > 0` splits samples
   * into two truns, the SECOND without a data_offset (spec rule: its
   * data follows the previous trun's).
   */
  def fragment(seq: Long, trackId: Long, baseDecodeTime: Long,
      samples: Seq[FragSampleFx],
      durPresent: Boolean = true, sizePresent: Boolean = true,
      flagsPresent: Boolean = true,
      firstSampleFlags: Option[Long] = None,
      tfhdDefaults: (Option[Long], Option[Long], Option[Long]) = (None, None, None),
      tfdtV1: Boolean = true,
      splitTrunAt: Int = -1,
      largesizeMoof: Boolean = false): Array[Byte] = {
    val (dDur, dSize, dFlags) = tfhdDefaults
    var tfFlags = 0x020000L // default-base-is-moof
    if (dDur.isDefined) tfFlags |= 0x8
    if (dSize.isDefined) tfFlags |= 0x10
    if (dFlags.isDefined) tfFlags |= 0x20
    val tfhd = box("tfhd", be32(tfFlags) ++ be32(trackId) ++
      dDur.map(be32).getOrElse(Array.emptyByteArray) ++
      dSize.map(be32).getOrElse(Array.emptyByteArray) ++
      dFlags.map(be32).getOrElse(Array.emptyByteArray))
    val tfdt =
      if (tfdtV1) box("tfdt", be32(0x01000000L) ++ be64(baseDecodeTime))
      else box("tfdt", be32(0) ++ be32(baseDecodeTime))
    def trun(ss: Seq[FragSampleFx], dataOff: Option[Long],
        withFirst: Boolean): Array[Byte] = {
      var fl = 0L
      if (dataOff.isDefined) fl |= 0x1
      if (withFirst) fl |= 0x4
      if (durPresent) fl |= 0x100
      if (sizePresent) fl |= 0x200
      if (flagsPresent) fl |= 0x400
      box("trun", be32(fl) ++ be32(ss.length) ++
        dataOff.map(be32).getOrElse(Array.emptyByteArray) ++
        (if (withFirst) be32(firstSampleFlags.get) else Array.emptyByteArray) ++
        ss.flatMap(s =>
          (if (durPresent) be32(s.duration) else Array.emptyByteArray) ++
            (if (sizePresent) be32(s.size) else Array.emptyByteArray) ++
            (if (flagsPresent) be32(s.flags) else Array.emptyByteArray)).toArray)
    }
    val mfhd = box("mfhd", be32(0) ++ be32(seq))
    val (s1, s2) =
      if (splitTrunAt > 0) samples.splitAt(splitTrunAt) else (samples, Nil)
    def buildMoof(dataOff: Long): Array[Byte] = {
      val t1 = trun(s1, Some(dataOff), firstSampleFlags.isDefined)
      val t2 = if (s2.nonEmpty) trun(s2, None, withFirst = false)
               else Array.emptyByteArray
      val inner = mfhd ++ box("traf", tfhd ++ tfdt ++ t1 ++ t2)
      if (!largesizeMoof) box("moof", inner)
      else {
        // 64-bit largesize header (size field = 1 + u64): 16 bytes before
        // the payload — default-base-is-moof offsets count from the FIRST
        // of them, the corner a `payloadStart - 8` walk got wrong
        val out = new Array[Byte](16 + inner.length)
        out(3) = 1
        out(4) = 'm'; out(5) = 'o'; out(6) = 'o'; out(7) = 'f'
        System.arraycopy(be64(out.length.toLong), 0, out, 8, 8)
        System.arraycopy(inner, 0, out, 16, inner.length)
        out
      }
    }
    // trun's data_offset points at the mdat payload, relative to the moof
    // start (default-base-is-moof): size the moof once, then patch it in
    val moofSize = buildMoof(0).length
    val moof = buildMoof(moofSize + 8L)
    val payload = samples.zipWithIndex.flatMap { case (s, i) =>
      Array.tabulate[Byte](s.size.toInt)(k => ((k + i) % 251).toByte)
    }.toArray
    moof ++ box("mdat", payload)
  }
}
