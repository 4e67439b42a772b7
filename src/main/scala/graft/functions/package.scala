package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * User-facing function surface of the engine (the analog of
 * `org.apache.spark.sql.functions` for graft-specific expressions).
 */
package object functions {

  /** Cassandra Murmur3 partition token of the given partition-key columns.
   *  See [[graft.functions.CassandraToken]]. */
  def graft_token(cols: Column*): Column = CassandraToken(cols: _*)

  /** Cassandra RandomPartitioner token (md5 abs-BigInteger) as fixed-width
   *  16-byte binary. See [[graft.functions.CassandraRandomToken]]. */
  def graft_random_token(cols: Column*): Column = CassandraRandomToken(cols: _*)

  /** Codegen'd dot product of two `array<float>` columns (double result,
   *  left-to-right IEEE accumulation). See [[graft.functions.DotProductF32]]. */
  def dot_f32(a: Column, b: Column): Column = DotProductF32(a, b)

  /** Codegen'd dot product of two int8-quantized `array<tinyint>` columns
   *  (long result) — the quantized-ANN candidate loop. See
   *  [[graft.functions.DotProductI8]]. */
  def dot_i8(a: Column, b: Column): Column = DotProductI8(a, b)

  /** L2 norm of an `array<float>` column (double). */
  def norm_f32(a: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    sqrt(DotProductF32(a, a))
  }

  /** CQL `UUIDType` bytes of a canonical UUID string column (16 bytes,
   *  MSB-then-LSB) — Spark has no UUID type, so Cassandra UUID partition
   *  keys arrive as strings; `graft_token(uuid_bin(col))` assigns them
   *  their bit-exact ring token (binary components hash as-is). Pure
   *  built-ins (unhex of the dashless canonical form), fully codegen'd. */
  def uuid_bin(c: Column): Column = {
    import org.apache.spark.sql.functions.{translate, unhex}
    unhex(translate(c, "-", ""))
  }

  /** Register graft SQL functions on a session so `spark.sql("... graft_token(...)")`
   *  works. Idempotent. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.registerFunction(
      FunctionIdentifier("graft_token"),
      new ExpressionInfo(classOf[CassandraToken].getName, "graft_token"),
      (exprs: Seq[Expression]) => CassandraToken(exprs))
    registry.registerFunction(
      FunctionIdentifier("graft_random_token"),
      new ExpressionInfo(classOf[CassandraRandomToken].getName, "graft_random_token"),
      (exprs: Seq[Expression]) => CassandraRandomToken(exprs))
    registry.registerFunction(
      FunctionIdentifier("dot_f32"),
      new ExpressionInfo(classOf[DotProductF32].getName, "dot_f32"),
      (exprs: Seq[Expression]) => DotProductF32(exprs(0), exprs(1)))
    registry.registerFunction(
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("jaccard_sorted"),
      new ExpressionInfo(classOf[JaccardSorted].getName, "jaccard_sorted"),
      (exprs: Seq[Expression]) => JaccardSorted(exprs(0), exprs(1)))
    // integer arguments are resolved at registration: SQL passes them as
    // foldable expressions; anything else fails naming the argument
    def intArg(e: Expression, what: String): Int =
      (if (e.foldable) e.eval(null) else null) match {
        case i: Int => i
        case l: Long => l.toInt
        case _ => throw new IllegalArgumentException(
          s"$what must be an integer literal, got $e")
      }
    registry.registerFunction(
      FunctionIdentifier("word_shingle_hashes"),
      new ExpressionInfo(classOf[WordShingleHashes].getName, "word_shingle_hashes"),
      (exprs: Seq[Expression]) =>
        WordShingleHashes(exprs(0), intArg(exprs(1), "word_shingle_hashes n")))
    registry.registerFunction(
      FunctionIdentifier("ngram_md5_hashes"),
      new ExpressionInfo(classOf[NgramMd5Hashes].getName, "ngram_md5_hashes"),
      (exprs: Seq[Expression]) =>
        NgramMd5Hashes(exprs(0), intArg(exprs(1), "ngram_md5_hashes n"),
          intArg(exprs(2), "ngram_md5_hashes hexLen")))
    registry.registerFunction(
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
      (exprs: Seq[Expression]) =>
        MinHashSignature(exprs(0), intArg(exprs(1), "minhash_sig numPerms")))
    registry.registerFunction(
      FunctionIdentifier("band_hashes"),
      new ExpressionInfo(classOf[BandHashes].getName, "band_hashes"),
      (exprs: Seq[Expression]) => BandHashes(exprs(0),
        intArg(exprs(1), "band_hashes bands"), intArg(exprs(2), "band_hashes rowsPerBand")))
    registry.registerFunction(
      FunctionIdentifier("image_dims"),
      new ExpressionInfo(classOf[ImageDims].getName, "image_dims"),
      (exprs: Seq[Expression]) => new ImageDims(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("audio_meta"),
      new ExpressionInfo(classOf[AudioMeta].getName, "audio_meta"),
      (exprs: Seq[Expression]) => new AudioMeta(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("video_meta"),
      new ExpressionInfo(classOf[VideoMeta].getName, "video_meta"),
      (exprs: Seq[Expression]) => new VideoMeta(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("video_frames"),
      new ExpressionInfo(classOf[VideoFrames].getName, "video_frames"),
      (exprs: Seq[Expression]) => new VideoFrames(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("image_luma"),
      new ExpressionInfo(classOf[ImageLuma].getName, "image_luma"),
      (exprs: Seq[Expression]) => new ImageLuma(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("image_ahash"),
      new ExpressionInfo(classOf[ImageAHash].getName, "image_ahash"),
      (exprs: Seq[Expression]) => new ImageAHash(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("image_dhash"),
      new ExpressionInfo(classOf[ImageDHash].getName, "image_dhash"),
      (exprs: Seq[Expression]) => new ImageDHash(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("image_resize"),
      new ExpressionInfo(classOf[ImageResize].getName, "image_resize"),
      (exprs: Seq[Expression]) => new ImageResize(exprs.head,
        intArg(exprs(1), "image_resize width"), intArg(exprs(2), "image_resize height")))
    registry.registerFunction(
      FunctionIdentifier("video_sample_plan"),
      new ExpressionInfo(classOf[VideoSamplePlan].getName, "video_sample_plan"),
      // video_sample_plan(blob, strideMs, maxFrames): both knobs fold to ints
      (exprs: Seq[Expression]) => new VideoSamplePlan(exprs.head,
        intArg(exprs(1), "video_sample_plan strideMs"),
        intArg(exprs(2), "video_sample_plan maxFrames")))
    registry.registerFunction(
      FunctionIdentifier("audio_ahash"),
      new ExpressionInfo(classOf[AudioAHash].getName, "audio_ahash"),
      (exprs: Seq[Expression]) => new AudioAHash(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("audio_stats"),
      new ExpressionInfo(classOf[AudioStats].getName, "audio_stats"),
      // audio_stats(blob, silenceBelow): the threshold folds to an int
      (exprs: Seq[Expression]) => new AudioStats(exprs.head,
        intArg(exprs(1), "audio_stats silence threshold")))
    registry.registerFunction(
      FunctionIdentifier("audio_shash"),
      new ExpressionInfo(classOf[AudioSHash].getName, "audio_shash"),
      (exprs: Seq[Expression]) => new AudioSHash(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("mp3_meta"),
      new ExpressionInfo(classOf[Mp3MetaExpr].getName, "mp3_meta"),
      (exprs: Seq[Expression]) => new Mp3MetaExpr(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("flac_meta"),
      new ExpressionInfo(classOf[FlacMetaExpr].getName, "flac_meta"),
      (exprs: Seq[Expression]) => new FlacMetaExpr(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("video_keyframes"),
      new ExpressionInfo(classOf[VideoKeyframes].getName, "video_keyframes"),
      (exprs: Seq[Expression]) => new VideoKeyframes(exprs.head,
        intArg(exprs(1), "video_keyframes maxFrames")))
    registry.registerFunction(
      FunctionIdentifier("ogg_meta"),
      new ExpressionInfo(classOf[OggMetaExpr].getName, "ogg_meta"),
      (exprs: Seq[Expression]) => new OggMetaExpr(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("ogg_pagepoints"),
      new ExpressionInfo(classOf[OggPagepointsExpr].getName, "ogg_pagepoints"),
      (exprs: Seq[Expression]) => new OggPagepointsExpr(exprs.head,
        intArg(exprs(1), "ogg_pagepoints maxPoints")))
    registry.registerFunction(
      FunctionIdentifier("mkv_meta"),
      new ExpressionInfo(classOf[MkvMetaExpr].getName, "mkv_meta"),
      (exprs: Seq[Expression]) => new MkvMetaExpr(exprs.head))
    def boolLit(e: Expression, what: String): Boolean = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be a boolean literal, got $other")
    }
    registry.registerFunction(
      FunctionIdentifier("subtitle_cues"),
      new ExpressionInfo(classOf[SubtitleCuesExpr].getName, "subtitle_cues"),
      (exprs: Seq[Expression]) => new SubtitleCuesExpr(exprs.head,
        boolLit(exprs(1), "subtitle_cues requireVtt")))
    registry.registerFunction(
      FunctionIdentifier("audio_segments"),
      new ExpressionInfo(classOf[AudioSegmentsExpr].getName, "audio_segments"),
      (exprs: Seq[Expression]) => new AudioSegmentsExpr(exprs.head,
        intArg(exprs(1), "audio_segments silenceBelow"),
        intArg(exprs(2), "audio_segments minSilenceMs"),
        intArg(exprs(3), "audio_segments maxSegments")))
    registry.registerFunction(
      FunctionIdentifier("id3_tags"),
      new ExpressionInfo(classOf[Id3TagsExpr].getName, "id3_tags"),
      (exprs: Seq[Expression]) => new Id3TagsExpr(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("npy_meta"),
      new ExpressionInfo(classOf[NpyMetaExpr].getName, "npy_meta"),
      (exprs: Seq[Expression]) => new NpyMetaExpr(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("image_stats"),
      new ExpressionInfo(classOf[ImageStatsExpr].getName, "image_stats"),
      (exprs: Seq[Expression]) => new ImageStatsExpr(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("tar_entries"),
      new ExpressionInfo(classOf[TarEntriesExpr].getName, "tar_entries"),
      (exprs: Seq[Expression]) => new TarEntriesExpr(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("zip_entries"),
      new ExpressionInfo(classOf[ZipEntriesExpr].getName, "zip_entries"),
      (exprs: Seq[Expression]) => new ZipEntriesExpr(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("zip_stored_member"),
      new ExpressionInfo(classOf[ZipStoredMemberExpr].getName, "zip_stored_member"),
      (exprs: Seq[Expression]) => new ZipStoredMemberExpr(exprs(0), exprs(1)))
    registry.registerFunction(
      FunctionIdentifier("zip_member"),
      new ExpressionInfo(classOf[ZipMemberExpr].getName, "zip_member"),
      (exprs: Seq[Expression]) => new ZipMemberExpr(exprs(0), exprs(1),
        intArg(exprs(2), "zip_member maxBytes").toLong))
    registry.registerFunction(
      FunctionIdentifier("gunzip"),
      new ExpressionInfo(classOf[GunzipExpr].getName, "gunzip"),
      (exprs: Seq[Expression]) => new GunzipExpr(exprs.head,
        intArg(exprs(1), "gunzip maxBytes")))
    registry.registerFunction(
      FunctionIdentifier("mkv_cues"),
      new ExpressionInfo(classOf[MkvCuesExpr].getName, "mkv_cues"),
      (exprs: Seq[Expression]) => new MkvCuesExpr(exprs.head,
        intArg(exprs(1), "mkv_cues maxPoints")))
    registry.registerFunction(
      FunctionIdentifier("flac_pcm"),
      new ExpressionInfo(classOf[FlacPcmExpr].getName, "flac_pcm"),
      (exprs: Seq[Expression]) => new FlacPcmExpr(exprs.head,
        intArg(exprs(1), "flac_pcm maxSamples")))
    registry.registerFunction(
      FunctionIdentifier("flac_seekpoints"),
      new ExpressionInfo(classOf[FlacSeekpointsExpr].getName, "flac_seekpoints"),
      (exprs: Seq[Expression]) => new FlacSeekpointsExpr(exprs.head,
        intArg(exprs(1), "flac_seekpoints maxPoints")))
    registry.registerFunction(
      FunctionIdentifier("flac_pcm_from"),
      new ExpressionInfo(classOf[FlacPcmFromExpr].getName, "flac_pcm_from"),
      (exprs: Seq[Expression]) => new FlacPcmFromExpr(exprs(0), exprs(1),
        exprs(2), intArg(exprs(3), "flac_pcm_from maxSamples")))
    registry.registerFunction(
      FunctionIdentifier("zunstd"),
      new ExpressionInfo(classOf[ZunstdExpr].getName, "zunstd"),
      (exprs: Seq[Expression]) => new ZunstdExpr(exprs.head,
        intArg(exprs(1), "zunstd maxBytes")))
    registry.registerFunction(
      FunctionIdentifier("safetensors_tensors"),
      new ExpressionInfo(classOf[SafetensorsExpr].getName, "safetensors_tensors"),
      (exprs: Seq[Expression]) => new SafetensorsExpr(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("tfrecord_entries"),
      new ExpressionInfo(classOf[TfRecordEntriesExpr].getName, "tfrecord_entries"),
      (exprs: Seq[Expression]) => new TfRecordEntriesExpr(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("tfrecord_member"),
      new ExpressionInfo(classOf[TfRecordMemberExpr].getName, "tfrecord_member"),
      (exprs: Seq[Expression]) => new TfRecordMemberExpr(exprs(0), exprs(1)))
    registry.registerFunction(
      FunctionIdentifier("tar_member"),
      new ExpressionInfo(classOf[TarMemberExpr].getName, "tar_member"),
      (exprs: Seq[Expression]) => new TarMemberExpr(exprs(0), exprs(1)))
    registry.registerFunction(
      FunctionIdentifier("sign_bucket"),
      new ExpressionInfo(classOf[SignBucketExpr].getName, "sign_bucket"),
      (exprs: Seq[Expression]) => SignBucketExpr(exprs(0), intArg(exprs(1), "sign_bucket planes")))
    registry.registerFunction(
      FunctionIdentifier("dot_i8"),
      new ExpressionInfo(classOf[DotProductI8].getName, "dot_i8"),
      (exprs: Seq[Expression]) => DotProductI8(exprs(0), exprs(1)))
    registry.registerFunction(
      FunctionIdentifier("winnow_fp"),
      new ExpressionInfo(classOf[WinnowFingerprint].getName, "winnow_fp"),
      (exprs: Seq[Expression]) =>
        WinnowFingerprint(exprs(0), intArg(exprs(1), "winnow_fp k"),
          intArg(exprs(2), "winnow_fp w")))
    registry.registerFunction(
      FunctionIdentifier("http_body"),
      new ExpressionInfo(classOf[HttpBodyExtract].getName, "http_body"),
      (exprs: Seq[Expression]) => new HttpBodyExtract(exprs.head))
    registry.registerFunction(
      FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_normalize"),
      (exprs: Seq[Expression]) => UnicodeNormalize(exprs(0),
        exprs(1).eval(null) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => throw new IllegalArgumentException(
            s"expected a form literal (NFC/NFD/NFKC/NFKD), got $other")
        }))
    registry.registerFunction(
      FunctionIdentifier("uuid_bin"),
      new ExpressionInfo(classOf[org.apache.spark.sql.catalyst.expressions.Unhex].getName,
        "uuid_bin"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.catalyst.expressions.Unhex(
        org.apache.spark.sql.catalyst.expressions.StringTranslate(
          exprs.head,
          org.apache.spark.sql.catalyst.expressions.Literal("-"),
          org.apache.spark.sql.catalyst.expressions.Literal(""))))
  }
}
