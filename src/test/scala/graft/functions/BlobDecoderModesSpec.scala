package graft.functions

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types._

import graft.SparkSpec

object BlobDecoderModesSpec {

  /** Generated code only (whole-stage on, no interpreted fallback) versus
   *  interpreted only (whole-stage off, `NO_CODEGEN` projections). */
  val modes: Seq[(String, Map[String, String])] = Seq(
    "codegen" -> Map(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    "interpreted" -> Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  def withConfs[T](spark: SparkSession, confs: Map[String, String])(f: => T): T = {
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `(id, blob)` rows behind an RDD, so the projection runs at execution
   *  time: a local `Seq.toDF` relation is folded by the optimizer, which
   *  always evaluates interpreted. */
  def table(spark: SparkSession, blobType: DataType, blobs: Seq[Any]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        blobs.zipWithIndex.map { case (b, i) => Row(i + 1, b) }, 1),
      StructType(Seq(StructField("id", IntegerType), StructField("blob", blobType))))
}

/** Every [[BlobDecoder]] function, called by its SQL name, returns equal
 *  rows in generated and interpreted code over a valid blob, junk bytes, a
 *  truncated blob, an empty array and null; and rejects a wrong-typed input
 *  with its own message. */
class BlobDecoderModesSpec extends SparkSpec {
  import BlobDecoderModesSpec._

  /** A function: its call over the blob column, the valid input, and a
   *  wrong-typed call with the message analysis must give. */
  private case class Fn(name: String, call: String => String, valid: Any,
      wrong: String, message: String)

  private def unary(name: String, args: String, valid: Array[Byte]): Fn =
    Fn(name, b => s"$name($b$args)", valid, s"$name(42$args)",
      s"$name needs a binary column, got IntegerType")

  private val fns: Seq[Fn] = {
    val png = ImageCodec.encodePng(8, 8, 1, Array.tabulate[Byte](64)(i => (i * 4).toByte))
    val wav = AudioCodec.encodeWavPcm16(8000, 1,
      Array.tabulate(2048)(i => if ((i / 64) % 2 == 0) ((i % 16) - 8) * 2000 else 30))
    val mp4 = Mp4Codec.encode(timescale = 1000, durationTicks = 800, width = 64,
      height = 48, nFrames = 20, tables = Mp4Codec.SampleTables(
        mediaTimescale = 1000, sttsRuns = Seq((20L, 40L)), constSampleSize = 10,
        samplesPerChunk = 5, chunkOffsets = Seq(1000L, 2000L, 3000L, 4000L),
        syncSamples = Seq(1L, 6L, 11L, 16L)))
    val flac = FlacCodec.encodePcm16(16000, 1,
      Array.tabulate(100)(i => (i * 37 % 900) - 450), blockSize = 16, seekEvery = 2)
    val npy = NpyCodec.encode("<f4", fortran = false, Seq(2L, 2L), 16)
    val text = ("graft blob decoders " * 40).getBytes("UTF-8")
    val tar = ArchiveCodec.tar(Seq("a.txt" -> text, "b.npy" -> npy))
    val zip = ArchiveCodec.zipMixed(Seq(("a.npy", npy, 8), ("b.txt", text, 0)))
    val stored = ArchiveCodec.zipStored(Seq("a.npy" -> npy, "b.txt" -> text))
    val tfr = TensorShardCodec.tfrecord(Seq(text, npy))
    val pcmFrom = (b: String) => s"flac_pcm_from($b, " +
      s"try_element_at(flac_seekpoints($b, 64), 2).sample_off, " +
      s"try_element_at(flac_seekpoints($b, 64), 2).byte_off, 1048576)"
    Seq(
      unary("image_dims", "", png),
      unary("image_luma", "", png),
      unary("image_ahash", "", png),
      unary("image_dhash", "", png),
      unary("image_stats", "", png),
      unary("image_resize", ", 4, 4", png),
      unary("audio_meta", "", wav),
      unary("audio_ahash", "", wav),
      unary("audio_shash", "", wav),
      unary("audio_stats", ", 50", wav),
      unary("audio_segments", ", 50, 10, 16", wav),
      unary("video_meta", "", mp4),
      unary("video_frames", "", mp4),
      unary("video_sample_plan", ", 250, 10", mp4),
      unary("video_keyframes", ", 10", mp4),
      unary("mp3_meta", "", CodedAudioCodec.encodeMp3(10, 3, 9, 0, mono = true, nFrames = 4)),
      unary("flac_meta", "", CodedAudioCodec.encodeFlac(44100, 2, 16, 1000)),
      unary("flac_pcm", ", 1048576", flac),
      unary("flac_seekpoints", ", 64", flac),
      Fn("flac_pcm_from", pcmFrom, flac, "flac_pcm_from(X'00', 1, 2L, 64)",
        "flac_pcm_from needs (binary, bigint, bigint), got (BinaryType,IntegerType,LongType)"),
      unary("id3_tags", "", Id3Codec.encode(4, Seq(("TIT2", "title", 3), ("TPE1", "band", 0)))),
      unary("npy_meta", "", npy),
      Fn("subtitle_cues", b => s"subtitle_cues($b, true)",
        "WEBVTT\n\n00:00:01.000 --> 00:00:02.500\nhello\n\n00:03.000 --> 00:04.000\nbye\n",
        "subtitle_cues(X'00', true)", "subtitle_cues needs a string column, got BinaryType"),
      unary("ogg_meta", "", OggCodec.encodeVorbis(2, 44100, 88200L)),
      unary("ogg_pagepoints", ", 16", OggCodec.vorbisPaged(2, 44100, Seq(1000L, 2000L, 3000L))),
      unary("mkv_meta", "", MkvCodec.encode(42000.0, video = Some((1920, 1080)),
        audio = Some((2, 48000.0)))),
      unary("mkv_cues", ", 16", MkvCodec.encode(9000.0, cues = Seq((0L, 100L), (2000L, 5000L)))),
      unary("tar_entries", "", tar),
      Fn("tar_member", b => s"tar_member($b, 'a.txt')", tar, "tar_member(42, 'a.txt')",
        "tar_member needs (binary, string), got (IntegerType,StringType)"),
      unary("zip_entries", "", zip),
      Fn("zip_stored_member", b => s"zip_stored_member($b, 'a.npy')", stored,
        "zip_stored_member(X'00', 7)",
        "zip_stored_member needs (binary, string), got (BinaryType,IntegerType)"),
      Fn("zip_member", b => s"zip_member($b, 'a.npy', 1048576)", zip,
        "zip_member(42, 'a.npy', 1048576)",
        "zip_member needs (binary, string), got (IntegerType,StringType)"),
      unary("gunzip", ", 1048576", ArchiveCodec.gzip(text)),
      unary("zunstd", ", 1048576", ArchiveCodec.zstd(text)),
      unary("safetensors_tensors", "",
        TensorShardCodec.safetensors(Seq(("w", "F32", Seq(2L, 3L)), ("b", "F16", Seq(3L))))),
      unary("tfrecord_entries", "", tfr),
      Fn("tfrecord_member", b => s"tfrecord_member($b, 1)", tfr, "tfrecord_member(X'00', 'x')",
        "tfrecord_member needs (binary, int), got (BinaryType,StringType)"))
  }

  test("the table covers every SQL function built on the base") {
    graft.functions.registerAll(spark)
    val reg = spark.sessionState.functionRegistry
    val onBase = reg.listFunction().flatMap(reg.lookupFunction).filter { i =>
      scala.util.Try(Class.forName(i.getClassName))
        .map(classOf[BlobDecoder].isAssignableFrom).getOrElse(false)
    }.map(_.getName).toSet
    assert(onBase === fns.map(_.name).toSet)
    assert(onBase.size === 37)
  }

  for (fn <- fns) test(s"${fn.name}: codegen and interpreted agree on valid, junk, " +
      "truncated, empty and null inputs") {
    graft.functions.registerAll(spark)
    val (blobType, inputs) = fn.valid match {
      case s: String => (StringType: DataType,
        Seq(s, "junk \u0000 text", s.take(s.length / 2), "", null))
      case b: Array[Byte] => (BinaryType: DataType,
        Seq(b, Array.tabulate[Byte](97)(i => (i * 31 + 7).toByte),
          b.take(b.length / 2), Array.emptyByteArray, null))
    }
    val view = s"blobs_${fn.name}"
    table(spark, blobType, inputs).createOrReplaceTempView(view)
    val sql = s"SELECT id, ${fn.call("blob")} AS r FROM $view"
    val byMode = modes.map { case (mode, confs) =>
      withConfs(spark, confs) {
        val df = spark.sql(sql)
        assert(df.queryExecution.analyzed.expressions.exists(_.exists {
          case d: BlobDecoder => d.prettyName == fn.name
          case _ => false
        }), s"${fn.name} is not a BlobDecoder")
        val rows = df.collect().sortBy(_.getInt(0)).toSeq
        val wscg = df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
        assert(wscg === (mode == "codegen"), s"$mode plan:\n${df.queryExecution.executedPlan}")
        rows
      }
    }
    assert(byMode(0) === byMode(1))
    val r = byMode(0).map(_.get(1))
    assert(r(0) != null, s"${fn.name} decodes its valid input")
    assert(r(4) == null, s"${fn.name} of null is null")
    val e = intercept[AnalysisException](spark.sql(s"SELECT ${fn.wrong}").collect())
    assert(e.getMessage.contains(fn.message), e.getMessage)
  }
}
