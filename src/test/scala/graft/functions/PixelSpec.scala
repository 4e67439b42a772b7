package graft.functions

import java.util.zip.{CRC32, Deflater}

import graft.SparkSpec
import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

class PixelSpec extends SparkSpec {
  import spark.implicits._

  private def rndPixels(n: Int, seed: Long): Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.fill[Byte](n)(r.nextInt(256).toByte)
  }

  // ---- PNG round-trips: every filter type must reconstruct identically --

  test("PNG gray round-trip, all five filters + split IDAT") {
    val w = 13; val h = 7 // odd sizes exercise non-aligned strides
    val px = rndPixels(w * h, 42L)
    for (f <- 0 to 4; chunks <- Seq(1, 3)) {
      val bytes = ImageCodec.encodePng(w, h, 1, px, filterType = f, idatChunks = chunks)
      val img = ImagePixels.decodeLuma(bytes)
      assert(img != null, s"filter $f chunks $chunks decoded null")
      assert(img.width === w && img.height === h)
      assert(img.luma.toSeq === px.toSeq, s"filter $f chunks $chunks pixel mismatch")
    }
  }

  test("PNG RGB round-trip through integer BT.601 luma") {
    val w = 5; val h = 4
    val rgb = rndPixels(w * h * 3, 7L)
    for (f <- 0 to 4) {
      val bytes = ImageCodec.encodePng(w, h, 3, rgb, filterType = f)
      val img = ImagePixels.decodeLuma(bytes)
      assert(img != null && img.width === w && img.height === h)
      val expect = (0 until w * h).map { i =>
        ((77 * (rgb(3 * i) & 0xff) + 150 * (rgb(3 * i + 1) & 0xff) +
          29 * (rgb(3 * i + 2) & 0xff)) >> 8).toByte
      }
      assert(img.luma.toSeq === expect, s"filter $f")
    }
  }

  // hand-rolled encoder for color types the production encoder doesn't emit
  private def rawPng(w: Int, h: Int, colorType: Int, bpp: Int,
                     samples: Array[Byte], plte: Array[Byte] = null): Array[Byte] = {
    val stride = w * bpp
    val raw = new Array[Byte]((stride + 1) * h)
    for (y <- 0 until h) {
      raw(y * (stride + 1)) = 0 // filter None
      System.arraycopy(samples, y * stride, raw, y * (stride + 1) + 1, stride)
    }
    val d = new Deflater(); d.setInput(raw); d.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) comp.write(buf, 0, d.deflate(buf))
    d.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val len = data.length
      out.write(len >>> 24); out.write((len >>> 16) & 0xff)
      out.write((len >>> 8) & 0xff); out.write(len & 0xff)
      val tb = typ.getBytes("US-ASCII"); out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      val crc = new CRC32(); crc.update(tb, 0, 4); crc.update(data, 0, data.length)
      val c = crc.getValue.toInt
      out.write(c >>> 24); out.write((c >>> 16) & 0xff)
      out.write((c >>> 8) & 0xff); out.write(c & 0xff)
    }
    val ihdr = new Array[Byte](13)
    ihdr(3) = w.toByte; ihdr(7) = h.toByte; ihdr(8) = 8; ihdr(9) = colorType.toByte
    chunk("IHDR", ihdr)
    if (plte != null) chunk("PLTE", plte)
    chunk("IDAT", comp.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  test("PNG palette / gray+alpha / RGBA color types decode") {
    // palette: 3 entries, pixels index them
    val plte = Array[Byte](0, 0, 0, 100, 100, 100, 255.toByte, 255.toByte, 255.toByte)
    val pal = rawPng(3, 2, 3, 1, Array[Byte](0, 1, 2, 2, 1, 0), plte)
    assert(ImagePixels.decodeLuma(pal).luma.toSeq ===
      Seq[Byte](0, 100, 255.toByte, 255.toByte, 100, 0))
    // gray+alpha: luma is the gray sample, alpha ignored
    val ga = rawPng(2, 2, 4, 2,
      Array[Byte](10, 0, 20, 127, 30, 0, 40, 255.toByte))
    assert(ImagePixels.decodeLuma(ga).luma.toSeq === Seq[Byte](10, 20, 30, 40))
    // RGBA: BT.601 on RGB, alpha ignored
    val rgba = rawPng(1, 1, 6, 4, Array[Byte](255.toByte, 0, 0, 200.toByte))
    assert(ImagePixels.decodeLuma(rgba).luma.toSeq === Seq[Byte]((77 * 255 >> 8).toByte))
  }

  test("BMP gray round-trip, both row orders, padded strides") {
    val w = 5; val h = 3 // stride 15 → padded to 16
    val px = rndPixels(w * h, 11L)
    for (topDown <- Seq(false, true)) {
      val img = ImagePixels.decodeLuma(ImageCodec.encodeBmpGray(w, h, px, topDown))
      assert(img != null && img.width === w && img.height === h, s"topDown=$topDown")
      assert(img.luma.toSeq === px.toSeq, s"topDown=$topDown")
    }
  }

  test("hostile bytes are null data, never a hang: FDICT zlib, lying BMP palette") {
    // zlib FDICT: CMF=0x78 FLG=0x20 (checksum-valid, preset-dictionary bit
    // set) — inflate() then returns 0 without needing input, which must
    // bail out as corrupt data, not spin the task forever
    val png = ImageCodec.encodePng(4, 4, 1, rndPixels(16, 3L))
    // layout: sig(8) + IHDR box(25) + IDAT len/type(8) → zlib CMF at 41
    assert(png(41) == 0x78.toByte, "fixture drifted: zlib CMF not at 41")
    val fdict = png.clone(); fdict(42) = 0x20
    assert(ImagePixels.decodeLuma(fdict) == null)
    // 8-bit BMP whose color-count field lies as -1: must be null data,
    // not an uncaught IllegalArgumentException from copyOfRange
    val bmp = ImageCodec.encodeBmpGray(4, 4, rndPixels(16, 4L))
    val badPal = bmp.clone()
    badPal(28) = 8 // bpp 8 → palette expected
    for (i <- 46 to 49) badPal(i) = 0xff.toByte // biClrUsed = -1
    assert(ImagePixels.decodeLuma(badPal) == null)
  }

  test("undecodable bytes are null data: truncated, corrupt, foreign") {
    val good = ImageCodec.encodePng(4, 4, 1, rndPixels(16, 1L))
    assert(ImagePixels.decodeLuma(good.take(20)) == null) // truncated mid-IHDR body
    assert(ImagePixels.decodeLuma(good.take(40)) == null) // truncated IDAT
    assert(ImagePixels.decodeLuma("not an image".getBytes) == null)
    assert(ImagePixels.decodeLuma(null) == null)
    assert(ImagePixels.ahash64("junk".getBytes) == null)
    // interlaced flag rejected, not crashed
    val bad = good.clone(); bad(28) = 1
    assert(ImagePixels.decodeLuma(bad) == null)
  }

  test("resizeBox: exact box means, identity fast path") {
    // 16x16 where each 2x2 block is constant → 8x8 equals block values
    val src = new Array[Byte](256)
    for (y <- 0 until 16; x <- 0 until 16) src(y * 16 + x) = ((y / 2) * 8 + x / 2).toByte
    val out = ImagePixels.resizeBox(ImagePixels.Luma(16, 16, src), 8, 8)
    assert(out.toSeq === (0 until 64).map(_.toByte))
    val id = ImagePixels.resizeBox(ImagePixels.Luma(16, 16, src), 16, 16)
    assert(id eq src)
  }

  // ---- perceptual hashes --------------------------------------------

  private def patternPixels(p: Long): Array[Byte] =
    Array.tabulate[Byte](64)(i => if (((p >>> (63 - i)) & 1L) == 1L) 255.toByte else 0)

  test("aHash equals the planted pattern across every encoding variant") {
    val p = 0x1234_5678_9ABC_0DEFL & 0x7fff_ffff_ffff_ffffL
    val px = patternPixels(p)
    val variants =
      (0 to 4).map(f => ImageCodec.encodePng(8, 8, 1, px, filterType = f)) ++
        (0 to 4).map(f => ImageCodec.encodePng(8, 8, 1, px, filterType = f, idatChunks = 2)) ++
        Seq(ImageCodec.encodeBmpGray(8, 8, px), ImageCodec.encodeBmpGray(8, 8, px, topDown = true))
    // byte-different (pairwise), pixel-identical
    assert(variants.map(_.toSeq).distinct.size === variants.size)
    for (v <- variants) assert(ImagePixels.ahash64(v).longValue === p)
    // all-black and all-white degenerate to hash 0 (strict > mean)
    assert(ImagePixels.ahash64(ImageCodec.encodePng(8, 8, 1, new Array[Byte](64))).longValue === 0L)
    assert(ImagePixels.ahash64(
      ImageCodec.encodePng(8, 8, 1, Array.fill[Byte](64)(255.toByte))).longValue === 0L)
  }

  test("dHash closed form on 9x8 planted pattern") {
    val p = 0x0F0F_1357_2468_ACE0L
    // 9 wide: column 8 is zero, columns 0-7 carry P MSB-first per row
    val px = new Array[Byte](72)
    for (y <- 0 until 8; x <- 0 until 8)
      px(y * 9 + x) = if (((p >>> (63 - (y * 8 + x))) & 1L) == 1L) 255.toByte else 0
    val m = 0x0101010101010101L
    val expect = (p & ~(p << 1) & ~m) | (p & m)
    for (bytes <- Seq(ImageCodec.encodePng(9, 8, 1, px, filterType = 2),
                      ImageCodec.encodeBmpGray(9, 8, px))) {
      assert(ImagePixels.dhash64(bytes).longValue === expect)
    }
  }

  test("hash expressions run in codegen and interpreted modes") {
    val p = 0x00FF_00FF_0F0F_3355L
    val bytes = ImageCodec.encodePng(8, 8, 1, patternPixels(p), filterType = 3)
    // an RDD-backed relation: a local Seq.toDF projection is folded by the
    // optimizer, which evaluates it interpreted whatever the mode
    val df = BlobDecoderModesSpec.table(spark, BinaryType, Seq(bytes, "junk".getBytes, null))
    for ((mode, confs) <- BlobDecoderModesSpec.modes)
      BlobDecoderModesSpec.withConfs(spark, confs) {
        val got = df.select(col("id"), Dedup.imageAHash(col("blob")).as("h"))
          .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
        assert(got(1) === p, mode)
        assert(got(2) == null && got(3) == null, mode)
        val lum = df.filter(col("id") === 1)
          .select(ImageLuma(col("blob")).as("l")).select("l.width", "l.height")
          .as[(Int, Int)].head()
        assert(lum === ((8, 8)), mode)
      }
  }

  test("image near-dup: twins collapse, near images cluster, undecodable survive") {
    val base = 0x3C3C_5A5A_66FF_0081L & 0x7fff_ffff_ffff_ffffL
    val rows = Seq(
      1L -> ImageCodec.encodePng(8, 8, 1, patternPixels(base), filterType = 0),
      2L -> ImageCodec.encodePng(8, 8, 1, patternPixels(base), filterType = 4), // twin
      3L -> ImageCodec.encodeBmpGray(8, 8, patternPixels(base)), // twin
      4L -> ImageCodec.encodePng(8, 8, 1, patternPixels(base ^ 3L)), // hamming 2
      5L -> ImageCodec.encodePng(8, 8, 1, patternPixels(~base & 0x7fff_ffff_ffff_ffffL)), // far
      6L -> "not an image".getBytes) // undecodable
    val df = rows.toDF("id", "blob")
    val pairs = Dedup.imageHashPairs(df, "id", "blob", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L)))
    val kept = Dedup.dropNearDuplicateImages(df, "id", "blob", maxHamming = 3)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 5L, 6L))
  }

  test("cross-resolution twins collapse: the same picture at 16x16 and 8x8 " +
      "hashes identically through the resize") {
    val p = 0x1122_4488_CCEE_0770L
    val small = ImageCodec.encodePng(8, 8, 1, patternPixels(p))
    val big = ImageCodec.encodePng(16, 16, 1, Array.tabulate[Byte](256) { i =>
      val bx = (i % 16) / 2; val by = (i / 16) / 2
      if (((p >>> (63 - (by * 8 + bx))) & 1L) == 1L) 255.toByte else 0
    })
    assert(ImagePixels.ahash64(small).longValue === ImagePixels.ahash64(big).longValue)
    val pairs = Dedup.imageHashPairs(
      Seq(1L -> small, 2L -> big).toDF("id", "blob"), "id", "blob", 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("image_resize: thumbnail round-trips the box means; null data stays null") {
    // 16x16 with 2x2-constant blocks → the 8x8 thumb IS the block values
    val p = 0x5AA5_3CC3_0FF0_8118L
    val px = Array.tabulate[Byte](256) { i =>
      val bx = (i % 16) / 2; val by = (i / 16) / 2
      if (((p >>> (63 - (by * 8 + bx))) & 1L) == 1L) 255.toByte else 0
    }
    val big = ImageCodec.encodePng(16, 16, 1, px, filterType = 1)
    val df = Seq((1L, big), (2L, "junk".getBytes)).toDF("id", "blob")
      .select(col("id"), ImageResize(col("blob"), 8, 8).as("t"))
    val rows = df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1))).toMap
    assert(rows(2L) == null)
    val thumb = ImagePixels.decodeLuma(rows(1L))
    assert(thumb.width === 8 && thumb.height === 8)
    assert(ImagePixels.ahash64(rows(1L)).longValue === p)
    // non-uniform blocks: real averaging, floor division
    val grad = Array.tabulate[Byte](256)(i => (i % 16 * 16).toByte)
    val t2 = ImagePixels.decodeLuma(
      ImagePixels.thumbnailPng(ImageCodec.encodeBmpGray(16, 16, grad), 8, 8))
    // row-constant columns: mean of cols 2k,2k+1 = 16*(2k) + 8
    assert((0 until 8).forall(k => (t2.luma(k) & 0xff) == 32 * k + 8), t2.luma.toSeq)
  }

  test("bipartite image dedup against persisted signatures: near drops, " +
      "far and undecodable survive, corpus never self-joins") {
    val base = 0x0F0F_3C3C_55AA_0180L
    def png(p: Long) = ImageCodec.encodePng(8, 8, 1, patternPixels(p))
    val corpus = Seq(10L -> png(base), 11L -> png(~base & 0x7fff_ffff_ffff_ffffL))
      .toDF("id", "blob")
      .select(col("id"), Dedup.imageAHash(col("blob")).as("sh"))
    val incoming = Seq(
      1L -> png(base ^ 3L), // hamming 2 of corpus 10 → drops
      2L -> png(base ^ 0x1111L), // hamming 4 → survives
      3L -> "not an image".getBytes) // undecodable → survives
      .toDF("id", "blob")
    val kept = Dedup.dropImagesAgainstSignatures(incoming, "id", "blob", corpus, 3)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L))
    val pairs = Dedup.hammingPairsAgainst(
      incoming.select(col("id"), Dedup.imageAHash(col("blob")).as("sh")), corpus, 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 10L)))
  }

  test("decodeImages real decoder: PNG features, stub only on demand") {
    val px = patternPixels(0x0000_0000_FFFF_FFFFL) // half black, half white
    val df = Seq((1L, ImageCodec.encodePng(8, 8, 1, px)),
      (2L, "opaque".getBytes)).toDF("id", "blob")
    val out = Multimodal.decodeImages(df, "blob")
      .select("id", "width", "height", "mean_luma").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((8, 8, 32 * 255.0 / 64 / 255.0)))
    assert(out(2L) == null)
  }
}
