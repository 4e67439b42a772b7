package graft.functions

import graft.SparkSpec

/** The full expression surface is reachable from plain SQL after
 *  registerAll (SURVEY §2.13: no UDFs — native expressions only). */
class SqlRegistrationSpec extends SparkSpec {

  test("all graft expressions are callable from SQL") {
    graft.functions.registerAll(spark)
    val row = spark.sql("""
      SELECT
        graft_token(1) AS tk,
        dot_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dot,
        simhash64('hello world hello') AS sh,
        jaccard_sorted(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS jac,
        size(word_shingle_hashes('a b c d', 2)) AS n_shingles,
        size(minhash_sig(word_shingle_hashes('a b c d', 2), 16)) AS n_perms,
        size(band_hashes(minhash_sig(word_shingle_hashes('a b c d', 2), 16), 4, 4)) AS n_bands,
        sign_bucket(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 8) AS bucket,
        graft_token(uuid_bin('00112233-4455-6677-8899-aabbccddeeff')) AS utk,
        dot_i8(array(CAST(3 AS TINYINT), CAST(-2 AS TINYINT)),
               array(CAST(5 AS TINYINT), CAST(7 AS TINYINT))) AS di8,
        image_dims(unhex('474946383961200150014A')).width AS gif_w,
        hex(graft_random_token(42L)) AS rtk,
        size(winnow_fp('the quick brown fox jumps', 8, 4)) AS n_winnow
    """).head()
    // token(1) is a published Cassandra constant
    assert(row.getLong(0) == -4069959284402364209L)
    assert(row.getDouble(1) == 11.0)
    assert(row.getLong(2) != 0L)
    assert(math.abs(row.getDouble(3) - 0.5) < 1e-12)
    assert(row.getInt(4) == 3)
    assert(row.getInt(5) == 16)
    assert(row.getInt(6) == 4)
    assert(row.getLong(7) >= 0L && row.getLong(7) < 256L) // 8 sign bits
    assert(row.getLong(8) == graft.token.Murmur3Token.tokenOf(
      Seq(java.util.UUID.fromString("00112233-4455-6677-8899-aabbccddeeff"))))
    assert(row.getLong(9) == 1L) // 3*5 + (-2)*7
    assert(row.getInt(10) == 288) // GIF LE dims: 0x0120
    assert(row.getString(11) ==
      graft.token.RandomToken.tokenBytes16(
        graft.token.RandomToken.tokenOf(Seq(Long.box(42L))))
        .map("%02X".format(_)).mkString)
    assert(row.getInt(12) > 0 && row.getInt(12) <= 15) // <= nWindows minima
  }

  test("pixel/sample expressions are callable from SQL") {
    graft.functions.registerAll(spark)
    val p = 0x00FF_33CC_0F0F_5AA5L
    val png = ImageCodec.encodePng(8, 8, 1,
      Array.tabulate[Byte](64)(i => if (((p >>> (63 - i)) & 1L) == 1L) 255.toByte else 0),
      filterType = 4)
    val wav = AudioCodec.encodeWavPcm16(8000, 1, Array(0, 32767, -32768, 500))
    val row = spark.sql(s"""
      SELECT
        image_ahash(unhex('${png.map("%02X".format(_)).mkString}')) AS ah,
        image_luma(unhex('${png.map("%02X".format(_)).mkString}')).height AS h,
        image_dhash(unhex('${png.map("%02X".format(_)).mkString}')) AS dh,
        audio_stats(unhex('${wav.map("%02X".format(_)).mkString}'), 1000) AS st,
        image_dims(image_resize(unhex('${png.map("%02X".format(_)).mkString}'), 4, 4)).width AS tw
    """).head()
    assert(row.getLong(0) == p)
    assert(row.getInt(1) == 8)
    assert(!row.isNullAt(2))
    assert(row.getInt(4) == 4)
    val st = row.getStruct(3)
    assert(st.getLong(0) == 4L && st.getLong(1) == 32768L && st.getLong(3) == 2L)
  }

  test("integer arguments fold at registration; a column names the argument") {
    graft.functions.registerAll(spark)
    val png = ImageCodec.encodePng(8, 8, 1, new Array[Byte](64))
      .map("%02X".format(_)).mkString
    assert(spark.sql(s"SELECT image_dims(image_resize(unhex('$png'), 2 + 2, 4)).width")
      .head().getInt(0) == 4)
    val e = intercept[Exception](
      spark.sql(s"SELECT image_resize(unhex('$png'), CAST(id AS INT), 4) FROM range(1)"))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => String.valueOf(t.getMessage)
      .contains("image_resize width must be an integer literal")), e.toString)
  }
}
