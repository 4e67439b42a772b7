package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

import graft.SparkSpec
import graft.sources.ZipShards

/** Byte-exact pins of every zip/gzip writer: the xxhash64 (seed 42) of
 *  each entry point's output. The fixtures and bundles feed readers,
 *  oracles and shard exports, so an encoder change must not move a
 *  single byte of them. */
class ZipWriterSpec extends SparkSpec {

  private def xx(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  /** Text-like, incompressible and empty members, deterministic. */
  private val members: Seq[(String, Array[Byte])] = {
    var s = 0x9E3779B97F4A7C15L
    val noise = Array.tabulate[Byte](5000) { _ =>
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 56).toByte
    }
    Seq(
      "a.txt" -> ("the quick brown fox " * 300).getBytes("UTF-8"),
      "dir/noise.bin" -> noise,
      "empty" -> Array.emptyByteArray,
      "ünï.npy" -> Array.tabulate[Byte](777)(i => (i % 13).toByte))
  }
  private val comment = "bundle comment".getBytes("UTF-8")

  test("fixture encoders are byte-identical to their pinned output") {
    val got = Map(
      "stored" -> xx(ArchiveCodec.zipStored(members)),
      "stored+comment" -> xx(ArchiveCodec.zipStored(members, comment)),
      "zip64" -> xx(ArchiveCodec.zipStored(members, zip64 = true)),
      "zip64+comment" -> xx(ArchiveCodec.zipStored(members, comment, zip64 = true)),
      "deflated" -> xx(ArchiveCodec.zipMixed(members.map { case (n, d) => (n, d, 8) })),
      "mixed" -> xx(ArchiveCodec.zipMixed(
        members.zipWithIndex.map { case ((n, d), i) => (n, d, if (i % 2 == 0) 8 else 0) })),
      "mixed+comment" -> xx(ArchiveCodec.zipMixed(
        members.map { case (n, d) => (n, d, 8) }, comment)),
      "gzip" -> xx(ArchiveCodec.gzip(members.head._2)),
      "gzip+name" -> xx(ArchiveCodec.gzip(members(1)._2, withName = true)))
    assert(got === Map(
      "stored" -> 1045007980934812918L,
      "stored+comment" -> -7877680592564163084L,
      "zip64" -> -5381437570338913775L,
      "zip64+comment" -> 2036133357210861458L,
      "deflated" -> -7722951536835552456L,
      "mixed" -> -5177540032022881491L,
      "mixed+comment" -> 2847457848919332642L,
      "gzip" -> -4890971193692095549L,
      "gzip+name" -> -1951257130175743339L))
  }

  test("writeBundles parts are byte-identical to their pinned output") {
    import spark.implicits._
    val df = (1 to 24).flatMap { i =>
      Seq((f"s$i%03d", f"s$i%03d.bin", members(i % members.size)._2),
        (f"s$i%03d", f"s$i%03d.txt", Array.fill[Byte](i % 9 + 1)('m')))
    }.toDF("sample_key", "member_name", "payload")
    def parts(method: String): Seq[(String, Long)] = {
      val dir = Files.createTempDirectory(s"graft_zippin_$method").toString + "/lake"
      ZipShards.writeBundles(df, dir, targetBundleBytes = 16384,
        bundlePartitions = 2, method = method).collect()
      new java.io.File(dir).listFiles().toSeq.filter(_.getName.startsWith("part-"))
        .sortBy(_.getName).map(f => f.getName -> xx(Files.readAllBytes(f.toPath)))
    }
    assert(parts("stored") === Seq(
      "part-00000-00000.npz" -> -4637038659629351796L,
      "part-00000-00001.npz" -> 1907978793152320574L,
      "part-00001-00000.npz" -> -4425290362052515196L,
      "part-00001-00001.npz" -> 6391572981654158238L))
    assert(parts("deflated") === Seq(
      "part-00000-00000.npz" -> 8772501782183351627L,
      "part-00000-00001.npz" -> -7145897868399461252L,
      "part-00001-00000.npz" -> 7992077503942540965L))
  }
}
