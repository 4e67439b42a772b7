package graft.operators

import graft.SparkSpec
import graft.functions.ImageCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length}

import java.nio.file.Files

/** Every small-result fast path of the dedup droppers against its
 *  distributed fallback, on the same seeded inputs: the driver union-find
 *  against min-label propagation (forced through the `dropEdgeThreshold`
 *  seam), and the broadcast probe of `dropFrequentLines` against its
 *  membership join (`maxBroadcastLines = 0`). */
class DedupFastPathSpec extends SparkSpec {
  import spark.implicits._

  private val seeds = Seq(11L, 29L)

  /** Ids kept by `run` on the driver branch and on the distributed one. */
  private def survivorsBothWays(idCol: String)(run: => DataFrame): (Seq[String], Seq[String]) = {
    def ids(df: DataFrame) = df.select(col(idCol).cast("string")).as[String].collect().sorted.toSeq
    (ids(run), Dedup.dropEdgeThreshold.withValue(0L)(ids(run)))
  }

  private def assertSameSurvivors(what: String, n: Int)(both: (Seq[String], Seq[String])): Unit = {
    val (local, distributed) = both
    assert(local === distributed, s"$what: driver and distributed branches disagree")
    assert(local.size < n, s"$what: nothing was dropped, so no edges were clustered")
  }

  /** A corpus with long ids and the same corpus with string ids whose
   *  lexicographic order differs from the numeric one. */
  private def textCorpora(seed: Long, n: Int): Seq[(String, DataFrame)] = {
    val texts = DedupCorpus.texts(seed, n, oddTexts = true)
    Seq(
      "long ids" -> texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text"),
      "string ids" -> texts.zipWithIndex.map { case (t, i) => (s"doc-$i", t) }.toDF("id", "text"))
  }

  test("dropNearDuplicates: driver union-find == label propagation, with and without keepBy") {
    for (seed <- seeds; (ids, df) <- textCorpora(seed, 160)) {
      assertSameSurvivors(s"seed $seed, $ids", 160)(
        survivorsBothWays("id")(Dedup.dropNearDuplicates(df, "id", "text")))
      assertSameSurvivors(s"seed $seed, $ids, keepBy", 160)(
        survivorsBothWays("id")(Dedup.dropNearDuplicates(df, "id", "text",
          keepBy = Seq(length(col("text")).desc))))
    }
  }

  test("dropBySimhash: driver union-find == label propagation") {
    for (seed <- seeds; (ids, df) <- textCorpora(seed, 160))
      assertSameSurvivors(s"seed $seed, $ids", 160)(
        survivorsBothWays("id")(Dedup.dropBySimhash(df, "id", "text", maxHamming = 3)))
  }

  test("dropNearDuplicateImages: driver union-find == label propagation") {
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      def pixels(p: Long) =
        Array.tabulate[Byte](64)(i => if (((p >>> (63 - i)) & 1L) == 1L) 255.toByte else 0)
      val bases = Seq.fill(12)(rnd.nextLong())
      val blobs = (0 until 60).map { i =>
        val p = bases(rnd.nextInt(bases.size))
        rnd.nextInt(4) match {
          case 0 => ImageCodec.encodePng(8, 8, 1, pixels(p), filterType = rnd.nextInt(5))
          case 1 => ImageCodec.encodePng(8, 8, 1, pixels(p ^ (1L << rnd.nextInt(64))))
          case 2 => ImageCodec.encodePng(8, 8, 1, pixels(rnd.nextLong()))
          case _ => if (rnd.nextInt(4) == 0) "not an image".getBytes else ImageCodec.encodeBmpGray(8, 8, pixels(p))
        }
      }
      for ((ids, df) <- Seq(
          "long ids" -> blobs.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "blob"),
          "string ids" -> blobs.zipWithIndex.map { case (b, i) => (s"img-$i", b) }.toDF("id", "blob")))
        assertSameSurvivors(s"seed $seed, $ids", 60)(
          survivorsBothWays("id")(Dedup.dropNearDuplicateImages(df, "id", "blob")))
    }
  }

  test("dropNearDupVectors: driver union-find == label propagation") {
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      val bases = Seq.fill(15)(Array.fill(8)(rnd.nextGaussian().toFloat))
      val vecs = (0 until 60).map { _ =>
        bases(rnd.nextInt(bases.size)).map(x => x + 0.02f * rnd.nextGaussian().toFloat)
      }
      for ((ids, df) <- Seq(
          "long ids" -> vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding"),
          "string ids" -> vecs.zipWithIndex.map { case (v, i) => (s"v-$i", v) }.toDF("vec_id", "embedding")))
        assertSameSurvivors(s"seed $seed, $ids", 60)(
          survivorsBothWays("vec_id")(
            Similarity.dropNearDupVectors(df, "vec_id", "embedding", minCosine = 0.95)))
    }
  }

  test("dropFrequentLines: broadcast probe == membership join, with null and empty " +
      "texts, repeated lines and regex-special separators") {
    for (seed <- seeds; sep <- Seq("\n", "|", ".*", "$", "\\"); minDocs <- Seq(2L, 5L)) {
      val df = DedupCorpus.texts(seed, 150, sep, oddTexts = true).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      def rows(out: DataFrame) = out.as[(Long, String, String)].collect().sortBy(_._1).toSeq
      val probe = rows(Dedup.dropFrequentLines(df, "id", "text", minDocs, sep))
      val joined = rows(Dedup.dropFrequentLines(df, "id", "text", minDocs, sep, maxBroadcastLines = 0L))
      assert(probe === joined, s"seed $seed, sep '$sep', minDocs $minDocs")
      assert(probe.exists { case (_, t, c) => t != c }, s"seed $seed, sep '$sep': no line dropped")
      assert(probe.exists(_._2 == null) && probe.exists(_._2 == ""))
    }
  }

  test("small results reach the corpus pass as broadcast local relations") {
    val dir = Files.createTempDirectory("graft_fastpath_plan_").toString + "/corpus"
    DedupCorpus.texts(3L, 120).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").write.parquet(dir)
    val docs = spark.read.parquet(dir)
    val near = Dedup.dropNearDuplicates(docs, "id", "text").queryExecution.executedPlan.toString
    assert(near.contains("BroadcastHashJoin") && near.contains("LeftAnti") &&
      near.contains("LocalTableScan"), near)
    val lines = Dedup.dropFrequentLines(docs, "id", "text", minDocs = 3L)
      .queryExecution.executedPlan.toString
    assert(lines.contains("BroadcastNestedLoopJoin") && lines.contains("LocalTableScan") &&
      !lines.contains("Exchange hashpartitioning"), lines)
  }
}
