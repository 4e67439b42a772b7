package graft.operators

import graft.SparkSpec

import java.nio.file.Files

/** Spark-job budgets of the dedup operators' small-result branches, and
 *  their cache release. The corpus is read from parquet: a local
 *  `Seq.toDF` relation would be folded by `ConvertToLocalRelation`, and a
 *  job count on it would measure nothing. */
class DedupJobsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpusDir: String = {
    val dir = Files.createTempDirectory("graft_dedup_jobs_").toString + "/corpus"
    DedupCorpus.texts(1503L, 600).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").write.parquet(dir)
    dir
  }

  private def corpus = spark.read.parquet(corpusDir)

  test("dropNearDuplicates plus its checkpoint runs at most 11 Spark jobs") {
    val docs = corpus
    val (out, jobs) = jobsDuring(
      Dedup.dropNearDuplicates(docs, "id", "text").localCheckpoint(eager = true))
    val kept = out.count()
    assert(kept > 0 && kept < docs.count(), "the corpus holds near duplicates to drop")
    assert(jobs <= 11, s"dropNearDuplicates ran $jobs jobs")
  }

  test("dropFrequentLines plus its checkpoint runs at most 4 Spark jobs") {
    val docs = corpus
    val (out, jobs) = jobsDuring(
      Dedup.dropFrequentLines(docs, "id", "text", minDocs = 10L).localCheckpoint(eager = true))
    assert(out.filter($"text" =!= $"text_clean").count() > 0, "frequent lines were dropped")
    assert(jobs <= 4, s"dropFrequentLines ran $jobs jobs")
  }

  test("dropNearDuplicates, dropNearDupVectors and mineContrastiveTriplets " +
      "leave no cached edges or signatures behind") {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val before0 = persisted
    Dedup.dropNearDuplicates(corpus, "id", "text").collect()
    Dedup.dropNearDuplicates(corpus, "id", "text",
      keepBy = Seq(org.apache.spark.sql.functions.length($"text").desc)).collect()
    assert(persisted -- before0 === Set.empty[Int], "dropNearDuplicates left persisted RDDs")
    val rnd = new scala.util.Random(7L)
    val base = Seq.fill(20)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 60).map { i =>
      (i.toLong, base(i % 20).map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val before = persisted
    val kept = Similarity.dropNearDupVectors(vecs, "vec_id", "embedding", minCosine = 0.95)
      .collect()
    assert(kept.length < 60, "near-duplicate vectors were dropped")
    // the edges finish on the driver: nothing at all stays persisted
    assert(persisted -- before === Set.empty[Int], "dropNearDupVectors left persisted RDDs")

    val before2 = persisted
    val trips = Sampling.mineContrastiveTriplets(corpus, "id", "text").collect()
    assert(trips.nonEmpty)
    // the edge cache is gone; the one storage left may be the result's own
    // materialized labels (a localCheckpoint, cleaned with the frame)
    val leaked = persisted -- before2
    assert(leaked.size <= 1, s"mineContrastiveTriplets left persisted RDDs: $leaked")
    leaked.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
  }
}
