package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private val versions = Seq(
    // (pk, ck, writetime, value)
    (1L, 1, 100L, "old"), (1L, 1, 200L, "new"),
    (1L, 2, 50L, "only"),
    (2L, 1, 10L, "a"), (2L, 1, 30L, "c"), (2L, 1, 20L, "b"))

  test("latestWriteWins keeps exactly the highest-writetime version per (pk, ck)") {
    val df = versions.toDF("pk", "ck", "wt", "v")
    val got = Normalize.latestWriteWinsAgg(df, Seq("pk", "ck"), Seq("wt"))
      .select("pk", "ck", "v").as[(Long, Int, String)].collect().toSet
    assert(got === Set((1L, 1, "new"), (1L, 2, "only"), (2L, 1, "c")))
  }

  test("latestWriteWins equals max-writetime reconciliation on random multisets") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(500)((rnd.nextInt(20).toLong, rnd.nextInt(3), rnd.nextInt(1000).toLong))
      .distinct // unique (pk,ck,wt) so max-wt winner is well-defined
      .map { case (pk, ck, wt) => (pk, ck, wt, s"v$wt") }
    val df = rows.toDF("pk", "ck", "wt", "v")
    val got = Normalize.latestWriteWinsAgg(df, Seq("pk", "ck"), Seq("wt"))
      .select("pk", "ck", "wt").as[(Long, Int, Long)].collect().toSet
    val expected = rows.groupBy(r => (r._1, r._2)).map { case ((pk, ck), vs) =>
      (pk, ck, vs.map(_._3).max)
    }.toSet
    assert(got === expected)
  }

  test("applyDeletes purges all rows of deleted keys") {
    val base = versions.toDF("pk", "ck", "wt", "v")
    val dels = Seq(1L).toDF("pk")
    val got = Normalize.applyDeletes(base, dels, Seq("pk"))
      .select("pk").as[Long].collect().toSet
    assert(got === Set(2L))
  }

  test("ttlFilter drops expired rows against the pinned now") {
    val df = Seq((1, 100L), (2, 200L), (3, 300L)).toDF("id", "expires")
    val got = Normalize.ttlFilter(df, col("expires"), lit(200L))
      .select("id").as[Int].collect().toSet
    assert(got === Set(2, 3))
  }

  test("ttlFilter keeps rows with NULL expiry (no TTL = never expires)") {
    val df = Seq((1, Some(100L)), (2, None), (3, Some(300L))).toDF("id", "expires")
    val got = Normalize.ttlFilter(df, col("expires"), lit(200L))
      .select("id").as[Int].collect().toSet
    assert(got === Set(2, 3), "the non-TTL row must survive")
  }

  test("withLastModifiedTimestamp = max writetime over the partition") {
    val df = versions.toDF("pk", "ck", "wt", "v")
    val got = Normalize.withLastModifiedTimestamp(df, Seq("pk"), col("wt"))
      .select("pk", "last_modified_timestamp").distinct()
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 200L), (2L, 30L)))
  }
}
