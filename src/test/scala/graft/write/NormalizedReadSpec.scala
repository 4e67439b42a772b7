package graft.write

import java.nio.file.Files

import graft.SparkSpec
import graft.model.CqlSchema
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** End-to-end reference read-path semantics over the sink/source pair:
 *  multi-version LWW, partition tombstones, TTL at pinned now (S5/§2.8/W9). */
class NormalizedReadSpec extends SparkSpec {

  private val schema = CqlSchema("kv", Seq("k"))

  private def freshDir(): String =
    Files.createTempDirectory("graft_norm_").toString + "/kv"

  test("append-upsert resolves last-write-wins by writetime") {
    import spark.implicits._
    val dir = freshDir()
    val v1 = (1L to 100L).map(k => (k, s"v1_$k")).toDF("k", "v")
    TokenSortedWriter.write(v1, schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
        writetimeMicros = Some(1000L)))
    val v2 = (50L to 120L).map(k => (k, s"v2_$k")).toDF("k", "v")
    TokenSortedWriter.write(v2, schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
        writetimeMicros = Some(2000L)))

    val out = TokenSortedWriter.readNormalized(spark, schema, dir)
    assert(out.count() == 120)
    assert(out.filter(col("k") === 10L).select("v").head().getString(0) == "v1_10")
    assert(out.filter(col("k") === 60L).select("v").head().getString(0) == "v2_60")
    assert(out.filter(col("k") === 120L).select("v").head().getString(0) == "v2_120")
    assert(!out.columns.contains(TokenSortedWriter.WritetimeCol))
  }

  test("row-level tombstones delete single rows and coexist with partition tombstones") {
    import spark.implicits._
    val ckSchema = CqlSchema("kvr", Seq("k"), Seq("c"))
    val dir = Files.createTempDirectory("graft_rowdel_").toString + "/kvr"
    // partitions 1..10, rows c=1..3 each
    val base = (1L to 10L).flatMap(k => (1L to 3L).map(c => (k, c, s"v${k}_$c")))
      .toDF("k", "c", "v")
    TokenSortedWriter.write(base, ckSchema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
        writetimeMicros = Some(1000L)))
    // row tombstone: (k=1, c=2) only
    TokenSortedWriter.writeDeletes(Seq((1L, 2L)).toDF("k", "c"), ckSchema, dir,
      Some(2000L), rowLevel = true)
    // partition tombstone: all of k=5
    TokenSortedWriter.writeDeletes(Seq(Tuple1(5L)).toDF("k"), ckSchema, dir, Some(2000L))
    // reinsert of the row-deleted key NEWER than the tombstone survives
    TokenSortedWriter.write(Seq((1L, 2L, "reborn")).toDF("k", "c", "v"), ckSchema, dir,
      SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true,
        writetimeMicros = Some(3000L)))
    val out = TokenSortedWriter.readNormalized(spark, ckSchema, dir)
    assert(out.count() == 27) // 30 - 3 (k=5 partition) + row 1/2 reborn
    assert(out.filter(col("k") === 5L).count() == 0)
    assert(out.filter(col("k") === 1L && col("c") === 2L)
      .select("v").head().getString(0) == "reborn")
    // a row tombstone NEWER than all versions removes exactly one row
    TokenSortedWriter.writeDeletes(Seq((2L, 3L)).toDF("k", "c"), ckSchema, dir,
      Some(9000L), rowLevel = true)
    val out2 = TokenSortedWriter.readNormalized(spark, ckSchema, dir)
    assert(out2.filter(col("k") === 2L).count() == 2)
    assert(out2.filter(col("k") === 2L && col("c") === 3L).count() == 0)
  }

  test("property: random multi-generation appends resolve every key to its latest version") {
    import spark.implicits._
    // the reference's randomized multi-SSTable compaction surface
    // (EndToEndTests testMultipleSSTablesCompaction): N generations each
    // covering a random key subset; expected = per key, the newest generation
    val rnd = new scala.util.Random(7)
    val dir = freshDir()
    val keys = (1L to 80L).toSeq
    val gens: Seq[Seq[Long]] = (1 to 6).map(_ => keys.filter(_ => rnd.nextBoolean()))
    gens.zipWithIndex.foreach { case (ks, g) =>
      if (ks.nonEmpty) {
        TokenSortedWriter.write(ks.map(k => (k, s"g${g}_$k")).toDF("k", "v"),
          schema, dir, SaveMode.Append,
          TokenSortedWriter.WriteConf(numPartitions = 1 + rnd.nextInt(3),
            keepTokenColumn = true, writetimeMicros = Some((g + 1) * 100L)))
      }
    }
    val expected = keys.flatMap { k =>
      val lastGen = gens.zipWithIndex.filter(_._1.contains(k)).map(_._2).maxOption
      lastGen.map(g => k -> s"g${g}_$k")
    }.toMap
    val got = TokenSortedWriter.readNormalized(spark, schema, dir)
      .as[(Long, String)].collect().toMap
    assert(got == expected)
    // and compaction preserves exactly the same resolution
    val dst = freshDir()
    TokenSortedWriter.compact(spark, schema, dir, dst,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true))
    val compacted = TokenSortedWriter.readNormalized(spark, schema, dst)
      .as[(Long, String)].collect().toMap
    assert(compacted == expected)
  }

  test("compact folds overlapping generations into a disjoint clustered layout") {
    import spark.implicits._
    val dir = freshDir()
    val dst = freshDir()
    TokenSortedWriter.write((1L to 300L).map(k => (k, s"v1_$k")).toDF("k", "v"),
      schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 3, keepTokenColumn = true,
        writetimeMicros = Some(1000L)))
    TokenSortedWriter.write((100L to 200L).map(k => (k, s"v2_$k")).toDF("k", "v"),
      schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
        writetimeMicros = Some(2000L)))
    TokenSortedWriter.writeDeletes(Seq(Tuple1(7L)).toDF("k"), schema, dir, Some(3000L))

    TokenSortedWriter.compact(spark, schema, dir, dst,
      TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true))

    // compacted layout is pairwise disjoint -> the clustered claim holds again
    val metas = graft.sources.TokenPruner.listFiles(spark, dst).flatMap(_.tokenRange).sortBy(_._1)
    metas.sliding(2).foreach {
      case Array((_, mx), (mn, _)) => assert(mx < mn, "compacted files must be disjoint")
      case _ =>
    }
    val agg = spark.read.format("graft").option("path", dst).option("pk", "k")
      .option("clustered", "true").load()
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "compacted layout must aggregate shuffle-free")

    // and the data is the normalized view of the source, further appends merge
    val before = TokenSortedWriter.readNormalized(spark, schema, dir)
      .select("k", "v").as[(Long, String)].collect().toSet
    val after = TokenSortedWriter.readNormalized(spark, schema, dst)
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(after == before && !after.exists(_._1 == 7L))
    TokenSortedWriter.write(Seq((150L, "v3_150")).toDF("k", "v"), schema, dst,
      SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true,
        writetimeMicros = Some(5000L)))
    assert(TokenSortedWriter.readNormalized(spark, schema, dst)
      .filter(col("k") === 150L).select("v").head().getString(0) == "v3_150")
  }

  test("partition deletes purge rows, but a newer reinsert survives") {
    import spark.implicits._
    val dir = freshDir()
    val v1 = (1L to 50L).map(k => (k, s"v_$k")).toDF("k", "v")
    TokenSortedWriter.write(v1, schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(writetimeMicros = Some(1000L)))
    // delete keys 1-10 at t=1500
    TokenSortedWriter.writeDeletes(
      Seq.tabulate(10)(i => i + 1L).toDF("k"), schema, dir, Some(1500L))
    // reinsert key 3 at t=2000 (newer than the tombstone)
    TokenSortedWriter.write(Seq((3L, "reborn")).toDF("k", "v"), schema, dir,
      SaveMode.Append, TokenSortedWriter.WriteConf(writetimeMicros = Some(2000L)))

    val out = TokenSortedWriter.readNormalized(spark, schema, dir)
    assert(out.count() == 41) // 50 - 10 deleted + 1 reborn
    assert(out.filter(col("k") === 5L).count() == 0)
    assert(out.filter(col("k") === 3L).select("v").head().getString(0) == "reborn")
  }

  test("an empty _graft_deletes dir reads as no tombstones (merged read and diff horizon)") {
    import spark.implicits._
    val dir = freshDir()
    def append(keys: Seq[Long], wt: Long): Unit =
      TokenSortedWriter.write(keys.map(k => (k, s"v_$k")).toDF("k", "v"), schema, dir,
        SaveMode.Append, TokenSortedWriter.WriteConf(numPartitions = 2,
          writetimeMicros = Some(wt), snapshot = true))
    append(1L to 20L, 1000L)
    append(21L to 25L, 2000L)
    Files.createDirectories(java.nio.file.Paths.get(dir, TokenSortedWriter.DeletesDir))
    assert(TokenSortedWriter.readNormalized(spark, schema, dir).count() == 25)
    val diff = TokenSortedWriter.diffRows(spark, schema, dir, 1L, 2L,
      fromTombstoneHorizonMicros = Some(1500L))
    assert(diff.select("k", "op").as[(Long, String)].collect().toSet ==
      (21L to 25L).map(_ -> "insert").toSet)
  }

  test("range tombstones: ck interval deleted, unbounded side, newer reinsert survives") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rt_spec_").toString + "/t"
    val sk = CqlSchema("t", Seq("pk"), Seq("ck"))
    val base = (for (p <- 1L to 4L; c <- 1L to 100L) yield (p, c, p * 1000 + c))
      .toDF("pk", "ck", "v")
    TokenSortedWriter.write(base, sk, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
        writetimeMicros = Some(1000L)))
    // pk=1: delete ck in [10, 50]; pk=2: delete ck >= 80 (max unbounded)
    TokenSortedWriter.writeRangeDeletes(
      Seq((1L, Some(10L), Some(50L)), (2L, Some(80L), None))
        .toDF("pk", "ck_min", "ck_max"),
      sk, dir, writetimeMicros = Some(2000L))
    // reinsert a deleted slice of pk=1 NEWER than the tombstone
    TokenSortedWriter.write(
      base.filter(col("pk") === 1L && col("ck").between(20L, 30L))
        .withColumn("v", col("v") + 9000L),
      sk, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true,
        writetimeMicros = Some(3000L)))
    val got = TokenSortedWriter.readNormalized(spark, sk, dir)
      .select("pk", "ck", "v").as[(Long, Long, Long)].collect().toSet
    val expected = (for (p <- 1L to 4L; c <- 1L to 100L) yield (p, c)).flatMap {
      case (1L, c) if c >= 20 && c <= 30 => Some((1L, c, 1000 + c + 9000L))
      case (1L, c) if c >= 10 && c <= 50 => None
      case (2L, c) if c >= 80 => None
      case (p, c) => Some((p, c, p * 1000 + c))
    }.toSet
    assert(got == expected)
    // a fully-unbounded range is a partition delete, not a range delete
    val e = intercept[IllegalArgumentException] {
      TokenSortedWriter.writeRangeDeletes(
        Seq((1L, Option.empty[Long], Option.empty[Long])).toDF("pk", "ck_min", "ck_max"),
        CqlSchema("t", Seq("pk")), dir)
    }
    assert(e.getMessage.contains("clustering"))
    // rows with both bounds null are an intended FULL-partition delete:
    // refuse loudly (silent retention of asked-to-delete data is the worst
    // failure mode) and point at writeDeletes
    val e2 = intercept[IllegalArgumentException] {
      TokenSortedWriter.writeRangeDeletes(
        Seq((3L, Option.empty[Long], Option.empty[Long])).toDF("pk", "ck_min", "ck_max"),
        sk, dir, writetimeMicros = Some(5000L))
    }
    assert(e2.getMessage.contains("partition delete"))
    assert(TokenSortedWriter.readNormalized(spark, sk, dir)
      .filter(col("pk") === 3L).count() == 100L)
  }

  test("LWW over a table with a MAP column does not try to order on the map") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_map_lww_").toString + "/t"
    val sk = CqlSchema("t", Seq("k"))
    val v1 = Seq((1L, Map("a" -> 1L), "x"), (2L, Map("b" -> 2L), "y"))
      .toDF("k", "attrs", "tag")
    TokenSortedWriter.write(v1, sk, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true,
        writetimeMicros = Some(1000L)))
    TokenSortedWriter.write(
      Seq((1L, Map("a" -> 9L), "x2")).toDF("k", "attrs", "tag"),
      sk, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true,
        writetimeMicros = Some(2000L)))
    // maps are unorderable in Spark: the LWW tie-break must skip them (and
    // this read must not throw an AnalysisException)
    val got = TokenSortedWriter.readNormalized(spark, sk, dir)
      .select("k", "attrs", "tag").as[(Long, Map[String, Long], String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((Map("a" -> 9L), "x2")))
    assert(got(2L) == ((Map("b" -> 2L), "y")))
  }

  test("range tombstones delete rows from UNSTAMPED generations too") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rt_null_").toString + "/t"
    val sk = CqlSchema("t", Seq("pk"), Seq("ck"))
    // generation WITHOUT writetime: rows carry null _graft_writetime after
    // a later stamped generation introduces the column via mergeSchema
    TokenSortedWriter.write(
      (1L to 50L).map(c => (1L, c, c)).toDF("pk", "ck", "v"), sk, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true))
    TokenSortedWriter.write(
      Seq((2L, 1L, 99L)).toDF("pk", "ck", "v"), sk, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true,
        writetimeMicros = Some(1000L)))
    TokenSortedWriter.writeRangeDeletes(
      Seq((1L, Some(10L), Some(20L))).toDF("pk", "ck_min", "ck_max"),
      sk, dir, writetimeMicros = Some(2000L))
    val got = TokenSortedWriter.readNormalized(spark, sk, dir)
      .filter(col("pk") === 1L).select("ck").as[Long].collect().toSet
    // null-writetime rows must die like point-tombstoned rows would
    assert(got == ((1L to 9L) ++ (21L to 50L)).toSet)
  }

  test("TTL rows expire against a pinned now; null TTL never expires") {
    import spark.implicits._
    val dir = freshDir()
    val rows = Seq(
      (1L, "short", 10L), (2L, "long", 10000L), (3L, "forever", -1L))
      .toDF("k", "v", "ttl_s")
      .withColumn("ttl_s", when(col("ttl_s") < 0, lit(null).cast("long")).otherwise(col("ttl_s")))
    TokenSortedWriter.write(rows, schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(writetimeMicros = Some(0L), ttlColumn = Some("ttl_s")))

    // now = 100s: key 1 (expiry 10s) gone, key 2 (10000s) and key 3 (never) live
    val out = TokenSortedWriter.readNormalized(spark, schema, dir,
      nowMicros = Some(100L * 1000000L))
    assert(out.select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // reproducibility: a later pinned now expires key 2 as well
    val later = TokenSortedWriter.readNormalized(spark, schema, dir,
      nowMicros = Some(20000L * 1000000L))
    assert(later.select("k").collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("schema evolution: first append without writetime, later with it") {
    import spark.implicits._
    val dir = freshDir()
    // legacy write: no feature columns
    TokenSortedWriter.write((1L to 20L).map(k => (k, s"v0_$k")).toDF("k", "v"),
      schema, dir, SaveMode.Append, TokenSortedWriter.WriteConf())
    // evolved write: adds _graft_writetime
    TokenSortedWriter.write(Seq((5L, "v1_5")).toDF("k", "v"), schema, dir,
      SaveMode.Append, TokenSortedWriter.WriteConf(writetimeMicros = Some(100L)))
    val out = TokenSortedWriter.readNormalized(spark, schema, dir)
    assert(out.count() == 20)
    // LWW: the stamped version (writetime 100) beats the null-writetime legacy
    // row (desc ordering puts nulls last)
    assert(out.filter(col("k") === 5L).select("v").head().getString(0) == "v1_5")
    assert(out.filter(col("k") === 6L).select("v").head().getString(0) == "v0_6")
  }

  test("per-row writetime column wins over constant") {
    import spark.implicits._
    val dir = freshDir()
    val rows = Seq((1L, "old", 100L), (1L, "new", 200L)).toDF("k", "v", "wt")
    TokenSortedWriter.write(rows, schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(writetimeColumn = Some("wt")))
    val out = TokenSortedWriter.readNormalized(spark, schema, dir)
    assert(out.count() == 1)
    assert(out.select("v").head().getString(0) == "new")
  }
}
