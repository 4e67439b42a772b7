package graft.write

import java.nio.file.Files

import graft.SparkSpec
import graft.model.CqlSchema
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

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

  /** Two generations (the first unstamped) plus, with `tombstones`,
   *  partition, row and range tombstones under (k; c1, c2). */
  private def tombstonedTable(tombstones: Boolean = true): (CqlSchema, String) = {
    import spark.implicits._
    val sk = CqlSchema("pt", Seq("k"), Seq("c1", "c2"))
    val dir = Files.createTempDirectory("graft_purge_plan_").toString + "/pt"
    val rows = for (k <- 1L to 20L; c1 <- 1L to 3L; c2 <- 1L to 2L) yield (k, c1, c2, s"v${k}_$c1$c2")
    TokenSortedWriter.write(rows.toDF("k", "c1", "c2", "v"), sk, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true))
    TokenSortedWriter.write(rows.filter(_._1 % 2 == 0).map(r => r.copy(_4 = r._4 + "'"))
      .toDF("k", "c1", "c2", "v"), sk, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
        writetimeMicros = Some(2000L)))
    if (tombstones) {
      TokenSortedWriter.writeDeletes(Seq(1L, 2L).toDF("k"), sk, dir, Some(1500L))
      TokenSortedWriter.writeDeletes(Seq((3L, 1L, 1L), (4L, 2L, 2L)).toDF("k", "c1", "c2"),
        sk, dir, Some(2500L), rowLevel = true)
      TokenSortedWriter.writeRangeDeletes(Seq((5L, Some(2L), Option.empty[Long]))
        .toDF("k", "ck_min", "ck_max"), sk, dir)
    }
    (sk, dir)
  }

  /** [[tombstonedTable]]'s rows after the purge: k=1 goes (unstamped rows
   *  die under the stamped partition tombstone, none is newer); k=2 was
   *  rewritten at 2000 > 1500 and survives; k=3 loses one row, k=4's row
   *  tombstone at 2500 beats its 2000 rows; k=5 keeps only c1=1 (unstamped
   *  range tombstone). */
  private def tombstonedTableRows(out: org.apache.spark.sql.DataFrame): Unit = {
    val got = out.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("c1"), r.getAs[Long]("c2"))).toSet
    val all = for (k <- 1L to 20L; c1 <- 1L to 3L; c2 <- 1L to 2L) yield (k, c1, c2)
    val expect = all.filterNot { case (k, c1, c2) =>
      k == 1L || (k == 3L && c1 == 1L && c2 == 1L) || (k == 4L && c1 == 2L && c2 == 2L) ||
        (k == 5L && c1 >= 2L)
    }.toSet
    assert(got == expect)
  }

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  private def antiJoins(plan: org.apache.spark.sql.execution.SparkPlan) = Plans.collect(plan) {
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
  }

  /** Runs `body` with the tombstone purge forced onto its join plan: at
   *  `autoBroadcastJoinThreshold = -1` no tombstone set is small enough
   *  for the probe. */
  private def onJoinPath[T](body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** The plan that purged `df`'s tombstones: "probe", "join" or "none". */
  private def purgePath(df: org.apache.spark.sql.DataFrame): String = {
    val plan = df.queryExecution.optimizedPlan
    if (plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[graft.functions.TombstoneProbe]))))
      "probe"
    else if (plan.exists {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
      case _ => false
    }) "join"
    else "none"
  }

  /** The rows of `read()` under the probe (or, with `probe = false`, the
   *  default session's own choice of the joins) and under the forced join
   *  plan, checking each plan was the one taken and no row came twice. */
  private def onBothPaths(read: () => org.apache.spark.sql.DataFrame,
      probe: Boolean = true): (Set[org.apache.spark.sql.Row], Set[org.apache.spark.sql.Row]) = {
    def rows(df: org.apache.spark.sql.DataFrame, path: String) = {
      assert(purgePath(df) == path, s"expected the $path plan:\n${df.queryExecution.optimizedPlan}")
      val got = df.collect()
      assert(got.length == got.toSet.size, s"$path plan: duplicate rows")
      got.toSet
    }
    (rows(read(), if (probe) "probe" else "join"), onJoinPath(rows(read(), "join")))
  }

  test("readNormalized plans with zero Spark jobs; the probe purges tombstones with no " +
      "join, no tombstone scan and no job of its own") {
    val (sk, dir) = tombstonedTable()
    val (out, jobs) = jobsDuring(TokenSortedWriter.readNormalized(spark, sk, dir))
    assert(jobs == 0, s"building the normalized read launched $jobs Spark job(s)")
    assert(purgePath(out) == "probe")
    // collect `out` itself, so its adaptive plan below is the final one
    val (_, runJobs) = jobsDuring(tombstonedTableRows(out))
    val plan = out.queryExecution.executedPlan
    assert(antiJoins(plan).isEmpty, s"no anti-join on the probe plan:\n$plan")
    val tombstoneSide = Plans.collect(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.nodeName
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => b.nodeName
    }
    assert(tombstoneSide.isEmpty, s"no tombstone scan or broadcast, found $tombstoneSide:\n$plan")
    // the tombstones cost the read no job: it runs as many as without them
    val (plainSchema, plain) = tombstonedTable(tombstones = false)
    val (_, plainJobs) = jobsDuring(
      TokenSortedWriter.readNormalized(spark, plainSchema, plain).collect())
    assert(runJobs == plainJobs, s"$runJobs jobs with tombstones, $plainJobs without")
  }

  test("the join plan, forced by autoBroadcastJoinThreshold=-1: zero Spark jobs to build, " +
      "a partition/range and a row anti-join over raw tombstone rows") {
    val (sk, dir) = tombstonedTable()
    onJoinPath {
      val (out, jobs) = jobsDuring(TokenSortedWriter.readNormalized(spark, sk, dir))
      assert(jobs == 0, s"building the normalized read launched $jobs Spark job(s)")
      tombstonedTableRows(out)
      val plan = out.queryExecution.executedPlan
      val joins = antiJoins(plan)
      assert(joins.size == 2, s"expected a partition/range and a row anti-join:\n$plan")
      // with no broadcast allowed the joins sort-merge, so the tombstone
      // side is shuffled; it is never aggregated
      joins.foreach { j =>
        val side = Plans.collect(j.right) {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a.nodeName
        }
        assert(side.isEmpty, s"tombstone side must be raw rows, found $side:\n$plan")
      }
    }
  }

  test("past 32 tombstone files the probe plan still builds with zero Spark jobs and " +
      "purges with none of its own") {
    import spark.implicits._
    def table(): String = {
      val dir = freshDir()
      TokenSortedWriter.write((1L to 100L).map(k => (k, s"v_$k")).toDF("k", "v"), schema, dir,
        SaveMode.Append, TokenSortedWriter.WriteConf(numPartitions = 2,
          writetimeMicros = Some(1000L)))
      dir
    }
    val (dir, plain) = (table(), table())
    (1L to 40L).foreach(k =>
      TokenSortedWriter.writeDeletes(Seq(k).toDF("k"), schema, dir, Some(2000L)))
    val files = Tombstones.files(spark, dir).size
    assert(files > 32, s"only $files tombstone files")
    val (out, jobs) = jobsDuring(TokenSortedWriter.readNormalized(spark, schema, dir))
    assert(jobs == 0, s"building the normalized read launched $jobs Spark job(s)")
    val (n, runJobs) = jobsDuring(out.count())
    assert(n == 60L)
    val (_, plainJobs) = jobsDuring(TokenSortedWriter.readNormalized(spark, schema, plain).count())
    assert(runJobs == plainJobs, s"$runJobs jobs with $files tombstone files, $plainJobs without")
  }

  test("probe and joins agree: an int tombstone key on a bigint pk (joins only), " +
      "string ck ranges, dotted keys, unstamped tombstones") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    // an int-typed tombstone key cannot compare as the bigint pk's bytes:
    // both settings take the joins, with the same answer
    val ik = freshDir()
    TokenSortedWriter.write((1L to 10L).map(k => (k, s"v_$k")).toDF("k", "v"), schema, ik,
      SaveMode.Append, TokenSortedWriter.WriteConf(writetimeMicros = Some(1000L)))
    TokenSortedWriter.writeDeletes(Seq(3, 5).toDF("k"), schema, ik, Some(2000L))
    val (ikDefault, ikJoin) = onBothPaths(
      () => TokenSortedWriter.readNormalized(spark, schema, ik), probe = false)
    assert(ikDefault == ikJoin && ikJoin.map(_.getLong(0)) == (1L to 10L).toSet -- Set(3L, 5L))

    // string clustering key: inclusive bounds, null = unbounded; the
    // tombstones are unstamped, so they kill every version of their keys
    val sk = CqlSchema("sr", Seq("k"), Seq("c"))
    val sr = Files.createTempDirectory("graft_str_range_").toString + "/sr"
    val cs = ('a' to 'j').map(_.toString)
    val base = for (k <- 1L to 4L; c <- cs) yield (k, c, s"$k$c")
    TokenSortedWriter.write(base.toDF("k", "c", "v"), sk, sr, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, writetimeMicros = Some(1000L)))
    TokenSortedWriter.write(Seq((1L, "d", "new")).toDF("k", "c", "v"), sk, sr, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, writetimeMicros = Some(9000L)))
    TokenSortedWriter.writeRangeDeletes(Seq((1L, Some("c"), Some("f")), (2L, None, Some("b")),
      (3L, Some("h"), None)).toDF("k", "ck_min", "ck_max"), sk, sr)
    TokenSortedWriter.writeDeletes(Seq((4L, "e")).toDF("k", "c"), sk, sr, rowLevel = true)
    val (srProbe, srJoin) = onBothPaths(
      () => TokenSortedWriter.readNormalized(spark, sk, sr).select("k", "c"))
    val srExpect = base.collect {
      case (k, c, _) if !(k == 1L && c >= "c" && c <= "f") && !(k == 2L && c <= "b") &&
        !(k == 3L && c >= "h") && !(k == 4L && c == "e") => Row(k, c)
    }.toSet
    assert(srProbe == srExpect && srJoin == srExpect)

    // dotted and spaced key names, partition and row tombstones
    val qk = CqlSchema("exotic", Seq("user id"), Seq("Order.Key"))
    val qd = Files.createTempDirectory("graft_dotted_").toString + "/q"
    def mk(rows: Seq[(Long, Long, String)]) =
      rows.toDF("a", "b", "v").select(col("a").as("user id"), col("b").as("Order.Key"), col("v"))
    TokenSortedWriter.write(mk(for (a <- 1L to 4L; b <- 1L to 3L) yield (a, b, s"$a.$b")), qk, qd,
      SaveMode.Append, TokenSortedWriter.WriteConf(numPartitions = 2, writetimeMicros = Some(100L)))
    TokenSortedWriter.writeDeletes(mk(Seq((2L, 0L, ""))), qk, qd, Some(300L))
    TokenSortedWriter.writeDeletes(mk(Seq((3L, 2L, ""))), qk, qd, Some(300L), rowLevel = true)
    val (qProbe, qJoin) = onBothPaths(() => TokenSortedWriter.readNormalized(spark, qk, qd)
      .select(col("`user id`"), col("`Order.Key`")))
    val qExpect = (for (a <- 1L to 4L; b <- 1L to 3L if a != 2L && !(a == 3L && b == 2L))
      yield Row(a, b)).toSet
    assert(qProbe == qExpect && qJoin == qExpect)
  }

  test("a column added by a later write shows in the next readNormalized, " +
      "listing cache on and off") {
    import spark.implicits._
    for (cacheOn <- Seq(true, false)) {
      spark.conf.set("graft.listing.cache", cacheOn.toString)
      try {
        val dir = freshDir()
        TokenSortedWriter.write((1L to 10L).map(k => (k, s"v_$k")).toDF("k", "v"), schema,
          dir, SaveMode.Append, TokenSortedWriter.WriteConf(writetimeMicros = Some(1000L)))
        assert(TokenSortedWriter.readNormalized(spark, schema, dir).columns.toSeq == Seq("k", "v"))
        TokenSortedWriter.write(Seq((3L, "w_3", 7L)).toDF("k", "v", "extra"), schema, dir,
          SaveMode.Append, TokenSortedWriter.WriteConf(writetimeMicros = Some(2000L)))
        val out = TokenSortedWriter.readNormalized(spark, schema, dir)
        assert(out.columns.toSeq == Seq("k", "v", "extra"), s"cache=$cacheOn")
        assert(out.filter(col("extra").isNotNull).select("k", "extra").as[(Long, Long)]
          .collect().toSeq == Seq((3L, 7L)), s"cache=$cacheOn")
      } finally spark.conf.unset("graft.listing.cache")
    }
  }

  /** Spark's own schema inference over every file under `dir` (the
   *  recursive walk skips partition discovery), engine token stripped. */
  private def sparkInferred(dir: String): Seq[(String, org.apache.spark.sql.types.DataType)] =
    spark.read.option("mergeSchema", "true").option("recursiveFileLookup", "true")
      .parquet(dir).schema.fields.toSeq.filterNot(_.name == TokenSortedWriter.TokenCol)
      .map(f => f.name -> f.dataType)

  /** A table under `parent` that was compacted in place (its data moves
   *  into a `gen-<uuid>/` dir) and then appended to with a new column. */
  private def compactedThenAppended(parent: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_infer_").toString + s"/$parent/kv"
    val conf = TokenSortedWriter.WriteConf(snapshot = true)
    TokenSortedWriter.write((1L to 10L).map(k => (k, s"v_$k")).toDF("k", "v"), schema, dir,
      SaveMode.Append, conf.copy(writetimeMicros = Some(1000L)))
    TokenSortedWriter.compactInPlace(spark, schema, dir)
    TokenSortedWriter.write(Seq((3L, "w_3", 7L)).toDF("k", "v", "extra"), schema, dir,
      SaveMode.Append, conf.copy(writetimeMicros = Some(2000L)))
    dir
  }

  private def inferred(dir: String): Seq[(String, org.apache.spark.sql.types.DataType)] =
    new graft.sources.GraftDataSource().inferSchema(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(Map("path" -> dir).asJava))
      .fields.toSeq.map(f => f.name -> f.dataType)

  test("a compacted-then-appended table under a key=value parent dir infers its " +
      "full schema with zero Spark jobs") {
    // the parent's k=v name lies above the table root: no partition column
    val dir = compactedThenAppended("wh/dt=2024")
    val (got, jobs) = jobsDuring(inferred(dir))
    assert(jobs == 0, s"schema inference launched $jobs Spark job(s)")
    assert(got == sparkInferred(dir))
    assert(got.map(_._1).contains("extra"))
    import spark.implicits._
    val out = TokenSortedWriter.readNormalized(spark, schema, dir)
    assert(out.filter(col("extra").isNotNull).select("k", "extra").as[(Long, Long)]
      .collect().toSeq == Seq((3L, 7L)))
  }

  test("a key=value dir with no data-column twin beside gen-<uuid>/ dirs and root " +
      "files falls back to Spark's recursive inference") {
    val dir = compactedThenAppended("wh")
    // a stray k=v subdir: partition discovery cannot reconcile it with the
    // gen dir and the root files, so only the recursive walk can infer
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val src = graft.sources.TokenPruner.listDataFiles(fs, new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).find(_.getParent.getName.startsWith("gen-")).get
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
      new org.apache.hadoop.fs.Path(s"$dir/stray=1/${src.getName}"), false,
      spark.sessionState.newHadoopConf())
    graft.sources.TokenPruner.invalidateListing(dir)
    val got = inferred(dir)
    assert(got.nonEmpty && got == sparkInferred(dir), s"got $got")
  }

  test("property: the tombstone purge equals a plain-Scala model (kinds, stamps, " +
      "unstamped generations, horizons, ck prefixes, no-writetime tables)") {
    // every case runs on both purge plans: the probe and the forced joins
    import spark.implicits._
    // a tombstone: partition when every key column past k and both bounds
    // are None, range when a bound is set, row otherwise
    final case class Tomb(k: Long, c1: Option[Long], c2: Option[Long],
        lo: Option[Long], hi: Option[Long], wt: Option[Long])
    final case class Version(k: Long, c1: Long, c2: Long, v: String, wt: Option[Long])
    val stamps = Seq(1000L, 2000L, 3000L)
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val sk = CqlSchema("pm", Seq("k"), Seq("c1", "c2"))
      val dir = Files.createTempDirectory(s"graft_purge_$seed").toString + "/pm"
      // seed 5 has no writetime anywhere: one generation, plain anti-joins
      val stamped = seed != 5
      val gens: Seq[Option[Long]] =
        if (!stamped) Seq(None)
        else None +: stamps.filter(_ => rnd.nextBoolean()).map(Some(_)) :+ Some(4000L)
      val versions = gens.zipWithIndex.flatMap { case (wt, g) =>
        val rows = for (k <- 1L to 10L; c1 <- 1L to 3L; c2 <- 1L to 2L
                        if g == 0 || rnd.nextInt(3) == 0) yield Version(k, c1, c2, s"g${g}_$k$c1$c2", wt)
        TokenSortedWriter.write(rows.map(r => (r.k, r.c1, r.c2, r.v)).toDF("k", "c1", "c2", "v"),
          sk, dir, SaveMode.Append, TokenSortedWriter.WriteConf(numPartitions = 2,
            keepTokenColumn = true, writetimeMicros = wt))
        rows
      }
      def stamp(): Option[Long] =
        if (rnd.nextInt(4) == 0) None else Some((stamps :+ 4000L)(rnd.nextInt(4)))
      // even seeds: row tombstones over the ck prefix (c1) only
      val prefix = seed % 2 == 0
      val parts = Seq.fill(3)(Tomb(1L + rnd.nextInt(10), None, None, None, None, stamp()))
      val rowDels = Seq.fill(6)(Tomb(1L + rnd.nextInt(10), Some(1L + rnd.nextInt(3)),
        if (prefix) None else Some(1L + rnd.nextInt(2)), None, None, stamp()))
      val ranges = Seq.fill(3) {
        val lo = 1L + rnd.nextInt(3)
        if (rnd.nextBoolean()) Tomb(1L + rnd.nextInt(10), None, None, Some(lo), None, stamp())
        else Tomb(1L + rnd.nextInt(10), None, None,
          if (rnd.nextBoolean()) Some(lo) else None, Some(lo + rnd.nextInt(2)), stamp())
      }
      for ((wt, ts) <- parts.groupBy(_.wt))
        TokenSortedWriter.writeDeletes(ts.map(_.k).toDF("k"), sk, dir, wt)
      for ((wt, ts) <- rowDels.groupBy(_.wt)) {
        if (prefix)
          TokenSortedWriter.writeDeletes(ts.map(t => (t.k, t.c1.get)).toDF("k", "c1"),
            CqlSchema("pm", Seq("k"), Seq("c1")), dir, wt, rowLevel = true)
        else
          TokenSortedWriter.writeDeletes(ts.map(t => (t.k, t.c1.get, t.c2.get))
            .toDF("k", "c1", "c2"), sk, dir, wt, rowLevel = true)
      }
      for ((wt, ts) <- ranges.groupBy(_.wt))
        TokenSortedWriter.writeRangeDeletes(ts.map(t => (t.k, t.lo, t.hi))
          .toDF("k", "ck_min", "ck_max"), sk, dir, wt)

      // the model: LWW by (writetime, value) with a null writetime lowest,
      // then a tombstone kills a row it is at-or-newer than
      val live = if (!stamped) versions else versions.groupBy(r => (r.k, r.c1, r.c2)).values
        .map(_.maxBy(r => (r.wt, r.v))).toSeq
      def kills(r: Version, t: Tomb): Boolean = {
        val keyed = r.k == t.k && t.c1.forall(_ == r.c1) && t.c2.forall(_ == r.c2) &&
          t.lo.forall(r.c1 >= _) && t.hi.forall(r.c1 <= _)
        keyed && (!stamped || r.wt.getOrElse(Long.MinValue) <= t.wt.getOrElse(Long.MaxValue))
      }
      val tombs = parts ++ rowDels ++ ranges
      for (horizon <- Seq(None, Some(stamps(rnd.nextInt(3))))) {
        val inForce = tombs.filter(t => horizon.forall(h => t.wt.forall(_ <= h)))
        val expect = live.filterNot(r => inForce.exists(kills(r, _)))
          .map(r => (r.k, r.c1, r.c2, r.v)).toSet
        val (viaProbe, viaJoins) = onBothPaths(() => TokenSortedWriter.readNormalized(spark,
          sk, dir, tombstonesAsOfMicros = horizon).select("k", "c1", "c2", "v"))
        for ((path, rows) <- Seq("probe" -> viaProbe, "join" -> viaJoins)) {
          val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
          assert(got == expect, s"seed $seed horizon $horizon $path: " +
            s"missing ${expect -- got}, extra ${got -- expect}")
        }
      }
    }
  }
}
