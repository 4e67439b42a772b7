package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.model.CqlSchema
import graft.write.{Snapshots, TokenSortedWriter}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** SQL UPDATE / MERGE INTO / predicate DELETE through the group-based
 *  copy-on-write row-level operation ([[GraftRowLevelOperation]]):
 *  correctness of the final state, file-granular rewrite scope, snapshot
 *  history survival, the log-less physical swap, and the LWW
 *  feature-column refusal. */
class RowLevelOpsSpec extends SparkSpec {

  private lazy val catName: String = {
    val base = Files.createTempDirectory("graft_rlo_").toString
    spark.conf.set("spark.sql.catalog.rlo", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rlo.base", base)
    "rlo"
  }
  private def baseDir: String = spark.conf.get(s"spark.sql.catalog.$catName.base")

  private def createLogged(name: String, rows: Int = 400, parts: Int = 4): String = {
    spark.sql(s"""CREATE TABLE $catName.db.$name (id BIGINT, cat STRING, v BIGINT)
                 |USING graft OPTIONS (pk 'id', partitions '$parts', snapshot 'true')"""
      .stripMargin)
    spark.sql(s"INSERT INTO $catName.db.$name " +
      s"SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END, id * 10 " +
      s"FROM range(1, ${rows + 1}) AS r(id)")
    s"$baseDir/db/$name"
  }

  test("UPDATE: values change, history survives, untouched files stay") {
    val dir = createLogged("upd")
    val v0 = Snapshots.latestVersion(spark, dir).get
    val before = Snapshots.files(spark, dir, v0).toSet

    spark.sql(s"UPDATE $catName.db.upd SET v = v + 1000000 WHERE cat = 'odd'")

    val t = spark.table(s"$catName.db.upd")
    assert(t.filter(col("cat") === "odd").agg(min("v")).head().getLong(0) >= 1000000L)
    assert(t.filter(col("cat") === "even" && col("v") >= 1000000L).count() == 0L)
    assert(t.count() == 400L)
    // exact expected content
    val got = t.select(col("id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to 400).foreach { i =>
      val exp = if (i % 2 == 1) i * 10L + 1000000L else i * 10L
      assert(got(i.toLong) == exp, s"id=$i")
    }
    // time travel: version before the UPDATE still reads the original rows
    val pinned = spark.read.format("graft").option("path", dir)
      .option("pk", "id").option("snapshotVersion", v0.toString).load()
    assert(pinned.agg(max("v")).head().getLong(0) == 4000L)
    // 'odd' rows live in every file (cat is not the layout key), so the
    // rewrite replaces all data files — but as ONE new commit on the log
    val v1 = Snapshots.latestVersion(spark, dir).get
    assert(v1 == v0 + 1, s"expected one commit, got $v0 -> $v1")
    assert(Snapshots.files(spark, dir, v1).toSet != before)
  }

  test("UPDATE with pk predicate rewrites only the file holding that key") {
    val dir = createLogged("updpk")
    val v0 = Snapshots.latestVersion(spark, dir).get
    val before = Snapshots.files(spark, dir, v0)

    spark.sql(s"UPDATE $catName.db.updpk SET v = -1 WHERE id = 37")

    assert(spark.table(s"$catName.db.updpk").filter(col("id") === 37).head().getLong(2) == -1L)
    assert(spark.table(s"$catName.db.updpk").filter(col("v") === -1L).count() == 1L)
    val after = Snapshots.files(spark, dir, Snapshots.latestVersion(spark, dir).get)
    val kept = after.toSet.intersect(before.toSet)
    // static pk pushdown prunes to the one token-range file; the other
    // three files survive IDENTICALLY (same paths, no rewrite)
    assert(before.size - kept.size == 1,
      s"expected exactly one replaced file, kept ${kept.size} of ${before.size}")
  }

  test("runtime group filtering: subquery condition prunes files at execution") {
    val dir = createLogged("rgf")
    val v0 = Snapshots.latestVersion(spark, dir).get
    val before = Snapshots.files(spark, dir, v0)
    // one target id via a subquery — statically unpushable, so the only
    // way the rewrite touches fewer than all files is Spark's
    // RowLevelOperationRuntimeGroupFiltering planting a dynamic pk filter
    // on the row-level scan (SupportsRuntimeFiltering)
    spark.range(37, 38).toDF("key").createOrReplaceTempView("rgf_keys")
    spark.sql(s"UPDATE $catName.db.rgf SET v = -7 " +
      "WHERE id IN (SELECT key FROM rgf_keys)")
    assert(spark.table(s"$catName.db.rgf").filter(col("v") === -7L).count() == 1L)
    val after = Snapshots.files(spark, dir, Snapshots.latestVersion(spark, dir).get)
    val kept = after.toSet.intersect(before.toSet)
    assert(before.size - kept.size == 1,
      s"runtime group filter should leave ${before.size - 1} files untouched, " +
        s"kept ${kept.size} of ${before.size}")
  }

  test("MERGE INTO: update + insert + delete actions in one statement") {
    val dir = createLogged("mrg", rows = 100)
    spark.range(1, 31).selectExpr(
      "id * 4 AS id", // 4,8,…,120: ids > 100 are NOT MATCHED → insert
      "CASE WHEN id % 5 = 0 THEN 'del' ELSE 'up' END AS op",
      "id AS sv").createOrReplaceTempView("mrg_src")

    spark.sql(
      s"""MERGE INTO $catName.db.mrg AS t USING mrg_src AS s ON t.id = s.id
         |WHEN MATCHED AND s.op = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.sv
         |WHEN NOT MATCHED THEN INSERT (id, cat, v) VALUES (s.id, 'new', s.sv)
         |""".stripMargin)

    val got = spark.table(s"$catName.db.mrg")
      .select(col("id"), col("cat"), col("v")).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    // expected, replayed in plain scala over the same construction
    val src = (1L to 30L).map(i => (i * 4, if (i % 5 == 0) "del" else "up", i)).toSeq
    val srcById = src.map(s => s._1 -> s).toMap
    val exp = scala.collection.mutable.Map[Long, (String, Long)]()
    (1 to 100).foreach { i =>
      val cat = if (i % 2 == 0) "even" else "odd"
      srcById.get(i.toLong) match {
        case Some((_, "del", _)) => ()
        case Some((_, _, sv)) => exp += i.toLong -> (cat, sv)
        case None => exp += i.toLong -> (cat, i * 10L)
      }
    }
    // NOT MATCHED rows insert regardless of op — 'del' only guards MATCHED
    src.filter(_._1 > 100).foreach(s => exp += s._1 -> ("new", s._3))
    assert(got == exp.toMap)
    // the merge is one atomic commit; pre-merge version is still readable
    val versions = Snapshots.history(spark, dir).map(_._1)
    assert(versions.size >= 2)
  }

  test("DELETE FROM with a non-pk predicate goes through copy-on-write") {
    createLogged("delq")
    spark.sql(s"DELETE FROM $catName.db.delq WHERE v > 3000 AND cat = 'even'")
    val t = spark.table(s"$catName.db.delq")
    assert(t.filter(col("v") > 3000 && col("cat") === "even").count() == 0L)
    assert(t.count() == 400L - (302 to 400 by 2).size)
  }

  test("UPDATE on a log-less table swaps files physically") {
    spark.sql(s"CREATE TABLE $catName.db.nolog (id BIGINT, v BIGINT) " +
      "USING graft OPTIONS (pk 'id', partitions '2')")
    spark.sql(s"INSERT INTO $catName.db.nolog SELECT id, id * 3 FROM range(1, 201) AS r(id)")
    val dir = s"$baseDir/db/nolog"
    spark.sql(s"UPDATE $catName.db.nolog SET v = 0 WHERE id <= 100")
    val t = spark.read.format("graft").option("path", dir).option("pk", "id").load()
    assert(t.filter(col("id") <= 100 && col("v") =!= 0L).count() == 0L)
    assert(t.filter(col("id") > 100).agg(min("v")).head().getLong(0) == 303L)
    assert(t.count() == 200L)
    assert(Snapshots.latestVersion(spark, dir).isEmpty)
  }

  test("MERGE WITH SCHEMA EVOLUTION: source-only columns auto-ALTER the target " +
      "and the merge lands in one statement") {
    val dir = createLogged("mse", rows = 20)
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW mse_src AS
        |SELECT id, v, tag FROM VALUES
        |  (1L, 111L, 'a'), (2L, 222L, 'b'), (1001L, 5L, 'c')
        |AS t(id, v, tag)""".stripMargin)
    // without the evolution clause: unknown target column refuses loudly
    intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $catName.db.mse t USING mse_src s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag
           |WHEN NOT MATCHED THEN INSERT (id, cat, v, tag)
           |  VALUES (s.id, 'new', s.v, s.tag)""".stripMargin)
    }
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $catName.db.mse t
         |USING mse_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag
         |WHEN NOT MATCHED THEN INSERT (id, cat, v, tag)
         |  VALUES (s.id, 'new', s.v, s.tag)""".stripMargin)
    val t = spark.table(s"$catName.db.mse")
    assert(t.columns.toSeq == Seq("id", "cat", "v", "tag"),
      s"schema must have evolved, got ${t.columns.mkString(",")}")
    assert(t.count() == 21L)
    val got = t.collect().map(r =>
      r.getLong(0) -> ((r.getLong(2), Option(r.getString(3))))).toMap
    assert(got(1L) == ((111L, Some("a"))) && got(2L) == ((222L, Some("b"))))
    assert(got(1001L) == ((5L, Some("c"))))
    // untouched pre-evolution rows read null for the new column
    assert(got(3L)._2.isEmpty)
  }

  test("row-level ops refuse tables carrying writetime feature columns") {
    spark.sql(s"CREATE TABLE $catName.db.wt (id BIGINT, v BIGINT) " +
      "USING graft OPTIONS (pk 'id')")
    val dir = s"$baseDir/db/wt"
    val df = spark.range(1, 51).selectExpr("id", "id * 2 AS v")
    TokenSortedWriter.write(df, CqlSchema("wt", Seq("id")), dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, writetimeMicros = Some(1000L)))
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $catName.db.wt SET v = 1 WHERE id = 3")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[UnsupportedOperationException]),
      s"expected UnsupportedOperationException, got $e")
    // and the table is untouched
    val t = spark.read.format("graft").option("path", dir).option("pk", "id").load()
    assert(t.filter(col("id") === 3).head().getLong(1) == 6L)
  }

  test("row-level ops refuse when only one scanned generation carries writetime") {
    val dir = createLogged("wtmix", rows = 60, parts = 3)
    // a later stamped generation over a few keys: the unstamped files
    // scanned beside it must not hide its feature column from the guard
    TokenSortedWriter.write(spark.range(1, 6).selectExpr("id", "'odd' AS cat", "id AS v"),
      CqlSchema("wtmix", Seq("id")), dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, snapshot = true,
        writetimeMicros = Some(1000L)))
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $catName.db.wtmix SET v = -1")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[UnsupportedOperationException] &&
      c.getMessage.contains(TokenSortedWriter.WritetimeCol)),
      s"expected the feature-column refusal, got $e")
    assert(spark.table(s"$catName.db.wtmix").filter(col("v") === -1L).count() == 0L)
  }
}
