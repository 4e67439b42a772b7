package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.write.Snapshots
import org.apache.spark.sql.functions._

/** SQL UPDATE / MERGE INTO / predicate DELETE through the merge-on-read
 *  delta operation ([[GraftDeltaOperation]]): O(changed rows) writes —
 *  base files NEVER rewritten, deletes become deletion vectors, updates
 *  become DV + re-insert generation — with exact final state, version
 *  history, and write-amplification proofs. */
class MergeOnReadSpec extends SparkSpec {

  private lazy val catName: String = {
    val base = Files.createTempDirectory("graft_mor_").toString
    spark.conf.set("spark.sql.catalog.mor", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mor.base", base)
    "mor"
  }
  private def baseDir: String = spark.conf.get(s"spark.sql.catalog.$catName.base")

  private def createMor(name: String, rows: Int = 400, parts: Int = 4): String = {
    spark.sql(s"""CREATE TABLE $catName.db.$name (id BIGINT, cat STRING, v BIGINT)
                 |USING graft OPTIONS (pk 'id', partitions '$parts',
                 |  snapshot 'true', dmlMode 'merge-on-read')""".stripMargin)
    spark.sql(s"INSERT INTO $catName.db.$name " +
      s"SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END, id * 10 " +
      s"FROM range(1, ${rows + 1}) AS r(id)")
    s"$baseDir/db/$name"
  }

  test("DELETE writes a DV, never rewrites or drops a base file") {
    val dir = createMor("del")
    val v0 = Snapshots.latestVersion(spark, dir).get
    val before = Snapshots.files(spark, dir, v0).toSet

    spark.sql(s"DELETE FROM $catName.db.del WHERE cat = 'odd' AND v < 1000")

    val t = spark.table(s"$catName.db.del")
    assert(t.count() == 400L - 50L) // odd ids 1..99 (50 of them) → v 10..990
    assert(t.filter(col("cat") === "odd" && col("v") < 1000).count() == 0L)
    val v1 = Snapshots.latestVersion(spark, dir).get
    assert(v1 == v0 + 1)
    // the base file set is IDENTICAL — deletes are metadata + DVs only
    assert(Snapshots.files(spark, dir, v1).toSet == before,
      "merge-on-read DELETE must not add or remove data files")
    assert(Snapshots.deletionVectors(spark, dir, v1).nonEmpty)
    // time travel: pre-delete version still full
    assert(spark.read.format("graft").option("path", dir).option("pk", "id")
      .option("snapshotVersion", v0.toString).load().count() == 400L)
  }

  test("point UPDATE touches one DV and one tiny generation; other files untouched") {
    val dir = createMor("upd")
    val v0 = Snapshots.latestVersion(spark, dir).get
    val before = Snapshots.files(spark, dir, v0).toSet
    assert(before.size >= 4)

    spark.sql(s"UPDATE $catName.db.upd SET v = 777777 WHERE id = 42")

    val t = spark.table(s"$catName.db.upd")
    assert(t.count() == 400L)
    assert(t.filter(col("id") === 42L).select(col("v")).head().getLong(0) == 777777L)
    assert(t.filter(col("v") === 777777L).count() == 1L)
    val v1 = Snapshots.latestVersion(spark, dir).get
    val after = Snapshots.files(spark, dir, v1).toSet
    // every original base file survives; the only additions are the
    // re-insert generation (O(1 row))
    assert(before.subsetOf(after), "no base file may be dropped or rewritten")
    val added = after -- before
    assert(added.nonEmpty && added.forall(_.contains("/gen-")),
      s"additions must be the re-insert generation, got $added")
    // exactly ONE carrier got a DV (the file holding id=42)
    assert(Snapshots.deletionVectors(spark, dir, v1).size == 1)
  }

  test("MERGE INTO: update + insert + delete actions through deltas") {
    val dir = createMor("mrg", rows = 100)
    spark.sql(
      s"""CREATE OR REPLACE TEMP VIEW mor_src AS
         |SELECT id, v FROM VALUES
         |  (1L, 111L), (2L, 222L), (101L, 1010L), (102L, 1020L), (4L, -1L)
         |AS t(id, v)""".stripMargin)
    spark.sql(
      s"""MERGE INTO $catName.db.mrg t USING mor_src s ON t.id = s.id
         |WHEN MATCHED AND s.v < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, cat, v) VALUES (s.id, 'new', s.v)"""
        .stripMargin)
    val got = spark.table(s"$catName.db.mrg").select(col("id"), col("cat"), col("v"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got.size == 101) // 100 - 1 deleted + 2 inserted
    assert(got(1L) == (("odd", 111L)))
    assert(got(2L) == (("even", 222L)))
    assert(!got.contains(4L))
    assert(got(101L) == (("new", 1010L)))
    assert(got(102L) == (("new", 1020L)))
  }

  test("successive DMLs union DVs; mixed files and survivors stay exact") {
    val dir = createMor("succ", rows = 60, parts = 2)
    spark.sql(s"DELETE FROM $catName.db.succ WHERE id % 3 = 0")
    spark.sql(s"DELETE FROM $catName.db.succ WHERE id % 5 = 0")
    val ids = spark.table(s"$catName.db.succ").select(col("id"))
      .collect().map(_.getLong(0)).toSet
    val expected = (1L to 60L).filter(i => i % 3 != 0 && i % 5 != 0).toSet
    assert(ids == expected)
    // update a survivor afterwards: delete+reinsert composes with the DVs
    spark.sql(s"UPDATE $catName.db.succ SET v = 1 WHERE id = 7")
    val t = spark.table(s"$catName.db.succ")
    assert(t.count() == expected.size.toLong)
    assert(t.filter(col("id") === 7L).head().getLong(2) == 1L)
  }

  test("DML matching zero rows commits nothing") {
    val dir = createMor("noop", rows = 50)
    val v0 = Snapshots.latestVersion(spark, dir).get
    spark.sql(s"DELETE FROM $catName.db.noop WHERE v > 100000000")
    assert(Snapshots.latestVersion(spark, dir).get == v0,
      "a zero-row DML must not burn a version")
    assert(spark.table(s"$catName.db.noop").count() == 50L)
  }

  test("OPTIMIZE after MoR DML folds the DVs away and restores clean scans") {
    val dir = createMor("fold", rows = 200, parts = 4)
    spark.sql(s"DELETE FROM $catName.db.fold WHERE id % 4 = 1")
    val vDv = Snapshots.latestVersion(spark, dir).get
    assert(Snapshots.deletionVectors(spark, dir, vDv).nonEmpty)
    val expect = spark.table(s"$catName.db.fold").select(col("id"))
      .collect().map(_.getLong(0)).toSet

    graft.write.TokenSortedWriter.compactInPlace(
      spark, graft.model.CqlSchema("fold", Seq("id")), dir)

    val vOpt = Snapshots.latestVersion(spark, dir).get
    assert(Snapshots.deletionVectors(spark, dir, vOpt).isEmpty,
      "compaction must fold deletion vectors away")
    val ids = spark.table(s"$catName.db.fold").select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(ids == expect, "folding must not change logical content")
  }

  test("log-less merge-on-read table falls back to copy-on-write") {
    // no snapshot option → no log → the delta builder must hand back the
    // copy-on-write operation (DV bindings are log metadata)
    spark.sql(s"""CREATE TABLE $catName.db.nolog (id BIGINT, v BIGINT)
                 |USING graft OPTIONS (pk 'id', partitions '2',
                 |  dmlMode 'merge-on-read')""".stripMargin)
    spark.sql(s"INSERT INTO $catName.db.nolog SELECT id, id * 2 FROM range(1, 101)")
    spark.sql(s"DELETE FROM $catName.db.nolog WHERE v >= 100")
    assert(spark.table(s"$catName.db.nolog").count() == 49L)
    val dir = s"$baseDir/db/nolog"
    assert(Snapshots.latestVersion(spark, dir).isEmpty, "still log-less after CoW DML")
  }

  test("merge-on-read DML refuses when only one touched generation carries writetime") {
    val dir = createMor("wtmix", rows = 60, parts = 3)
    graft.write.TokenSortedWriter.write(
      spark.range(1, 6).selectExpr("id", "'odd' AS cat", "id AS v"),
      graft.model.CqlSchema("wtmix", Seq("id")), dir, org.apache.spark.sql.SaveMode.Append,
      graft.write.TokenSortedWriter.WriteConf(numPartitions = 1, snapshot = true,
        writetimeMicros = Some(1000L)))
    val v0 = Snapshots.latestVersion(spark, dir).get
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $catName.db.wtmix SET v = -1 WHERE id <= 30")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[UnsupportedOperationException] &&
      c.getMessage.contains(graft.write.TokenSortedWriter.WritetimeCol)),
      s"expected the feature-column refusal, got $e")
    assert(Snapshots.latestVersion(spark, dir).get == v0, "a refused DML must not commit")
  }
}
