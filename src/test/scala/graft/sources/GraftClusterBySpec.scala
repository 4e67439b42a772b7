package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.model.CqlSchema
import graft.write.TokenSortedWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And, GreaterThanOrEqual, LessThanOrEqual}

/** SQL `CLUSTER BY` on catalog tables: the clustering columns map to the
 *  Z-order write layout, so every INSERT lands files with narrow footer
 *  ranges on each listed axis and the existing stats pruning works on
 *  all of them — declared once in DDL, no library calls. */
class GraftClusterBySpec extends SparkSpec {
  import spark.implicits._

  private lazy val catName: String = {
    val base = Files.createTempDirectory("graft_clby_").toString
    spark.conf.set("spark.sql.catalog.clby", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.clby.base", base)
    "clby"
  }
  private def baseDir: String = spark.conf.get(s"spark.sql.catalog.$catName.base")

  private def grid(n: Int) = {
    val rnd = new scala.util.Random(7)
    Seq.fill(n)((rnd.nextLong(), rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
      .toDF("id", "a", "b")
  }

  private def bandFilter(c: String, lo: Long, hi: Long) =
    And(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))

  test("CREATE TABLE … CLUSTER BY (a, b): INSERTs land Z-ordered files " +
      "that prune on BOTH axes, and SELECTs stay correct") {
    spark.sql(s"""CREATE TABLE $catName.db.grid (id BIGINT, a BIGINT, b BIGINT)
                 |USING graft CLUSTER BY (a, b)
                 |OPTIONS (pk 'id', partitions '16', snapshot 'true')""".stripMargin)
    grid(20000).createOrReplaceTempView("clby_grid")
    spark.sql(s"INSERT INTO $catName.db.grid SELECT id, a, b FROM clby_grid")
    val dir = s"$baseDir/db/grid"
    val files = TokenPruner.listFiles(spark, dir)
    assert(files.length >= 8, s"expected a multi-file layout, got ${files.length}")
    val schema = CqlSchema("grid", Seq("id"))
    val prunedA = TokenPruner.prune(spark, files, Array(bandFilter("a", 0L, 127L)), schema)
    val prunedB = TokenPruner.prune(spark, files, Array(bandFilter("b", 0L, 127L)), schema)
    assert(prunedA.length <= files.length / 2, s"a kept ${prunedA.length}/${files.length}")
    assert(prunedB.length <= files.length / 2, s"b kept ${prunedB.length}/${files.length}")
    val cnt = spark.table(s"$catName.db.grid").filter(col("a") <= 127L).count()
    assert(cnt == spark.table("clby_grid").filter(col("a") <= 127L).count())
  }

  test("ALTER TABLE … CLUSTER BY re-layouts future writes; CLUSTER BY NONE " +
      "reverts to the token sort") {
    spark.sql(s"""CREATE TABLE $catName.db.alt (id BIGINT, a BIGINT, b BIGINT)
                 |USING graft OPTIONS (pk 'id', partitions '8', snapshot 'true')"""
      .stripMargin)
    grid(8000).createOrReplaceTempView("clby_alt")
    spark.sql(s"INSERT INTO $catName.db.alt SELECT id, a, b FROM clby_alt")
    val dir = s"$baseDir/db/alt"
    val before = TokenPruner.listFiles(spark, dir)
    assert(before.forall(_.tokenRange.isDefined), "pre-cluster layout is token-sorted")
    spark.sql(s"ALTER TABLE $catName.db.alt CLUSTER BY (a, b)")
    spark.sql(s"INSERT INTO $catName.db.alt SELECT id + 1000000, a, b FROM clby_alt")
    val after = TokenPruner.listFiles(spark, dir)
    val fresh = after.filterNot(f => before.exists(_.path == f.path))
    assert(fresh.nonEmpty && fresh.forall(_.tokenRange.isEmpty),
      "post-cluster files carry the Z-order layout (no token stats)")
    spark.sql(s"ALTER TABLE $catName.db.alt CLUSTER BY NONE")
    spark.sql(s"INSERT INTO $catName.db.alt SELECT id + 2000000, a, b FROM clby_alt")
    val last = TokenPruner.listFiles(spark, dir)
      .filterNot(f => after.exists(_.path == f.path))
    assert(last.nonEmpty && last.forall(_.tokenRange.isDefined),
      "CLUSTER BY NONE reverts future writes to the token sort")
    assert(spark.table(s"$catName.db.alt").count() == 24000L)
  }

  test("OPTIMIZE packs clustered small files preserving the Z-order sort " +
      "(the packed file keeps narrow per-axis stats)") {
    spark.sql(s"""CREATE TABLE $catName.db.opt (id BIGINT, a BIGINT, b BIGINT)
                 |USING graft CLUSTER BY (a, b)
                 |OPTIONS (pk 'id', partitions '4', snapshot 'true')""".stripMargin)
    grid(4000).createOrReplaceTempView("clby_opt")
    // two small generations → candidates for one pack
    spark.sql(s"INSERT INTO $catName.db.opt SELECT id, a, b FROM clby_opt " +
      "WHERE id % 2 = 0")
    spark.sql(s"INSERT INTO $catName.db.opt SELECT id, a, b FROM clby_opt " +
      "WHERE id % 2 != 0")
    val dir = s"$baseDir/db/opt"
    val packed = TokenSortedWriter.optimizeSmallFiles(
      spark, CqlSchema("opt", Seq("id")), dir)
    assert(packed > 0L, "expected the small generations to pack")
    val live = graft.write.Snapshots.snapshot(spark, dir, None).files
    // the packed replacement keeps the zorder column physically sorted, so
    // its row groups still give narrow ranges; band pruning remains useful
    val pruned = TokenPruner.prune(spark, live,
      Array(bandFilter("a", 0L, 63L)), CqlSchema("opt", Seq("id")))
    assert(pruned.length <= live.length,
      s"pruning degraded: ${pruned.length}/${live.length}")
    assert(spark.table(s"$catName.db.opt").count() == 4000L)
  }

  test("admission: CLUSTER BY refuses 1 column, unknown columns, " +
      "unsupported types, and combination with PARTITIONED BY; clustering " +
      "columns refuse rename until CLUSTER BY NONE") {
    def fails(ddl: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(ddl))
      assert(e.getMessage.contains(needle), s"$ddl → ${e.getMessage}")
    }
    fails(s"CREATE TABLE $catName.db.bad1 (id BIGINT, a BIGINT) USING graft " +
      "CLUSTER BY (a) OPTIONS (pk 'id')", "2-4")
    // unknown columns refuse upstream of the catalog (Spark's own
    // clustering-column resolution)
    fails(s"CREATE TABLE $catName.db.bad2 (id BIGINT, a BIGINT) USING graft " +
      "CLUSTER BY (a, nope) OPTIONS (pk 'id')", "nope")
    fails(s"CREATE TABLE $catName.db.bad3 (id BIGINT, a BIGINT, v DOUBLE) " +
      "USING graft CLUSTER BY (a, v) OPTIONS (pk 'id')", "must be integral")
    spark.sql(s"""CREATE TABLE $catName.db.ok (id BIGINT, a BIGINT, b BIGINT)
                 |USING graft CLUSTER BY (a, b)
                 |OPTIONS (pk 'id', partitions '2', snapshot 'true')""".stripMargin)
    fails(s"ALTER TABLE $catName.db.ok RENAME COLUMN a TO a2", "a")
    spark.sql(s"ALTER TABLE $catName.db.ok CLUSTER BY NONE")
    spark.sql(s"ALTER TABLE $catName.db.ok RENAME COLUMN a TO a2") // now free
    assert(spark.table(s"$catName.db.ok").columns.contains("a2"))
  }
}
