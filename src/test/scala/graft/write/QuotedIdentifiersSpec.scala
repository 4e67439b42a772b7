package graft.write

import graft.SparkSpec
import graft.model.CqlSchema
import graft.sources.TokenPruner
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Quoted/exotic identifiers (spaces, dots, reserved words, hyphens) and
 *  all-null columns through sink, source, pushdown, and the normalized read
 *  (reference `EndToEndTests.java:2408-2625`). */
class QuotedIdentifiersSpec extends SparkSpec {
  import spark.implicits._

  private val schema = CqlSchema("exotic", Seq("user id"), Seq("Order.Key"))

  private def mk(rows: Seq[(Long, Long, Double, String)]) =
    rows.toDF("a", "b", "c", "d").select(
      col("a").as("user id"), col("b").as("Order.Key"),
      col("c").as("select"), col("d").as("Mixed-Case"),
      lit(null).cast("string").as("all null"))

  test("exotic names round-trip the sink+source with token pruning on the quoted pk") {
    val dir = java.nio.file.Files.createTempDirectory("quoted_spec_").toString + "/t"
    TokenSortedWriter.write(mk((1L to 400L).map(i => (i, i, i * 1.0, s"s$i"))),
      schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true))
    val back = spark.read.format("graft")
      .option("path", dir).option("pk", "user id").option("ck", "Order.Key").load()
    assert(back.columns.toSet ==
      Set("user id", "Order.Key", "select", "Mixed-Case", "all null"))
    assert(back.count() == 400L)
    // pushed equality on the quoted pk prunes files via token stats
    val all = TokenPruner.listFiles(spark, dir)
    val pruned = TokenPruner.prune(spark, all,
      Array(org.apache.spark.sql.sources.EqualTo("`user id`", 42L)), schema)
    assert(pruned.length == 1, "quoted pushed attribute must still token-prune")
    val row = back.filter(col("`user id`") === 42L)
      .select(col("`select`"), col("`all null`")).head()
    assert(row.getDouble(0) == 42.0 && row.isNullAt(1))
  }

  test("normalized read (LWW + deletes) works over exotic names") {
    val dir = java.nio.file.Files.createTempDirectory("quoted_norm_").toString + "/t"
    TokenSortedWriter.write(mk(Seq((1L, 1L, 1.0, "old"), (2L, 2L, 2.0, "keep"))),
      schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true,
        writetimeMicros = Some(100L)))
    TokenSortedWriter.write(mk(Seq((1L, 1L, 10.0, "new"))),
      schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true,
        writetimeMicros = Some(200L)))
    TokenSortedWriter.writeDeletes(mk(Seq((2L, 2L, 0.0, "x"))), schema, dir, Some(300L))
    // a row tombstone keys on the dotted clustering column too
    TokenSortedWriter.write(mk(Seq((3L, 1L, 3.0, "row1"), (3L, 2L, 3.5, "row2"))),
      schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true,
        writetimeMicros = Some(200L)))
    TokenSortedWriter.writeDeletes(mk(Seq((3L, 1L, 0.0, "x"))), schema, dir, Some(300L),
      rowLevel = true)
    val got = TokenSortedWriter.readNormalized(spark, schema, dir)
      .select(col("`user id`"), col("`select`"), col("`Mixed-Case`"))
      .as[(Long, Double, String)].collect().toSet
    assert(got == Set((1L, 10.0, "new"), (3L, 3.5, "row2")))
  }
}
