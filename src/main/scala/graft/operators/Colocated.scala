package graft.operators

import graft.model.CqlSchema
import graft.sources.TokenPruner
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Co-located join of two graft tables written with the SAME exact ring
 * splits (`WriteConf(ringSplits = n)`): partition i of both tables holds
 * exactly the token range `splitRing(n)(i)`, and the shared Murmur3 token
 * function sends equal partition keys to the same index — so the join zips
 * aligned partitions with ZERO shuffle of either side. The "co-locate joins
 * via pre-partitioning" move at 100 TB: joining two 100 TB tables moves no
 * data at all.
 *
 * Why this is an explicit operator instead of transparent planner magic
 * (SURVEY §7.3 preference order, landing on (d) with the (a)-(c) analysis):
 *  - (a) compose built-ins: Spark's storage-partitioned joins only
 *    understand `KeyGroupedPartitioning` with DISCRETE per-partition key
 *    values — a token RANGE layout cannot be expressed as partition values.
 *  - (b/c) custom Catalyst: `EnsureRequirements` consults ShuffleSpec
 *    compatibility only against a best spec with
 *    `canCreatePartitioning = true`, which must yield a partitioning
 *    `ShuffleExchangeExec` can execute — custom partitionings throw at
 *    runtime, and KeyGrouped's special-cased bypass is not extensible
 *    (see `graftshim.ClusteredScan` notes).
 *  - (d) so: verify nominal-range equality from the write-time manifest,
 *    read both sides as clustered whole-file scans (partitions ordered by
 *    range start), `zipPartitions`, and hash-join each aligned pair with
 *    the RIGHT side as the build map. Memory = one right file per task —
 *    bounded by the writer's rolling file size, the same invariant every
 *    broadcast-build join relies on.
 *
 * Inner join on the (identical-length, identically-typed) partition keys.
 * Falls back to a plain Spark join when the layouts are NOT provably
 * co-located (missing/mismatched nominal ranges) — never wrong, only
 * slower.
 */
object Colocated {

  def join(
      spark: SparkSession,
      leftDir: String,
      leftSchema: CqlSchema,
      rightDir: String,
      rightSchema: CqlSchema): DataFrame = {
    require(leftSchema.partitionKeys.length == rightSchema.partitionKeys.length,
      "co-located join needs equal partition-key arity")
    val lRanges = nominalRanges(spark, leftDir)
    val rRanges = nominalRanges(spark, rightDir)
    val left = clusteredRead(spark, leftDir, leftSchema)
    val right = clusteredRead(spark, rightDir, rightSchema)
    // a side carrying deletion vectors scans in positional mode (whole-file
    // row-based partitions for the dv files, split partitions for the
    // rest) — partition indexes no longer align with the ring splits, and
    // a blind zip would join MISALIGNED ranges silently. Fall back to the
    // planner until OPTIMIZE folds the DVs away.
    def hasDvs(dir: String): Boolean =
      graft.write.Snapshots.snapshot(spark, dir, Some("listing")).dvs.nonEmpty
    val anyDvs = hasDvs(leftDir) || hasDvs(rightDir)
    if (anyDvs || lRanges.isEmpty || lRanges != rRanges) {
      // not provably co-located: correct fallback through the planner
      return left.join(right,
        leftSchema.partitionKeys.zip(rightSchema.partitionKeys)
          .map { case (l, r) => left(CqlSchema.quoted(l)) === right(CqlSchema.quoted(r)) }
          .reduce(_ && _))
    }

    val lKeyIdx = leftSchema.partitionKeys.map(left.schema.fieldIndex)
    val rKeyIdx = rightSchema.partitionKeys.map(right.schema.fieldIndex)
    val rKeep = right.schema.fields.indices.filterNot(rKeyIdx.contains)
    val outSchema = StructType(left.schema.fields ++ rKeep.map(right.schema.fields))

    val zipped = left.rdd.zipPartitions(right.rdd) { (lit, rit) =>
      // build the right side of THIS token range (one file) and probe left
      // Array[Byte] keys compare by REFERENCE under Seq equality — wrap
      // binary components so blob partition keys actually match
      def hashableKey(idx: Seq[Int], r: Row): Seq[Any] = idx.map(r.get(_) match {
        case b: Array[Byte] => b.toSeq
        case x => x
      })
      val build = new scala.collection.mutable.HashMap[Seq[Any], List[Row]]()
      rit.foreach { r =>
        val k = hashableKey(rKeyIdx, r)
        build(k) = r :: build.getOrElse(k, Nil)
      }
      lit.flatMap { l =>
        val k = hashableKey(lKeyIdx, l)
        build.getOrElse(k, Nil).reverseIterator.map { r =>
          Row.fromSeq(l.toSeq ++ rKeep.map(r.get))
        }
      }
    }
    spark.createDataFrame(zipped, outSchema)
  }

  /** Nominal ring ranges of a table dir, sorted — None unless every file
   *  carries one and they are pairwise strictly disjoint. */
  def nominalRanges(spark: SparkSession, dir: String): Option[Seq[(Long, Long)]] = {
    val files = TokenPruner.listFiles(spark, dir)
    if (files.isEmpty) return None
    val nominal = files.flatMap(_.ringSplit)
    if (nominal.length != files.length) return None
    val sorted = nominal.sortBy(_._1).toSeq
    if (sorted.zip(sorted.tail).forall { case ((_, e), (s, _)) => e <= s }) Some(sorted)
    else None
  }

  private def clusteredRead(spark: SparkSession, dir: String, schema: CqlSchema): DataFrame =
    spark.read.format("graft")
      .option("path", dir)
      .option("pk", schema.partitionKeys.mkString(","))
      .option("ck", schema.clusteringKeys.mkString(","))
      .option("clustered", "true")
      .load()
}
