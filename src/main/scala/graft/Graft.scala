package graft

import org.apache.spark.sql.SparkSession

/**
 * Session setup for the graft engine. [[install]] registers
 *  1. the clustered-scan planning strategy (S2 reported partitioning — see
 *     `org.apache.spark.sql.graftshim.ClusteredScan`) via
 *     `spark.experimental.extraStrategies`: purely an optimization — every
 *     graft plan is correct without it, it only removes shuffles a disjoint
 *     token layout has already paid for;
 *  2. the SQL function surface (`graft_token`, `image_dims`, the MinHash
 *     family, … — see [[graft.functions.registerAll]]) so plain
 *     `spark.sql` reaches every native expression.
 * Public APIs only, idempotent, works on an already-created session.
 */
object Graft {
  def install(spark: SparkSession): Unit = {
    org.apache.spark.sql.graftshim.ClusteredScanUtil.install(spark)
    graft.functions.registerAll(spark)
  }

  /** The local session of [[Bench]] and the dev tools (`graft.tools`):
   *  `local[cpus]` with `cpus` shuffle partitions, no UI, `conf` on top,
   *  the given log level and graft [[install]]ed. */
  def localSession(cpus: String, logLevel: String, conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    install(spark)
    spark
  }

  /**
   * Debug dump analog of the reference's `sstableToJson` surface
   * (reference `CassandraBridge.java:421`): every row of a written graft
   * table as one JSON document, enriched with the metadata a binary dump
   * would show — the ring token (the on-disk `_graft_token` column when the
   * write kept it, recomputed from the partition key otherwise) plus any
   * persisted writetime/TTL columns, which ride along untouched.
   *
   * Returns a distributed `Dataset[String]` (`toJSON` is a per-partition
   * codegen projection — nothing is collected); rows within each file are
   * already in token order from the write, so a `.show`/`.collect` at debug
   * scale reads like the reference's dump.
   */
  def toJsonDump(
      spark: SparkSession,
      schema: graft.model.CqlSchema,
      path: String): org.apache.spark.sql.Dataset[String] = {
    import org.apache.spark.sql.functions.col
    val df = graft.write.TokenSortedWriter.read(spark, schema, path)
    val withToken =
      if (df.columns.contains(graft.write.TokenSortedWriter.TokenCol)) df
      else df.withColumn(graft.write.TokenSortedWriter.TokenCol,
        graft.functions.graft_token(schema.partitionKeys.map(col): _*))
    // token first, then the row columns — mirroring the reference dump's
    // "partition header, then rows" shape in flat-JSON form
    val ordered = withToken.select(
      (graft.write.TokenSortedWriter.TokenCol +:
        withToken.columns.filterNot(_ == graft.write.TokenSortedWriter.TokenCol).toSeq)
        .map(col): _*)
    ordered.toJSON
  }
}
