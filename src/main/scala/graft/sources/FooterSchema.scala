package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types.StructType

/** Merged Spark schema of a parquet file set from its footers, read on the
 *  driver: the zero-job replacement for `spark.read.option("mergeSchema",
 *  "true").parquet(files).schema`, which runs one distributed job per call. */
private[graft] object FooterSchema {

  /** file→schema: data files are immutable once written (generational
   *  names), so a footer's schema pins for the JVM's lifetime. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Merged schema of `files` (cached per path, bounded-parallel misses),
   *  in Spark's merge order: files sorted by path, the first file's fields
   *  first, new fields appended; every field nullable at every depth, like
   *  Spark's inference. None when `files` is empty, a footer cannot be
   *  read, or two files give one name different types — callers then take
   *  Spark's own inference, with its task retries and error messages. */
  def merged(spark: SparkSession, files: Seq[String]): Option[StructType] = {
    if (files.isEmpty) return None
    val conf = spark.sessionState.newHadoopConf()
    // the SQLConf is captured on the driver thread: pool threads may not
    // inherit the active session. The cache key carries its parquet flags
    // so two sessions with different settings never share a schema.
    val sqlConf = spark.sessionState.conf
    val confKey = GraftShims.footerSchemaConfKey(sqlConf)
    def cacheKey(p: String): String = p + "|" + confKey
    val misses = files.filterNot(p => cache.containsKey(cacheKey(p))).distinct
    try graft.write.DriverPool.map(misses) { p =>
      p -> GraftShims.asNullable(GraftShims.footerSchema(conf, sqlConf, new Path(p)))
    }.foreach { case (p, s) => cache.put(cacheKey(p), s) }
    catch {
      // one transient FS hiccup or unreadable footer must not fail the
      // read with a driver exception: fall back to the distributed
      // mergeSchema job (Spark-side task retries included)
      case scala.util.control.NonFatal(_) => return None
    }
    val distinct = files.sorted.map(p => cache.get(cacheKey(p))).distinct
    distinct.tail.foldLeft(Option(distinct.head)) {
      case (None, _) => None
      case (Some(acc), s) =>
        val known = acc.fieldNames.toSet
        if (s.fields.exists(f => known.contains(f.name) &&
            acc(f.name).dataType != f.dataType)) None
        else Some(StructType(acc.fields ++ s.fields.filterNot(f => known.contains(f.name))))
    }
  }

  /** [[merged]], or Spark's own distributed mergeSchema inference when the
   *  footers conflict or cannot be read. */
  def of(spark: SparkSession, files: Seq[String]): StructType =
    merged(spark, files).getOrElse(
      spark.read.option("mergeSchema", "true").parquet(files: _*).schema)

  /** `files` read by name under their merged schema ([[of]]): files of
   *  different generations may carry different columns. */
  def read(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.schema(of(spark, files)).parquet(files: _*)
}
