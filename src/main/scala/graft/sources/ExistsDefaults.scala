package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField, StructType}

/**
 * Exists-defaults (`ALTER TABLE … ADD COLUMNS (c T DEFAULT v)`): the
 * Iceberg "initial default" / Delta `ADD COLUMN … DEFAULT` semantic. The
 * catalog records the constant-folded default as the stock
 * `EXISTS_DEFAULT` field-metadata key next to the write-time
 * `CURRENT_DEFAULT`; rows living in files written BEFORE the column
 * existed then read the default instead of null, PER FILE, inside
 * Spark's own parquet readers (both the vectorized and the row
 * converter honor the key — zero engine-side row work). A file that
 * physically stores the column keeps its stored values, including
 * genuine nulls — absence of the column is what triggers the fill,
 * exactly the write-time/read-time split Delta and Iceberg document.
 *
 * The plumbing this object centralizes: Spark LIFTS default metadata
 * off relation schemas (v2 `Column.defaultValue()`), so the pruned
 * schema a scan receives is stripped — [[overlay]] re-annotates it from
 * the table's descriptor schema before the parquet readers see it.
 * Engine-internal raw reads (change-feed pieces, CoW preimage
 * derivation, OPTIMIZE bin-packing) go through [[read]], which carries
 * the same per-file semantics to `spark.read.parquet` call sites.
 */
object ExistsDefaults {

  val Key: String = ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY

  /** Columns with an exists-default: name → folded literal SQL. */
  def of(schema: StructType): Map[String, String] =
    schema.fields.iterator.collect {
      case f if f.metadata.contains(Key) => f.name -> f.metadata.getString(Key)
    }.toMap

  /** Exists-defaults for a dir keyed by PHYSICAL column name (what raw
   *  parquet reads produce): name → (folded literal SQL, declared type).
   *  Empty when the dir has no descriptor or no defaulted adds. */
  def physicalForDir(spark: SparkSession, dir: String)
      : Map[String, (String, org.apache.spark.sql.types.DataType)] = {
    val p = new Path(dir, GraftCatalog.MetaFile)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(p)) return Map.empty
    val (s, pairs) = GraftCatalog.readMeta(f, p)
    val defaults = s.fields.filter(_.metadata.contains(Key))
    if (defaults.isEmpty) return Map.empty
    val colMap = GraftCatalog.parseColMap(pairs.toMap.get("colmap"))
    defaults.iterator.map(fl => colMap.getOrElse(fl.name, fl.name) ->
      (fl.metadata.getString(Key), fl.dataType)).toMap
  }

  /**
   * Read table data files with per-file exists-default semantics. Plain
   * `spark.read.parquet` when the dir records no defaults (zero behavior
   * change — the common case). Otherwise: infer the MERGED schema (so a
   * mixed-generation file set never silently drops a column one
   * generation stores), re-annotate EXISTS_DEFAULT onto it (the readers
   * fill a column absent from an individual file, per file — stored
   * values and genuine nulls untouched), and fill columns absent from
   * EVERY file with their default expression.
   */
  def read(spark: SparkSession, dir: String, files: Seq[String])
      : org.apache.spark.sql.DataFrame =
    read(spark, physicalForDir(spark, dir), files)

  /** [[read]] with the dir's defaults precomputed — callers that read
   *  many file sets of one table (the change feed walks one set per
   *  commit) resolve the descriptor ONCE, not per event.
   *
   *  `homogeneous = true` asserts every file shares one schema (a single
   *  commit's files, a schema-keyed OPTIMIZE bin): inference then reads
   *  ONE footer on the driver instead of running the distributed
   *  mergeSchema job — only genuinely mixed-generation sets (the feed's
   *  cross-commit delete carriers, a CoW DML's scanned set) pay it. */
  /** Session-scoped file→schema cache: data files are immutable once
   *  written (generational names), so a footer's schema pins for the
   *  JVM's lifetime. A long change-feed replay over a defaulted table
   *  then reads each footer ONCE across all events, instead of running
   *  one distributed mergeSchema inference job per event. */
  private val footerSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private[graft] def invalidateSchemaCache(): Unit = footerSchemaCache.clear()

  /** Merged Spark schema of a file set from driver-side footer reads
   *  (cached per path, bounded-parallel for misses) — ZERO Spark jobs.
   *  Files sharing a schema merge for free (set dedup); distinct schemas
   *  merge field-by-field. None when the shapes genuinely conflict
   *  (same name, different type) — the caller then falls back to Spark's
   *  own distributed mergeSchema semantics and its error messages. */
  private def mergedFooterSchema(
      spark: SparkSession, files: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    // capture the session's SQLConf HERE (driver thread) — pool threads
    // may not inherit the active session, and the converter's flags
    // (binaryAsString, int96, NTZ inference, …) come from it. The cache
    // key carries the same flags so two sessions with different parquet
    // settings never share a converted schema.
    val sqlConf = spark.sessionState.conf
    val confKey = org.apache.spark.sql.graftshim.GraftShims.footerSchemaConfKey(sqlConf)
    def cacheKey(p: String): String = p + "|" + confKey
    val misses = files.filterNot(p => footerSchemaCache.containsKey(cacheKey(p))).distinct
    try graft.write.DriverPool.map(misses) { p =>
      p -> org.apache.spark.sql.graftshim.GraftShims.footerSchema(conf, sqlConf, new Path(p))
    }.foreach { case (p, s) => footerSchemaCache.put(cacheKey(p), s) }
    catch {
      // one transient FS hiccup or unreadable footer must not fail the
      // read with a driver exception: fall back to the distributed
      // mergeSchema job (Spark-side task retries included)
      case scala.util.control.NonFatal(_) => return None
    }
    // first-seen field order, new fields appended — Spark's merge order.
    // Shared names must carry the IDENTICAL dataType (incl. nested
    // nullability) or we fall back; top-level nullability then relaxes to
    // nullable like Spark's own inference (a column REQUIRED in one
    // generation can be absent/null in another).
    // The cache is WRITE-THROUGH only: a concurrent invalidateSchemaCache()
    // between the miss-fill above and this read would return null — take
    // the safe distributed-mergeSchema fallback instead of a driver NPE.
    val fetched = files.map(p => footerSchemaCache.get(cacheKey(p)))
    if (fetched.contains(null)) return None
    val distinct = fetched.distinct
    distinct.tail.foldLeft(Option(distinct.head)) {
      case (None, _) => None
      case (Some(acc), s) =>
        val known = acc.fieldNames.toSet
        if (s.fields.exists(f => known.contains(f.name) &&
            acc(f.name).dataType != f.dataType)) None
        else Some(StructType(acc.fields ++ s.fields.filterNot(f => known.contains(f.name))))
    }.map(st => StructType(st.fields.map(_.copy(nullable = true))))
  }

  def read(
      spark: SparkSession,
      defaults: Map[String, (String, org.apache.spark.sql.types.DataType)],
      files: Seq[String],
      homogeneous: Boolean = false): org.apache.spark.sql.DataFrame = {
    if (defaults.isEmpty || files.isEmpty) spark.read.parquet(files: _*)
    else {
      val merged =
        if (homogeneous) spark.read.parquet(files.head).schema
        else mergedFooterSchema(spark, files).getOrElse(
          spark.read.option("mergeSchema", "true").parquet(files: _*).schema)
      val annotated = StructType(merged.fields.map { f =>
        defaults.get(f.name) match {
          case Some((sql, _)) if !f.metadata.contains(Key) =>
            f.copy(metadata = new MetadataBuilder()
              .withMetadata(f.metadata).putString(Key, sql).build())
          case _ => f
        }
      })
      val base = spark.read.schema(annotated).parquet(files: _*)
      defaults.filterNot { case (n, _) => merged.fieldNames.contains(n) }
        .foldLeft(base) { case (df, (n, (sql, dt))) =>
          df.withColumn(n, expr(sql).cast(dt))
        }
    }
  }

  /** Copy EXISTS_DEFAULT metadata from `from` onto same-named fields of
   *  `to` — re-annotates a (stripped) required schema from the
   *  descriptor so the parquet readers see the key. */
  def overlay(to: StructType, from: StructType): StructType = {
    val defaults = of(from)
    if (defaults.isEmpty) to
    else StructType(to.fields.map { f =>
      defaults.get(f.name) match {
        case Some(d) if !f.metadata.contains(Key) =>
          f.copy(metadata = new MetadataBuilder()
            .withMetadata(f.metadata).putString(Key, d).build())
        case _ => f
      }
    })
  }

  /** Field metadata for a freshly ADDED column with a DEFAULT: the
   *  write-time CURRENT_DEFAULT (original SQL) plus the read-time
   *  EXISTS_DEFAULT (the analyzer's folded literal, rendered back to
   *  SQL so the stock reader machinery can parse it). */
  def metadataFor(currentSql: String, folded: org.apache.spark.sql.connector
      .expressions.Literal[_]): Metadata = {
    val foldedSql = org.apache.spark.sql.catalyst.expressions
      .Literal(folded.value(), folded.dataType()).sql
    new MetadataBuilder()
      .putString(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY,
        Option(currentSql).getOrElse(foldedSql))
      .putString(Key, foldedSql)
      .build()
  }
}
