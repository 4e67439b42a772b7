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
   *  ONE file's schema; other sets merge every footer through
   *  [[FooterSchema]]. */
  def read(
      spark: SparkSession,
      defaults: Map[String, (String, org.apache.spark.sql.types.DataType)],
      files: Seq[String],
      homogeneous: Boolean = false): org.apache.spark.sql.DataFrame = {
    if (defaults.isEmpty || files.isEmpty) spark.read.parquet(files: _*)
    else {
      val merged =
        if (homogeneous) spark.read.parquet(files.head).schema
        else FooterSchema.of(spark, files)
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
