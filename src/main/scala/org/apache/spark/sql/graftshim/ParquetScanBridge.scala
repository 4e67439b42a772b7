package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.read.{Batch, VariantExtraction}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusCache, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * Bridge into Spark's `private[sql]` parquet scan machinery for the graft
 * DSv2 source (see `graft.sources.GraftDataSource`).
 *
 * Design choice, mirroring the reference: the reference's DSv2 read path
 * does its own PLANNING (replica selection, token-range splits, bloom/index
 * file skipping) but delegates the actual columnar DECODE to Cassandra's
 * battle-tested `CompactionIterator` (`CompactionStreamScanner.java:68-130`).
 * We do the same split: `GraftScan` owns planning — schema/role metadata,
 * partition-key filter → Murmur3 token file pruning, statistics — and this
 * bridge hands the pruned file list to Spark's own `ParquetScan` for
 * vectorized, codegen-friendly, row-group-pruning decode. Re-implementing a
 * parquet decoder would be strictly slower and less correct.
 *
 * Kept in the `org.apache.spark.sql` namespace so `private[sql]` access is
 * legal; this file and `GraftShims` are the only internal seams.
 */
object ParquetScanBridge {

  /**
   * A DSv2 [[Batch]] reading `files` (already pruned by the caller) with
   * `filters` pushed into parquet row-group/page skipping and `readSchema`
   * column pruning. File splitting (maxPartitionBytes / openCostInBytes)
   * and the vectorized reader factory come from ParquetScan.
   */
  def parquetBatch(
      spark: SparkSession,
      files: Seq[String],
      dataSchema: StructType,
      readSchema: StructType,
      filters: Array[Filter]): Batch = {
    val index = new InMemoryFileIndex(
      spark,
      files.map(new Path(_)),
      Map.empty,
      Some(dataSchema),
      FileStatusCache.getOrCreate(spark),
      None,
      None)
    ParquetScan(
      spark,
      spark.sessionState.newHadoopConfWithOptions(Map.empty),
      index,
      dataSchema,
      readSchema,
      new StructType(), // no partition (directory) columns in the graft layout
      filters,
      CaseInsensitiveStringMap.empty(),
      None,
      Nil,
      Nil,
      Array.empty[VariantExtraction]).toBatch
  }

  /**
   * A driver-side decoder of whole parquet files: `(path, length) => rows`,
   * every row of the file under `schema` (the file's own footer schema; a
   * field the file lacks reads as null), copied out of the reader's reused
   * buffers as `UnsafeRow`s. It is Spark's own parquet reader — the one a
   * scan task runs, vectorized when the schema allows — called on the
   * calling thread, so decoding launches no Spark job. The function is
   * safe to call from several threads at once.
   */
  def rowDecoder(spark: SparkSession, schema: StructType): ((String, Long)) => Array[InternalRow] = {
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    (file: (String, Long)) => {
      val (path, length) = file
      val toUnsafe = UnsafeProjection.create(schema)
      val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), 0L,
        length, Array.empty, 0L, length, Map.empty))
      try rows.map(r => toUnsafe(r).copy(): InternalRow).toArray
      finally rows match {
        case c: java.io.Closeable => c.close()
        case _ => ()
      }
    }
  }
}
