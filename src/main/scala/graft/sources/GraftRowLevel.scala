package graft.sources

import java.util.UUID

import graft.model.CqlSchema
import graft.write.{Manifest, Snapshots, TokenSortedWriter}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.graftshim.{ParquetScanBridge, ParquetWriteBridge}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * Group-based (copy-on-write) row-level operations — the connector half of
 * Spark's SQL `UPDATE` / `MERGE INTO` / predicate `DELETE` rewrites
 * (`RewriteUpdateTable` / `RewriteMergeIntoTable` /
 * `RewriteDeleteFromTable`). The granularity of a "group" here is one data
 * FILE: Catalyst rewrites the statement into a [[GraftRowLevelScan]] of the
 * files that may contain matching rows plus a write of those files'
 * transformed content; [[GraftReplaceDataWrite.commit]] then atomically
 * swaps exactly the scanned files for the rewritten ones through the
 * snapshot log ([[Snapshots.commitRewrite]], `expectedParent`-guarded — a
 * concurrent append makes the DML fail loudly rather than silently dropping
 * the appended files).
 *
 * Scale shape: group determination rides the SAME pruning machinery as a
 * read — static pushdown (token / file stats, [[TokenPruner.prune]]) plus
 * Spark's runtime group filtering (`RowLevelOperationRuntimeGroupFiltering`
 * plants a dynamic pk-IN filter on [[GraftRowLevelScan.filter]], DPP-style),
 * so `UPDATE t SET … WHERE pk = k` on a 100 TB table rewrites one file.
 * Two invariants keep pruning sound at file granularity:
 *
 *  - pruning decisions are per-FILE ONLY: a pruned file provably holds no
 *    matching row, so leaving it untouched is correct;
 *  - NO data filter reaches the parquet reader (unlike a normal scan): a
 *    row-group skipped by a pushed predicate would silently VANISH from the
 *    rewrite — every surviving file is read whole, and rows that don't
 *    match the condition are copied back verbatim by Catalyst's rewrite.
 *
 * The replacement files are re-laid-out through [[TokenSortedWriter]]
 * (token-sorted, manifest/digest-recorded, dir-partition aware), so the
 * clustered no-shuffle read property and per-file token pruning survive
 * DML — staged task output is an intermediate only.
 *
 * The reference has no DML surface at all (SSTables are immutable and
 * Cassandra updates are LWW appends, which this engine also supports via
 * writetime writes); this is lakehouse-grade parity the reference delegates
 * to the database server.
 */
class GraftRowLevelOperationBuilder(
    dir: String,
    annotated: StructType,
    cql: CqlSchema,
    tableOptions: CaseInsensitiveStringMap,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftRowLevelOperation(dir, annotated, cql, tableOptions, info.command)
}

class GraftRowLevelOperation(
    dir: String,
    annotated: StructType,
    cql: CqlSchema,
    tableOptions: CaseInsensitiveStringMap,
    cmd: Command) extends RowLevelOperation with GraftRowLevelState {

  // GraftRowLevelState carries: the snapshot version the scan resolved its
  // listing from (the read pin AND the commit's optimistic-concurrency
  // guard) plus the files the scan finally planned (the groups the commit
  // must replace) — `planInputPartitions` runs on the driver, commit reads
  // the state there.

  override def command(): Command = cmd

  /** Row-tracked tables thread `_graft_row_id` through the whole rewrite:
   *  the scan emits it (stored id, else base + position), Catalyst carries
   *  it untouched past the UPDATE/MERGE projections, and the replacement
   *  generation stores it — so a CoW DML moves every byte of a group
   *  without moving one row id. */
  private[sources] lazy val tracked: Boolean =
    Snapshots.rowTracked(SparkSession.active, dir)

  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (tracked) Array(Expressions.column(GraftDataSource.RowIdCol))
    else Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowLevelScanBuilder(this, dir, annotated, cql,
      colMap = GraftDataSource.colMapFrom(tableOptions))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftReplaceDataWrite(this, dir, annotated, cql, tableOptions, info)

  override def description(): String = s"GraftRowLevelOperation[$cmd] dir=$dir"
}

/** Accepts filter/column pushdown like a normal scan builder, but filters
 *  are used for file pruning ONLY (all of them are returned as residuals —
 *  Spark re-evaluates the full condition in the rewritten plan). */
class GraftRowLevelScanBuilder(
    op: GraftRowLevelState,
    dir: String,
    annotated: StructType,
    cql: CqlSchema,
    emitRowCoords: Boolean = false,
    colMap: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = annotated

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // every filter stays a residual: pruning is per-file, never per-row
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val byName = annotated.fields.map(f => f.name -> f).toMap
    // keep the requested ORDER: the delta rewrite appends the row-ID
    // metadata columns (_graft_file/_graft_pos) after the data columns
    required = StructType(requiredSchema.fields.map(f => byName.getOrElse(f.name, f)))
  }

  override def build(): Scan =
    new GraftRowLevelScan(op, dir, annotated, required, pushed, cql, emitRowCoords, colMap)
}

/** The driver-side state a row-level scan shares with its write: the
 *  source snapshot (resolved by the FIRST scan, None until then) and the
 *  finally-planned groups. One trait, two operations (copy-on-write
 *  [[GraftRowLevelOperation]] and merge-on-read [[GraftDeltaOperation]]). */
trait GraftRowLevelState {
  @volatile private[sources] var source: Option[Snapshots.TableSnapshot] = None
  @volatile private[sources] var scannedFiles: Array[String] = Array.empty
  private[sources] def sourceVersion: Option[Long] = source.flatMap(_.version)
}

class GraftRowLevelScan(
    op: GraftRowLevelState,
    dir: String,
    dataSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    cql: CqlSchema,
    emitRowCoords: Boolean = false,
    colMap: Map[String, String] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering {

  private lazy val spark = SparkSession.active

  private var runtime: Array[Filter] = Array.empty
  @volatile private var cachedPruned: Array[TokenPruner.FileMeta] = _

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftRowLevelScan dir=$dir files=${prunedFiles.length} " +
      s"version=${op.sourceVersion.map(_.toString).getOrElse("listing")}"

  override def filterAttributes(): Array[NamedReference] =
    cql.partitionKeys.map(n => Expressions.column(CqlSchema.quoted(n))).toArray

  override def filter(filters: Array[Filter]): Unit = {
    runtime = filters
    cachedPruned = null
  }

  /** The DML's one source state, shared by every scan of the operation
   *  and by its write: the version it names is the commit guard, so a
   *  commit racing past the resolution fails the DML loudly instead of
   *  letting it replace files it never read. */
  private def source: Snapshots.TableSnapshot = op.synchronized {
    if (op.source.isEmpty) op.source = Some(Snapshots.snapshot(spark, dir, None))
    op.source.get
  }

  private def prunedFiles: Array[TokenPruner.FileMeta] = {
    var files = cachedPruned
    if (files == null) {
      files = TokenPruner.prune(spark, source.files,
        GraftDataSource.renameFilters(pushed ++ runtime, colMap), cql)
      cachedPruned = files
    }
    files
  }

  /** Files may carry `_graft_token` beyond the table schema. PHYSICAL
   *  names (colmap indirection — renames never move stored names). */
  private lazy val fullFileSchema: StructType = {
    val physData = GraftDataSource.renameStruct(dataSchema, colMap)
    val withToken = prunedFiles.headOption.exists(_.hasTokenColumn)
    val base =
      if (withToken && !physData.fieldNames.contains(TokenSortedWriter.TokenCol))
        StructType(physData.fields :+ StructField(TokenSortedWriter.TokenCol, LongType))
      else physData
    if (ridRequested && !base.fieldNames.contains(GraftDataSource.RowIdCol))
      StructType(base.fields :+ StructField(GraftDataSource.RowIdCol, LongType))
    else base
  }

  /** DV bindings for the planned files at the pinned source version: a DML
   *  over dv-carrying files must not see (CoW: re-stage) already-deleted
   *  rows, and a delta DML needs physical coordinates regardless. */
  private def dvMap: Map[String, String] = {
    val planned = prunedFiles.map(_.path).toSet
    source.dvs.filter { case (b, _) => planned(b) }
  }

  /** What the parquet readers produce (PHYSICAL names) — the computed
   *  row-coordinate columns are appended by the position-aware wrapper,
   *  so they must TRAIL the requested schema (Spark puts DSv2 metadata
   *  output after data output; anything else is a planner bug we want
   *  loud, not a silently shifted row layout). */
  private lazy val parquetRequired: StructType = {
    val metaIdx = required.fields.zipWithIndex.collect {
      case (f, i) if f.name == GraftDataSource.FileCol ||
        f.name == GraftDataSource.PosCol ||
        f.name == GraftDataSource.RowIdCol => i
    }
    val dataLen = required.length - metaIdx.length
    require(metaIdx.forall(_ >= dataLen),
      s"row-coordinate columns must trail the requested schema, got " +
        required.fieldNames.mkString(","))
    GraftDataSource.renameStruct(StructType(required.fields.take(dataLen)), colMap)
  }

  /** Stable-id DML (row tracking): the rewrite carries `_graft_row_id` as
   *  a required metadata attribute, so the scan emits it like the
   *  physical coordinates — stored materialized id first, else the
   *  log-bound base + position. */
  private lazy val ridRequested: Boolean =
    required.fieldNames.contains(GraftDataSource.RowIdCol)

  private lazy val positionedParquetRequired: StructType =
    if (!ridRequested) parquetRequired
    else StructType(parquetRequired.fields :+ StructField(
      GraftDataSource.RowIdCol, LongType))

  private def positionalMode: Boolean =
    emitRowCoords || dvMap.nonEmpty || ridRequested

  override def planInputPartitions(): Array[InputPartition] = {
    val files = prunedFiles
    // the groups the write must replace — exactly what this plan reads
    op.scannedFiles = files.map(_.path)
    val batch = ParquetScanBridge.parquetBatch(
      spark, files.map(_.path).toSeq, fullFileSchema, positionedParquetRequired,
      Array.empty /* never filter rows: see class doc */)
    if (!positionalMode) batch.planInputPartitions()
    else {
      // coordinate columns append in the REQUESTED order
      val emitMeta = required.fields.collect {
        case f if emitRowCoords && f.name == GraftDataSource.FileCol => "file"
        case f if emitRowCoords && f.name == GraftDataSource.PosCol => "pos"
        case f if f.name == GraftDataSource.RowIdCol => "rowid"
      }.toSeq
      val ridBases =
        if (!ridRequested) Map.empty[String, Long]
        else if (source.version.isEmpty) throw new IllegalStateException(
          s"row-tracked DML scan on $dir needs a pinned source version")
        else source.rowIds
      org.apache.spark.sql.graftshim.PositionAwareScanUtil.positionedPartitions(
        batch.planInputPartitions(), dvMap, emitMeta,
        ridBases, storedRowIdTrails = ridRequested)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val inner = ParquetScanBridge.parquetBatch(
      spark, prunedFiles.map(_.path).toSeq, fullFileSchema,
      positionedParquetRequired, Array.empty)
      .createReaderFactory()
    if (!positionalMode) inner
    else new org.apache.spark.sql.graftshim.PositionAwareReaderFactory(
      inner, inner,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()),
      forceRowBased = true)
  }

  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = prunedFiles.map(f => math.max(f.uncompressedBytes, f.sizeBytes)).sum
    private val rowsN = prunedFiles.map(_.rows).sum
    override def sizeInBytes: java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows: java.util.OptionalLong = java.util.OptionalLong.of(rowsN)
  }
}

/** One staged parquet file per non-empty task. */
private[sources] final case class GraftStagedFile(path: Option[String], rows: Long)
  extends WriterCommitMessage

/** Lazily-opened per-task staging parquet file (via Spark's own parquet
 *  writer stack) — shared by the copy-on-write ReplaceData writers and the
 *  merge-on-read delta writers' insert leg. Empty tasks stage nothing. */
private[sources] final class StagingParquetWriter(
    stagingDir: String,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: org.apache.spark.util.SerializableConfiguration,
    schema: StructType,
    partitionId: Int,
    taskId: Long) {
  private var writer: org.apache.spark.sql.execution.datasources.OutputWriter = _
  private var path: String = _
  private var n = 0L

  def write(row: InternalRow): Unit = {
    if (writer == null) {
      path = s"$stagingDir/part-$partitionId-$taskId-" +
        s"${UUID.randomUUID().toString.take(8)}.parquet"
      writer = ParquetWriteBridge.openWriter(
        factory, conf.value, path, schema, partitionId, taskId)
    }
    writer.write(row)
    n += 1
  }

  def rows: Long = n

  /** Close and return the staged path (None when no row arrived). */
  def finish(): Option[String] = {
    if (writer != null) writer.close()
    Option(path)
  }

  def abort(): Unit = if (writer != null) {
    writer.close()
    val p = new Path(path)
    p.getFileSystem(conf.value).delete(p, false)
  }
}

private[sources] class GraftStagingWriterFactory(
    stagingDir: String,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: org.apache.spark.util.SerializableConfiguration,
    schema: StructType,
    withRowId: Boolean = false) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val staging =
        new StagingParquetWriter(stagingDir, factory, conf, schema, partitionId, taskId)
      // data columns only — on tracked tables `schema` trails with the
      // materialized row id, which arrives via the METADATA row
      private val dataLen = if (withRowId) schema.length - 1 else schema.length
      // Spark's group-based rewrites prepend `__row_operation`
      // (RowDeltaUtils.OPERATION_COLUMN) to the ReplaceData query and only
      // strip it via ReplaceDataProjections when the operation declares
      // metadata attributes — with none declared, the raw (op, data…) row
      // arrives here and the mutable projection below skips the tag.
      private lazy val opTagged = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        StructType(schema.fields.take(dataLen)), 1 to dataLen)
      private val ridCell =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow

      /** Metadata-projected path (the operation declared metadata
       *  attributes — row tracking): `meta` holds the carried row id,
       *  null for a MERGE-inserted row (fresh base + position at commit). */
      override def write(meta: InternalRow, record: InternalRow): Unit = {
        require(withRowId && meta.numFields == 1,
          s"unexpected metadata row (${meta.numFields} fields) in a ReplaceData write")
        if (meta.isNullAt(0)) ridCell.setNullAt(0)
        else ridCell.setLong(0, meta.getLong(0))
        staging.write(joined(dataOnly(record), ridCell))
      }

      private def dataOnly(record: InternalRow): InternalRow = {
        if (record.numFields == dataLen) record
        else {
          require(record.numFields == dataLen + 1,
            s"row-level staging: row has ${record.numFields} fields, schema has " +
              s"$dataLen data column(s) (${schema.fieldNames.mkString(",")})")
          val op = record.getInt(0)
          require(op == 5 || op == 6, // WRITE / WRITE_WITH_METADATA
            s"unexpected __row_operation $op in a ReplaceData write")
          opTagged.project(record)
          opTagged
        }
      }

      override def write(record: InternalRow): Unit =
        if (!withRowId) staging.write(dataOnly(record))
        else {
          // metadata-less rows on a tracked table are the MERGE insert
          // branch (tagged WRITE, not WRITE_WITH_METADATA): genuinely new
          // rows — null id, fresh base + position at commit
          ridCell.setNullAt(0)
          staging.write(joined(dataOnly(record), ridCell))
        }

      override def commit(): WriterCommitMessage = {
        val rows = staging.rows
        GraftStagedFile(staging.finish(), rows)
      }

      override def abort(): Unit = staging.abort()

      override def close(): Unit = ()
    }
}

/**
 * The ReplaceData write: tasks stage their rows as plain parquet under a
 * hidden `.rowlevel-*` dir (via Spark's own parquet writer stack,
 * [[ParquetWriteBridge]] — the commit coordinator de-dupes speculative
 * attempts, and only COMMITTED task files are read back); the driver-side
 * commit then re-lays the staged rows out through [[TokenSortedWriter]]
 * and cuts the table over:
 *
 *  - snapshot-logged table: new generation under `gen-*`, then ONE atomic
 *    [[Snapshots.commitRewrite]] of (live − scanned + generation), guarded
 *    by the scan's source version — pinned readers keep history, vacuum
 *    reclaims later;
 *  - log-less table: replacements land beside the originals, then the
 *    scanned files are deleted (briefly both visible — the log is the
 *    atomicity seam, same documented contract as [[TokenSortedWriter
 *    .deleteRowsWhere]]).
 *
 * The double write (staging + layout pass) is the price of preserving the
 * token-sorted layout without asking Spark to shuffle by a token it cannot
 * express; DML touches few files by construction, so the staged volume is
 * the affected-group volume, not the table.
 */
class GraftReplaceDataWrite(
    op: GraftRowLevelOperation,
    dir: String,
    annotated: StructType,
    cql: CqlSchema,
    tableOptions: CaseInsensitiveStringMap,
    info: LogicalWriteInfo)
    extends WriteBuilder with Write with BatchWrite {

  private val stagingDir = s"$dir/.rowlevel-${info.queryId().take(8)}-" +
    s"${UUID.randomUUID().toString.take(8)}"

  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def description(): String = s"GraftReplaceDataWrite dir=$dir"

  /** On tracked tables the staged files trail with the materialized row
   *  id, delivered through the metadata row — never through the write
   *  schema (Spark strips declared metadata attrs from it). */
  private def stagingSchema: StructType = {
    require(!info.schema().fieldNames.contains(GraftDataSource.RowIdCol),
      "ReplaceData write schema unexpectedly carries _graft_row_id")
    if (!op.tracked) info.schema()
    else StructType(info.schema().fields :+
      StructField(GraftDataSource.RowIdCol, LongType))
  }

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    val p = new Path(stagingDir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
    val (factory, conf) = ParquetWriteBridge.prepare(spark, stagingSchema)
    new GraftStagingWriterFactory(stagingDir, factory, conf, stagingSchema,
      withRowId = op.tracked)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val staged = messages.collect { case GraftStagedFile(Some(p), n) if n > 0 => p }
      val scanned = op.scannedFiles
      if (scanned.isEmpty && staged.isEmpty) return

      // A rewrite expressed over TABLE columns would silently drop engine
      // feature columns (writetime/TTL) from the affected files, corrupting
      // LWW ordering for every surviving version — refuse loudly; LWW
      // tables update by appending a newer-writetime version instead.
      // mergeSchema: generations can differ in feature columns (the exact
      // case optimizeSmallFiles documents) — a single-footer inference would
      // let a DML whose sampled file lacks writetime/ttl bypass this guard
      // and silently drop those columns from the other scanned files
      val affectedSchema =
        if (scanned.isEmpty) StructType(Nil)
        else spark.read.option("mergeSchema", "true")
          .parquet(scanned.toIndexedSeq: _*).schema
      val engineFeatures = Seq(TokenSortedWriter.WritetimeCol, TokenSortedWriter.ExpiresCol)
        .filter(affectedSchema.fieldNames.contains)
      if (engineFeatures.nonEmpty)
        throw new UnsupportedOperationException(
          s"row-level ${op.command()} on $dir would drop engine feature column(s) " +
            s"${engineFeatures.mkString(", ")} from rewritten files; update LWW tables " +
            "by writing a newer-writetime version (writetimeMicros/writetimeColumn)")

      // staged files hold LOGICAL names (Catalyst's rewrite schema); the
      // final table files store the stable PHYSICAL names. GENERATED
      // columns recompute unconditionally — an UPDATE may move a source
      // column without naming its generated twin
      val replacement = GraftDataSource.renameColumns(
        IdentityColumns.refuseNulls(GeneratedColumns.recompute(
          if (staged.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stagingSchema)
          else spark.read.schema(stagingSchema).parquet(staged.toIndexedSeq: _*),
          annotated), annotated, s"row-level ${op.command()}"),
        GraftDataSource.colMapFrom(tableOptions))
      val conf = TokenSortedWriter.WriteConf(
        numPartitions = tableOptions.getInt("partitions", 0),
        maxRecordsPerFile = tableOptions.getLong("maxRecordsPerFile", 0L),
        keepTokenColumn = tableOptions.getBoolean("keepToken", true),
        partitionBy = Option(tableOptions.get("partitionBy"))
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil))

      op.sourceVersion match {
        case Some(v) =>
          val gen = s"$dir/gen-${UUID.randomUUID().toString.take(12)}"
          if (staged.nonEmpty) {
            TokenSortedWriter.write(replacement, cql, gen, SaveMode.Append, conf)
            Manifest.appendFor(spark, dir) // generation stats → table-root manifest
          }
          val genFiles =
            if (staged.isEmpty) Seq.empty
            else TokenPruner.listDataFiles(fs, fs.makeQualified(new Path(gen)))
              .map(_.getPath.toString).toSeq
          val scannedSet = scanned.toSet
          val keep = op.source.get.files.map(_.path).toSeq.filterNot(scannedSet.contains)
          val cdcFiles =
            if (!tableOptions.getBoolean("changeFeedCow", false)) Nil
            // the carried row id is threaded into the sidecar on tracked
            // tables (identity pairing), never treated as a value column
            else GraftCowChangeData.record(spark, dir, cql, op.source.get,
              scanned.toSeq, replacement)
          Snapshots.commitRewrite(spark, dir, keep ++ genFiles,
            expectedParent = Some(v), cdcFiles = cdcFiles)
        case None =>
          if (staged.nonEmpty)
            TokenSortedWriter.write(replacement, cql, dir, SaveMode.Append, conf)
          scanned.foreach(p => fs.delete(new Path(p), false))
      }
      TokenPruner.invalidateListing(dir)
    } finally {
      fs.delete(new Path(stagingDir), true)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val p = new Path(stagingDir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }
}
