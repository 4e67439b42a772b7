package graft.sources

import java.io.{DataInputStream, DataOutputStream}
import java.util.UUID

import scala.collection.mutable

import graft.model.CqlSchema
import graft.write.{DeletionVectors, Snapshots, TokenSortedWriter}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.graftshim.ParquetWriteBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * Merge-on-read row-level operations (`dmlMode 'merge-on-read'`): SQL
 * UPDATE / MERGE INTO / predicate DELETE as DELTAS — positional deletion
 * vectors plus appended re-insert files — instead of copy-on-write's
 * whole-group rewrite. A one-row UPDATE on a 100 TB table writes O(1) —
 * one DV entry and one re-inserted row — where [[GraftRowLevelOperation]]
 * rewrites every file whose group the scan planned. The trade is read-side:
 * dv-carrying files scan row-based whole-file until OPTIMIZE folds the
 * DVs away ([[TokenSortedWriter.optimizeSmallFiles]] /
 * `compactInPlace`).
 *
 * Mechanics — Spark's delta-based rewrite plans ([[SupportsDelta]]):
 *
 *  - the scan is [[GraftRowLevelScan]] with `emitRowCoords = true`: files
 *    read WHOLE (no parquet row filters — positions are physical), each
 *    row tagged with `(_graft_file, _graft_pos)`, existing DVs applied so
 *    a second DML never re-deletes a hidden row; static + runtime group
 *    filtering still prune FILES, so a point DML touches one;
 *  - `rowId = (_graft_file, _graft_pos)` and updates are represented as
 *    delete + insert — exact row identity with NO uniqueness assumption
 *    on the table key (graft tables can hold many versions per pk);
 *  - executors buffer deleted coordinates per file and write ONE binary
 *    shard each; inserts stage as plain parquet (same
 *    [[StagingParquetWriter]] as copy-on-write);
 *  - the driver merges shards per carrier file, unions with the carrier's
 *    existing DV, writes immutable `_graft_dv/dv-*.bin` files, lays the
 *    staged inserts out through [[TokenSortedWriter]] (token-sorted
 *    generation, manifest-recorded), and commits everything in ONE
 *    `expectedParent`-guarded [[Snapshots.commitDeltas]] — concurrent
 *    appends fail the DML loudly, never lose positions.
 *
 * Merge-on-read REQUIRES the snapshot log (DV bindings are version
 * metadata); on a log-less table the builder falls back to copy-on-write,
 * which needs no log. The LWW feature-column guard applies as in CoW:
 * a positional delete is safe under writetime semantics, but the
 * re-insert leg cannot reproduce feature columns, so tables carrying
 * them refuse loudly.
 *
 * The reference has no DML at all (`CassandraDataSink.java:96-99` rejects
 * even Overwrite; SSTables are immutable) — this is lakehouse-grade
 * extension surface, the deletion-vector design Delta and Iceberg
 * converged on, re-expressed over this engine's snapshot log.
 */
class GraftDeltaOperationBuilder(
    dir: String,
    annotated: StructType,
    cql: CqlSchema,
    tableOptions: CaseInsensitiveStringMap,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = {
    // DV bindings live in the snapshot log; without one (including the
    // empty-table first-DML case) copy-on-write is the correct mechanism
    // and needs nothing
    val hasLog = Snapshots.latestVersion(SparkSession.active, dir).isDefined
    if (hasLog) new GraftDeltaOperation(dir, annotated, cql, tableOptions, info.command)
    else new GraftRowLevelOperation(dir, annotated, cql, tableOptions, info.command)
  }
}

class GraftDeltaOperation(
    dir: String,
    annotated: StructType,
    cql: CqlSchema,
    tableOptions: CaseInsensitiveStringMap,
    cmd: Command)
    extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta
    with GraftRowLevelState {

  override def command(): Command = cmd

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftDataSource.FileCol),
    Expressions.column(GraftDataSource.PosCol))

  /** Row-tracked tables thread `_graft_row_id` as a metadata attribute
   *  and keep UPDATE as one operation: `update(meta, id, row)` is the only
   *  place the OLD row's stable id and the NEW values meet, so the
   *  re-insert generation can materialize the id (a MoR UPDATE then moves
   *  the row without renaming it — DELETE legs are positional and stable
   *  for free). Untracked tables keep the delete+insert representation. */
  private[sources] lazy val tracked: Boolean =
    Snapshots.rowTracked(SparkSession.active, dir)

  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (tracked) Array(Expressions.column(GraftDataSource.RowIdCol))
    else Array.empty

  override def representUpdateAsDeleteAndInsert(): Boolean = !tracked

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowLevelScanBuilder(this, dir, annotated, cql, emitRowCoords = true,
      colMap = GraftDataSource.colMapFrom(tableOptions))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new GraftDeltaWrite(this, dir, annotated, cql, tableOptions, info)

  override def description(): String = s"GraftDeltaOperation[$cmd] dir=$dir"
}

/** Per-task result: an optional staged-insert parquet and an optional
 *  binary shard of (file → deleted positions). */
private[sources] final case class GraftDeltaTaskResult(
    staged: Option[String],
    shard: Option[String],
    inserted: Long,
    deleted: Long) extends WriterCommitMessage

private[sources] object DeltaShards {
  /** Shard format: int fileCount, then per file writeUTF(path), int n,
   *  n longs (positions, unsorted — the driver merges and sorts). */
  def write(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String,
      deletes: mutable.Map[String, mutable.ArrayBuffer[Long]]): Unit = {
    val out = new DataOutputStream(fs.create(new Path(path), false))
    try {
      out.writeInt(deletes.size)
      deletes.foreach { case (f, ps) =>
        out.writeUTF(f)
        out.writeInt(ps.length)
        ps.foreach(out.writeLong)
      }
    } finally out.close()
  }

  def read(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[(String, Array[Long])] = {
    val in = new DataInputStream(fs.open(new Path(path)))
    try {
      val nf = in.readInt()
      (0 until nf).map { _ =>
        val f = in.readUTF()
        val n = in.readInt()
        (f, Array.fill(n)(in.readLong()))
      }
    } finally in.close()
  }
}

class GraftDeltaWrite(
    op: GraftDeltaOperation,
    dir: String,
    annotated: StructType,
    cql: CqlSchema,
    tableOptions: CaseInsensitiveStringMap,
    info: LogicalWriteInfo)
    extends DeltaWriteBuilder with DeltaWrite with DeltaBatchWrite {

  private val stagingDir = s"$dir/.rowlevel-${info.queryId().take(8)}-" +
    s"${UUID.randomUUID().toString.take(8)}"

  override def build(): DeltaWrite = this
  override def toBatch: DeltaBatchWrite = this
  override def description(): String = s"GraftDeltaWrite dir=$dir"

  /** Staged-insert schema: the write schema plus, on tracked tables, the
   *  materialized `_graft_row_id` (null for genuinely new rows — they get
   *  base + position ids at commit, like any append). */
  private def stagingSchema: StructType =
    if (!op.tracked) info.schema()
    else StructType(info.schema().fields :+
      org.apache.spark.sql.types.StructField(
        GraftDataSource.RowIdCol, org.apache.spark.sql.types.LongType))

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DeltaWriterFactory = {
    val spark = SparkSession.active
    val p = new Path(stagingDir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
    val (factory, conf) = ParquetWriteBridge.prepare(spark, stagingSchema)
    new GraftDeltaWriterFactory(stagingDir, factory, conf, stagingSchema,
      withRowId = op.tracked)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val results = messages.collect { case r: GraftDeltaTaskResult => r }
      val staged = results.flatMap(r => r.staged.filter(_ => r.inserted > 0))
      val shards = results.flatMap(_.shard)
      if (staged.isEmpty && shards.isEmpty) return

      val sourceVersion = op.sourceVersion.getOrElse(throw new IllegalStateException(
        s"merge-on-read DML on $dir lost its source-version pin — the scan never " +
          "planned (planner regression), refusing a blind commit"))

      // merge shard positions per carrier file
      val fresh = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
      shards.foreach { s =>
        DeltaShards.read(fs, s).foreach { case (f, ps) =>
          fresh.getOrElseUpdate(f, mutable.ArrayBuffer.empty) ++= ps
        }
      }

      // LWW feature-column guard (same contract as copy-on-write): the
      // delete leg alone would be sound, but UPDATE/MERGE re-inserts
      // cannot reproduce writetime/TTL — refuse on carriers or staged
      // schema mismatch potential, every footer merged so no generation
      // hides it
      if (fresh.nonEmpty) {
        val affectedSchema = FooterSchema.of(spark, fresh.keys.toIndexedSeq)
        val engineFeatures =
          Seq(TokenSortedWriter.WritetimeCol, TokenSortedWriter.ExpiresCol)
            .filter(affectedSchema.fieldNames.contains)
        if (engineFeatures.nonEmpty)
          throw new UnsupportedOperationException(
            s"row-level ${op.command()} on $dir would break engine feature column(s) " +
              s"${engineFeatures.mkString(", ")}; update LWW tables by writing a " +
              "newer-writetime version (writetimeMicros/writetimeColumn)")
      }

      // one immutable DV per touched carrier: union of its existing DV
      // (at the pinned source version) and this statement's positions
      val existing = op.source.get.dvs
      val dvUpdates = fresh.map { case (file, ps) =>
        val dvPath = DeletionVectors.newDvPath(dir)
        DeletionVectors.write(fs, dvPath,
          DeletionVectors.union(fs, existing.get(file), ps.toArray))
        file -> dvPath
      }.toMap

      // insert leg: token-sorted generation, exactly like copy-on-write
      val conf = TokenSortedWriter.WriteConf.fromOptions(tableOptions)
      val genFiles: Seq[String] =
        if (staged.isEmpty) Nil
        else {
          // staged = logical names; table files = stable physical names.
          // GENERATED columns recompute — a MoR UPDATE's re-insert may
          // move a source column without naming its generated twin
          val replacement = GraftDataSource.renameColumns(
            IdentityColumns.refuseNulls(GeneratedColumns.recompute(
              spark.read.schema(stagingSchema).parquet(staged.toIndexedSeq: _*),
              annotated), annotated, s"delta ${op.command()}"),
            GraftDataSource.colMapFrom(tableOptions))
          TokenSortedWriter.writeGeneration(replacement, cql, dir, conf)
        }

      TokenSortedWriter.publish(spark, dir, genFiles, conf.ringLayout, dvUpdates.values.toSeq) {
        Snapshots.commitDeltas(spark, dir, dvUpdates, genFiles,
          expectedParent = Some(sourceVersion))
      }
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

private[sources] class GraftDeltaWriterFactory(
    stagingDir: String,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: org.apache.spark.util.SerializableConfiguration,
    schema: StructType,
    withRowId: Boolean = false) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val staging =
        new StagingParquetWriter(stagingDir, factory, conf, schema, partitionId, taskId)
      private val deletes = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
      private var nDeleted = 0L
      private val ridCell =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow

      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        // rowId order fixed by GraftDeltaOperation.rowId: (file, pos)
        val file = id.getUTF8String(0).toString
        deletes.getOrElseUpdate(file, mutable.ArrayBuffer.empty) += id.getLong(1)
        nDeleted += 1
      }

      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        // tracked tables take THIS path (representUpdateAsDeleteAndInsert
        // = false): the delete leg plus a re-insert that carries the OLD
        // row's stable id (meta ordinal 0 = requiredMetadataAttributes)
        delete(meta, id)
        if (!withRowId) insert(row)
        else {
          ridCell.setLong(0, meta.getLong(0))
          staging.write(joined(row, ridCell))
        }
      }

      override def insert(row: InternalRow): Unit =
        if (!withRowId) staging.write(row)
        else {
          // a genuinely new row: null id → fresh base + position at commit
          ridCell.setNullAt(0)
          staging.write(joined(row, ridCell))
        }

      override def commit(): WriterCommitMessage = {
        val shard =
          if (deletes.isEmpty) None
          else {
            val p = s"$stagingDir/shard-$partitionId-$taskId-" +
              s"${UUID.randomUUID().toString.take(8)}.bin"
            DeltaShards.write(new Path(p).getFileSystem(conf.value), p, deletes)
            Some(p)
          }
        val inserted = staging.rows
        GraftDeltaTaskResult(staging.finish(), shard, inserted, nDeleted)
      }

      override def abort(): Unit = staging.abort()
      override def close(): Unit = ()
    }
}
