package graft.sources

import graft.model.CqlSchema
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.graftshim.ParquetScanBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/**
 * Micro-batch streaming over a graft table directory: each batch reads the
 * files that ARRIVED since the previous offset (the append-only token-sorted
 * writer only ever adds files, so file arrival IS the change stream).
 *
 * The reference advertises `MICRO_BATCH_READ` but ships no stream
 * (`CassandraTable.java:59-62` — capability constant only, SURVEY §1.1);
 * this makes the capability real on the Spark side. An offset is the SET of
 * file paths already delivered (the seen-files-log approach of Spark's own
 * `FileStreamSource`): a batch reads exactly `end.files -- start.files`, so
 * visibility races — commit-time renames surfacing files with EARLIER
 * mtimes than ones already read — can neither re-deliver nor skip a file
 * (a count-into-sorted-order offset breaks on exactly that). Offset size is
 * O(#files); a production variant would checkpoint a manifest-generation
 * watermark instead. Per-batch file lists come from the
 * manifest-accelerated [[TokenPruner.listFiles]] (O(1) driver IO), pushed
 * pk filters prune files per batch exactly like the batch scan, and decode
 * is the same vectorized parquet path — one planning/decode stack for
 * batch and stream.
 */
class GraftMicroBatchStream(
    spark: SparkSession,
    dir: String,
    dataSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    cql: CqlSchema,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // ---- admission control (SupportsAdmissionControl): a stream pointed at
  // an EXISTING table must not deliver the whole backlog as one micro-batch
  // — `maxFilesPerTrigger` caps each batch (path-sorted, so the split is
  // deterministic under restart), and Trigger.AvailableNow pins the target
  // listing once so the bounded batches drain exactly the backlog that
  // existed at start and then stop.
  @volatile private var availableNowTarget: Option[Set[String]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(listedFiles().keySet)

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val limits =
      maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
        maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadLimit, ReadMaxBytes, ReadMaxFiles}
    val seen = start.asInstanceOf[FileOffset].files
    val metas = listedFiles()
    val all = availableNowTarget.getOrElse(metas.keySet)
    val unseen = (all -- seen).toSeq.sorted
    def flat(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flat)
      case o => Seq(o)
    }
    val parts = flat(limit)
    val fileCap = parts.collectFirst { case f: ReadMaxFiles => f.maxFiles() }
    val byteCap = parts.collectFirst { case b: ReadMaxBytes => b.maxBytes() }
    var take = fileCap.map(unseen.take).getOrElse(unseen)
    byteCap.foreach { cap =>
      // at least one file always admits, else a single over-cap file
      // would wedge the stream forever
      var acc = 0L
      var admitted = 0 // explicit count: zero-size admissions must not let a
      //                  later over-cap file masquerade as "first"
      take = take.takeWhile { p =>
        val sz = metas.get(p).map(_.sizeBytes).getOrElse(0L)
        val first = admitted == 0
        acc += sz
        val ok = first || acc <= cap
        if (ok) admitted += 1
        ok
      }
    }
    FileOffset(seen ++ take)
  }

  override def reportLatestOffset(): Offset = FileOffset(listedFiles().keySet)

  private case class FileOffset(files: Set[String]) extends Offset {
    // URL-encoding keeps arbitrary path bytes JSON-safe without a parser dep
    override def json(): String = files.toSeq.sorted
      .map(p => "\"" + java.net.URLEncoder.encode(p, "UTF-8") + "\"")
      .mkString("""{"files":[""", ",", "]}")
  }

  private def listedFiles(): Map[String, TokenPruner.FileMeta] =
    TokenPruner.listFiles(spark, dir).map(m => m.path -> m).toMap

  override def initialOffset(): Offset = FileOffset(Set.empty)
  override def latestOffset(): Offset = FileOffset(listedFiles().keySet)
  override def deserializeOffset(json: String): Offset = {
    val open = json.indexOf('[')
    val close = json.lastIndexOf(']')
    require(json.contains("\"files\"") && open >= 0 && close > open,
      s"bad graft stream offset: $json")
    val files = """"([^"]*)"""".r
      .findAllMatchIn(json.substring(open + 1, close))
      .map(m => java.net.URLDecoder.decode(m.group(1), "UTF-8")).toSet
    FileOffset(files)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[FileOffset].files
    val target = end.asInstanceOf[FileOffset].files
    val metas = listedFiles()
    // append-only contract: files in `end` still exist; tolerate a vanished
    // path (external cleanup) rather than failing the whole stream
    val batchFiles = (target -- seen).toArray.sorted.flatMap(metas.get)
    val pruned = TokenPruner.prune(spark, batchFiles, pushed, cql)
    if (pruned.isEmpty) Array.empty
    else {
      GraftMicroBatchStream.refuseDeletionVectors(spark, dir, pruned.map(_.path))
      ParquetScanBridge.parquetBatch(
        spark, pruned.map(_.path).toSeq, dataSchema, required, pushed).planInputPartitions()
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ParquetScanBridge.parquetBatch(spark, Seq.empty, dataSchema, required, pushed)
      .createReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object GraftMicroBatchStream {
  /** The listing-tail stream delivers FILE CONTENT as the change unit; a
   *  deletion vector on a to-be-delivered file would resurrect its deleted
   *  rows into the stream. Fail loudly with the remediation (OPTIMIZE /
   *  compaction folds DVs). The change-feed stream handles MoR DML through
   *  its shared [[graft.write.Snapshots.changedFiles]] walk instead: a
   *  DV-only DELETE commit is an empty increment (append capture never
   *  claimed deletes), while an UPDATE/MERGE delta commit — which DOES add
   *  re-insert files — refuses loudly rather than deliver updated rows as
   *  duplicate-producing inserts; row-level consumers read
   *  [[graft.write.Snapshots.readChangesWithDeletes]]. */
  private[sources] def refuseDeletionVectors(
      spark: SparkSession, dir: String, planned: Seq[String]): Unit = {
    // `listing`: the latest bindings over the same raw listing this stream tails
    val dvs = graft.write.Snapshots.snapshot(spark, dir, Some("listing")).dvs
    if (dvs.isEmpty) return
    val hit = planned.filter(dvs.contains)
    if (hit.nonEmpty)
      throw new IllegalStateException(
        s"streaming read of $dir: ${hit.length} planned file(s) carry deletion " +
          s"vectors (merge-on-read DML landed, e.g. ${hit.head}) — a file-tail " +
          "stream would deliver deleted rows. Run OPTIMIZE/compactInPlace to fold " +
          "the DVs away, or consume the snapshot-log change feed (changeFeed=true)")
  }
}

/**
 * Snapshot-log change-feed micro-batches (`changeFeed=true` read option):
 * the offset ledger IS the table's committed snapshot version — batch N
 * reads exactly the files the version range `(start, end]` ADDED to the
 * log ([[graft.write.Snapshots.diff]]).
 *
 * Versus the listing-tail stream above:
 *  - offsets are O(1) (one long) instead of O(#files);
 *  - increments are EXACT: a half-landed concurrent batch's files are
 *    invisible until their commit, so a micro-batch can never split a
 *    write batch in two or read a file the log never heard of;
 *  - REWRITE-AWARE: when a compaction ([[graft.write.Snapshots.commitRewrite]])
 *    lands mid-stream, a listing tail would silently re-deliver every
 *    rewritten row as "new"; this stream detects removed files in the
 *    version range and fails loudly with a restart point — the exact
 *    contract of [[graft.write.Snapshots.readChanges]], which is this
 *    stream's one-shot batch twin (spec-proven equal);
 *  - MERGE-ON-READ-AWARE: a DV-only DELETE commit is an empty increment
 *    (append capture never claimed deletes); an UPDATE/MERGE delta commit
 *    (re-insert files + DV re-binds) fails loudly instead of delivering
 *    postimage rows as duplicate-producing inserts — row-level consumers
 *    batch-read [[graft.write.Snapshots.readChangesWithDeletes]].
 *
 * `startingVersion` = the version the feed starts AFTER (0 = deliver from
 * the table's first commit). Uncommitted (out-of-band) files never appear.
 */
class GraftChangeFeedStream(
    spark: SparkSession,
    dir: String,
    dataSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    cql: CqlSchema,
    startingVersion: Long) extends MicroBatchStream {

  private case class VersionOffset(version: Long) extends Offset {
    override def json(): String = s"""{"version":$version}"""
  }

  override def initialOffset(): Offset = VersionOffset(startingVersion)

  override def latestOffset(): Offset = VersionOffset(
    graft.write.Snapshots.latestVersion(spark, dir).getOrElse(startingVersion))

  override def deserializeOffset(json: String): Offset = {
    val m = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
    require(m.isDefined, s"bad graft change-feed offset: $json")
    VersionOffset(m.get.group(1).toLong)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[VersionOffset].version
    val to = end.asInstanceOf[VersionOffset].version
    if (to <= from) return Array.empty
    // shared walk with the batch twin: layout-only rewrites (OPTIMIZE) are
    // skipped — the stream rides straight across them; a LOGICAL rewrite
    // still fails loudly with the restart point
    val added = try graft.write.Snapshots.changedFiles(spark, dir, from, to)
    catch {
      case e: IllegalStateException =>
        throw new IllegalStateException(
          s"change feed on $dir: ${e.getMessage}; restart the stream with " +
            s"startingVersion=$to after reconciling downstream state", e)
    }
    if (added.isEmpty) return Array.empty
    val metas = TokenPruner.listFiles(spark, dir).map(m => m.path -> m).toMap
    val missing = added.filterNot(metas.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"change feed on $dir: ${missing.length} file(s) of versions $from→$to " +
          s"are gone from the live listing (vacuumed past retention?); first: " +
          s"${missing.head} — an increment must never silently shrink")
    val pruned = TokenPruner.prune(spark, added.map(metas).toArray, pushed, cql)
    if (pruned.isEmpty) Array.empty
    else ParquetScanBridge.parquetBatch(
      spark, pruned.map(_.path).toSeq, dataSchema, required, pushed).planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ParquetScanBridge.parquetBatch(spark, Seq.empty, dataSchema, required, pushed)
      .createReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
