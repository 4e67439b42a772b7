package graft.sources

import scala.jdk.CollectionConverters._

import graft.write.{Snapshots, TokenSortedWriter}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * Native streaming sink: `df.writeStream.format("graft").option("path", …)`
 * — micro-batches land through the SAME bulk pipeline as batch writes
 * (token → range → sort; manifest stats; snapshot commit), with
 * EXACTLY-ONCE delivery under replay:
 *
 * each batch's snapshot commit carries a `txn` progress marker
 * (`checkpointLocation`-derived appId, epochId = batchId — the Delta
 * `txn` action shape). The marker inherits across every later commit
 * (appends, DML, OPTIMIZE), so on restart-and-replay the sink reads
 * [[Snapshots.streamTxn]] and SKIPS a batch the log already holds —
 * the write and the progress record are ONE atomic exclusive create,
 * never two systems that can disagree. This is the engine-native
 * replacement for the foreachBatch recipe
 * ([[graft.streaming.EventStreams.writeGraftStream]]), with the dedup
 * in the table's own log instead of LWW writetime collapse.
 *
 * Snapshot-logged tables only (`snapshot 'true'`): without the log
 * there is nowhere durable+atomic to keep the replay guard — refused
 * loudly rather than silently at-least-once. Append output mode only
 * (Update/Complete imply upsert/replace semantics this sink does not
 * fake — LWW-resolve on read, or MERGE via the CDC feed).
 *
 * 100 TB shape: each micro-batch is one bounded bulk write — the
 * repartition/sort runs on the BATCH, not the table; commit cost is
 * one metadata file. Layout options (partitions, ringSplits,
 * partitionBy, keepToken…) are the batch writer's, read from the same
 * options map.
 */
class GraftStreamSink(
    parameters: Map[String, String],
    outputMode: org.apache.spark.sql.streaming.OutputMode)
    extends Sink with Logging {

  require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
    s"graft streaming sink supports Append output mode only, got $outputMode " +
      "(for upserts: LWW-resolve on read, or MERGE from the CDC feed)")

  private val options = new CaseInsensitiveStringMap(parameters.asJava)
  private val dir: String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft streaming sink requires a 'path' option")
    p
  }
  require(options.getBoolean("snapshot", false),
    s"graft streaming sink on $dir requires snapshot 'true': the exactly-once " +
      "replay guard is a txn marker in the snapshot log")

  /** Replay-stable writer identity: the checkpoint location IS the query's
   *  durable identity across restarts (a fresh checkpoint = a fresh query
   *  = batch ids restart, exactly when a fresh appId is wanted). */
  private val appId: String = {
    val cp = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("checkpointLocation") => v
    }
    cp.getOrElse(throw new IllegalArgumentException(
      "graft streaming sink requires option 'checkpointLocation' (it is the " +
        "exactly-once writer identity)")).stripSuffix("/")
  }

  override def name(): String = s"graft-sink:$dir"

  /** Highest epoch this sink KNOWS is committed. One log consultation per
   *  sink lifetime (the first batch after start/restart); afterwards our
   *  own successful commits advance it — sound because an appId has one
   *  live writer by construction (the checkpoint serializes the query). */
  @volatile private var knownCommitted: Option[Long] = None

  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    if (knownCommitted.isEmpty)
      knownCommitted = Snapshots.streamTxn(data.sparkSession, dir, appId)
    if (knownCommitted.exists(_ >= batchId)) {
      logInfo(s"graft sink $dir: batch $batchId already committed for $appId — " +
        "replay skipped (exactly-once)")
      return
    }
    // the incoming frame is bound to this micro-batch's incremental plan;
    // re-base it on the computed rows so the bulk writer can re-plan
    // (repartition/sort) without touching streaming internals
    val batch: DataFrame = org.apache.spark.sql.graftshim.StreamBatchUtil.rebatch(data)
    GraftDataSource.validateWriteTypes(options)
    val cql = GraftDataSource.cqlFrom(options, batch.schema)
    val conf = TokenSortedWriter.WriteConf.fromOptions(options)
      .copy(snapshot = true, streamTxn = Some(appId -> batchId))
    TokenSortedWriter.write(
      GraftDataSource.renameColumns(batch, GraftDataSource.colMapFrom(options)),
      cql, dir, SaveMode.Append, conf)
    knownCommitted = Some(batchId)
  }
}
