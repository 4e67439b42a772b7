package graft.operators

import graft.model.CqlSchema.{qcol, quoted}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Read-path normalization: the Spark-native re-expression of the reference's
 * SSTable merge-compaction semantics.
 *
 * Reference behavior being reproduced (see SURVEY §2.8 / S5):
 *  - Last-write-wins reconciliation: N versions of the same primary key
 *    across SSTables/replicas collapse to the cell set with the highest
 *    write timestamp (`CompactionStreamScanner.java:51-157` drives
 *    Cassandra's `CompactionIterator`).
 *  - Tombstone purge: deleted partitions/rows never reach the caller
 *    (`CompactionStreamScanner.PurgingCompactionController:132-156`).
 *  - TTL expiry against a FIXED `nowInSec` pinned once per scan
 *    (`CompactionStreamScanner.initializePartitions():120`) so a scan is
 *    reproducible.
 *  - Last-modified-timestamp feature column = max cell writetime per row
 *    (`LastModifiedTimestampDecorator.java:30-67`).
 *
 * Spark-first design: each semantic is a declarative transform over the
 * DataFrame — a ranking window, an anti-join, a filter — so Catalyst keeps
 * full visibility (pushdown below, AQE above) instead of hiding the merge
 * inside an opaque scan iterator like the reference does.
 *
 * Scale notes (100 TB):
 *  - LWW is one hash-shuffle on the primary key — the theoretical minimum
 *    for a global dedup. At 1000 executors this is a standard shuffle whose
 *    skew (hot partition keys) AQE's skew-join/skew-agg handling splits.
 *  - Deletes are a conditional LEFT ANTI join on the raw tombstone rows
 *    (key equality plus `row.wt <= del.wt`), with no aggregate over the
 *    tombstones: partition and range tombstones share one join on the
 *    partition key, row tombstones keep an equi-join on the full row key.
 *    Delete sets are typically ≪ base data, so Spark auto-broadcasts them
 *    below the broadcast threshold — zero shuffle of the 100 TB side.
 *  - TTL is a plain filter: pushed to the parquet scan when the expiry
 *    column is a stored column (row-group min/max skipping applies).
 */
object Normalize {

  /** Can Spark ORDER on this type? Maps are unorderable (and arrays/structs
   *  are only as orderable as their elements) — columns failing this must
   *  stay out of version-ordering tuples or `max_by`/`orderBy` throw at
   *  analysis time. */
  def orderable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.MapType(_, _, _) => false
    case org.apache.spark.sql.types.ArrayType(et, _) => orderable(et)
    case org.apache.spark.sql.types.StructType(fields) => fields.forall(f => orderable(f.dataType))
    case _ => true
  }

  /**
   * Keep only the latest version of each primary key, ordering versions by
   * `orderCols` (descending; first column is the write-timestamp analog,
   * the rest are deterministic tie-breakers) — the reference's
   * merge-compaction collapse. One hash AGGREGATION,
   * `max_by(struct(values…), struct(orderCols…))`, picks the row with the
   * lexicographically greatest version tuple; the winner is unique when
   * `orderCols` totally orders each key's versions (append every non-key
   * column as tie-break).
   *
   * Why an aggregate and not a `row_number()` window: the window plan must
   * SORT every partition's rows by (pk, orderCols) before ranking; the
   * aggregate plan is hash-based with MAP-SIDE partial aggregation —
   * duplicate versions collapse before the shuffle, so shuffle volume
   * drops from all-rows to distinct-keys, and no sort or spill-prone window
   * buffer exists. Same single pk-shuffle lower bound, strictly less work
   * per row.
   */
  def latestWriteWinsAgg(df: DataFrame, primaryKey: Seq[String], orderCols: Seq[String]): DataFrame = {
    require(primaryKey.nonEmpty, "latestWriteWinsAgg needs a primary key")
    require(orderCols.nonEmpty, "latestWriteWinsAgg needs a version ordering")
    val valueCols = df.columns.filterNot(primaryKey.contains).toSeq
    val collapsed = df.groupBy(primaryKey.map(qcol): _*)
      .agg(max_by(
        struct(valueCols.map(qcol): _*),
        struct(orderCols.map(qcol): _*)).as("__graft_best"))
    // restore the original column order
    collapsed.select(df.columns.toSeq.map {
      case c if primaryKey.contains(c) => qcol(c)
      case c => col(s"__graft_best.${quoted(c)}").as(c)
    }: _*)
  }

  /**
   * Purge rows whose key appears in `deletes` (partition- or row-level
   * tombstones, reference §2.8 / `WriteMode.DELETE_PARTITION`,
   * `TableSchema.getDeleteStatement():227-238`). `deletes` needs only the
   * key columns; it is broadcast when small.
   */
  def applyDeletes(base: DataFrame, deletes: DataFrame, keyCols: Seq[String]): DataFrame =
    base.join(deletes.select(keyCols.map(qcol): _*).distinct(), keyCols, "left_anti")

  /**
   * Drop TTL-expired rows against a fixed reference `now` (reproducible
   * scans, like the reference's pinned `nowInSec`). `expiry` is the column
   * holding each row's expiration timestamp.
   */
  def ttlFilter(df: DataFrame, expiry: Column, now: Column): DataFrame =
    // null expiry = no TTL = never expires (CQL semantics); a bare
    // `expiry >= now` would null-filter every non-TTL row away
    df.filter(expiry.isNull || expiry >= now)

  /**
   * Static-column semantics (SURVEY §7.4 hard-part; reference
   * `SparkCellIterator.java:282-287` replicates partition-level static cells
   * onto every row of the partition): a static column has ONE value per
   * PARTITION key, owned by whichever version (of ANY row in the partition)
   * wrote it with the highest writetime — independent of the row-level LWW.
   *
   * Must run on the raw multi-version scan BEFORE the row-level LWW
   * collapse: the winning static cell may ride on an OLDER version of a row
   * whose newer version carries null, or on a different row of the partition
   * entirely; collapsing first would drop it.
   *
   * Formulation: per static column, `last(c, ignoreNulls) OVER (PARTITION BY
   * pk ORDER BY (writetime, c) ROWS UNBOUNDED PRECEDING..FOLLOWING)` — the
   * non-null value with the highest (writetime, value) pair. The value
   * tie-break mirrors Cassandra's equal-timestamp resolution (greater cell
   * value wins). All windows share one pk partitioning ⇒ a single shuffle
   * regardless of static-column count, reused by the LWW aggregation that
   * follows it.
   */
  def propagateStatics(
      df: DataFrame,
      partitionKeys: Seq[String],
      staticCols: Seq[String],
      writetime: String): DataFrame =
    staticCols.foldLeft(df) { (d, c) =>
      // the equal-writetime value tie-break only applies to orderable types;
      // an unorderable static (map) resolves by writetime alone
      val canOrderValue = d.schema.fields.find(_.name == c).forall(f => orderable(f.dataType))
      val ord =
        if (canOrderValue) Seq(qcol(writetime).asc, qcol(c).asc_nulls_first)
        else Seq(qcol(writetime).asc)
      val w = Window.partitionBy(partitionKeys.map(qcol): _*)
        .orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      d.withColumn(c, last(qcol(c), ignoreNulls = true).over(w))
    }

  /**
   * Append the reference's LAST_MODIFIED_TIMESTAMP feature column: the max
   * write timestamp over all versions of the row's partition
   * (`SchemaFeatureSet.java:37-50`). Window max — no extra shuffle when it
   * shares partitioning with a preceding LWW over the same key.
   */
  def withLastModifiedTimestamp(
      df: DataFrame,
      partitionKey: Seq[String],
      writetime: Column,
      outName: String = "last_modified_timestamp"): DataFrame = {
    val w = Window.partitionBy(partitionKey.map(qcol): _*)
    df.withColumn(outName, max(writetime).over(w))
  }
}
