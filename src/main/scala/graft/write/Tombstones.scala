package graft.write

import graft.functions.{TombstoneIndex, TombstoneProbe}
import graft.model.CqlSchema
import graft.model.CqlSchema.qcol
import graft.write.TokenSortedWriter.{CkMaxCol, CkMinCol, DeletesDir, WritetimeCol}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{GraftShims, ParquetScanBridge}
import org.apache.spark.sql.types.{LongType, NullType, StructType}

/**
 * A table's `_graft_deletes` tombstones and the purge step of a normalized
 * read ([[TokenSortedWriter.readNormalized]] step 2). Partition (pk only),
 * row (pk + clustering keys) and range (pk + `_graft_ck_min`/`_graft_ck_max`)
 * tombstones append to one dir with different columns; a row of the merged
 * set is
 *  - a range when either bound is non-null;
 *  - a row tombstone when every clustering key of the set is non-null and
 *    it is not a range;
 *  - a partition tombstone otherwise.
 *
 * Two plans purge them with the same answer:
 *  - the probe: the driver decodes the tombstone files itself (cached per
 *    immutable file) into a [[TombstoneIndex]], and the read keeps
 *    `NOT tombstone_probe(…)` — a filter in the scan task, no join and no
 *    Spark job of its own. Taken when the files' estimated size is within
 *    `spark.sql.autoBroadcastJoinThreshold` (the rule by which Spark would
 *    broadcast the join's tombstone side) and every key compares as bytes;
 *  - the joins: two conditional left-anti joins against the raw rows, one
 *    on the partition key for partition and range tombstones and one on
 *    the full row key for row tombstones.
 */
private[write] object Tombstones {

  /** The data files of `dir`'s tombstone dir; empty when it is missing. */
  def files(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val delPath = new Path(dir, DeletesDir)
    val fs = delPath.getFileSystem(spark.sessionState.newHadoopConf())
    try graft.sources.TokenPruner.listDataFiles(fs, delPath).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** `dir`'s tombstones as one frame, or None when it holds no data file.
   *  The schema is the merged footer schema (no Spark job); the listed
   *  files are read by name, since Spark warns on every read of a
   *  `_`-prefixed path. Past 32 files, Spark lists them with a job. */
  def frame(spark: SparkSession, dir: String): Option[DataFrame] =
    Some(files(spark, dir)).filter(_.nonEmpty).map(read(spark, _))

  private def read(spark: SparkSession, listed: Seq[FileStatus]): DataFrame =
    graft.sources.FooterSchema.read(spark, listed.map(_.getPath.toString))

  /** `df` (a normalized read after last-write-wins) minus every row that a
   *  tombstone in force kills. `asOf` keeps only tombstones stamped at or
   *  before it, and unstamped ones. */
  def purge(
      spark: SparkSession,
      df: DataFrame,
      schema: CqlSchema,
      dir: String,
      asOf: Option[Long]): DataFrame = {
    val listed = files(spark, dir)
    if (listed.isEmpty) df
    else index(spark, df, schema, listed, asOf) match {
      case Some((_, idx)) if idx.size == 0 => df
      case Some((cols, idx)) =>
        df.filter(!TombstoneProbe(cols, spark.sparkContext.broadcast(idx)))
      case None => antiJoins(df, read(spark, listed), schema, asOf)
    }
  }

  /** The probe's columns of `df` and its index, or None when the joins must
   *  purge: the files are too big to broadcast, their footers disagree, or
   *  a key would not compare as a join compares it. */
  private def index(
      spark: SparkSession,
      df: DataFrame,
      schema: CqlSchema,
      listed: Seq[FileStatus],
      asOf: Option[Long]): Option[(Seq[Column], TombstoneIndex)] = {
    val conf = spark.sessionState.conf
    val threshold = conf.autoBroadcastJoinThreshold
    if (threshold < 0 || listed.map(_.getLen).sum * conf.fileCompressionFactor > threshold)
      return None
    val paths = listed.map(_.getPath.toString)
    val merged = graft.sources.FooterSchema.merged(spark, paths).getOrElse(return None)
    val delType = merged.fields.map(f => f.name -> f.dataType).toMap
    val tableType = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val pk = schema.partitionKeys
    val rowCks = schema.clusteringKeys.filter(delType.contains)
    val hasRange = delType.contains(CkMinCol) || delType.contains(CkMaxCol)
    val rangeCk = if (hasRange) schema.clusteringKeys.headOption else None
    val timed = tableType.contains(WritetimeCol)
    // table column `c` and tombstone columns `dels` share one supported type
    def sameType(c: String, dels: String*): Boolean = tableType.get(c).exists(t =>
      TombstoneIndex.supported(t) && dels.forall(delType.get(_).contains(t)))
    val bounds = Seq(CkMinCol, CkMaxCol).filter(delType.contains)
    val usable = (pk ++ rowCks).forall(c => sameType(c, c)) &&
      (!hasRange || rangeCk.exists(sameType(_, bounds: _*))) &&
      (!timed || tableType(WritetimeCol) == LongType) &&
      delType.get(WritetimeCol).forall(_ == LongType)
    if (!usable) return None

    val cks = schema.clusteringKeys.filter(c => rowCks.contains(c) || rangeCk.contains(c))
    val layout = TombstoneIndex.Layout(
      pk.map(tableType).toArray,
      rowCks.map(tableType).toArray,
      rowCks.map(c => pk.length + cks.indexOf(c)).toArray,
      rangeCk.map(tableType).getOrElse(NullType),
      rangeCk.map(c => pk.length + cks.indexOf(c)).getOrElse(-1),
      timed)
    val builder = new TombstoneIndex.Builder(layout)
    decoded(spark, listed).getOrElse(return None).foreach { case (fileSchema, rows) =>
      def at(c: String): InternalRow => Any = fileSchema.fieldNames.indexOf(c) match {
        case -1 => _ => null
        case i =>
          val t = fileSchema(i).dataType
          r => if (r.isNullAt(i)) null else r.get(i, t)
      }
      val (pkAt, ckAt) = (pk.map(at), rowCks.map(at))
      val (loAt, hiAt, wtAt) = (at(CkMinCol), at(CkMaxCol), at(WritetimeCol))
      rows.foreach { r =>
        val wt = wtAt(r).asInstanceOf[java.lang.Long]
        if (asOf.forall(h => wt == null || wt <= h)) {
          val delWt = if (wt == null) Long.MaxValue else wt.longValue
          val (keys, lo, hi) = (pkAt.map(_(r)), loAt(r), hiAt(r))
          val ckVals = ckAt.map(_(r))
          if (lo != null || hi != null) builder.range(keys, lo, hi, delWt)
          else if (rowCks.nonEmpty && !ckVals.contains(null)) builder.row(keys ++ ckVals, delWt)
          else builder.partition(keys, delWt)
        }
      }
    }
    Some(((pk ++ cks).map(qcol) ++ (if (timed) Seq(col(WritetimeCol)) else Nil),
      builder.result()))
  }

  /** Decoded tombstone files, `path|length|mtime|conf` → (the file's
   *  schema, its rows, its length): files are immutable once written, so an
   *  entry never goes stale. Least recently used entries leave once the
   *  cached files pass [[MaxCachedBytes]] on disk. */
  private val cache =
    new java.util.LinkedHashMap[String, (StructType, Array[InternalRow], Long)](64, 0.75f, true)
  private var cachedBytes = 0L
  private val MaxCachedBytes = 64L << 20

  /** Each of `listed` as (its footer schema, its rows), decoded on the
   *  driver through Spark's parquet reader on a miss (no Spark job). None
   *  when a footer cannot be read. */
  private def decoded(
      spark: SparkSession,
      listed: Seq[FileStatus]): Option[Seq[(StructType, Array[InternalRow])]] = {
    val confKey = GraftShims.footerSchemaConfKey(spark.sessionState.conf)
    def key(s: FileStatus): String =
      s"${s.getPath}|${s.getLen}|${s.getModificationTime}|$confKey"
    val hits = cache.synchronized(listed.map(s => s -> Option(cache.get(key(s)))))
    val misses = hits.collect { case (s, None) => s }
    val schemas = misses.map(s =>
      s -> graft.sources.FooterSchema.merged(spark, Seq(s.getPath.toString)))
    if (schemas.exists(_._2.isEmpty)) return None
    val reads = schemas.groupBy(_._2.get).toSeq.flatMap { case (fileSchema, ss) =>
      val decode = ParquetScanBridge.rowDecoder(spark, fileSchema)
      ss.map { case (s, _) => (s, fileSchema, decode) }
    }
    val fresh = DriverPool.map(reads) { case (s, fileSchema, decode) =>
      key(s) -> ((fileSchema, decode((s.getPath.toString, s.getLen)), s.getLen))
    }.toMap
    cache.synchronized {
      fresh.foreach { case (k, v) =>
        if (cache.put(k, v) == null) cachedBytes += v._3
      }
      val it = cache.values().iterator()
      while (cachedBytes > MaxCachedBytes && it.hasNext) {
        cachedBytes -= it.next()._3
        it.remove()
      }
    }
    Some(hits.map { case (s, hit) =>
      val (fileSchema, rows, _) = hit.getOrElse(fresh(key(s)))
      (fileSchema, rows)
    })
  }

  /** The join plan: a conditional left-anti join per tombstone kind group,
   *  each with the time rule `row.wt <= del.wt` when the table carries
   *  writetimes. No aggregate over the tombstones. */
  private def antiJoins(
      df: DataFrame,
      deletesAll: DataFrame,
      schema: CqlSchema,
      asOf: Option[Long]): DataFrame = {
    val deletes = asOf match {
      case Some(h) if deletesAll.columns.contains(WritetimeCol) =>
        deletesAll.filter(col(WritetimeCol).isNull || col(WritetimeCol) <= h)
      case _ => deletesAll
    }
    val pk = schema.partitionKeys
    val hasRange = deletes.columns.contains(CkMinCol) || deletes.columns.contains(CkMaxCol)
    val isRange =
      if (hasRange) col(CkMinCol).isNotNull || col(CkMaxCol).isNotNull else lit(false)
    val ckInDels = schema.clusteringKeys.filter(deletes.columns.contains)
    val isRowLevel =
      if (ckInDels.isEmpty) lit(false)
      else ckInDels.map(c => qcol(c).isNotNull).reduce(_ && _) && !isRange
    // partition and range tombstones key on the partition key; a
    // partition tombstone is a range with both bounds null
    val (bounds, inRange) =
      if (!hasRange) (Nil, lit(true))
      else {
        val ck = qcol(schema.clusteringKeys.head)
        val (lo, hi) = (qcol(s"__del_$CkMinCol"), qcol(s"__del_$CkMaxCol"))
        (Seq(CkMinCol, CkMaxCol), (lo.isNull || ck >= lo) && (hi.isNull || ck <= hi))
      }
    val purged = antiJoin(df, deletes.filter(!isRowLevel), pk, bounds, inRange)
    if (ckInDels.isEmpty) purged
    else antiJoin(purged, deletes.filter(isRowLevel), pk ++ ckInDels, Nil, lit(true))
  }

  /** One anti-join against the raw tombstone rows, equi on `keys`, with
   *  `extra` tombstone columns visible to `cond` as `__del_<name>`. A
   *  tombstone wins over rows it is at-or-newer than (Cassandra deletion
   *  timestamps); an UNSTAMPED tombstone always wins, and so does any
   *  tombstone over a row of an unstamped generation; without a writetime
   *  on the data the rule drops out. */
  private def antiJoin(
      df: DataFrame, dels: DataFrame, keys: Seq[String], extra: Seq[String],
      cond: Column): DataFrame = {
    val hasWt = df.columns.contains(WritetimeCol)
    val renamed = dels.select((keys ++ extra).map(c => qcol(c).as(s"__del_$c")) ++
      (if (hasWt) Seq(
        (if (dels.columns.contains(WritetimeCol)) coalesce(col(WritetimeCol), lit(Long.MaxValue))
         else lit(Long.MaxValue)).as("__graft_del_wt"))
       else Nil): _*)
    val keyEq = keys.map(c => qcol(c) === qcol(s"__del_$c")).reduce(_ && _)
    val timeRule =
      if (hasWt) coalesce(col(WritetimeCol), lit(Long.MinValue)) <= col("__graft_del_wt")
      else lit(true)
    df.join(renamed, keyEq && cond && timeRule, "left_anti")
  }
}
