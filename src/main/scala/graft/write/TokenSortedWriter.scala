package graft.write

import graft.functions.graft_token
import graft.model.CqlSchema.qcol
import graft.model.CqlSchema
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The bulk-write pipeline, re-expressed Spark-first (reference S11:
 * `CassandraBulkSourceRelation.insert():116-131` = tokenize → range-repartition
 * → sort-within-partitions → write sorted runs; SURVEY §2.9 W2-W4, §3.2).
 *
 * Pipeline:
 *   1. `_graft_token = graft_token(pk…)` — Cassandra-ring-compatible Murmur3
 *      token per row (W2, bit-compatible port).
 *   2. `repartitionByRange(N, _graft_token)` — the reference's
 *      `TokenPartitioner` ring split becomes Spark's range partitioner
 *      (sampled split points ≈ even token sub-ranges; W3). Exactly ONE
 *      shuffle, same as the reference ("write path = exactly one range+sort
 *      shuffle", SURVEY §4.2).
 *   3. `sortWithinPartitions(_graft_token, pk…, ck…)` — satisfies the sorted
 *      writer invariant (W4, `SortedSSTableWriter.addRow():132-142` requires
 *      monotonically non-decreasing tokens per output run). Spark folds the
 *      sort into the shuffle read (sort-based shuffle), so it is free-ish.
 *   4. parquet write with rolling file size via `maxRecordsPerFile` — the
 *      analog of `sstableDataSizeInMiB` size-capped SSTables.
 *
 * Mode semantics follow the reference sink: only Append is allowed unless
 * the caller opts into overwrite (`CassandraDataSink.java:96-99` rejects
 * Overwrite outright).
 *
 * Scale notes (100 TB):
 *  - Range partitioning samples split points on the driver (reservoir
 *    sampling per partition) — O(partitions) driver memory, not O(rows).
 *  - One shuffle keyed by an 8-byte long: minimal shuffle width; value
 *    payload is the row itself, unavoidable for a clustered write.
 *  - Output files are non-overlapping in token range ⇒ a later reader can
 *    plan one task per file with zero overlap (the property the reference's
 *    reader exploits via `SparkRangeFilter`, P4).
 */
object TokenSortedWriter {

  final case class WriteConf(
      numPartitions: Int = 0, // 0 = leave to spark.sql.shuffle.partitions
      maxRecordsPerFile: Long = 0L, // 0 = single file per task
      allowOverwrite: Boolean = false,
      keepTokenColumn: Boolean = false,
      // W9 (`TTLOption.java:45-127`, `TimestampOption.java`): constant-OR-
      // per-row write timestamp and TTL, materialized as first-class columns
      // (`writetime`/`ttl` become columns of our table format, SURVEY §2.9)
      writetimeMicros: Option[Long] = None,
      writetimeColumn: Option[String] = None,
      ttlSeconds: Option[Long] = None,
      ttlColumn: Option[String] = None,
      // EXACT ring-split layout (reference `TokenPartitioner` splits instead
      // of sampled range boundaries): two tables written with the SAME
      // ringSplits value land their rows in identically-bounded files, so a
      // join on their partition keys can zip partitions with ZERO shuffle on
      // either side (co-located storage-partitioned join; the nominal
      // boundaries are recorded in the manifest for the read side to prove
      // compatibility). Overrides numPartitions when > 0.
      ringSplits: Int = 0,
      // Ring partitioner: "murmur3" (default, long tokens) or "random"
      // (reference parity with RandomPartitioner clusters: md5 abs-BigInteger
      // tokens as fixed-width 16-byte binary — see graft.token.RandomToken).
      // The pipeline is identical either way: tokenize → range-repartition →
      // sort-within → write; only the token expression/type changes. Random
      // layouts skip manifest token stats (127-bit tokens don't fit the long
      // manifest columns) — reads fall back to pk-column stats, which stay
      // exact.
      partitioner: String = "murmur3",
      // Hive-style directory partitioning on low-cardinality columns (a
      // pruning axis the reference's token ring cannot express — e.g. a day
      // column over an event log). Each listed column is DUPLICATED into a
      // `graft_p_<col>` copy that becomes the directory key, so the data
      // column itself stays in every file: reads are correct with or without
      // dir pruning, and the scan prunes directories purely from pushed
      // filters (see `TokenPruner.allowsDir`). Within each directory the
      // layout is the usual token-sorted one.
      partitionBy: Seq[String] = Nil,
      // Z-ORDER layout (alternative to the token sort, for multi-dimension
      // pruning): 2-4 integral columns are normalized to 16-bit ranks and
      // bit-interleaved into one clustering key; files then cover NARROW
      // min/max ranges on EVERY listed column simultaneously, so the
      // existing stats pruning (`TokenPruner.allowsStats` — any integral
      // column, pk or not) skips files for filters on any single
      // dimension. A token-sorted layout can only do this for the token
      // axis; a zordered one trades the clustered no-shuffle read (files
      // are no longer token-disjoint, so that path self-disqualifies —
      // by design) for pruning on several axes. Mutually exclusive with
      // ringSplits and partitionBy.
      zorderBy: Seq[String] = Nil,
      // Per-column parquet bloom filters (the reference's per-SSTable bloom
      // probe analog, `SSTableReader.java:303-306`, completing P5 for
      // NON-token point lookups): token-sorting gives exact min/max
      // row-group pruning on pk/token, but a high-cardinality non-key
      // column (url hash, uuid, ...) is uniformly spread across every file
      // — stats prune nothing. A bloom filter per listed column lets the
      // vectorized parquet reader drop whole row groups on pushed `=`/IN
      // filters at ~1 byte/row cost. Opt-in because blooms inflate footers;
      // list only columns that serve point lookups.
      bloomFilterColumns: Seq[String] = Nil,
      // expected distinct values per bloom column (sizes the filter);
      // 0 = parquet's default NDV
      bloomFilterNdv: Long = 0L,
      // Snapshot-log commit (see [[Snapshots]]): after the files land, the
      // write commits a new snapshot version listing the table's complete
      // live file set, enabling pinned time-travel reads
      // (`snapshotVersion` source option) and atomic visibility of the
      // whole batch to snapshot readers. Append-only: a snapshotted write
      // rejects SaveMode.Overwrite, because the parquet committer
      // physically deletes prior files and would invalidate every earlier
      // snapshot — logical replacement is [[Snapshots.commitRewrite]]
      // (compaction path) followed by [[Snapshots.vacuum]].
      snapshot: Boolean = false,
      // Streaming-writer progress marker committed WITH the snapshot
      // version ((appId, epochId) — the Delta `txn` action shape): the
      // native streaming sink's exactly-once guard. Requires snapshot=true
      // (the marker lives in the log).
      streamTxn: Option[(String, Long)] = None,
      // Row tracking (the Delta baseRowId design, [[Snapshots]] `rid`
      // lines): the first commit marks the log and every commit allocates
      // stable per-row ids (base + position, with rewrites materializing
      // carried ids into a `_graft_row_id` column). Requires snapshot=true;
      // self-perpetuating after the first commit.
      rowTracking: Boolean = false,
      // IDENTITY column allocation to record with this commit:
      // column → (next value the write allocated FROM, next value after).
      // The commit fails ConcurrentCommit when the base mark moved —
      // identity values are baked into the files ([[Snapshots]] `idhwm`).
      identityUpdate: Map[String, (Long, Long)] = Map.empty,
      // "This write replaces an EMPTY table" (REPLACE TABLE … AS SELECT's
      // truncate of the freshly-created table): the commit refuses if any
      // version landed since the emptiness check — two racing
      // overwrite-of-empty writers must not silently union.
      expectEmptyLog: Boolean = false)

  /** Directory-key twin of a partitioned column (see `WriteConf.partitionBy`). */
  def partCol(c: String): String = s"graft_p_$c"

  val TokenCol = "_graft_token"
  /** Per-row write timestamp in epoch micros (the CQL `writetime()` analog). */
  val WritetimeCol = "_graft_writetime"
  /** Per-row expiry in epoch micros, null = never (the TTL analog; expiry is
   *  resolved at write time = writetime + ttl, so reads only compare). */
  val ExpiresCol = "_graft_expires_at"
  /** Subdirectory holding partition-delete key sets (§2.8
   *  `WriteMode.DELETE_PARTITION`); underscore prefix keeps it invisible to
   *  plain parquet listings. */
  val DeletesDir = "_graft_deletes"
  /** Clustering-key bounds of a RANGE tombstone (inclusive; null =
   *  unbounded on that side). Presence of a non-null bound marks a deletes
   *  row as a range tombstone. */
  val CkMinCol = "_graft_ck_min"
  val CkMaxCol = "_graft_ck_max"

  /** Append W9 feature columns per conf: explicit per-row column wins over
   *  the constant (reference: `TTLOption.forRow`/`constant`). */
  private def withWriteOptions(df: DataFrame, conf: WriteConf): DataFrame = {
    val wt = (conf.writetimeColumn, conf.writetimeMicros) match {
      case (Some(c), _) => Some(qcol(c).cast("long"))
      case (None, Some(const)) => Some(lit(const))
      case _ => None
    }
    val withWt = wt.map(e => df.withColumn(WritetimeCol, e)).getOrElse(df)
    val ttl = (conf.ttlColumn, conf.ttlSeconds) match {
      case (Some(c), _) => Some(qcol(c).cast("long"))
      case (None, Some(const)) => Some(lit(const))
      case _ => None
    }
    ttl match {
      case Some(t) =>
        // Expiry is writetime + ttl; without a writetime there is no sane
        // base (epoch 0 would silently pre-expire every row), so fail fast.
        val base = wt.getOrElse(throw new IllegalArgumentException(
          "TTL configured without a writetime; set writetimeMicros or writetimeColumn " +
            "(expiry is resolved at write time as writetime + ttl)"))
        withWt.withColumn(ExpiresCol, when(t.isNull, lit(null).cast("long"))
          .otherwise(base + t * 1000000L))
      case None => withWt
    }
  }

  /** Tokenize + range-partition + sort, without writing — the reusable
   *  logical prefix (also what the DSv2 sink delegates to). */
  def tokenSorted(df: DataFrame, schema: CqlSchema, conf: WriteConf = WriteConf()): DataFrame = {
    require(schema.partitionKeys.nonEmpty, s"table ${schema.table} has no partition key")
    val tokenExpr = conf.partitioner match {
      case "murmur3" => graft_token(schema.partitionKeys.map(qcol): _*)
      case "random" => graft.functions.graft_random_token(schema.partitionKeys.map(qcol): _*)
      case other => throw new IllegalArgumentException(
        s"unknown partitioner '$other' (supported: murmur3, random)")
    }
    require(conf.partitioner == "murmur3" || conf.ringSplits == 0,
      "ringSplits (exact long-ring placement) requires the murmur3 partitioner")
    // NO fan-out before the token projection (round-19/20 idle A/B): the
    // round-19 entry widen bought q23's tokenize map side parallelism but
    // made the write pay a SECOND full shuffle of the input, and the
    // driver's 32-core battery showed the cost exceeding the win on every
    // real write lifecycle (q51 3.66->5.99 s, q146 4.04->5.69, q71
    // 4.00->5.01 steady) — the write path keeps its single range+sort
    // shuffle, which re-establishes parallelism by itself.
    val withToken0 = df.withColumn(TokenCol, tokenExpr)
    // dir-key copies ride along; sorting by them FIRST means the dynamic-
    // partition file writer sees its required ordering already satisfied and
    // inserts no extra (order-destroying) sort — each output file keeps the
    // monotone-token invariant
    val withToken = conf.partitionBy.foldLeft(withToken0)(
      (d, c) => d.withColumn(partCol(c), qcol(c)))
    // Dir-partitioned layouts range-partition on (dirKeys…, token): within
    // each directory, tasks then cover DISJOINT token sub-ranges, so every
    // directory independently keeps the pairwise-disjoint-files invariant —
    // a dir-pruned scan still qualifies for the clustered no-shuffle path.
    val rangeCols = (conf.partitionBy.map(partCol) :+ TokenCol).map(qcol)
    val parted =
      if (conf.ringSplits > 0) ringPartitioned(withToken, conf.ringSplits)
      else if (conf.numPartitions > 0) withToken.repartitionByRange(conf.numPartitions, rangeCols: _*)
      else withToken.repartitionByRange(rangeCols: _*)
    parted.sortWithinPartitions(
      (conf.partitionBy.map(partCol) ++ (TokenCol +: schema.primaryKey)).map(qcol): _*)
  }

  /** Z-order clustering key column (dropped before write unless kept for
   *  debugging via keepTokenColumn). */
  val ZOrderCol = "_graft_zorder"

  /**
   * Z-order layout: every `zorderBy` column is normalized to a 16-bit rank
   * over its GLOBAL [min, max] (one aggregation action — the same class of
   * driver state as range-partition boundaries), the ranks are
   * bit-interleaved into one long, and the data range-partitions + sorts
   * on that key. Consecutive zkeys are near each other in EVERY dimension,
   * so each output file's footer min/max is narrow on every listed column
   * and [[graft.sources.TokenPruner.allowsStats]] prunes files for
   * single-column filters on any axis.
   *
   * Normalization runs through doubles (rank = floor((v-min)/span·65535)):
   * exact as a RANK only while the span fits double precision — beyond
   * 2^53 adjacent values may share ranks, which coarsens clustering but
   * never affects correctness (pruning reads the true footer stats, not
   * the ranks). Nulls rank 0.
   *
   * Dimension types and their rank images:
   *  - integral: the value itself over global [min, max];
   *  - date / timestamp: epoch days (`unix_date`) / micros (`unix_micros`)
   *    over the same linear path;
   *  - string: the global min/max strings fix the corpus' common UTF-8
   *    byte prefix; each value maps to the unsigned integer of its next 7
   *    bytes after that prefix (zero-padded — order-preserving in Spark's
   *    unsigned byte-wise string order), then ranks by SAMPLED QUANTILE
   *    boundaries of that image (256 buckets, one `approxQuantile` pass,
   *    bucket lookup = a balanced when-tree, 8 codegen compares/row). A
   *    linear min-to-max map would waste nearly the whole rank space on
   *    byte-distribution gaps (text concentrates in a sliver of the 256^7
   *    image space); quantile ranks give every bucket equal data mass, so
   *    files get NARROW string footer ranges and string predicates prune
   *    on this axis through `FileMeta.strRanges`.
   */
  def zorderSorted(df: DataFrame, conf: WriteConf): DataFrame = {
    import org.apache.spark.sql.types._
    val cols = conf.zorderBy
    require(cols.size >= 2 && cols.size <= 4,
      s"zorderBy needs 2-4 columns, got ${cols.size}")
    val dts: Map[String, DataType] =
      cols.map(c => c -> df.schema(CqlSchema.unquoted(c)).dataType).toMap
    // long-valued image of a dimension, None for strings (prefix-ranked below)
    def numExpr(c: String): Option[Column] = dts(c) match {
      case LongType | IntegerType | ShortType | ByteType => Some(qcol(c).cast("long"))
      case DateType => Some(unix_date(qcol(c)).cast("long"))
      case TimestampType => Some(unix_micros(qcol(c)))
      case _ => None
    }
    cols.foreach { c =>
      require(numExpr(c).isDefined || dts(c) == StringType,
        s"zorderBy column $c must be integral, date, timestamp or string, got ${dts(c)}")
    }
    val aggCols = cols.flatMap { c =>
      numExpr(c) match {
        case Some(e) => Seq(min(e).cast("long"), max(e).cast("long"))
        case None => Seq(min(qcol(c)), max(qcol(c)))
      }
    }
    val bounds = df.agg(aggCols.head, aggCols.tail: _*).head()
    def linearRank(vExpr: Column, mn: Long, mx: Long): Column = {
      val span = math.max(1.0, mx.toDouble - mn.toDouble)
      least(lit(65535L), greatest(lit(0L),
        floor((coalesce(vExpr, lit(mn)) - lit(mn))
          .cast("double") / lit(span) * lit(65535.0)).cast("long")))
    }
    val ranks = cols.zipWithIndex.map { case (c, i) =>
      if (bounds.isNullAt(2 * i)) lit(0L) // all-null column
      else numExpr(c) match {
        case Some(e) =>
          linearRank(e, bounds.getLong(2 * i), bounds.getLong(2 * i + 1))
        case None =>
          val utf8 = java.nio.charset.StandardCharsets.UTF_8
          val mnB = bounds.getString(2 * i).getBytes(utf8)
          val mxB = bounds.getString(2 * i + 1).getBytes(utf8)
          var p = 0
          while (p < mnB.length && p < mxB.length && mnB(p) == mxB(p)) p += 1
          // unsigned integer of bytes [p, p+7), zero-padded — 56 bits keeps
          // the long positive and the rank math inside double precision
          val vExpr = conv(hex(rpad(
            substring(qcol(c).cast("binary"), p + 1, 7), 7, Array[Byte](0))),
            16, 10).cast("long")
          // sampled quantile boundaries of the image (255 cut points =
          // 256 equal-mass buckets; relativeError 1e-3 ≈ exact at file
          // granularity). Degenerate distributions dedup to fewer cuts.
          val cuts = df.select(vExpr.cast("double").as("__graft_zimg"))
            .na.drop("all")
            .stat.approxQuantile("__graft_zimg",
              (1 until 256).map(_ / 256.0).toArray, 0.001)
            .map(_.toLong).distinct.sorted
          if (cuts.isEmpty) lit(0L)
          else {
            // balanced when-tree binary search: rank = #cuts <= v, O(log n)
            // compares per row, pure codegen, no exchange
            def bucket(v: Column, lo: Int, hi: Int): Column =
              if (lo == hi) lit(lo.toLong)
              else {
                val mid = (lo + hi) / 2
                when(v >= cuts(mid), bucket(v, mid + 1, hi))
                  .otherwise(bucket(v, lo, mid))
              }
            (bucket(coalesce(vExpr, lit(Long.MinValue)), 0, cuts.length) *
              lit(65535L)) / lit(cuts.length.toLong)
          }
      }
    }
    val d = ranks.size
    val zkey = (0 until 16).foldLeft(lit(0L)) { (acc, b) =>
      ranks.zipWithIndex.foldLeft(acc) { case (a, (r, i)) =>
        a.bitwiseOR(shiftleft(shiftright(r, b).bitwiseAND(lit(1L)), b * d + i))
      }
    }
    val withZ = df.withColumn(ZOrderCol, zkey)
    val parted =
      if (conf.numPartitions > 0)
        withZ.repartitionByRange(conf.numPartitions, qcol(ZOrderCol))
      else withZ.repartitionByRange(qcol(ZOrderCol))
    parted.sortWithinPartitions(qcol(ZOrderCol))
  }

  /** Exact ring placement: partition i = splitRing(n)(i), NOT sampled
   *  boundaries. The one RDD round-trip in the engine — DataFrame range
   *  repartitioning cannot pin exact split points, and exactness is the
   *  whole point (file i of every same-n table covers the identical range).
   *  Write-path-only cost; the read side stays fully columnar. */
  private def ringPartitioned(withToken: DataFrame, n: Int): DataFrame = {
    val spark = withToken.sparkSession
    val schema = withToken.schema
    val tokenIdx = schema.fieldIndex(TokenCol)
    val rdd = withToken.rdd
      .map(r => (r.getLong(tokenIdx), r))
      .partitionBy(new graft.token.RingPartitioner(n))
      .values
    spark.createDataFrame(rdd, schema)
  }

  /** Full write: returns the output path for read-back. */
  def write(
      df: DataFrame,
      schema: CqlSchema,
      path: String,
      mode: SaveMode = SaveMode.Append,
      conf: WriteConf = WriteConf()): Unit = {
    if (mode == SaveMode.Overwrite && !conf.allowOverwrite) {
      // Reference parity: CassandraDataSink.java:96-99 rejects Overwrite.
      throw new IllegalArgumentException(
        "SaveMode.Overwrite rejected (reference sink semantics); set allowOverwrite to opt in")
    }
    require(conf.partitionBy.isEmpty || conf.ringSplits == 0,
      "partitionBy and ringSplits are mutually exclusive layouts")
    require(conf.zorderBy.isEmpty ||
      (conf.partitionBy.isEmpty && conf.ringSplits == 0),
      "zorderBy is mutually exclusive with partitionBy and ringSplits")
    if (conf.snapshot && mode == SaveMode.Overwrite)
      throw new IllegalArgumentException(
        "snapshot commits reject SaveMode.Overwrite: the parquet committer deletes " +
          "prior files, invalidating every earlier snapshot — compact to a rewrite " +
          "commit (Snapshots.commitRewrite) and vacuum instead")
    // snapshot-coupled conf flags validate BEFORE any data lands: these
    // used to throw after the parquet write + manifest append, by which
    // point a log-less table's listing reads already saw the rows — a
    // "failed" write that had in fact committed data
    if (!conf.snapshot) {
      require(conf.streamTxn.isEmpty,
        "streamTxn requires snapshot=true: the replay guard lives in the log")
      require(!conf.rowTracking,
        "rowTracking requires snapshot=true: bases and the high-water mark " +
          "live in the log")
      require(conf.identityUpdate.isEmpty,
        "identity columns require snapshot=true: the allocation mark lives " +
          "in the log")
    }
    // Snapshotted writes land in a hidden per-batch staging dir and are then
    // moved into the table root, so the committed "added" set is EXACTLY the
    // files THIS job wrote — a whole-table listing diff would absorb any
    // concurrent writer's files that landed between its two walks, blurring
    // per-batch atomicity. Dot-prefixed dirs are invisible to every lister
    // (ours, Spark's, an oracle glob), so a crashed staging dir never
    // pollutes reads; the move is a per-file rename (metadata op on
    // HDFS/local, server-side copy on object stores — the documented cost of
    // exact provenance without a custom commit protocol).
    val snapshotTarget: Option[Path] =
      if (!conf.snapshot) None
      else {
        // the staging dir is always fresh, so the parquet writer can no
        // longer see the REAL target — ErrorIfExists AND Ignore semantics
        // must be re-applied against the table path by hand, or Ignore
        // would silently append where the caller asked for a no-op
        if (mode == SaveMode.ErrorIfExists || mode == SaveMode.Ignore) {
          val p = new Path(path)
          val fsx = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
          if (fsx.exists(p)) {
            if (mode == SaveMode.Ignore) return
            throw new IllegalArgumentException(
              s"path $path already exists (SaveMode.ErrorIfExists)")
          }
        }
        Some(new Path(path,
          s".graft_staging/${java.util.UUID.randomUUID().toString.take(16)}"))
      }
    val sorted =
      if (conf.zorderBy.nonEmpty) zorderSorted(withWriteOptions(df, conf), conf)
      else tokenSorted(withWriteOptions(df, conf), schema, conf)
    val out = if (conf.keepTokenColumn) sorted
      else sorted.drop(TokenCol).drop(ZOrderCol)
    val writer = out.write.mode(mode)
    val w2 = if (conf.maxRecordsPerFile > 0)
      writer.option("maxRecordsPerFile", conf.maxRecordsPerFile) else writer
    val w3 = if (conf.partitionBy.nonEmpty)
      w2.partitionBy(conf.partitionBy.map(partCol): _*) else w2
    // parquet picks these up from the write options → hadoop conf
    // (`parquet.bloom.filter.enabled#<col>`); spec-verified against the
    // written footers in TokenSortedWriterSpec
    val w4 = conf.bloomFilterColumns.foldLeft(w3) { (w, c) =>
      val en = w.option(s"parquet.bloom.filter.enabled#$c", "true")
      if (conf.bloomFilterNdv > 0)
        en.option(s"parquet.bloom.filter.expected.ndv#$c", conf.bloomFilterNdv)
      else en
    }
    JobDesc.withDesc(df.sparkSession,
      s"graft.write: range+sort+parquet -> ${new Path(path).getName}") {
      w4.parquet(snapshotTarget.map(_.toString).getOrElse(path))
    }
    val added: Seq[String] = snapshotTarget match {
      case None => Nil
      case Some(stage0) =>
        val p = new Path(path)
        val fs = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
        val root = fs.makeQualified(p)
        val stage = fs.makeQualified(stage0)
        // move data files root-ward preserving any partition-dir layout;
        // _SUCCESS and other committer artifacts stay behind and die with
        // the staging dir
        def walk(d: Path): Seq[Path] =
          fs.listStatus(d).toSeq.flatMap { s =>
            if (s.isDirectory) walk(s.getPath)
            else if (s.getPath.getName.endsWith(".parquet")) Seq(s.getPath)
            else Nil
          }
        val stagePrefix = stage.toString.stripSuffix("/") + "/"
        val moved = walk(stage).map { src =>
          val rel = src.toString.stripPrefix(stagePrefix)
          val dst = new Path(root, rel)
          Option(dst.getParent).foreach(fs.mkdirs(_))
          if (!fs.rename(src, dst))
            throw new java.io.IOException(
              s"snapshot staging move failed: $src -> $dst")
          dst.toString
        }
        fs.delete(stage, true)
        graft.sources.TokenPruner.invalidateListing(path)
        moved
    }
    // record planning stats for the new files while their footers are hot —
    // scans then plan from the manifest in O(1) driver IO (S3 at 100 TB)
    Manifest.appendFor(df.sparkSession, path,
      if (conf.ringSplits > 0) Some(conf.ringSplits) else None)
    if (conf.snapshot)
      try Snapshots.commitAppend(df.sparkSession, path, added, conf.streamTxn,
        rowTracking = conf.rowTracking, idUpdate = conf.identityUpdate,
        expectEmpty = conf.expectEmptyLog)
      catch {
        case e: Snapshots.ConcurrentCommitException =>
          // thrown strictly BEFORE the exclusive create — the commit
          // definitively did not land, so the just-moved files are
          // referenced by no version. Delete them: a retrying writer (or a
          // log-less listing read) must never see the abandoned attempt.
          // Stale manifest entries are harmless (listing drives; the
          // manifest only supplies stats).
          val p = new Path(path)
          val fs = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
          added.foreach(a => fs.delete(new Path(a), false))
          graft.sources.TokenPruner.invalidateListing(path)
          throw e
      }
    // (the snapshot-coupled conf flags were validated up top, before any
    // data landed)
  }

  /**
   * Partition-delete write mode (§2.8: the reference's
   * `WriteMode.DELETE_PARTITION` generates `DELETE FROM ks.tbl WHERE pk=?`,
   * `TableSchema.getDeleteStatement():227-238`). Our file-native analog:
   * append the distinct partition-key set as a tombstone table under
   * `_graft_deletes/`; [[readNormalized]] applies it as a left-anti join.
   * Tombstones carry a writetime so delete-then-reinsert resolves by time.
   *
   * With `rowLevel = true` the tombstone carries the FULL primary key
   * (pk + ck) and deletes single rows, not partitions — the read-path analog
   * of Cassandra row tombstones (the reference's merge iterator purges them
   * the same way it purges partition tombstones,
   * `CompactionStreamScanner.PurgingCompactionController:132-156`).
   * [[readNormalized]] distinguishes the two by which key columns are
   * present in the tombstone table, so partition- and row-level tombstones
   * can coexist in one table dir (written as separate appends).
   */
  def writeDeletes(
      keys: DataFrame,
      schema: CqlSchema,
      path: String,
      writetimeMicros: Option[Long] = None,
      rowLevel: Boolean = false): Unit = {
    val keyCols = if (rowLevel) schema.primaryKey else schema.partitionKeys
    require(!rowLevel || schema.clusteringKeys.nonEmpty,
      "rowLevel deletes need clustering keys; use partition deletes otherwise")
    val keyed = keys.select(keyCols.map(qcol): _*).distinct()
    val stamped = writetimeMicros
      .map(t => keyed.withColumn(WritetimeCol, lit(t))).getOrElse(keyed)
    stamped.write.mode(SaveMode.Append).parquet(s"$path/$DeletesDir")
  }

  /**
   * Range tombstones (§2.8; reference `EndToEndTests.testRangeTombstoneInt
   * :682`): per partition key, delete every row whose FIRST clustering key
   * falls inside `[ck_min, ck_max]` (inclusive; a null bound is unbounded
   * on that side — at least one bound required, a fully-unbounded range IS
   * a partition delete and must be written as one). `keys` carries the
   * partition-key columns plus `ck_min`/`ck_max`; tombstones stamp a
   * writetime so reinsert-after-delete resolves by time like the point
   * tombstones. Coexists with partition/row tombstones in one deletes dir.
   */
  def writeRangeDeletes(
      keys: DataFrame,
      schema: CqlSchema,
      path: String,
      writetimeMicros: Option[Long] = None): Unit = {
    require(schema.clusteringKeys.nonEmpty,
      "range deletes need a clustering key; use partition deletes otherwise")
    // persisted so the validation count and the write see the SAME rows —
    // a nondeterministic `keys` source re-evaluated between the two could
    // otherwise sneak an unbounded row past the check
    val sel = keys.select(
      (schema.partitionKeys.map(qcol) :+
        qcol("ck_min").as(CkMinCol) :+ qcol("ck_max").as(CkMaxCol)): _*)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a both-null range is an intended FULL-partition delete — silently
      // dropping it would retain data the caller asked to remove; fail
      // loudly and point at the right API
      val unbounded = sel.filter(col(CkMinCol).isNull && col(CkMaxCol).isNull).count()
      require(unbounded == 0,
        s"$unbounded range-delete row(s) have null ck_min AND null ck_max: a fully-" +
          "unbounded range is a partition delete — use writeDeletes for those keys")
      val stamped = writetimeMicros
        .map(t => sel.withColumn(WritetimeCol, lit(t))).getOrElse(sel)
      stamped.write.mode(SaveMode.Append).parquet(s"$path/$DeletesDir")
    } finally sel.unpersist()
  }

  /** Read back a previous [[write]] output with role metadata re-attached. */
  def read(spark: SparkSession, schema: CqlSchema, path: String): DataFrame =
    schema.annotate(spark.read.parquet(path))

  /**
   * The reference's read-path semantics end-to-end (SURVEY §3.1 steps 6-8
   * rebuilt declaratively, §7.1 step 3 "normalization sub-plan"): scan via
   * the graft DSv2 source (token pruning, pushdown, stats), then
   *
   *  1. last-write-wins collapse of multi-version rows by `_graft_writetime`
   *     (the merge-compaction of `CompactionStreamScanner`, S5) — present
   *     whenever appends overlapped;
   *  2. tombstone purge: left-anti/time-aware join against the
   *     `_graft_deletes/` key set (§2.8; delete wins only over rows it is
   *     newer than, like Cassandra deletion timestamps);
   *  3. TTL expiry against a FIXED `nowMicros` (reproducible scans — the
   *     reference pins `nowInSec` per scan, `CompactionStreamScanner:120`).
   *
   * Each step is a plain Catalyst operator (window / join / filter), so
   * pushdown BELOW and AQE ABOVE both still apply: at 100 TB the LWW is one
   * pk-shuffle, the delete set broadcasts, and TTL is a pushable filter.
   */
  def readNormalized(
      spark: SparkSession,
      schema: CqlSchema,
      path: String,
      nowMicros: Option[Long] = None,
      keepFeatureColumns: Boolean = false,
      snapshotVersion: Option[String] = None,
      tombstonesAsOfMicros: Option[Long] = None): DataFrame = {
    val reader = spark.read.format("graft")
      .option("path", path)
      .option("pk", schema.partitionKeys.mkString(","))
      .option("ck", schema.clusteringKeys.mkString(","))
      .option("static", schema.staticColumns.mkString(","))
      .option("table", schema.table)
      // everything below groups/windows by pk: a single-write disjoint token
      // layout then needs zero shuffles (S2 reported partitioning; the scan
      // silently disqualifies itself on overlapping multi-append layouts)
      .option("clustered", "true")
    var df = snapshotVersion.fold(reader)(v => reader.option("snapshotVersion", v))
      .load()

    // 0. static columns resolve per PARTITION over the raw multi-version
    // scan, BEFORE row collapse — the winning static cell may ride on an
    // older version or a sibling row (SparkCellIterator.java:282-287)
    val statics = schema.staticColumns.filter(df.columns.contains)
    if (statics.nonEmpty && df.columns.contains(WritetimeCol)) {
      df = graft.operators.Normalize.propagateStatics(
        df, schema.partitionKeys, statics, WritetimeCol)
    }

    // 1. LWW: writetime first, then every ORDERABLE non-key column as a
    // deterministic tie-break (equal-writetime appends resolve identically
    // everywhere; map columns are unorderable in Spark and must stay out of
    // the max_by ordering tuple — a table whose only value columns are maps
    // resolves equal-writetime versions arbitrarily, like Cassandra's own
    // cell-timestamp ties)
    if (df.columns.contains(WritetimeCol)) {
      val fieldTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val tiebreaks = df.columns.toSeq
        .filterNot(c => schema.primaryKey.contains(c) || c == WritetimeCol)
        .filter(c => fieldTypes.get(c).forall(graft.operators.Normalize.orderable))
      df = graft.operators.Normalize.latestWriteWinsAgg(
        df, schema.primaryKey, WritetimeCol +: tiebreaks)
    }

    // 2. tombstones — partition-level (pk only) and row-level (pk + ck)
    // coexist in one _graft_deletes dir; a merged read distinguishes them by
    // null ck columns (ck is part of a primary key, never legitimately null)
    tombstones(spark, path).foreach { deletesAll =>
      // time-scoped tombstones: a PINNED state reconstruction (diffRows'
      // from-side) must not let deletes that landed AFTER the pin
      // retro-erase rows the downstream consumer synced before the delete
      // existed. Unstamped tombstones carry no time and stay in effect.
      val deletes0 = tombstonesAsOfMicros match {
        case Some(h) if deletesAll.columns.contains(WritetimeCol) =>
          deletesAll.filter(col(WritetimeCol).isNull || col(WritetimeCol) <= h)
        case _ => deletesAll
      }
      val pk = schema.partitionKeys
      // range tombstones are marked by a non-null ck bound; split them off
      // before the point-tombstone dispatch (mergeSchema gives every row the
      // union schema, so the other kinds see null bounds)
      val hasRange = deletes0.columns.contains(CkMinCol) || deletes0.columns.contains(CkMaxCol)
      val isRange =
        if (hasRange) col(CkMinCol).isNotNull || col(CkMaxCol).isNotNull else lit(false)
      val deletes = if (hasRange) deletes0.filter(!isRange) else deletes0
      val ckInDels = schema.clusteringKeys.filter(deletes.columns.contains)
      if (ckInDels.isEmpty) {
        df = applyTombstones(df, deletes, pk)
      } else {
        val isRowLevel = ckInDels.map(c => qcol(c).isNotNull).reduce(_ && _)
        df = applyTombstones(df, deletes.filter(!isRowLevel), pk)
        df = applyTombstones(df, deletes.filter(isRowLevel), pk ++ ckInDels)
      }
      if (hasRange) {
        df = applyRangeTombstones(df, deletes0.filter(isRange), pk,
          schema.clusteringKeys.head)
      }
    }

    // 3. TTL at pinned now
    if (df.columns.contains(ExpiresCol)) {
      nowMicros.foreach { now =>
        df = df.filter(col(ExpiresCol).isNull || col(ExpiresCol) > lit(now))
      }
    }

    if (keepFeatureColumns) df else df.drop(WritetimeCol, ExpiresCol)
  }

  /** The table's `_graft_deletes` tombstones, or None when the dir holds no
   *  data file (Spark cannot infer a schema from an empty dir). The one
   *  reader of the dir: `mergeSchema` because partition, row and range
   *  tombstones append with different columns; the listed files are read
   *  by name, since Spark warns on every read of a `_`-prefixed path. */
  private def tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val delPath = new Path(dir, DeletesDir)
    val fs = delPath.getFileSystem(spark.sessionState.newHadoopConf())
    val files =
      if (!fs.exists(delPath)) Array.empty[String]
      else graft.sources.TokenPruner.listDataFiles(fs, delPath).map(_.getPath.toString)
    if (files.isEmpty) None
    else Some(spark.read.option("mergeSchema", "true").parquet(files.toIndexedSeq: _*))
  }

  /**
   * Compaction (the maintenance analog of Cassandra's compaction, which the
   * reference leans on server-side): fold a multi-append layout — N
   * overlapping token-sorted generations + tombstones — into ONE fresh
   * generation at `dstPath`: versions LWW-collapsed, statics resolved,
   * tombstoned rows gone, files once again PAIRWISE-DISJOINT in token space.
   *
   * Why it matters at 100 TB: every append overlaps the whole ring, so reads
   * re-pay the LWW shuffle forever and the clustered no-shuffle property
   * (S2 reported partitioning) stays disqualified. Periodic compaction
   * restores both: post-compaction, `groupBy(pk)` / LWW / static windows
   * over the table plan ZERO exchanges again, and scan planning sees one
   * manifest generation. Cost = one normalized read + one range+sort write —
   * the same two-shuffle budget as any single bulk load.
   *
   * Writes to a NEW directory (never in place): the swap is the caller's
   * atomic rename/repoint, mirroring immutable-SSTable hygiene.
   */
  def compact(
      spark: SparkSession,
      schema: CqlSchema,
      srcPath: String,
      dstPath: String,
      conf: WriteConf = WriteConf()): Unit = {
    // verify-on-compact: recompute manifest content digests BEFORE folding
    // generations, so at-rest/transport corruption is caught loudly instead
    // of being rewritten into the fresh generation (reference digests every
    // written SSTable and re-verifies on the receiving side,
    // `SortedSSTableWriter.java:67-327` + `WriterDigestIntegrationTest`)
    val corrupt = Manifest.verifyDigests(spark, srcPath)
    if (corrupt.nonEmpty) {
      throw new java.io.IOException(
        s"compact aborted: ${corrupt.length} file(s) fail xxhash64 digest verification: " +
          corrupt.take(5).mkString(", "))
    }
    val normalized = readNormalized(spark, schema, srcPath, keepFeatureColumns = true)
    val carryWt = normalized.columns.contains(WritetimeCol)
    // keepTokenColumn is FORCED: restoring the clustered/no-shuffle and
    // token-pruning properties is the point of compaction, and both need
    // per-file token stats — a default-conf compact must not silently write
    // a layout that can never satisfy them
    val outConf = conf.copy(
      keepTokenColumn = true,
      writetimeColumn = if (carryWt) Some(WritetimeCol) else conf.writetimeColumn,
      writetimeMicros = None, ttlColumn = None, ttlSeconds = None)
    // ExpiresCol (if present) is already resolved absolute expiry — it flows
    // through as a data column; writetime is re-stamped from itself so later
    // appends to dstPath still merge by time correctly.
    write(normalized, schema, dstPath, SaveMode.Append, outConf)
  }

  /**
   * Current MERGED state of the rows a snapshot-version range touched —
   * the incremental-maintenance read. [[Snapshots.readChanges]] rows are
   * raw appended versions (no LWW collapse, no tombstones); a pipeline
   * maintaining a downstream mirror instead needs "the rows whose primary
   * key appeared in the increment, as the table resolves them NOW". This
   * reads the feed once for its DISTINCT primary-key set (narrow columns
   * only) and left-semi joins the normalized read on that key — the semi
   * join broadcasts whenever the touched key set fits (typical for a
   * daily increment against a 100 TB table), and the normalized scan
   * keeps its pushdown/clustered-layout properties. Keys whose rows were
   * deleted since (tombstones) simply don't appear — recover them with an
   * anti join of the feed keys against the result if the mirror needs
   * explicit deletes.
   */
  def readChangesMerged(
      spark: SparkSession,
      schema: CqlSchema,
      dir: String,
      fromVersion: Long,
      toVersion: Long,
      nowMicros: Option[Long] = None): DataFrame = {
    val touched = Snapshots.readChanges(spark, dir, fromVersion, toVersion)
      .select(schema.primaryKey.map(qcol): _*).distinct()
    readNormalized(spark, schema, dir, nowMicros)
      .join(touched, schema.primaryKey, "left_semi")
  }

  /**
   * Row-level semantic diff of two RESOLVED snapshot states — the CDC
   * escape hatch for ranges the file-level feed refuses: readChanges
   * fails loudly across a rewrite commit (compaction breaks file-level
   * provenance), while this compares the states themselves, so it works
   * across ANY lineage. Output: primary key + `op` ('insert' | 'update'
   * | 'delete') + value columns (post-image for insert/update, pre-image
   * for delete). Unchanged rows are omitted.
   *
   * Tombstone time-scoping: deletes retro-apply to pinned reads (a
   * tombstone is newer than the rows it kills), so with no horizon a key
   * deleted BETWEEN the versions vanishes from BOTH sides and no
   * 'delete' op surfaces. A consumer that synced at `fromVersion` passes
   * `fromTombstoneHorizonMicros` = the writetime horizon of its sync;
   * the from-state then resurrects what the consumer actually holds and
   * the diff emits the 'delete'. Unstamped tombstones carry no time and
   * always apply.
   *
   * Cost/scale: two pinned normalized scans + one full outer join on the
   * primary key (both sides token-sorted → clustered layouts co-locate;
   * the join shuffles at most both states' narrow resolved rows — no
   * per-file bookkeeping, no version walk). Schema evolution between the
   * versions is handled by null-padding the missing columns on either
   * side; a column added between versions therefore reports every
   * carrying row as an update, which IS the semantic truth.
   */
  def diffRows(
      spark: SparkSession,
      schema: CqlSchema,
      dir: String,
      fromVersion: Long,
      toVersion: Long,
      fromTombstoneHorizonMicros: Option[Long] = None,
      nowMicros: Option[Long] = None): DataFrame = {
    require(fromVersion <= toVersion,
      s"diffRows: fromVersion $fromVersion > toVersion $toVersion")
    val pk = schema.primaryKey
    val from = readNormalized(spark, schema, dir, nowMicros,
      snapshotVersion = Some(fromVersion.toString),
      tombstonesAsOfMicros = fromTombstoneHorizonMicros)
    val to = readNormalized(spark, schema, dir, nowMicros,
      snapshotVersion = Some(toVersion.toString))
    val vals = (from.columns ++ to.columns).distinct.toSeq
      .filterNot(pk.contains).filterNot(_.startsWith("_graft_"))
    def side(df: DataFrame, tag: String) = {
      // one Project for padding + rename (a withColumn per missing column
      // re-analyzes the growing plan quadratically — driver planning cost)
      val have = df.columns.toSet
      df.select((pk.map(qcol) ++
        vals.map(c =>
          (if (have.contains(c)) qcol(c) else lit(null)).as(s"__$tag$c")) :+
        lit(true).as(s"__present_$tag")): _*)
    }
    // Candidate-key pre-filter (guide §3.2/§6): a key's resolution can
    // differ between the pins only if a state-changing commit in
    // (from, to] touched a file carrying it — enumerate those files from
    // the log (compaction folds and repacks contribute nothing), read
    // their partition keys (narrow columns only), and semi-join BOTH
    // resolved states down to the touched partitions before the full
    // outer join. At 100 TB that joins two increment-sized states instead
    // of two whole tables. Soundness: untouched keys resolve identically
    // on both sides and would be dropped by the unchanged-filter anyway.
    // Bypassed (full-state join, the previous behavior) when:
    //  - the schemas differ between the pins (a column added between
    //    versions makes every carrying row an update);
    //  - the log walk is untrustworthy (vacuumed versions, missing files,
    //    legacy rewrite commits) — diffCandidateFiles returns None;
    //  - a tombstone horizon is in play and the tombstone set cannot be
    //    read (it then contributes asymmetric deletes whose keys must
    //    also be candidates);
    //  - any enumeration step throws (e.g. renamed physical columns in
    //    raw files) — correctness never depends on the fast path.
    val candidateKeys: Option[DataFrame] =
      if (from.columns.toSet != to.columns.toSet) None
      else Snapshots.diffCandidateFiles(spark, dir, fromVersion, toVersion)
        .flatMap { files =>
          try {
            val parts = schema.partitionKeys
            val touched =
              if (files.isEmpty) None
              else Some(spark.read.parquet(files: _*).select(parts.map(qcol): _*))
            // a horizon resurrects tombstoned rows on the from side ONLY —
            // every tombstoned key is then a potential 'delete' candidate
            // (without a horizon both pins apply the same tombstones, so
            // they cancel and contribute no candidates)
            val tombs: Option[DataFrame] =
              if (fromTombstoneHorizonMicros.isEmpty) None
              else tombstones(spark, dir).map(_.select(parts.map(qcol): _*))
            val all = (touched.toSeq ++ tombs.toSeq).reduceOption(_ unionByName _)
            Some(all.getOrElse(from.select(parts.map(qcol): _*).limit(0))
              .distinct())
          } catch { case scala.util.control.NonFatal(_) => None }
        }
    def scoped(df: DataFrame): DataFrame = candidateKeys match {
      case Some(keys) => df.join(keys, schema.partitionKeys, "left_semi")
      case None => df
    }
    val joined =
      scoped(side(from, "a_")).join(scoped(side(to, "b_")), pk, "full_outer")
    val changed =
      if (vals.isEmpty) lit(false)
      else vals.map(c => !(col(s"__a_$c") <=> col(s"__b_$c"))).reduce(_ || _)
    val op = when(col("__present_b_").isNull, lit("delete"))
      .when(col("__present_a_").isNull, lit("insert"))
      .otherwise(lit("update"))
    joined
      .filter(col("__present_a_").isNull || col("__present_b_").isNull || changed)
      .select((pk.map(qcol) :+ op.as("op")) ++
        vals.map(c => when(col("__present_b_").isNull, col(s"__a_$c"))
          .otherwise(col(s"__b_$c")).as(c)): _*)
  }

  /**
   * Copy-on-write partition-key deletes — the physical backing for SQL
   * `DELETE FROM t WHERE pk …` ([[graft.sources.GraftTable]]'s
   * `SupportsDelete`): rewrite ONLY the files that can contain the keys,
   * minus their rows, and cut the listing over.
   *
   * Shape at scale: `filters` (the SQL predicate) prune the file set
   * through the SAME token/footer/bloom machinery as a read — deleting
   * 10 keys from a 100 TB table rewrites ~10 files, never the table. One
   * file → one replacement in the same directory (per-file token
   * disjointness and sort order survive, so clustered no-shuffle plans
   * keep qualifying); a file whose every row dies gets no replacement.
   *
   * Snapshot-logged tables cut over with an atomic [[Snapshots
   * .commitRewrite]] guarded by `expectedParent` (concurrent append →
   * loud refusal, rerun the DELETE) and KEEP the old files for pinned
   * readers until vacuum; log-less tables fall back to write-then-delete
   * (briefly both visible — the log is the atomicity seam, documented).
   *
   * Dir-partitioned layouts work unchanged: a replacement lands beside
   * its original, i.e. inside the same `graft_p_*` partition dir, so dir
   * pruning stays sound. Keys must be PARTITION keys — a pk delete
   * removes every row of that partition, the tombstone semantic (a
   * clustering-key condition is refused upstream, never approximated).
   * Returns the number of rows removed.
   */
  def deleteRowsWhere(
      spark: SparkSession,
      schema: CqlSchema,
      dir: String,
      filters: Array[org.apache.spark.sql.sources.Filter],
      keys: DataFrame): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    val Snapshots.TableSnapshot(head, live, dvBindings, _, _) =
      Snapshots.snapshot(spark, dir, None)
    // dir-partitioned layouts work unchanged: each replacement lands in
    // its original's parent, i.e. the same graft_p_* partition dir, so
    // dir pruning keeps seeing the rows it should
    val affected = graft.sources.TokenPruner.prune(spark, live, filters, schema)
    if (affected.isEmpty) return 0L
    val keyDf = broadcast(keys.select(schema.partitionKeys.map(qcol): _*))
    // merge-on-read state folds through this rewrite too: affected files
    // read with their DVs (dvBindings) applied — deleted rows neither
    // counted nor re-staged — and the snapshot commit's kept-files filter
    // drops the replaced files' stale bindings
    var removed = 0L
    val replacements = scala.collection.mutable.Map[String, Option[String]]()
    affected.foreach { meta =>
      val original = DeletionVectors.applyToRead(spark, Seq(meta.path), dvBindings)
      // persisted: the count probe and the replacement write otherwise
      // each re-read the file and re-run the anti-join (2x IO per file)
      val kept = original.join(keyDf, schema.partitionKeys, "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      // footer counts include DV'd rows — live count needs the applied read
      val liveRows =
        if (dvBindings.contains(meta.path)) original.count() else meta.rows
      val keptN = kept.count()
      removed += liveRows - keptN
      if (keptN == liveRows) {
        // pruning was conservative; nothing in this file actually matches
        replacements += meta.path -> Some(meta.path)
      } else if (keptN == 0L) {
        replacements += meta.path -> None
      } else {
        val tmp = new Path(root, s".delete-${java.util.UUID.randomUUID().toString.take(12)}")
        kept.coalesce(1).write.parquet(tmp.toString)
        val part = fs.listStatus(tmp).map(_.getPath)
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no parquet part under $tmp"))
        // a shallow clone's out-of-root (source-owned) original must not
        // get a sibling written into the SOURCE's directory — its
        // replacement materializes under the clone root instead
        val parent =
          if (Snapshots.underRoot(root, meta.path)) new Path(meta.path).getParent
          else root
        val dest = new Path(parent,
          s"part-cow-${java.util.UUID.randomUUID().toString.take(12)}.parquet")
        if (!fs.rename(part, dest))
          throw new IllegalStateException(s"rename $part -> $dest failed")
        fs.delete(tmp, true)
        replacements += meta.path -> Some(dest.toString)
      }
      } finally kept.unpersist()
    }
    if (removed == 0L) return 0L
    Manifest.appendFor(spark, dir) // stats+digests for the replacement files
    val newLive = live.map(_.path).flatMap(pth =>
      replacements.getOrElse(pth, Some(pth)))
    if (head.isDefined) {
      try Snapshots.commitRewrite(spark, dir, newLive.toSeq, expectedParent = head)
      catch {
        case e: Snapshots.ConcurrentCommitException =>
          // the guarded commit did not land: the part-cow-* replacements
          // already renamed into live data dirs are referenced by no
          // version — delete them (the write() discipline) or a
          // listing-driven read double-counts every kept row, and each
          // retry leaks another set
          replacements.foreach {
            case (old, Some(rep)) if rep != old => fs.delete(new Path(rep), false)
            case _ => ()
          }
          graft.sources.TokenPruner.invalidateListing(dir)
          throw e
      }
    } else {
      replacements.foreach {
        case (old, rep) if !rep.contains(old) => fs.delete(new Path(old), false)
        case _ => ()
      }
    }
    graft.sources.TokenPruner.invalidateListing(dir)
    removed
  }

  /**
   * In-place compaction via the snapshot log ([[Snapshots]]): fold the
   * table's generations into one fresh generation INSIDE the same table
   * dir, commit it as a rewrite snapshot, and vacuum to `vacuumRetain`
   * versions — no table move, no repoint, and (at retain 1) the live
   * listing equals the compacted generation when the call returns.
   *
   * Protocol (each step safe to die after):
   *  1. digest-verify the source files (same corruption gate as [[compact]]);
   *  2. snapshot the CURRENT listing ([[Snapshots.commitAppend]] of the live
   *     set) — the pre-compaction state becomes a committed version, so the
   *     later vacuum is AUTHORIZED to reclaim its files once it expires
   *     (vacuum never deletes files no snapshot ever referenced);
   *  3. write the normalized fold (LWW + statics + tombstones + TTL) as a
   *     fresh token-sorted generation under `<dir>/gen-<uuid>/`, and record
   *     its stats in the TABLE-root manifest;
   *  4. [[Snapshots.commitRewrite]]: the new snapshot lists ONLY the fresh
   *     generation — snapshot readers cut over atomically; pinned readers
   *     of older versions keep their files;
   *  5. [[Snapshots.vacuum]] to `vacuumRetain` (default 1 = reclaim
   *     everything pre-compaction immediately; larger values keep
   *     time-travel windows open at the cost of disk until a later vacuum).
   *     At retain > 1 the live LISTING holds both generations, but reads
   *     stay correct: unpinned graft-source reads of a snapshotted table
   *     plan from the latest snapshot ([[Snapshots.snapshot]]), never
   *     the raw listing — spec-covered against the double-count that a
   *     listing-driven read would produce.
   *
   * The `_graft_deletes` tombstones are NOT removed: a tombstone must keep
   * suppressing out-of-order re-inserts with older writetimes (the
   * gc-grace analog) — re-applying it to the compacted data is a no-op
   * anti-join against keys that are already gone.
   *
   * Returns the committed rewrite version.
   */
  def compactInPlace(
      spark: SparkSession,
      schema: CqlSchema,
      dir: String,
      conf: WriteConf = WriteConf(),
      vacuumRetain: Int = 1): Long = {
    val corrupt = Manifest.verifyDigests(spark, dir)
    if (corrupt.nonEmpty) {
      throw new java.io.IOException(
        s"compactInPlace aborted: ${corrupt.length} file(s) fail xxhash64 digest " +
          s"verification: ${corrupt.take(5).mkString(", ")}")
    }
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    val snap = Snapshots.snapshot(spark, dir, None)
    // listing-driven fold: a shallow clone's out-of-root (source-owned)
    // files are invisible to the listing, so the rewrite would silently
    // drop their rows — refuse; DML materializes foreign rows locally
    if (snap.version.isDefined) {
      val foreign = snap.files.map(_.path).filterNot(Snapshots.underRoot(root))
      if (foreign.nonEmpty)
        throw new UnsupportedOperationException(
          s"compactInPlace on $dir: the snapshot references ${foreign.length} " +
            s"out-of-root file(s) (a shallow clone of its source, e.g. " +
            s"${foreign.head}) — the listing-driven fold cannot see them; " +
            "rewrite the rows local first (DML) or compact the SOURCE")
      // the LWW fold merges a logical row's versions COLUMN-wise, so a
      // folded row has no single physical ancestor — its stable id would
      // be renumbered (fresh base, no materialized column). Refuse
      // rather than silently break every id-keyed consumer; layout
      // compaction on tracked tables is optimizeSmallFiles, which
      // materializes each row's current id into the packed file.
      if (snap.rowIds.nonEmpty)
        throw new UnsupportedOperationException(
          s"compactInPlace on $dir: the table is row-tracked and the " +
            "multi-version fold cannot preserve stable row ids — use " +
            "optimizeSmallFiles (id-preserving packing + DV folds) instead")
    }
    val live = graft.sources.TokenPruner.listDataFiles(fs, root)
      .map(_.getPath.toString).toSeq
    // census commit only when the log does not already describe the live
    // set — a log-current table must not burn a version on a duplicate
    // (vacuum would then expire the REAL pre-compaction pin a step early).
    // The result is the version the fold is computed FROM — the rewrite
    // commit below carries it as its optimistic-concurrency guard: an
    // append landing mid-compaction makes the rewrite fail loudly instead
    // of silently dropping the appended files from the log
    val sourceVersion = snap.version
      .filter(_ => snap.files.map(_.path).toSet == live.toSet)
      .getOrElse(Snapshots.commitAppend(spark, dir, live))

    // pinned to sourceVersion: the fold's scan and its concurrency guard
    // name the SAME state even if a concurrent append lands mid-write
    val normalized = readNormalized(spark, schema, dir, keepFeatureColumns = true,
      snapshotVersion = Some(sourceVersion.toString))
    val carryWt = normalized.columns.contains(WritetimeCol)
    val outConf = conf.copy(
      keepTokenColumn = true, snapshot = false,
      writetimeColumn = if (carryWt) Some(WritetimeCol) else conf.writetimeColumn,
      writetimeMicros = None, ttlColumn = None, ttlSeconds = None)
    val gen = s"$dir/gen-${java.util.UUID.randomUUID().toString.take(12)}"
    write(normalized, schema, gen, SaveMode.Append, outConf)
    // stats for the fresh generation belong in the TABLE-root manifest (the
    // gen subdir got its own during write — root listing never reads it)
    Manifest.appendFor(spark, dir,
      if (outConf.ringSplits > 0) Some(outConf.ringSplits) else None)
    val genFiles = graft.sources.TokenPruner
      .listDataFiles(fs, fs.makeQualified(new Path(gen)))
      .map(_.getPath.toString).toSeq
    // "fold": the rewrite preserves every key's RESOLVED row (that is the
    // compaction contract) — the resolved-state diff may ride across it
    val version = Snapshots.commitRewrite(spark, dir, genFiles,
      expectedParent = Some(sourceVersion), fold = true)
    Snapshots.vacuum(spark, dir, vacuumRetain)
    graft.sources.TokenPruner.invalidateListing(dir)
    version
  }

  /**
   * Atomic logical overwrite through the snapshot log — the physical
   * backing for SQL `INSERT OVERWRITE` on a snapshot-logged table: the
   * replacement lands as a fresh generation beside the old one, and a
   * single `expectedParent`-guarded [[Snapshots.commitRewrite]] cuts the
   * table over. Readers never observe a half-state (pinned readers keep
   * the old version until vacuum), and a concurrent commit refuses the
   * overwrite loudly instead of silently vanishing. Log-less tables keep
   * the reference sink's Overwrite rejection (opt in via
   * `allowOverwrite` for the destructive physical path). Returns the
   * committed version.
   */
  def overwriteLogged(
      df: DataFrame,
      schema: CqlSchema,
      dir: String,
      conf: WriteConf = WriteConf()): Long = {
    val spark = df.sparkSession
    val head = Snapshots.latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"overwriteLogged: $dir has no snapshot log — atomic logical overwrite " +
          "needs one (write with snapshot=true), or opt into the physical " +
          "overwrite via allowOverwrite"))
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val gen = s"$dir/gen-${java.util.UUID.randomUUID().toString.take(12)}"
    // the STAGING write is log-less by design (the real commit is the
    // rewrite below) — clear the log-coupled conf bits or their
    // snapshot-required guards would refuse a legitimate overwrite.
    // Row-id bases for the fresh generation allocate in commitRewrite's
    // body (the parent's ridhwm self-perpetuates); identity marks
    // inherit (the overwrite path never ALLOCATES — the caller guards)
    write(df, schema, gen, SaveMode.Append,
      conf.copy(snapshot = false, rowTracking = false,
        identityUpdate = Map.empty, streamTxn = None))
    Manifest.appendFor(spark, dir)
    val genFiles = graft.sources.TokenPruner
      .listDataFiles(fs, fs.makeQualified(new Path(gen)))
      .map(_.getPath.toString).toSeq
    val version =
      try Snapshots.commitRewrite(spark, dir, genFiles,
        expectedParent = Some(head))
      catch {
        case e: Snapshots.ConcurrentCommitException =>
          // same contract as the append path's cleanup above: the commit
          // definitively did not land, so the staged generation is
          // referenced by no version — delete it, or every lost race
          // (including the identity-retry loop re-entering here) leaks a
          // full unreferenced file set until vacuum_orphans
          fs.delete(new Path(gen), true)
          graft.sources.TokenPruner.invalidateListing(dir)
          throw e
      }
    graft.sources.TokenPruner.invalidateListing(dir)
    version
  }

  /**
   * OPTIMIZE: bin-pack SMALL files into fewer files without touching the
   * rest of the table — the steady-state maintenance op for streaming /
   * micro-batch ingestion, which accretes one small file per trigger
   * until scan planning drowns in per-file overhead. Unlike
   * [[compactInPlace]] this is LAYOUT-ONLY: rows are rewritten verbatim
   * (no LWW collapse, no tombstone application, feature columns carried
   * as-is), so the table's merge semantics are bit-identical before and
   * after — it is always safe to run, on any schedule, without reasoning
   * about time semantics.
   *
   * Candidates = live data files under `smallBytes`; within each
   * partition directory they are packed, in token-min order, into bins of
   * up to `targetBytes`; each bin of ≥ 2 files becomes one replacement
   * file (re-sorted on the writer's (token, pk…, ck…) key — consecutive
   * disjoint inputs yield a disjoint replacement, so a clustered layout
   * stays clustered). Large files are never read. Cutover is one
   * `expectedParent`-guarded [[Snapshots.commitRewrite]] on logged
   * tables (pinned readers keep history; concurrent appends refuse
   * loudly); log-less tables swap physically (documented dual-visibility
   * window, as everywhere else).
   *
   * Returns the number of files packed away (0 = nothing to do).
   */
  def optimizeSmallFiles(
      spark: SparkSession,
      schema: CqlSchema,
      dir: String,
      smallBytes: Long = 32L << 20,
      targetBytes: Long = 128L << 20,
      maxDvFraction: Double = 0.2,
      scope: Option[Array[org.apache.spark.sql.sources.Filter]] = None): Long = {
    require(smallBytes > 0 && targetBytes >= smallBytes,
      "need 0 < smallBytes <= targetBytes")
    require(maxDvFraction > 0.0 && maxDvFraction <= 1.0,
      s"maxDvFraction must be in (0, 1], got $maxDvFraction")
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    val Snapshots.TableSnapshot(head, snapFiles, dvBindings, ridBases, _) =
      Snapshots.snapshot(spark, dir, None)
    // OPTIMIZE never packs a shallow clone's out-of-root (source-owned)
    // files: the packed output would land in the SOURCE's directory, and
    // on dir-partitioned sources the partition value lives in the path.
    // Foreign rows materialize into clone-local files through DML instead.
    val inRoot = Snapshots.underRoot(root)
    val liveAll = snapFiles.filter(m => inRoot(m.path))
    // predicate scoping (CALL optimize(predicate => '…')): restrict
    // candidates to files that MAY hold matching rows — dir keys, column
    // stats, token ranges, all through the scan's own pruner. At 100 TB
    // you compact the partition that just ingested, never the table.
    // Sound trivially: packing any SUBSET of candidates is layout-only.
    val live = scope.filter(_.nonEmpty) match {
      case Some(fs0) => graft.sources.TokenPruner.prune(spark, liveAll, fs0, schema)
      case None => liveAll
    }

    // pack only within (partition dir × exact file schema): generations can
    // differ in feature columns (writetime/TTL), and a cross-schema read
    // would null-fill or drop columns — a silent semantic change this
    // layout-only op must never make. Footer-only probes, bounded-parallel
    // (the TokenPruner.readFootersParallel shape — 10k candidates cost one
    // pooled footer sweep, not 10k serial DataFrame constructions).
    // candidates: sub-threshold files PLUS any file (whatever its size)
    // whose deletion vector hides more than `maxDvFraction` of its rows —
    // the merge-on-read compaction trigger: a heavily-deleted large file
    // pays its row-based positional read tax on every scan until the
    // deletions are materialized away (DV counts are one header int each)
    val hconf = spark.sessionState.newHadoopConf()
    def dvHeavy(m: graft.sources.TokenPruner.FileMeta): Boolean =
      dvBindings.get(m.path).exists { dvp =>
        m.rows > 0 && DeletionVectors.count(
          new Path(dvp).getFileSystem(hconf), dvp).toDouble / m.rows > maxDvFraction
      }
    val candidates = live.filter(m => m.sizeBytes < smallBytes || dvHeavy(m))
    def schemaKey(path: String): String = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(path), hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getFileMetaData.getSchema.toString finally r.close()
    }
    val schemaKeys: Map[String, String] =
      if (candidates.isEmpty) Map.empty
      else {
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(math.min(16, candidates.length))
        try {
          import scala.jdk.CollectionConverters._
          val tasks = candidates.toSeq.map(m =>
            new java.util.concurrent.Callable[(String, String)] {
              override def call(): (String, String) = m.path -> schemaKey(m.path)
            })
          pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
        } finally pool.shutdown()
      }
    val bins = candidates
      .groupBy(f => (new Path(f.path).getParent.toString, schemaKeys(f.path)))
      .toSeq.sortBy(_._1)
      .flatMap { case (_, files) =>
        val ordered = files.sortBy(f =>
          (f.tokenRange.map(_._1).getOrElse(Long.MinValue), f.path))
        val packed = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.ArrayBuffer.empty[graft.sources.TokenPruner.FileMeta])
        var acc = 0L
        ordered.foreach { f =>
          if (packed.last.nonEmpty && acc + f.sizeBytes > targetBytes) {
            packed += scala.collection.mutable.ArrayBuffer.empty; acc = 0L
          }
          packed.last += f; acc += f.sizeBytes
        }
        // a singleton bin is only worth rewriting when it folds deletions
        // (plain small singles wait for siblings; dv-heavy files fold NOW)
        packed.filter(b => b.length >= 2 || b.exists(dvHeavy)).map(_.toSeq)
      }
    if (bins.isEmpty) return 0L

    // deletion vectors on bin members FOLD here: the packed replacement
    // reads with DVs applied, so its bytes materialize the deletions and
    // the commit's kept-files filter drops the stale bindings. Logical
    // rows are unchanged (the DV'd rows were already deleted), so the
    // commit stays layout-only and change capture still rides across.
    val replaced = scala.collection.mutable.ArrayBuffer.empty[String]
    val fresh = scala.collection.mutable.ArrayBuffer.empty[String]
    // row-tracked tables (ridBases non-empty): the packed replacement must
    // carry every row's CURRENT id materialized (stored id if the source
    // file was itself a rewrite, else its base + physical position) —
    // base+pos is meaningless in the packed file, where rows from many
    // sources interleave
    def basename(p: String): String = new Path(p).getName
    // exists-default-aware reads: a bin of pre-evolution files must not
    // bake null over a recorded ADD COLUMNS default — the packed file
    // materializes the fill. Defaults resolved once; bins are
    // schema-keyed → homogeneous, ONE footer decides each bin's shape
    val existsDefaults = graft.sources.ExistsDefaults.physicalForDir(spark, dir)
    bins.foreach { bin =>
      val tracked = ridBases.nonEmpty
      def binRead = graft.sources.ExistsDefaults.read(
        spark, existsDefaults, bin.map(_.path), homogeneous = true)
      val raw =
        if (!tracked) DeletionVectors.applyToRead(
          spark, bin.map(_.path), dvBindings, raw0 = Some(binRead))
        else {
          import spark.implicits._
          val rid = graft.sources.GraftDataSource.RowIdCol
          // one multi-file read; per-file context (base, DV positions)
          // joins back on the file NAME — unique within the table dir and
          // immune to URI-spelling drift between listers
          val raw0 = binRead
          val basesDf = bin.map(m => (basename(m.path),
            ridBases.getOrElse(m.path, throw new IllegalStateException(
              s"row-tracked OPTIMIZE: no base binding for ${m.path}"))))
            .toDF("__name", "__rid_base")
          val stored: org.apache.spark.sql.Column =
            if (raw0.columns.contains(rid)) col(rid) else lit(null).cast("long")
          val withRid = raw0
            .withColumn("__name",
              substring_index(col("_metadata.file_path"), "/", -1))
            .withColumn("__pos", col("_metadata.row_index"))
            .join(broadcast(basesDf), Seq("__name"))
            .withColumn("__rid_new", coalesce(stored, col("__rid_base") + col("__pos")))
          val fsx = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
          val deletes = bin.filter(m => dvBindings.contains(m.path)).flatMap(m =>
            DeletionVectors.read(fsx, dvBindings(m.path))
              .map(p => (basename(m.path), p)))
          val undeleted =
            if (deletes.isEmpty) withRid
            else withRid.join(
              broadcast(deletes.toDF("__name", "__pos")),
              Seq("__name", "__pos"), "left_anti")
          undeleted.drop("__name", "__pos", "__rid_base", rid)
            .withColumnRenamed("__rid_new", rid)
        }
      // clustered (Z-ordered) files carry the interleaved key — packing
      // re-sorts by IT so the packed file keeps narrow per-axis footer
      // stats; token-sorted files keep the token/pk order
      val sortCols =
        (if (raw.columns.contains(ZOrderCol)) Seq(ZOrderCol)
         else if (raw.columns.contains(TokenCol)) TokenCol +: schema.primaryKey
         else schema.primaryKey).filter(raw.columns.contains).map(qcol)
      val tmp = new Path(root, s".optimize-${java.util.UUID.randomUUID().toString.take(12)}")
      raw.coalesce(1).sortWithinPartitions(sortCols: _*).write.parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no parquet part under $tmp"))
      val dest = new Path(new Path(bin.head.path).getParent,
        s"part-opt-${java.util.UUID.randomUUID().toString.take(12)}.parquet")
      if (!fs.rename(part, dest))
        throw new IllegalStateException(s"rename $part -> $dest failed")
      fs.delete(tmp, true)
      replaced ++= bin.map(_.path)
      fresh += dest.toString
    }
    Manifest.appendFor(spark, dir) // stats + digests for the packed files
    head match {
      case Some(v) =>
        val gone = replaced.toSet
        val keep = snapFiles.map(_.path).toSeq.filterNot(gone.contains)
        // layoutOnly: change capture skips this commit (rows identical)
        try Snapshots.commitRewrite(spark, dir, keep ++ fresh,
          expectedParent = Some(v), layoutOnly = true)
        catch {
          case e: Snapshots.ConcurrentCommitException =>
            // the packed part-opt-* files already sit in live data dirs
            // but no version references them — delete (the write()
            // discipline) so a listing read can't double-count the
            // packed rows, and a retry doesn't leak another set
            fresh.foreach(f => fs.delete(new Path(f), false))
            graft.sources.TokenPruner.invalidateListing(dir)
            throw e
        }
      case None =>
        replaced.foreach(f => fs.delete(new Path(f), false))
    }
    graft.sources.TokenPruner.invalidateListing(dir)
    replaced.length.toLong
  }

  /** Range-tombstone purge: drop rows whose pk matches and whose first
   *  clustering key falls inside the tombstone's [min, max] (null bound =
   *  unbounded), subject to the same time rule as point tombstones. The
   *  tombstone side is tiny (one row per deleted range) and broadcasts;
   *  the equi part of the anti-join hashes on pk, the bounds run as the
   *  residual condition — no cross product, corpus moves once. */
  private def applyRangeTombstones(
      df: DataFrame, dels: DataFrame, pk: Seq[String], ck: String): DataFrame = {
    val hasWt = dels.columns.contains(WritetimeCol) && df.columns.contains(WritetimeCol)
    val renamed = dels.select(
      (pk.map(c => qcol(c).as(s"__rd_$c")) ++ Seq(
        col(CkMinCol).as("__rd_min"), col(CkMaxCol).as("__rd_max")) ++
        (if (hasWt) Seq(coalesce(col(WritetimeCol), lit(Long.MaxValue)).as("__rd_wt"))
         else Nil)): _*)
    val keyEq = pk.map(c => qcol(c) === col(s"__rd_$c")).reduce(_ && _)
    val inRange =
      (col("__rd_min").isNull || qcol(ck) >= col("__rd_min")) &&
        (col("__rd_max").isNull || qcol(ck) <= col("__rd_max"))
    // a row with NULL writetime (unstamped generation) must die like it does
    // under point tombstones — coalesce, or the NULL comparison would make
    // it immune to stamped range deletes
    val timeRule =
      if (hasWt) coalesce(col(WritetimeCol), lit(Long.MinValue)) <= col("__rd_wt")
      else lit(true)
    df.join(broadcast(renamed), keyEq && inRange && timeRule, "left_anti")
  }

  /** Time-aware tombstone purge on `keys`: a tombstone wins over rows it is
   *  at-or-newer than (Cassandra deletion-timestamp semantics); an UNSTAMPED
   *  tombstone (null/absent writetime) always wins. Falls back to a plain
   *  anti-join when the data itself carries no writetime. */
  private def applyTombstones(df: DataFrame, dels: DataFrame, keys: Seq[String]): DataFrame =
    if (dels.columns.contains(WritetimeCol) && df.columns.contains(WritetimeCol)) {
      val delAgg = dels.groupBy(keys.map(qcol): _*)
        .agg(max(coalesce(col(WritetimeCol), lit(Long.MaxValue))).as("__graft_del_wt"))
      df.join(delAgg, keys, "left")
        .filter(col("__graft_del_wt").isNull || col(WritetimeCol) > col("__graft_del_wt"))
        .drop("__graft_del_wt")
    } else {
      df.join(dels.select(keys.map(qcol): _*).distinct(), keys, "left_anti")
    }
}
