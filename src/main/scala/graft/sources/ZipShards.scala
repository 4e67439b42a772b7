package graft.sources

import graft.functions.ZipHeaders
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * SEEKABLE zip / npz shard inventory — the zip twin of
 * [[TarShards.inventory]], exploiting zip's layout instead of fighting
 * it: a zip's central directory lives at the TAIL, so a multi-GB npz
 * bundle is inventoried with two positioned reads (the EOCD tail window,
 * then the central-directory slice) — payload bytes are never touched,
 * and the archive never exists in memory. `fetchStored` then seek-reads
 * exactly the STORED members a selection keeps, resolving each through
 * its local header (the [[ZipHeaders.storedMember]] contract).
 *
 * EOCD/zip64 validation and the central-directory walk are the SAME code
 * as the in-row blob expressions (`ZipHeaders.findEocdIn` /
 * `cdEntriesIn`), so the two surfaces cannot diverge; q249 proves the
 * seekable read ≡ the blob listing on the same archives. One task per
 * archive (two small reads each), so a lake of npz bundles inventories
 * at file-count parallelism with O(central directory) memory.
 */
object ZipShards {

  val schema: StructType = StructType(Seq(
    StructField("shard", StringType, nullable = false),
    StructField("member_name", StringType, nullable = false),
    StructField("method", IntegerType, nullable = false), // 0=stored, 8=deflate
    StructField("comp_size", LongType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("local_off", LongType, nullable = false)))

  /** Central directories larger than this abort the read: a lying EOCD,
   *  not a real listing (46+ bytes/entry puts 64 MB at ~1M members). */
  val maxCdBytes: Long = 1L << 26

  /** The tail window searched for the EOCD chain: max comment (64 KB) +
   *  EOCD (22) + zip64 locator (20) + zip64 EOCD (56) + slack. The zip64
   *  record sits between the CD and the locator by construction, so it
   *  is always inside this window. */
  private val TailWindow = 65536 + 22 + 20 + 56 + 128

  /** Inventory every member of every zip under `path` (files, dirs,
   *  globs) via positioned reads of the EOCD tail + central directory —
   *  no payload bytes move. Archives that don't validate as zips FAIL
   *  the task (a shard lake's listing must not silently skip — the
   *  [[Ingest]] discipline). */
  def inventory(spark: SparkSession, path: String,
      minPartitions: Int = 0): DataFrame = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf.value)
    val statuses = fs.globStatus(hp)
    require(statuses != null && statuses.nonEmpty, s"no archives match $path")
    val files = statuses.toSeq.filter(_.isFile)
      .map(s => (s.getPath.toString, s.getLen))
    val parts = if (minPartitions > 0) minPartitions
                else math.min(files.size, spark.sparkContext.defaultParallelism)
    val bc = spark.sparkContext.broadcast(conf)
    val rows = spark.sparkContext.parallelize(files, math.max(1, parts))
      .flatMap { case (file, len) =>
        val p = new org.apache.hadoop.fs.Path(file)
        val in = p.getFileSystem(bc.value.value).open(p)
        try archiveEntries(in, file, len).map(e =>
          Row(file, e.name, e.method, e.compSize, e.size, e.localOff))
        finally in.close()
      }
    spark.createDataFrame(rows, schema)
  }

  /**
   * STRUCTURED STREAMING npz-lake arrival: each micro-batch is the
   * INVENTORY of newly-landed bundles — the `graft-zip` arrival-ledger
   * source (exactly-once admission, `maxFilesPerTrigger` /
   * `pathGlobFilter` / `latestFirst` options, the same offset machinery
   * as the tar shard stream). Two positioned reads per bundle, payload
   * bytes never move; pair with [[fetchStored]] in a foreachBatch for
   * the members a selection keeps. `permissive = true` quarantines a
   * corrupt bundle WHOLE (a truncated central directory must not surface
   * a partial listing) instead of poisoning the stream.
   */
  def inventoryStream(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty,
      permissive: Boolean = false): DataFrame =
    spark.readStream.format("graft-zip").options(options)
      .option("permissive", permissive.toString)
      .load(dir)

  /**
   * Distributed lake listing: the driver's one `globStatus` in
   * [[inventory]] is fine at 10^4-10^5 bundles but single-threads the
   * planning of a 10^7-bundle lake. Here the driver only expands `path`
   * to DIRECTORIES (one status call per dir level); each directory's
   * archives are then listed ON EXECUTORS (the pattern Spark's own
   * InMemoryFileIndex uses for parallel listing), re-spread to break
   * per-directory skew, and inventoried with the same two positioned
   * reads per archive. `leafPattern` filters file names ("*.npz").
   */
  def inventoryDistributed(spark: SparkSession, path: String,
      leafPattern: String = "*"): DataFrame = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf.value)
    val statuses = fs.globStatus(hp)
    require(statuses != null && statuses.nonEmpty, s"no directories match $path")
    val dirs = statuses.toSeq.filter(_.isDirectory).map(_.getPath.toString)
    require(dirs.nonEmpty,
      s"$path expands to no directories — use inventory() for direct file globs")
    val bc = spark.sparkContext.broadcast(conf)
    val leaf = leafPattern
    val par = spark.sparkContext.defaultParallelism
    val rows = spark.sparkContext
      .parallelize(dirs, math.max(1, math.min(dirs.size, par)))
      .flatMap { d =>
        val dp = new org.apache.hadoop.fs.Path(d)
        val dfs = dp.getFileSystem(bc.value.value)
        val found = dfs.globStatus(new org.apache.hadoop.fs.Path(dp, leaf))
        if (found == null) Seq.empty
        else found.toSeq
          // Spark-written lakes carry _SUCCESS / dot-tmp markers in every
          // dir — metadata, not archives (the ShardFiles.hidden rule)
          .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
            !s.getPath.getName.startsWith("_"))
          .map(s => (s.getPath.toString, s.getLen))
      }
      // one giant directory must not serialize the inventory behind one
      // task: re-spread file-level before the per-archive reads
      .repartition(par)
      .flatMap { case (file, len) =>
        val p = new org.apache.hadoop.fs.Path(file)
        val in = p.getFileSystem(bc.value.value).open(p)
        try archiveEntries(in, file, len).map(e =>
          Row(file, e.name, e.method, e.compSize, e.size, e.localOff))
        finally in.close()
      }
    spark.createDataFrame(rows, schema)
  }

  /** The per-archive seekable listing — EOCD tail window, then the
   *  central-directory slice, both positioned reads — shared by the RDD
   *  [[inventory]] and the `graft-zip` SQL table
   *  ([[ZipInventoryReaderFactory]]) so the surfaces cannot diverge. */
  private[sources] def archiveEntries(
      in: org.apache.hadoop.fs.FSDataInputStream, file: String,
      len: Long): List[ZipHeaders.Entry] = {
    val tailLen = math.min(len, TailWindow.toLong).toInt
    val tail = new Array[Byte](tailLen)
    in.readFully(len - tailLen, tail)
    // a zip64 EOCD with a large extensible data sector can start before
    // the tail window — resolve it with one more positioned read instead
    // of rejecting the well-formed archive
    val fetchZip64 = (off: Long) =>
      if (off < 0 || off + 56 > len) null
      else { val r = new Array[Byte](56); in.readFully(off, r); r }
    val eocd = ZipHeaders.findEocdIn(tail, len - tailLen, fetchZip64)
    require(eocd != null, s"$file: no valid end-of-central-directory")
    require(eocd.count <= ZipHeaders.MaxEntries,
      s"$file: ${eocd.count} members exceed the listing cap " +
        s"${ZipHeaders.MaxEntries} — a lake inventory must not " +
        "silently truncate")
    val cdLen = eocd.cdEnd - eocd.cdOff
    require(cdLen >= 0 && cdLen <= maxCdBytes,
      s"$file: central directory of $cdLen bytes exceeds cap $maxCdBytes")
    val cd = new Array[Byte](cdLen.toInt)
    in.readFully(eocd.cdOff, cd)
    // walk the CD slice with relative bounds; localOff values are
    // absolute file offsets by the format's definition
    val out = ZipHeaders.cdEntriesIn(cd, 0L, cdLen, eocd.count).toList
    // the walk ends silently on a malformed entry (blob-expression
    // semantics); an inventory that lost members must abort loudly
    require(out.size == eocd.count,
      s"$file: central directory walk yielded ${out.size} of " +
        s"${eocd.count} declared members — corrupt listing")
    out
  }

  val manifestSchema: StructType = TarShards.manifestSchema

  /**
   * NPZ/ZIP bundle EXPORT — the tensor-lake write twin of
   * [[TarShards.writeShards]]: rows of (key, member name, payload)
   * become size-capped `.npz` bundles a [[inventory]]/[[fetchStored]]
   * consumer (or numpy) reads back directly.
   *
   *  - **Sample integrity**: rows sharing `keyCol` never split across
   *    bundles — binning rolls only at key boundaries, after
   *    `targetBundleBytes` of written zip bytes.
   *  - **One shuffle**: hash-repartition by key, sort by (key, name)
   *    within each task, then stream each bundle straight to `dir` with
   *    O(member) memory: local headers and payloads are written as rows
   *    arrive; only the central-directory RECORDS (46 B + name per
   *    member) buffer until the bundle closes.
   *  - **`method`**: "stored" (np.savez layout) writes payloads verbatim;
   *    "deflated" (np.savez_compressed) raw-deflates each member
   *    in-memory first — crc/sizes are then exact in the local header,
   *    so no data descriptors and every graft reader path applies.
   *  - **Deterministic + attempt-isolated**: bundle file =
   *    `part-<partition>-<bin>.<ext>` written via an attempt-unique
   *    dot-temp and renamed at close (the [[TarShards.writeShards]]
   *    commit discipline) — retries and speculation are idempotent.
   *  - **Classic (non-zip64) offsets**: a bundle must stay under 4 GiB
   *    and 65535 members — enforced LOUDLY at the writer (the
   *    [[graft.functions.ArchiveCodec.zipMixed]] rule). The target is
   *    capped at 2 GiB (a bundle rolls only at a SAMPLE boundary, so it
   *    can overshoot the target by one sample — the 2 GiB cap keeps the
   *    overshoot comfortably inside classic-zip range, and members fetch
   *    back through the 2 GiB-bounded BinaryType surface).
   *
   * Returns the manifest: one row per bundle (shard, n_members,
   * n_samples, bytes) — `bytes` is the exact on-disk size.
   */
  def writeBundles(df: DataFrame, dir: String,
      keyCol: String = "sample_key", nameCol: String = "member_name",
      payloadCol: String = "payload",
      targetBundleBytes: Long = 1L << 30,
      bundlePartitions: Int = 0,
      method: String = "stored",
      ext: String = "npz",
      overwrite: Boolean = false): DataFrame = {
    require(targetBundleBytes > 0 && targetBundleBytes <= (1L << 31),
      "targetBundleBytes must be positive and <= 2 GiB (classic zip offsets)")
    val deflate = method match {
      case "stored" => false
      case "deflated" => true
      case other => throw new IllegalArgumentException(
        s"method must be stored/deflated, got $other")
    }
    ShardExport.writeParts(df, dir, keyCol, nameCol, payloadCol,
      targetBundleBytes, bundlePartitions, ext, overwrite,
      "writeBundles")(() => new ZipPartFormat(deflate))
  }

  /** Streaming classic-zip part: members go straight through a
   *  [[graft.functions.ZipWriter]]; the binning measure is its byte
   *  cursor (on-disk bytes written so far, pre-CD). */
  private final class ZipPartFormat(deflate: Boolean)
      extends ShardExport.PartFormat {
    private var out: org.apache.hadoop.fs.FSDataOutputStream = _
    private var zip: graft.functions.ZipWriter = _
    private var finalName: String = _
    override def open(raw: org.apache.hadoop.fs.FSDataOutputStream,
        name: String): Unit = {
      out = raw
      zip = new graft.functions.ZipWriter(raw)
      finalName = name
    }
    override def append(name: String, payload: Array[Byte]): Unit = {
      val body =
        if (deflate) graft.functions.ZipWriter.deflateRaw(payload) else payload
      val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      require(zip.members < 0xffff,
        s"bundle $finalName would exceed 65535 members — classic zip caps " +
          "the listing; lower targetBundleBytes")
      require(zip.offset + 30L + nb.length + body.length < 0xffffffffL,
        s"bundle $finalName would exceed 4 GiB — classic zip offsets " +
          "wrap; lower targetBundleBytes")
      zip.add(nb, payload, body, if (deflate) 8 else 0)
    }
    override def measure: Long = zip.offset
    override def finish(): Unit = {
      zip.finish()
      out.close()
      out = null
    }
  }

  /**
   * Ranged member fetch: resolve (shard, local_off, size) rows — an
   * [[inventory]] selection — to payload bytes via positioned reads
   * through each member's local header (whose name/extra lengths may
   * differ from the central directory's). STORED members (method 0) are
   * read exactly; DEFLATED members (method 8 — `numpy.savez_compressed`
   * emits these) positioned-read `comp_size` bytes and inflate through
   * the bounded raw-deflate path, FAILFAST unless the output equals the
   * CD-declared `size` exactly (a SOURCE must not return silently wrong
   * bytes). Other methods fail the task. Rows are co-located by shard
   * and offset-ordered per task.
   */
  def fetchStored(df: DataFrame, shardCol: String = "shard",
      offCol: String = "local_off", sizeCol: String = "size",
      methodCol: String = "method", compSizeCol: String = "comp_size",
      maxMemberBytes: Long = TarShards.maxMemberBytesDefault,
      saltRangeBytes: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    val base = if (df.columns.contains("payload")) df.drop("payload") else df
    val outSchema = StructType(base.schema.fields :+
      StructField("payload", BinaryType, nullable = true))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val si = base.schema.fieldIndex(shardCol)
    val oi = base.schema.fieldIndex(offCol)
    val zi = base.schema.fieldIndex(sizeCol)
    val mi = base.schema.fieldIndex(methodCol)
    val ci = base.schema.fieldIndex(compSizeCol)
    val cap = maxMemberBytes
    // hot-shard salting: see [[TarShards.fetchMembers]] — contiguous
    // offset ranges fan a one-bundle selection across tasks; the count is
    // pinned so AQE can't coalesce the tiny metadata shuffle back to one
    val keyed =
      if (saltRangeBytes > 0)
        base.repartition(spark.sessionState.conf.numShufflePartitions,
          col(shardCol), floor(col(offCol) / lit(saltRangeBytes)))
      else base.repartition(col(shardCol))
    keyed.sortWithinPartitions(col(shardCol), col(offCol))
      .mapPartitions { rows =>
        var curPath: String = null
        var in: org.apache.hadoop.fs.FSDataInputStream = null
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
          if (in != null) try in.close() catch { case _: java.io.IOException => }
        }
        val head = new Array[Byte](30)
        rows.map { r =>
          val p = r.getString(si)
          val off = r.getLong(oi)
          val n = r.getLong(zi)
          val method = r.getInt(mi)
          val compN = r.getLong(ci)
          require(method == 0 || method == 8,
            s"fetchStored resolves STORED/DEFLATED members only; " +
              s"$p @ $off uses method $method")
          require(n >= 0 && n <= cap && n <= Int.MaxValue,
            s"member of $n bytes exceeds cap $cap ($p @ $off)")
          if (p != curPath) {
            if (in != null) in.close()
            val hp = new org.apache.hadoop.fs.Path(p)
            in = hp.getFileSystem(bc.value.value).open(hp)
            curPath = p
          }
          in.readFully(off, head)
          require(head(0) == 'P' && head(1) == 'K' && head(2) == 3 && head(3) == 4,
            s"$p @ $off: not a local file header")
          val nameLen = graft.functions.Bytes.leU16(head, 26)
          val extraLen = graft.functions.Bytes.leU16(head, 28)
          val dataOff = off + 30 + nameLen + extraLen
          val payload =
            if (method == 0) {
              val buf = new Array[Byte](n.toInt)
              in.readFully(dataOff, buf)
              buf
            } else {
              require(compN >= 0 && compN <= cap && compN <= Int.MaxValue,
                s"compressed member of $compN bytes exceeds cap $cap ($p @ $off)")
              val comp = new Array[Byte](compN.toInt)
              in.readFully(dataOff, comp)
              val out = graft.functions.ZipHeaders.inflateRaw(comp, 0, comp.length, n)
              require(out != null && out.length == n,
                s"$p @ $off: deflated member did not inflate to the declared " +
                  s"$n bytes — corrupt stream or lying central directory")
              out
            }
          Row.fromSeq(r.toSeq :+ payload)
        }
      }(enc)
  }
}
