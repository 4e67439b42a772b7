package graft.write

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import graft.sources.TokenPruner
import graft.sources.TokenPruner.FileMeta
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Write-time scan-planning manifest (SURVEY S3 at 100 TB scale): per data
 * file, the stats the scan planner needs — size, uncompressed size, rows,
 * `_graft_token` min/max, integral-column min/max. The reference's analog is
 * the Sidecar snapshot listing + per-SSTable Summary/Index metadata the
 * planner consults instead of opening every SSTable; here the writer records
 * footer facts ONCE when a file is created, so a later scan plans with one
 * small TSV read instead of ~800k sequential footer walks.
 *
 * Rows cover exactly the files a publish names ([[TokenSortedWriter
 * .publish]], the one step by which written files join a table): one row
 * per file, written before its commit. A file written out of band has no
 * row and is footer-read at plan time.
 *
 * Format: TSV lines under `<table>/_graft_manifest/manifest-<uuid>.tsv`
 * (append-only — one manifest file per publish; underscore prefix hides
 * the dir from plain parquet listings and from [[TokenPruner.listDataFiles]]).
 * Columns: relative path, size, uncompressedSize, rows, hasToken,
 * tokenMin|-, tokenMax|-, colRanges (`col=min:max;...`), nominal ring range,
 * xxhash64 content digest. Plain text keeps both ends dependency-free and
 * debuggable; the read path treats the manifest as a CACHE — files it
 * doesn't cover simply fall back to a footer read, so a stale or missing
 * manifest can never change results (the digest is the one EXTRA fact a
 * footer read cannot recover — see [[verifyDigests]]).
 */
object Manifest {

  val Dir = "_graft_manifest"

  private val PartIndex = """part-(\d+)""".r

  /** Record manifest rows for exactly `files`, the data files one publish
   *  names ([[TokenSortedWriter.publish]]); nothing else is listed or read.
   *  A file written out of band gets no row and is footer-read at plan
   *  time. When the write used the exact ring-split layout,
   *  `ringSplits = Some(n)` stamps each file with its NOMINAL
   *  `splitRing(n)` range (recovered from the part index in the file name —
   *  FileFormatWriter numbers files by task partition id). */
  def appendFor(
      spark: SparkSession,
      tableDir: String,
      files: Seq[String],
      ringSplits: Option[Int] = None): Unit = {
    if (files.isEmpty) return
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(tableDir).getFileSystem(conf)
    // qualify so relativize matches the scheme-qualified paths — manifests
    // then store RELATIVE paths and survive a table move/rename
    val root = fs.makeQualified(new Path(tableDir))
    // a file deleted before its row is written (vacuum_orphans) simply
    // gets none — the manifest is a cache, a miss only costs a footer read
    val fresh = DriverPool.map(files) { f =>
      val p = fs.makeQualified(new Path(f))
      try Some(fs.getFileStatus(p)) catch { case _: java.io.FileNotFoundException => None }
    }.flatten
    if (fresh.isEmpty) return
    val splits = ringSplits.map(n => graft.token.TokenRanges.splitRing(n))
    // content digests (the reference digests during its SSTable write,
    // `SortedSSTableWriter.java:67-327`; a post-write re-read is the parquet
    // equivalent, distributed once the batch is large)
    val digests = digestAll(spark, fresh.map(f => f.getPath.toString -> f.getLen))
    // bounded-parallel footer reads (the same pool the scan fallback uses)
    val bases = TokenPruner
      .readFootersParallel(conf, fresh.map(f => (f.getPath, f.getLen)).toArray, tolerant = true)
      .map(m => m.path -> m).toMap
    val metas = fresh.flatMap { f =>
      bases.get(f.getPath.toString).map { base =>
        val nominal = splits.flatMap { rs =>
          PartIndex.findFirstMatchIn(f.getPath.getName)
            .map(_.group(1).toInt)
            .filter(_ < rs.length)
            .map(i => (rs(i).start, rs(i).end))
            // the stamp must be TRUE of the file, not just of its name: an
            // impostor named part-NNNNN stamped with a range its tokens
            // don't satisfy would let Colocated.nominalRanges "prove"
            // co-partitioning and zero-shuffle-join wrong rows. Containment
            // against the footer's actual token bounds ((start, end]
            // semantics) keeps every legitimately ring-written file and
            // rejects impostors.
            .filter { case (s, e) =>
              base.tokenRange.exists { case (mn, mx) => s < mn && mx <= e }
            }
        }
        base.copy(ringSplit = nominal, digest = digests.get(f.getPath.toString).flatten)
      }
    }
    if (metas.isEmpty) return
    writeFragment(fs, root, metas)
    // opportunistic fold: bounds cold plan-time manifest reads to
    // O(CompactThreshold) driver round-trips however many batches ever land
    val fragCount = fs.listStatus(new Path(root, Dir))
      .count(_.getPath.getName.endsWith(".tsv"))
    if (fragCount > CompactThreshold) compact(spark, tableDir)
  }

  /** Write one manifest fragment; a FAILED write deletes the partial file
   *  before rethrowing — a truncated line can still parse as a
   *  plausible-but-wrong stat (e.g. a cut-short max) and silently
   *  misprune every later scan. */
  private def writeFragment(fs: FileSystem, root: Path, metas: Seq[FileMeta]): Unit = {
    val p = new Path(root,
      s"$Dir/manifest-${java.util.UUID.randomUUID().toString.take(12)}.tsv")
    try {
      val out = fs.create(p, false)
      try out.write(metas.map(line(root, _)).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch {
      case e: Throwable =>
        try fs.delete(p, false)
        catch { case _: java.io.IOException => () }
        throw e
    }
  }

  /** Persist manifest rows computed elsewhere — the shallow-clone path
   *  records stats for FOREIGN (out-of-root) files its log references, so
   *  the one-time footer read that admitted them becomes a manifest hit
   *  on every later scan. Out-of-root rows keep their ABSOLUTE paths
   *  ([[line]]'s relativize leaves them untouched) and survive
   *  [[compact]] folds unchanged. */
  def appendMetas(spark: SparkSession, tableDir: String, metas: Seq[FileMeta]): Unit = {
    if (metas.isEmpty) return
    val fs = new Path(tableDir).getFileSystem(spark.sessionState.newHadoopConf())
    writeFragment(fs, fs.makeQualified(new Path(tableDir)), metas)
  }

  /** All manifest entries for a table dir, keyed by absolute file path.
   *  Entries for files that no longer exist are ignored by the caller
   *  (listing drives; the manifest only supplies stats). */
  def read(fs: FileSystem, tableDir0: Path): Map[String, FileMeta] = {
    val tableDir = fs.makeQualified(tableDir0)
    val dir = new Path(tableDir, Dir)
    if (!fs.exists(dir)) return Map.empty
    val acc = mutable.Map.empty[String, FileMeta]
    fs.listStatus(dir).filter(_.getPath.getName.endsWith(".tsv")).sortBy(_.getPath.getName)
      .foreach(mf => readOne(fs, tableDir, mf.getPath)
        .foreach(m => acc(m.path) = m))
    acc.toMap
  }

  private def readOne(fs: FileSystem, tableDir: Path, mf: Path): Seq[FileMeta] = {
    // a fragment may vanish between listing and open: a concurrent
    // appendFor crossed CompactThreshold and folded it into the merged
    // file (compact() deletes exactly the fragments it already merged).
    // The stats are still present via that merged file on the NEXT read,
    // and a manifest miss only costs a footer-read fallback — skipping is
    // correct, crashing the scan is not.
    val text = try {
      val in = fs.open(mf)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(mf).getLen.toInt)
        in.readFully(0, bytes)
        new String(bytes, StandardCharsets.UTF_8)
      } finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => return Nil
    }
    text.linesIterator.filter(_.nonEmpty).flatMap(parse(tableDir, _)).toSeq
  }

  /** How many manifest fragments [[appendFor]] tolerates before folding
   *  them — bounds cold plan-time driver round-trips to O(64) per table
   *  regardless of how many write batches ever landed. */
  private[write] val CompactThreshold = 64

  /**
   * Fold every manifest fragment into ONE file. The append protocol writes
   * `manifest-<uuid>.tsv` per batch, so a long-lived table otherwise
   * accumulates one driver round-trip per HISTORICAL write at cold plan
   * time — 100k batches of a year-old table would mean 100k sequential
   * opens before the first scan plans. Crash-safe at every step: the
   * merged file is written first, then exactly the fragments that were
   * read are deleted (a crash in between leaves duplicate entries, which
   * [[read]] merges by path — per-path content is deterministic). Safe
   * against a concurrent append: its fresh fragment is not in the read
   * set, so it is never deleted. Returns the number of fragments folded.
   */
  def compact(spark: SparkSession, tableDir: String): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(tableDir).getFileSystem(conf)
    val root = fs.makeQualified(new Path(tableDir))
    val dir = new Path(root, Dir)
    if (!fs.exists(dir)) return 0
    val frags = fs.listStatus(dir).filter(_.getPath.getName.endsWith(".tsv"))
      .sortBy(_.getPath.getName)
    if (frags.length <= 1) return 0
    val acc = mutable.Map.empty[String, FileMeta]
    frags.foreach(f => readOne(fs, root, f.getPath).foreach(m => acc(m.path) = m))
    val out = fs.create(new Path(root,
      s"$Dir/manifest-${java.util.UUID.randomUUID().toString.take(12)}.tsv"), false)
    try out.write(acc.values.toSeq.sortBy(_.path).map(line(root, _))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    frags.foreach(f => fs.delete(f.getPath, false))
    frags.length
  }

  private def line(root: Path, m: FileMeta): String = {
    val rel = relativize(root, m.path)
    val tok = m.tokenRange.map { case (a, b) => s"$a\t$b" }.getOrElse("-\t-")
    val ring = m.ringSplit.map { case (a, b) => s"$a\t$b" }.getOrElse("-\t-")
    val ranges = m.pkRanges.toSeq.sortBy(_._1)
      .map { case (c, (mn, mx)) => s"${escapeCol(c)}=$mn:$mx" }.mkString(";")
    val dig = m.digest.map(_.toString).getOrElse("-")
    // string min/max ride base64-encoded (UTF-8 bytes): arbitrary content —
    // delimiters, newlines, NULs — survives the TSV round-trip; '-' = none
    val strs =
      if (m.strRanges.isEmpty) "-"
      else m.strRanges.toSeq.sortBy(_._1)
        .map { case (c, (mn, mx)) => s"${escapeCol(c)}=${b64(mn)}:${b64(mx)}" }
        .mkString(";")
    s"$rel\t${m.sizeBytes}\t${m.uncompressedBytes}\t${m.rows}\t${m.hasTokenColumn}\t$tok\t$ranges\t$ring\t$dig\t$strs"
  }

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(StandardCharsets.UTF_8))

  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  /** Column names are percent-escaped in the `col=min:max;...` field so a
   *  quoted CQL identifier containing any delimiter (`;` `=` `:` tab `%`)
   *  cannot smuggle a phantom range under another column's name (wrong-
   *  pruning hazard once stats pruning consults ANY column). */
  private[write] def escapeCol(c: String): String =
    c.flatMap {
      case ch @ ('%' | ';' | '=' | ':' | '\t' | '\n') => f"%%${ch.toInt}%02x"
      case ch => ch.toString
    }

  private[write] def unescapeCol(c: String): String = {
    val sb = new StringBuilder(c.length)
    var i = 0
    while (i < c.length) {
      if (c.charAt(i) == '%' && i + 2 < c.length) {
        sb.append(Integer.parseInt(c.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c.charAt(i)); i += 1 }
    }
    sb.toString
  }

  private def parse(root: Path, l: String): Option[FileMeta] = {
    val parts = l.split("\t", -1)
    // 8 = original format; 10 = + nominal ring range; 11 = + content digest;
    // 12 = + string-column ranges (older rows parse with strRanges empty —
    // conservative: no string pruning for files recorded pre-format)
    if (parts.length != 8 && parts.length != 10 && parts.length != 11 &&
        parts.length != 12) return None
    try {
      def range(a: String, b: String): Option[(Long, Long)] =
        if (a == "-" || b == "-") None else Some((a.toLong, b.toLong))
      val tokenRange = range(parts(5), parts(6))
      // escaping arrived with the 11-column format; older manifests wrote
      // raw names, so unescaping them could corrupt a literal '%xx' sequence
      val unesc: String => String =
        if (parts.length >= 11) unescapeCol else identity
      val ranges = parts(7).split(";").filter(_.nonEmpty).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(c, r) => r.split(":", 2) match {
            case Array(mn, mx) => Some(unesc(c) -> (mn.toLong, mx.toLong))
            case _ => None
          }
          case _ => None
        }
      }.toMap
      val ring = if (parts.length >= 10) range(parts(8), parts(9)) else None
      val digest = if (parts.length >= 11 && parts(10) != "-") Some(parts(10).toLong) else None
      val strRanges: Map[String, (String, String)] =
        if (parts.length < 12 || parts(11) == "-") Map.empty
        else parts(11).split(";").filter(_.nonEmpty).flatMap { kv =>
          kv.split("=", 2) match {
            case Array(c, r) => r.split(":", 2) match {
              case Array(mn, mx) => Some(unescapeCol(c) -> (unb64(mn), unb64(mx)))
              case _ => None
            }
            case _ => None
          }
        }.toMap
      Some(FileMeta(new Path(root, parts(0)).toString, parts(1).toLong, parts(2).toLong,
        parts(3).toLong, parts(4).toBoolean, tokenRange, ranges, ring, digest,
        strRanges))
      // the manifest is a CACHE: any malformed line (bit rot, partial write,
      // manual edit) is dropped so the file falls back to a footer read —
      // a corrupt manifest must never fail the scan
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ---- content digests (W-digest parity: SortedSSTableWriter digests) ----

  /** Streaming xxhash64 (lz4-java, seed 0 — already on Spark's classpath)
   *  of a file's full contents; O(64 KiB) memory regardless of file size. */
  def digestFile(fs: FileSystem, path: Path): Long = {
    val h = net.jpountz.xxhash.XXHashFactory.fastestInstance().newStreamingHash64(0L)
    val in = fs.open(path)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) h.update(buf, 0, n); n = in.read(buf) }
      h.getValue
    } finally in.close()
  }

  /** Digest many files as a Spark job: one streaming pass per file on an
   *  executor, O(#files) driver state. A file the filesystem itself refuses
   *  to read (e.g. Hadoop CRC sidecar mismatch on LocalFileSystem) digests
   *  to None — verification must REPORT corruption, never crash on it. */
  /** Small digest batches (few files, little data) run on a bounded driver
    * thread pool: a Spark job costs broadcast + schedule + collect per
    * call, which dwarfs hashing a handful of freshly-written local files —
    * every `write()` pays this on its own new files. Large batches (a real
    * bulk load, or a whole-table [[verifyDigests]] at scale) keep the
    * distributed pass, which parallelizes like the write itself. */
  private[write] val DriverDigestMaxFiles = 64
  private[write] val DriverDigestMaxBytes = 256L << 20

  private def digestAll(
      spark: SparkSession, files: Seq[(String, Long)]): Map[String, Option[Long]] = {
    if (files.isEmpty) return Map.empty
    val conf = spark.sessionState.newHadoopConf()
    val paths = files.map(_._1)
    val small = files.length <= DriverDigestMaxFiles && files.map(_._2).sum <= DriverDigestMaxBytes
    if (small) {
      DriverPool.map(paths) { p =>
        val hp = new Path(p)
        (p, try Some(digestFile(hp.getFileSystem(conf), hp))
            catch { case _: java.io.IOException => None })
      }.toMap
    } else {
      val bc = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(conf))
      JobDesc.withDesc(spark, s"graft.manifest: xxhash64 digest ${paths.length} file(s)") {
        spark.sparkContext
          .parallelize(paths, math.min(paths.length, 32))
          .map { p =>
            val hp = new Path(p)
            (p, try Some(digestFile(hp.getFileSystem(bc.value.value), hp))
                catch { case _: java.io.IOException => None })
          }
          .collect().toMap
      }
    }
  }

  /** Recompute every manifest-digested file and compare — the transport/
   *  at-rest corruption check (reference `WriterDigestIntegrationTest`
   *  semantics). Returns the corrupt paths; callers that must not propagate
   *  corruption (e.g. compaction) throw on non-empty. Files without a
   *  recorded digest are skipped (pre-digest layouts stay readable). */
  def verifyDigests(spark: SparkSession, tableDir: String): Seq[String] = {
    val root = new Path(tableDir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    // per-path FS for the size probe: a shallow clone records out-of-root
    // rows that may live on a DIFFERENT filesystem, and probing those with
    // the table root's FS throws "Wrong FS" instead of verifying
    val recorded = read(fs, root).toSeq.flatMap { case (p, m) =>
      m.digest.flatMap { d =>
        val hp = new Path(p)
        try Some((p, hp.getFileSystem(conf).getFileStatus(hp).getLen, d))
        catch { case _: java.io.FileNotFoundException => None }
      }
    }
    if (recorded.isEmpty) return Nil
    val actual = digestAll(spark, recorded.map(r => r._1 -> r._2))
    recorded.collect { case (p, _, d) if !actual.get(p).flatten.contains(d) => p }.sorted
  }

  private def relativize(root: Path, abs: String): String = {
    val rootStr = root.toString.stripSuffix("/") + "/"
    if (abs.startsWith(rootStr)) abs.substring(rootStr.length) else abs
  }
}
