package graft.write

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.SparkSpec
import graft.model.CqlSchema
import graft.sources.{GraftDataSource, GraftScan, GraftScanBuilder}
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.datasources.FilePartition

/** The local filesystem under `hooked://host/<abs path>` (the
 *  [[CondPutFileSystem]] pattern): counts `listStatus`/`open` calls per
 *  path and runs a one-shot hook on the first open of a snapshot-log
 *  version file — so a spec can land a commit INSIDE scan planning and
 *  count the metadata calls planning makes — and another just before the
 *  first create of one, so a concurrent commit can take the version a
 *  commit is about to claim (committing here needs
 *  [[Snapshots.AllowNonAtomicConf]]: the scheme is not an atomic store).
 *  State is JVM-global: the filesystem cache may hand out several
 *  instances. */
class HookedFileSystem extends FilterFileSystem(new RawLocalFileSystem {
  override def getScheme: String = "hooked"
  override def getUri: URI = URI.create("hooked://host/")
}) {
  override def getScheme: String = "hooked"

  override def listStatus(f: Path): Array[FileStatus] = {
    HookedFileSystem.count("listStatus", f)
    super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    HookedFileSystem.count("open", f)
    if (HookedFileSystem.isVersionFile(f))
      Option(HookedFileSystem.hook.getAndSet(null)).foreach(_.apply())
    super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (HookedFileSystem.isVersionFile(f))
      Option(HookedFileSystem.createHook.getAndSet(null)).foreach(_.apply())
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object HookedFileSystem {
  private val counts = new ConcurrentHashMap[(String, String), AtomicLong]()
  private val hook = new java.util.concurrent.atomic.AtomicReference[() => Unit]()
  private val createHook = new java.util.concurrent.atomic.AtomicReference[() => Unit]()

  def isVersionFile(p: Path): Boolean =
    p.getParent != null && p.getParent.getName == Snapshots.Dir &&
      p.getName.matches("""v\d{12}\.txt""")

  private def count(op: String, p: Path): Unit =
    counts.computeIfAbsent((op, p.toUri.getPath), _ => new AtomicLong()).incrementAndGet()

  def reset(): Unit = counts.clear()

  /** Calls of `op` on paths satisfying `where` since the last reset. */
  def calls(op: String, where: String => Boolean): Long = {
    import scala.jdk.CollectionConverters._
    counts.asScala.collect { case ((`op`, p), c) if where(p) => c.get }.sum
  }

  /** Run `f` on the next open of a version file (once). */
  def armOnVersionOpen(f: () => Unit): Unit = hook.set(f)
  def armed: Boolean = hook.get != null

  /** Run `f` just before the next create of a version file (once). */
  def armOnVersionCreate(f: () => Unit): Unit = createHook.set(f)
  def createArmed: Boolean = createHook.get != null
  def disarm(): Unit = { hook.set(null); createHook.set(null) }
}

/**
 * One table state per scan: a commit that lands while a scan is being
 * planned, or before a runtime filter arrives, must not change which
 * version the scan reads — files, deletion vectors and row ids all come
 * from the one version the scan resolved first.
 */
class SnapshotInterleavingSpec extends SparkSpec {

  import spark.implicits._

  private val schema = CqlSchema("t", Seq("id"))

  spark.sparkContext.hadoopConfiguration
    .set("fs.hooked.impl", classOf[HookedFileSystem].getName)

  private def freshDir(): String =
    Files.createTempDirectory("graft_interleave_").toString + "/t"

  private def writeSnap(ids: Range, dir: String, partitions: Int): Unit =
    TokenSortedWriter.write(ids.map(i => (i.toLong, s"v$i")).toDF("id", "payload"),
      schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = partitions, snapshot = true))

  private def read(path: String): DataFrame =
    spark.read.format("graft").option("path", path).option("pk", "id").load()

  private def ids(df: DataFrame): Set[Long] = df.select("id").as[Long].collect().toSet

  test("a DV-folding OPTIMIZE landing mid-planning cannot resurrect deleted rows") {
    val dir = freshDir()
    writeSnap(0 until 2000, dir, partitions = 1)
    val v0 = Snapshots.latestVersion(spark, dir).get
    val file = Snapshots.files(spark, dir, v0).head
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    // hide 30% of the rows: above OPTIMIZE's default DV-fold trigger
    val dv = DeletionVectors.newDvPath(dir)
    DeletionVectors.write(fs, dv, (0L until 600L).toArray)
    Snapshots.commitDeltas(spark, dir, Map(file -> dv), Nil, Some(v0))
    val expected = ids(read(dir))
    assert(expected.size == 1400)

    // the fold commits v+1 (the DV'd file replaced, its binding dropped)
    // while the scan over the same table is resolving version v
    var packed = -1L
    HookedFileSystem.armOnVersionOpen(() => packed = TokenSortedWriter
      .optimizeSmallFiles(spark, schema, dir, smallBytes = 1L, targetBytes = 1L << 30))
    val got = read(s"hooked://host$dir").select("id").as[Long].collect()
    assert(!HookedFileSystem.armed && packed == 1L, "the fold must land mid-planning")
    assert(got.length == got.toSet.size && got.toSet == expected,
      s"${got.toSet.diff(expected).size} DV-deleted row(s) came back")
    assert(Snapshots.deletionVectors(spark, dir,
      Snapshots.latestVersion(spark, dir).get).isEmpty)
  }

  test("a runtime filter re-prunes the scan's original version, not a newer one") {
    val dir = freshDir()
    writeSnap(0 until 100, dir, partitions = 2)
    val v1Files = Snapshots.files(spark, dir, 1L).toSet
    val annotated = GraftDataSource.annotateStruct(schema, spark.read.parquet(dir).schema)
    val scan = new GraftScanBuilder(dir, annotated, schema).build().asInstanceOf[GraftScan]
    def planned(): Set[String] = scan.planInputPartitions().toSeq.flatMap {
      case p: FilePartition => p.files.toSeq.map(_.filePath.toPath.toString)
      case _ => Nil
    }.toSet
    assert(planned() == v1Files)
    writeSnap(100 until 200, dir, partitions = 2)
    assert(Snapshots.latestVersion(spark, dir).contains(2L))
    // id 150 lives only in version 2's files
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array(5L, 150L))))
    val after = planned()
    assert(after.nonEmpty && after.subsetOf(v1Files),
      s"runtime filter re-planned against a newer version: ${after -- v1Files}")
  }

  test("one unpinned scan lists the snapshot log once and opens its version file once") {
    val dir = freshDir()
    writeSnap(0 until 100, dir, partitions = 2)
    writeSnap(100 until 150, dir, partitions = 2)
    val logDir = s"$dir/${Snapshots.Dir}"
    HookedFileSystem.reset()
    assert(ids(read(s"hooked://host$dir")).size == 150)
    val listings = HookedFileSystem.calls("listStatus", _ == logDir)
    val opens = HookedFileSystem.calls("open",
      p => HookedFileSystem.isVersionFile(new Path(p)) && p.startsWith(logDir))
    assert(listings == 1L && opens == 1L,
      s"planning made $listings log listing(s) and $opens version-file open(s)")
  }

  test("every log walk opens each version file at most once") {
    val dir = freshDir()
    writeSnap(0 until 100, dir, partitions = 1) // v1 append
    writeSnap(50 until 150, dir, partitions = 1) // v2 append
    TokenSortedWriter.compactInPlace(spark, schema, dir, vacuumRetain = 10) // v3 fold
    writeSnap(150 until 1150, dir, partitions = 1) // v4 append
    val appended = Snapshots.changedFiles(spark, dir, 3L, 4L).head
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val dv = DeletionVectors.newDvPath(dir)
    DeletionVectors.write(fs, dv, (0L until 300L).toArray)
    Snapshots.commitDeltas(spark, dir, Map(appended -> dv), Nil, Some(4L)) // v5 MoR delete
    TokenSortedWriter.optimizeSmallFiles(spark, schema, dir,
      smallBytes = 1L, targetBytes = 1L << 30) // v6 layout, folds the DV
    assert(Snapshots.latestVersion(spark, dir).contains(6L))
    assert(Snapshots.historyDf(spark, dir).select("layout_only").as[Boolean]
      .collect().toSeq == Seq(false, false, false, false, false, true))

    val hooked = s"hooked://host$dir"
    val logDir = s"$dir/${Snapshots.Dir}"
    def maxOpens(walk: => Any): Long = {
      HookedFileSystem.reset()
      walk
      (1L to 6L).map(v => HookedFileSystem.calls("open",
        _ == f"$logDir/v$v%012d.txt")).max
    }
    val opens = Seq(
      "diffCandidateFiles(0, 6)" ->
        maxOpens(Snapshots.diffCandidateFiles(spark, hooked, 0L, 6L)),
      "changedFiles(0, 2)" -> maxOpens(Snapshots.changedFiles(spark, hooked, 0L, 2L)),
      "changeEvents(3, 6)" -> maxOpens(Snapshots.changeEvents(spark, hooked, 3L, 6L)),
      // the fold at v3 is a logical rewrite to the row-level feed
      "changeEvents(0, 6)" -> maxOpens(intercept[IllegalStateException](
        Snapshots.changeEvents(spark, hooked, 0L, 6L))),
      "historyDf" -> maxOpens(Snapshots.historyDf(spark, hooked).collect()),
      "vacuum(keepLast = 1)" -> maxOpens(Snapshots.vacuum(spark, hooked, keepLast = 1)))
    assert(opens.forall(_._2 <= 1L),
      s"version-file opens per walk (max over versions): ${opens.mkString(", ")}")
  }
}
