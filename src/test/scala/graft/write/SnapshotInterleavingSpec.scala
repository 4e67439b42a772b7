package graft.write

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.SparkSpec
import graft.model.CqlSchema
import graft.sources.{GraftDataSource, GraftScan, GraftScanBuilder}
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.datasources.FilePartition

/** The local filesystem under `hooked://host/<abs path>` (the
 *  [[CondPutFileSystem]] pattern): counts `listStatus`/`open` calls per
 *  path and runs a one-shot hook on the first open of a snapshot-log
 *  version file — so a spec can land a commit INSIDE scan planning and
 *  count the metadata calls planning makes. State is JVM-global: the
 *  filesystem cache may hand out several instances. */
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
}

object HookedFileSystem {
  private val counts = new ConcurrentHashMap[(String, String), AtomicLong]()
  private val hook = new java.util.concurrent.atomic.AtomicReference[() => Unit]()

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
}
