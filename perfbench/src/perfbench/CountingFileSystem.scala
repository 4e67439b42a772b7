package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FilterFileSystem, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file:` filesystem that counts the calls the traced run attributes to
 *  layers (list, stat, exists, open, create, rename, delete). It wraps the
 *  stock checksummed `LocalFileSystem`, so everything it writes is what an
 *  uncounted run writes. Installed only in the traced run, through
 *  `spark.hadoop.fs.file.impl`. While a traced op runs (`counting`), each
 *  call's time is logged so the rollup can assign it to the span that was
 *  open when it happened; between traced ops it only forwards. */
class CountingFileSystem extends FilterFileSystem(new LocalFileSystem()) {
  import CountingFileSystem.log

  override def getScheme: String = "file"

  override def listStatus(f: Path): Array[FileStatus] = { log(); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    log(); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = { log(); super.getFileStatus(f) }
  override def exists(f: Path): Boolean = { log(); fs.exists(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    log(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    log(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { log(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    log(); super.delete(f, recursive)
  }
}

object CountingFileSystem {
  // epoch-ms time of every counted call, in call order
  private val times = new scala.collection.mutable.ArrayBuffer[Double]()
  @volatile var counting = false

  /** Calls from a streaming query's own thread (its trigger polling) are
   *  left out: they interleave with every span of the query's host. */
  private def log(): Unit =
    if (counting && !Thread.currentThread.getName.startsWith("Stream Execution thread")) {
      val t = Clock.nowMs
      times.synchronized(times += t)
    }

  /** Times of all calls so far, sorted. */
  def calls: Seq[Double] = times.synchronized(times.toSeq).sorted
}

/** Epoch milliseconds with sub-millisecond resolution: the wall clock at
 *  start plus a monotonic offset, so span times line up with the times
 *  Spark's listener events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
