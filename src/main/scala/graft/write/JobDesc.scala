package graft.write

import org.apache.spark.sql.SparkSession

/** Job-description scoping (optimization guide §1.5 "label your jobs"):
  * multi-action operators (write → digest → footer → commit) submit many
  * anonymous jobs, which makes the UI — and any listener-based profile —
  * unreadable. `withDesc` labels every job an enclosed block submits and
  * restores the caller's own description afterwards (the property is
  * thread-local, so nesting works and concurrent driver threads don't
  * clobber each other). */
object JobDesc {
  def withDesc[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body
    finally sc.setJobDescription(prev)
  }
}

/** Bounded-parallel driver-side map for per-file metadata probes (footers,
  * existence checks, digests), whose cost is store round-trip latency, not
  * CPU: at most 16 pool threads, results in input order, one item inline.
  * Every task finishes before the pool is released; a task's exception
  * then reaches the caller as itself, not wrapped. */
object DriverPool {
  def map[A, B](items: Seq[A])(fn: A => B): Seq[B] =
    if (items.length <= 1) items.map(fn)
    else {
      import scala.jdk.CollectionConverters._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(16, items.length))
      try pool.invokeAll(items.map(a => (() => fn(a)): java.util.concurrent.Callable[B]).asJava)
        .asScala.toSeq.map { r =>
          try r.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      finally pool.shutdown()
    }
}
