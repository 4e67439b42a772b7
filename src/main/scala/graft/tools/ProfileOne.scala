package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev timing and profiling harness (optimization guide §1): run one
  * battery query N times with the [[graft.Bench]] session config
  * (local[cpus], shuffle.partitions = cpus, warm-up pass), print each rep's
  * time and a min/median/max line — comparable to `BENCH_r*.json` entries
  * without the battery's run-order and co-tenancy effects — and, for the
  * last rep, every Spark job it submits (wall time, description, stage
  * count), so the per-phase cost of multi-action queries (write → digest →
  * footer → commit → read) is visible without the UI.
  * `runMain graft.tools.ProfileOne <query> [reps]`; env `SPARK_GRAFT_SF_DIR`
  * (default sf0.1), `SPARK_GRAFT_CPUS` (default 4). */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: ProfileOne <query> [reps]"))
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // A/B hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" for config experiments
    val extra = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "").split(';').toSeq
      .filter(_.contains('=')).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = graft.Graft.localSession(cpus, "WARN", extra)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))

    // Catalyst phase accounting: every action's QueryExecution carries a
    // QueryPlanningTracker; summing its phases over a rep separates driver
    // planning cost from executor time (guide §7.3).
    val phaseTotals = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def record(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
        qe.tracker.phases.foreach { case (ph, t) =>
          phaseTotals.merge(ph, t.endTimeMs - t.startTimeMs, java.lang.Long.sum _)
        }
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = record(qe)
    }

    final case class Job(id: Int, desc: String, start: Long, var end: Long = 0L,
        var stages: Int = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs(e.jobId) = Job(e.jobId, desc, e.time, stages = e.stageIds.size)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
    }

    val times = (1 to reps).map { i =>
      jobs.clear()
      phaseTotals.clear()
      if (i == reps) {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(qeListener)
      }
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[profile] $name rep$i: $dt%.3f s ($n rows)")
      if (i == reps) {
        spark.sparkContext.removeSparkListener(listener)
        Thread.sleep(200) // let trailing job-end events drain
        spark.listenerManager.unregister(qeListener)
        val phases = {
          import scala.jdk.CollectionConverters._
          phaseTotals.asScala.toSeq.sortBy(-_._2)
        }
        println(f"[profile] catalyst phases (all actions, ms): " +
          phases.map { case (p, t) => s"$p=$t" }.mkString(" "))
        val rows = jobs.synchronized(jobs.values.toSeq).sortBy(_.start)
        val accounted = rows.map(j => math.max(0L, j.end - j.start)).sum / 1e3
        println(f"[profile] jobs=${rows.size} accounted=$accounted%.3f s of $dt%.3f s wall (gap = driver-side planning/FS)")
        var prevEnd = 0L
        rows.foreach { j =>
          if (prevEnd > 0L && j.start - prevEnd > 200L)
            println(f"[profile]   gap ${(j.start - prevEnd) / 1e3}%9.3f s (driver)")
          prevEnd = math.max(prevEnd, j.end)
          val ms = math.max(0L, j.end - j.start)
          println(f"[profile]   job=${j.id}%3d ${ms / 1e3}%7.3f s stages=${j.stages}%2d  ${j.desc.take(110)}")
        }
      }
      dt
    }
    println(f"[profile] $name min=${times.min}%.3f median=${times.sorted.apply(reps / 2)}%.3f max=${times.max}%.3f")
    spark.stop()
  }
}
