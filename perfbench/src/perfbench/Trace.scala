package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus the listeners
 *  that attribute Spark jobs, stages, planning time and filesystem calls to
 *  them. The listeners are attached and filesystem calls counted only while
 *  a traced op runs (`op(traced = true)`), so the untraced ops of a traced
 *  run pay none of it. Spans are kept in memory and rolled up once at the
 *  end. Each span sets its own Spark job group, so every job it submits
 *  names it. */
object Trace {
  final case class Span(id: Int, name: String, layer: String, parent: Int, op: Int,
      start: Double) {
    var end: Double = start
    /** Result rows the benchmark saw for this call. */
    var rows: Long = 0L
    /** Extra counts the benchmark attributes to this call (e.g. live bytes). */
    val counts: mutable.Map[String, Double] = mutable.Map.empty
  }
  final case class Job(id: Int, group: String, start: Double, stageIds: Seq[Int]) {
    @volatile var end: Double = Double.NaN
  }
  final case class Stage(submitted: Double, completed: Double, shuffleWrite: Long,
      output: Long) {
    def ms: Double = completed - submitted
  }
  final case class Exec(start: Double, planMs: Double, scanRows: Long, listed: Long,
      planned: Long, bytesPlanned: Long)

  private val GroupPrefix = "perfbench-span-"

  @volatile private var installed = false
  private var active = false
  private var opCounter = 0
  private var stack: List[Span] = Nil
  private val spans = ArrayBuffer[Span]()

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val execs = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()
  /** (trigger start, durations) of every data-carrying micro-batch. */
  private val progress =
    new java.util.concurrent.ConcurrentLinkedQueue[(Double, Map[String, Double])]()

  /** Enable tracing for this run (traced run only; the counting
   *  filesystem is configured with the session). */
  def install(): Unit = installed = true

  /** Run one benchmark op; with `traced`, the listeners are attached and the
   *  spans opened inside it are recorded under a fresh op id. Once the op
   *  returns, the listener bus is drained so every event of the op has
   *  arrived, and the listeners are detached. */
  def op[T](traced: Boolean)(body: => T): T = {
    opCounter += 1
    if (!(traced && installed)) return body
    val spark = SparkSession.active
    val (jl, pl, sl) = (new JobListener, new PlanListener, new ProgressListener)
    spark.sparkContext.addSparkListener(jl)
    spark.listenerManager.register(pl)
    spark.streams.addListener(sl)
    CountingFileSystem.counting = true
    active = true
    try body
    finally {
      active = false
      CountingFileSystem.counting = false
      org.apache.spark.perfbenchshim.ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jl)
      spark.listenerManager.unregister(pl)
      spark.streams.removeListener(sl)
    }
  }

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!active) return body
    val sc = SparkSession.active.sparkContext
    val parent = stack.headOption
    val s = Span(spans.length, name, layer, parent.map(_.id).getOrElse(-1), opCounter,
      Clock.nowMs)
    spans += s
    stack = s :: stack
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", GroupPrefix + s.id)
    try body
    finally {
      s.end = Clock.nowMs
      stack = stack.tail
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
    }
  }

  /** Record the rows the innermost open span returned. */
  def rows(n: Long): Unit = stack.headOption.foreach(_.rows += n)

  /** Attribute a count to the innermost open span. */
  def count(key: String, v: Double): Unit =
    stack.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  /** Attribute a count to the latest span named `name` of the current op. */
  def countOn(name: String, key: String, v: Double): Unit =
    spans.reverseIterator.find(s => s.name == name && s.op == opCounter)
      .foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  // ---- listeners -------------------------------------------------------

  private class JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs.put(e.jobId, Job(e.jobId, g, e.time.toDouble, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null && i.submissionTime.isDefined && i.completionTime.isDefined)
        stages.put(i.stageId, Stage(i.submissionTime.get.toDouble,
          i.completionTime.get.toDouble, m.shuffleWriteMetrics.bytesWritten,
          m.outputMetrics.bytesWritten))
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    /** Metric maps of the graft scan nodes of an executed plan. */
    def graftScans(p: SparkPlan): Seq[Map[String, Long]] =
      collectWithSubqueries(p) {
        case s if s.metrics.contains("graftFilesPlanned") =>
          s.metrics.map { case (k, v) => k -> v.value }
      }
  }

  private class PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val scans = PlanWalk.graftScans(qe.executedPlan)
        def total(k: String) = scans.map(_.getOrElse(k, 0L)).sum
        execs.add(Exec(phases.map(_.startTimeMs).min.toDouble,
          phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum,
          total("numOutputRows"), total("graftFilesListed"), total("graftFilesPlanned"),
          total("graftBytesPlanned")))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private class ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        progress.add((java.time.Instant.parse(e.progress.timestamp).toEpochMilli.toDouble,
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap))
  }

  // ---- rollup ------------------------------------------------------------

  private type Iv = (Double, Double)

  private def merge(ivs: Seq[Iv]): Seq[Iv] =
    ivs.filter(i => i._2 > i._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  private def length(ivs: Seq[Iv]): Double = ivs.map(i => i._2 - i._1).sum

  /** `a` minus the union of `b`, both as interval lists. */
  private def minus(a: Seq[Iv], b: Seq[Iv]): Seq[Iv] = {
    val cut = merge(b)
    a.flatMap { case (s0, e0) =>
      var out = List.empty[Iv]
      var s = s0
      cut.foreach { case (cs, ce) =>
        if (ce > s && cs < e0) {
          if (cs > s) out ::= ((s, cs))
          s = math.max(s, ce)
        }
      }
      if (e0 > s) out ::= ((s, e0))
      out.reverse
    }
  }

  private def within(ivs: Seq[Iv], t: Double): Boolean = ivs.exists(i => t >= i._1 && t < i._2)

  /** Per-span figures after attribution. `self` is the span minus its
   *  children; for a write span, the stretch after its last job is split
   *  off as the commit tail. */
  final case class Rolled(span: Span, layer: String, self: Seq[Iv], jobs: Seq[Job],
      stages: Seq[Stage], gapMs: Double, fsOps: Int, execs: Seq[Exec]) {
    def selfMs: Double = length(self)
  }

  def rollup(): Seq[Rolled] = {
    val fsCalls = CountingFileSystem.calls
    val jobsBySpan = jobs.values.asScala.toSeq
      .filter(j => j.group != null && j.group.startsWith(GroupPrefix))
      .groupBy(_.group.stripPrefix(GroupPrefix).toInt)
    val children = spans.groupBy(_.parent)
    val allExecs = execs.asScala.toSeq
    spans.toSeq.flatMap { s =>
      val self = minus(Seq((s.start, s.end)),
        children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
      val js = jobsBySpan.getOrElse(s.id, Nil)
      val jobIvs = js.map(j => (j.start, if (j.end.isNaN) s.end else j.end))
      val sts = js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id)))
      def fs(ivs: Seq[Iv]) = fsCalls.count(within(ivs, _))
      def gap(ivs: Seq[Iv]) = length(minus(ivs, jobIvs))
      val ex = allExecs.filter(e => within(self, e.start))
      val lastJobEnd = if (js.isEmpty) Double.NaN else jobIvs.map(_._2).max
      if (s.layer == "write" && !lastJobEnd.isNaN && lastJobEnd < s.end) {
        val tail = Seq((lastJobEnd, s.end))
        val body = minus(self, tail)
        val tailSelf = minus(self, body)
        Seq(Rolled(s, "write", body, js, sts, gap(body), fs(body), ex),
          Rolled(s, "commit", tailSelf, Nil, Nil, gap(tailSelf), fs(tailSelf), Nil))
      } else Seq(Rolled(s, s.layer, self, js, sts, gap(self), fs(self), ex))
    }
  }

  /** Durations of the data-carrying micro-batches that started inside a
   *  traced op (from its first span's start to its last span's end). */
  def streamProgress: Seq[Map[String, Double]] = {
    val windows = spans.groupBy(_.op).values.map(ss => (ss.map(_.start).min, ss.map(_.end).max))
    progress.asScala.toSeq.collect { case (t, d) if windows.exists(w => t >= w._1 && t < w._2) => d }
  }

  /** Write every span (one JSON object per line) and the self time per
   *  layer to `file`. */
  def writeSpans(file: java.io.File, rolled: Seq[Rolled]): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try {
      rolled.foreach { r =>
        val s = r.span
        w.println(Json.obj(Seq(
          "id" -> s.id, "name" -> s.name, "layer" -> r.layer, "parent" -> s.parent,
          "op" -> s.op, "start_ms" -> s.start, "end_ms" -> s.end,
          "self_ms" -> r.selfMs, "jobs" -> r.jobs.size, "driver_gap_ms" -> r.gapMs,
          "fs_ops" -> r.fsOps, "rows" -> s.rows)))
      }
      w.println(Json.obj(Seq("layer_self_ms" -> selfByLayer(rolled))))
    } finally w.close()
  }

  def selfByLayer(rolled: Seq[Rolled]): Map[String, Double] =
    rolled.groupBy(_.layer).map { case (l, rs) => l -> rs.map(_.selfMs).sum }
}
