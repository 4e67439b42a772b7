package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Latency samples and the failure count of one run. An op that throws or
 *  whose result differs from the model counts as failed, and its time is
 *  never sampled. */
class Recorder {
  var attempted = 0L
  var failed = 0L
  private val samples = mutable.LinkedHashMap[(String, Boolean), ArrayBuffer[Double]]()

  /** Run `body` as one attempted op and time it in seconds; a throw counts
   *  as a failure and yields None. */
  def attempt[T](what: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      Some((r, (System.nanoTime() - t0) / 1e9))
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $what: $e")
        e.printStackTrace()
        None
    }
  }

  /** Count a mismatch between an op's result and the model as a failure. */
  def check(what: String, ok: Boolean, detail: => String): Boolean = {
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] MISMATCH $what: $detail")
    }
    ok
  }

  def sample(kind: String, seconds: Double, traced: Boolean): Unit =
    samples.getOrElseUpdate((kind, traced), ArrayBuffer()) += seconds

  def values(kind: String): Seq[Double] =
    samples.collect { case ((k, _), v) if k == kind => v.toSeq }.flatten.toSeq

  /** Kinds with samples both with and without tracing, for the overhead
   *  ratio: (kind, traced median, untraced median). */
  def pairedMedians: Seq[(String, Double, Double)] = {
    val kinds = samples.keys.map(_._1).toSeq.distinct
    kinds.flatMap { k =>
      for (t <- samples.get((k, true)); u <- samples.get((k, false)))
        yield (k, Stats.quantile(t.toSeq, 0.5), Stats.quantile(u.toSeq, 0.5))
    }
  }
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** Progress lines on standard error: each step with the time since the
 *  previous one. */
object Log {
  private var last = System.nanoTime()
  def step(what: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"[perfbench] $what: ${(now - last) / 1e9}%.2f s")
    last = now
  }
}
