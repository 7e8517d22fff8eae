package perfbench

import scala.util.{Failure, Success, Try}

/** Summary statistics and the ratio metrics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly beyond the q-quantile of n samples. */
  def samplesBeyond(n: Int, q: Double): Int =
    n - math.ceil(q * n - 1e-9).toInt

  /** A q-quantile is reported only when at least `min` samples lie
    * beyond it; otherwise one slow sample would set it.
    */
  def reportable(n: Int, q: Double, min: Int): Boolean =
    n > 0 && samplesBeyond(n, q) >= min

  /** A ratio whose base may be zero (no work of that kind ran). */
  def ratio(num: Double, den: Double): Double =
    if (den > 0) num / den else 0.0

  /** Task CPU time as a share of task run time. */
  def cpuFrac(taskCpuS: Double, taskRunS: Double): Double =
    ratio(taskCpuS, taskRunS)

  /** Task run time as a share of the cores' capacity over the wall. */
  def coreBusyFrac(taskRunS: Double, wallS: Double, cores: Int): Double =
    ratio(taskRunS, wallS * cores)

  /** Streaming twins' wall over their batch twins' wall. */
  def twinRatio(streamWallS: Seq[Double], batchWallS: Seq[Double]): Double =
    ratio(streamWallS.sum, batchWallS.sum)
}

/** Counts attempted and failed operations: `error_rate` is their ratio. */
final class Tally {
  var attempted = 0
  var failed = 0

  def record(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) failed += 1
  }

  def errorRate: Double = Stats.ratio(failed.toDouble, attempted.toDouble)
}

object Verdict {
  /** An operation succeeds only if it returned and, when its output was
    * checked, the digest equals the expected one.
    */
  def ok(outcome: Try[Option[Digest]], want: Option[Digest]): Boolean =
    outcome match {
      case Failure(_) => false
      case Success(None) => true
      case Success(Some(d)) => want.contains(d)
    }
}
