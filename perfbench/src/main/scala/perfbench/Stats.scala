package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Summary statistics, rep accounting and layer self times. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** First, second and third quartile, computed like Python's
    * `statistics.quantiles(xs, n=4)` (the default exclusive method).
    */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.nonEmpty, "quartiles of no samples")
    val s = xs.sorted
    val n = s.length
    if (n == 1) return (s(0), s(0), s(0))
    val m = n + 1
    def q(i: Int): Double = {
      val j = math.max(1, math.min(n - 1, i * m / 4))
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (q(1), q(2), q(3))
  }

  /** Interquartile range as a share of the median. */
  def spread(xs: Seq[Double]): Double = {
    val (q1, q2, q3) = quartiles(xs)
    (q3 - q1) / q2
  }

  /** Self time of each cumulative prefix: its time minus the time of the
    * prefix before it (the first prefix is its own self time).
    */
  def selfTimes(prefixes: Seq[(String, Double)]): Seq[(String, Double)] =
    prefixes.zipWithIndex.map { case ((name, t), i) =>
      name -> (if (i == 0) t else t - prefixes(i - 1)._2)
    }

  /** Outcomes of the timed reps of one workload. A rep that throws or fails
    * its output check counts as attempted and failed, never as a timing.
    */
  final class Reps {
    val seconds: ArrayBuffer[Double] = ArrayBuffer.empty
    val errors: ArrayBuffer[String] = ArrayBuffer.empty
    var attempted = 0
    var failed = 0

    /** Time one complete job, then check its output outside the timing. */
    def record[R](job: () => R)(check: R => Seq[String]): Unit = {
      attempted += 1
      val t0 = System.nanoTime()
      val out = try Right(job()) catch { case NonFatal(e) => Left(s"job threw: $e") }
      val dt = (System.nanoTime() - t0) / 1e9
      val problems = out.fold(Seq(_), r =>
        try check(r) catch { case NonFatal(e) => Seq(s"check threw: $e") })
      if (problems.isEmpty) seconds += dt
      else {
        failed += 1
        if (errors.size < 10) errors ++= problems.take(3)
      }
    }

    def failedRatio: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
  }

  /** Closed loop: start the next rep only after the previous one ended, until
    * `budgetS` seconds have passed since the loop began (at least one rep).
    */
  def closedLoop(budgetS: Double, reps: Reps = new Reps)(rep: Reps => Unit): Reps = {
    val t0 = System.nanoTime()
    do rep(reps) while ((System.nanoTime() - t0) / 1e9 < budgetS)
    reps
  }
}
