package graftbench

/** Order statistics with the benchmark's reporting rule: the median is
  * always reported; any higher percentile only when at least
  * [[MinBeyond]] samples lie beyond it, so a tail figure never rests on
  * a handful of points.
  */
object Stats {

  val MinBeyond = 10

  /** Nearest-rank percentile of `xs` at `q` in (0, 1]; `None` when the
    * sample is empty or, for q above one half, fewer than [[MinBeyond]]
    * samples rank above the chosen one.
    */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q <= 1, s"q must be in (0, 1], got $q")
    if (xs.isEmpty) None
    else {
      val sorted = xs.sorted
      val rank = math.max(1, math.ceil(q * sorted.size).toInt)
      val beyond = sorted.size - rank
      if (q > 0.5 && beyond < MinBeyond) None else Some(sorted(rank - 1))
    }
  }

  /** Median: the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def medianOr(xs: Seq[Double], dflt: Double): Double =
    if (xs.isEmpty) dflt else median(xs)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** An open-loop schedule fell behind when, over the second half of
    * the window, the typical lateness exceeds one period: a stall it
    * caught up with is noise, a lag it carries forward is not.
    */
  def fellBehind(lateness: Seq[Double], periodMs: Double): Boolean = {
    val tail = lateness.drop(lateness.size / 2)
    tail.nonEmpty && median(tail) > periodMs
  }

  /** A queue grew when its mean length over the second half of the
    * window exceeds 1.5 times that over the first half plus `slack`.
    */
  def grew(lengths: Seq[Double], slack: Double): Boolean =
    lengths.size >= 4 && {
      val (a, z) = lengths.splitAt(lengths.size / 2)
      mean(z) > 1.5 * mean(a) + slack
    }
}
