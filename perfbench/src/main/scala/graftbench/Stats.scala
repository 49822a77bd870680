package graftbench

import java.util.Locale

/** The benchmark's own statistics. Every reported number goes through
  * these few functions, and `SelfTest` pins their behaviour. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile, `q` in (0, 100]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 100, s"percentile out of range: $q")
    val s = xs.sorted
    val rank = math.ceil(q / 100.0 * s.length).toInt
    s(math.max(1, math.min(rank, s.length)) - 1)
  }

  /** The highest percentile that still has at least `beyond` samples
    * above it: the value with exactly `beyond` samples larger, and its
    * percentile rank. None when the sample is too small to support
    * any tail beyond the median. */
  def supportedTail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.length
    if (n < 2 * beyond + 1) None
    else {
      val s = xs.sorted
      val idx = n - beyond - 1
      Some((100.0 * (idx + 1) / n, s(idx)))
    }
  }

  /** Quartiles as Python's `statistics.quantiles(xs, n=4)` computes them
    * (the default "exclusive" method), so the spread matches the
    * acceptance check exactly. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val d = xs.sorted.toIndexedSeq
    val ld = d.length
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.max(1, math.min(i * m / 4, ld - 1))
      val delta = i * m - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4.0
    }
    (q(1), q(2), q(3))
  }

  /** Inter-quartile distance as a share of the median. */
  def quartileSpread(xs: Seq[Double]): Double = {
    val (q1, _, q3) = quartiles(xs)
    val med = median(xs)
    if (med == 0.0) 0.0 else (q3 - q1) / math.abs(med)
  }

  /** Total length covered by a set of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Time inside `window` that none of `intervals` covers. Intervals
    * are clipped to the window first. */
  def uncovered(window: (Long, Long), intervals: Seq[(Long, Long)]): Long = {
    val (w0, w1) = window
    val clipped = intervals.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
    math.max(0L, (w1 - w0) - unionLength(clipped))
  }

  /** Sum a per-item value by the label each item maps to; items whose
    * label is None are dropped. */
  def attribute[A](items: Seq[A], label: A => Option[String], value: A => Double): Map[String, Double] =
    items.flatMap(i => label(i).map(_ -> value(i)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }

  /** JSON number with every digit the double carries; independent of
    * the JVM's default locale. Non-finite values have no JSON form and
    * are reported as 0. */
  def json(x: Double): String =
    if (x.isNaN || x.isInfinite) "0"
    else java.math.BigDecimal.valueOf(x).stripTrailingZeros.toPlainString

  /** Fixed-precision rendering for the human-readable report. */
  def fmt(x: Double, digits: Int = 3): String =
    String.format(Locale.ROOT, s"%.${digits}f", Double.box(x))
}
