package perfbench

/** The benchmark's summarising arithmetic, kept free of Spark so that it
  * can be tested on hand-made inputs. */
object Stats {

  /** Median of a non-empty sample (mean of the two middle values when the
    * count is even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank of percentile `p` in `n` samples; the epsilon
    * keeps 99.9% of 10 000 at rank 9 990 despite floating-point error. */
  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p * n / 100 - 1e-9).toInt)

  /** Nearest-rank percentile: the smallest sample value with at least
    * `p` percent of the sample at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  /** Percentiles a tail latency may be reported at, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples strictly above the nearest-rank `p` percentile of `n`. */
  def samplesBeyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest candidate percentile with at least `minBeyond` samples
    * beyond it, or None when even the median has fewer: a tail figure
    * resting on fewer samples is one outlier, not a percentile. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    TailCandidates.find(p => samplesBeyond(n, p) >= minBeyond)

  /** Total length covered by a set of half-open intervals [start, end);
    * overlaps are counted once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curEnd) {
          if (curEnd > curStart) total += curEnd - curStart
          curStart = s; curEnd = e
        } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Time inside `span` not covered by any of `children` (each clipped to
    * the span): the span's self time. */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    val clipped = children.map { case (cs, ce) => (math.max(cs, s), math.min(ce, e)) }
    (e - s) - unionLength(clipped)
  }

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** Metric names are the keys later tooling matches on: letters, digits,
    * `_`, `.` and `-` only, starting with a letter or digit, at most 64
    * characters. */
  def validName(name: String): Boolean = NamePattern.matches(name)

  /** A named, unit-carrying value; construction rejects a malformed name
    * and a value that is not a finite number. */
  final case class Metric(name: String, value: Double, unit: String) {
    require(validName(name), s"invalid metric name '$name'")
    require(unit.matches("[A-Za-z0-9_/%.-]{1,16}"),
      s"invalid unit '$unit' for $name")
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
  }
}
