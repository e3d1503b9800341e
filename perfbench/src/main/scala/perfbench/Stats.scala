package perfbench

/** Summary statistics for latency samples. Quartiles follow Python's
  * `statistics.quantiles(values, n=4)` (the "exclusive" method), so a
  * spread computed here matches one computed over the printed values. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** (q1, q2, q3) as Python's `statistics.quantiles(xs, n=4)`. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val s = xs.sorted.toIndexedSeq
    val ld = s.length
    val m = ld + 1
    def cut(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (cut(1), cut(2), cut(3))
  }

  /** Linear-interpolated percentile (`p` in [0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** Percentiles a tail may be reported at, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 50.0)

  /** Samples a tail percentile must have beyond it to be reported. */
  val MinBeyond = 10

  /** Whether `n` samples have at least [[MinBeyond]] beyond the
    * percentile `p`, i.e. `floor(n * (1 - p/100)) >= 10`. */
  def supports(n: Int, p: Double): Boolean =
    math.floor(n * (1.0 - p / 100.0) + 1e-9) >= MinBeyond

  /** The highest candidate percentile `n` samples support. None when
    * even the median has fewer than ten samples above it (n < 20). */
  def tailPercentile(n: Int): Option[Double] =
    TailCandidates.find(supports(n, _))

  /** A timing as it is printed: median, the tail the sample count
    * supports, and the count itself. */
  final case class Timing(n: Int, p50: Double, tail: Option[(Double, Double)]) {
    def render(name: String, unit: String): String = {
      val t = tail match {
        case Some((p, v)) => f"  p${fmtPct(p)}=$v%.3f$unit"
        case None => "  (no tail: n<20)"
      }
      f"$name%-28s p50=$p50%.3f$unit$t  n=$n"
    }
  }

  def timing(xs: Seq[Double]): Timing = {
    val tail = tailPercentile(xs.length).map(p => (p, percentile(xs, p)))
    Timing(xs.length, median(xs), tail)
  }

  /** `percentile(xs, p)` only when the sample count supports it. */
  def percentileIfSupported(xs: Seq[Double], p: Double): Option[Double] =
    if (supports(xs.length, p)) Some(percentile(xs, p))
    else None

  private def fmtPct(p: Double): String =
    if (p == math.rint(p)) p.toInt.toString else p.toString
}
