package graftbench

/** Order statistics used for every timing the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size}")
    val s = xs.sorted
    s(math.max(0, rank(s.length, p) - 1))
  }

  /** 1-based nearest rank of percentile `p` among `n` samples (the
    * epsilon keeps 99.9 % of 10000 at rank 9990 despite rounding). */
  def rank(n: Int, p: Double): Int = math.ceil(p * n / 100 - 1e-9).toInt

  /** Percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)

  /** Samples strictly after the nearest rank of `p` among `n`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest percentile of [[TailLadder]] that leaves at least
    * `minBeyond` samples beyond it, or None when even the median does
    * not (fewer than 2 × `minBeyond` samples). */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    TailLadder.find(p => beyond(n, p) >= minBeyond)

  /** One timing series summarized the way the benchmark reports it. */
  final case class Summary(n: Int, p50: Double, tailP: Option[Double],
      tail: Option[Double])

  def summarize(xs: Seq[Double]): Summary = {
    val tp = tailPercentile(xs.size)
    Summary(xs.size, median(xs), tp, tp.map(percentile(xs, _)))
  }
}
