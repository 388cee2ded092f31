package graft.qbench

/** Summary statistics for timing samples.
  *
  * Timings are reported as a median plus the highest percentile the sample
  * supports: the one with at least ten samples strictly beyond its rank. A
  * p99 read from 100 samples is the single slowest sample, i.e. noise; the
  * rule makes the reported tail shrink to p90 there instead of pretending.
  */
object Stats {

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples needed strictly beyond a reported percentile. */
  val MinBeyond = 10

  /** 1-based nearest rank of percentile `p` in `n` samples. The epsilon
    * absorbs binary rounding: 99.9% of 10,000 is rank 9,990, not 9,991.
    */
  def rank(n: Int, p: Double): Int =
    math.min(math.max(math.ceil(p * n / 100.0 - 1e-9).toInt, 1), n)

  /** Nearest-rank percentile (`p` in (0, 100]) of an ascending array. */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    sorted(rank(sorted.length, p) - 1)
  }

  /** Samples strictly beyond the nearest rank of `p` for `n` samples. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest ladder percentile with at least [[MinBeyond]] samples
    * beyond it, or None when even the median is unsupported (n < 20).
    */
  def tailPercentile(n: Int): Option[Double] =
    TailLadder.find(p => beyond(n, p) >= MinBeyond)

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "median of an empty sample")
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Median and supported tail of a latency sample. */
  final case class Summary(n: Int, p50: Double, tailPct: Double, tail: Double)

  /** With fewer than 20 samples no percentile is supported, not even the
    * median by the rule; the tail is then reported at the median, which is
    * the most the sample can say.
    */
  def summarize(xs: Iterable[Double]): Summary = {
    val s = xs.toArray.sorted
    val pct = tailPercentile(s.length).getOrElse(50.0)
    val m = median(s)
    Summary(s.length, m, pct, if (pct == 50.0) m else percentile(s, pct))
  }
}
