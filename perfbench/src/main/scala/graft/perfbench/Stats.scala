package graft.perfbench

/** Order statistics for timing samples. */
object Stats {
  /** Nearest-rank percentile: the smallest sample with at least
    * `q` of the samples at or below it.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Samples strictly above the nearest-rank `q` percentile's rank. */
  def beyond(n: Int, q: Double): Int = n - math.max(1, math.ceil(q * n).toInt)

  /** The tail percentiles tried, highest first. */
  val TailLadder: Seq[Double] = Seq(0.99, 0.95, 0.90, 0.75)

  /** Samples a tail percentile needs beyond it. */
  val MinBeyond = 10

  /** The highest percentile of [[TailLadder]] that has at least
    * [[MinBeyond]] samples beyond it, or None when even the lowest has
    * fewer.
    */
  def tailQuantile(n: Int): Option[Double] =
    TailLadder.find(q => beyond(n, q) >= MinBeyond)
}
