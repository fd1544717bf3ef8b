package graftbench

import org.apache.commons.math3.special.Beta

/** The summary statistics every reported metric is built from. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Harrell–Davis estimate of quantile `p` in (0, 1): a weighted mean
    * of all order statistics, the weights those a Beta((n + 1)p,
    * (n + 1)(1 - p)) distribution gives the ranks. Where the plain order
    * statistic jumps from one unit's latency to another's when samples
    * trade places around `p`, this moves smoothly. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(p > 0 && p < 1, s"quantile $p out of range")
    val s = xs.sorted
    val n = s.size
    val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
    val cdf = (0 to n).map(i => if (i == 0) 0.0 else if (i == n) 1.0 else Beta.regularizedBeta(i.toDouble / n, a, b))
    s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
  }

  /** Samples that must lie beyond the reported tail percentile. */
  val TailMinBeyond = 10

  /** The highest percentile with at least [[TailMinBeyond]] samples
    * beyond it: `100 * (1 - 10 / n)`. Never below the median, so a run
    * with 20 samples or fewer reports its p50 as the tail. */
  def tailPercentile(n: Int): Double =
    if (n <= 2 * TailMinBeyond) 50.0 else 100.0 * (1.0 - TailMinBeyond.toDouble / n)

  final case class Tail(value: Double, percentile: Double, n: Int)

  def tail(xs: Seq[Double]): Tail = {
    val p = tailPercentile(xs.size)
    Tail(quantile(xs, p / 100), p, xs.size)
  }

  /** Geometric mean of strictly positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of no values")
    require(xs.forall(_ > 0), "geometric mean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Failed or wrong operations over operations attempted. */
  def failRatio(failed: Long, attempted: Long): Double = {
    require(attempted > 0, "no operations attempted")
    require(failed >= 0 && failed <= attempted, s"failed $failed of $attempted")
    failed.toDouble / attempted
  }

  /** Geometric mean over keys of each key's median latency, so a
    * sub-second unit weighs as much as a heavy one. */
  def geomeanOfMedians(samples: Seq[(String, Double)]): Double =
    geomean(samples.groupBy(_._1).values.map(v => median(v.map(_._2))).toSeq)
}
