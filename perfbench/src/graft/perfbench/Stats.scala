package graft.perfbench

/** Order statistics over latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail percentile: the value at integer percentile `pct` (nearest
    * rank), the sample count `n`, and how many samples lie beyond it. */
  final case class Tail(pct: Int, value: Double, n: Int, beyond: Int)

  /** The highest integer percentile with at least `minBeyond` samples
    * beyond it (nearest-rank definition: the p-th percentile is the
    * ceil(p·n/100)-th smallest sample). None when there are not more than
    * `minBeyond` samples: no percentile has that many beyond it. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (n <= minBeyond) None
    else {
      val pct = (100L * (n - minBeyond) / n).toInt
      val rank = math.max(1, ((pct.toLong * n + 99) / 100).toInt)
      val s = xs.sorted
      Some(Tail(pct, s(rank - 1), n, n - rank))
    }
  }
}
