package replbench

/** A tail percentile and the sample it was taken from. */
final case class Tail(pct: Double, value: Double, n: Int, beyond: Int)

object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The highest percentile up to `maxPct` that has at least `minBeyond`
    * samples strictly beyond its nearest-rank value; None when the sample
    * has `minBeyond` values or fewer. A p99 over 500 samples rests on 5
    * values and mostly measures noise, so a small sample reports a lower
    * percentile instead of a fragile one.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10, maxPct: Double = 99.0): Option[Tail] = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    val rank = math.min(math.ceil(maxPct * n / 100.0).toInt, n - minBeyond)
    if (rank < 1) None else Some(Tail(100.0 * rank / n, s(rank - 1), n, n - rank))
  }
}
