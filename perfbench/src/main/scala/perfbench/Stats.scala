package perfbench

/** Timing summaries: a median plus the highest percentile that still has
  * at least [[Stats.MinBeyond]] samples beyond it, with the sample count.
  */
object Stats {
  val MinBeyond = 10
  /** Percentiles tried for the tail, highest first. */
  val Ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** `tailPct` is 0 (and `tail` equals `p50`) when no percentile of the
    * ladder has [[MinBeyond]] samples beyond it.
    */
  final case class Summary(n: Int, p50: Double, tailPct: Double, tail: Double)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Nearest-rank percentile: the value at 1-based rank ceil(p/100 · n). */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def summarize(xs: Seq[Double]): Summary = {
    val s = xs.sorted
    val n = s.length
    val p50 = median(s)
    Ladder.find(p => n - rank(n, p) >= MinBeyond) match {
      case Some(p) => Summary(n, p50, p, s(rank(n, p) - 1))
      case None    => Summary(n, p50, 0.0, p50)
    }
  }
}
