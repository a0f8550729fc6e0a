package perfbench

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest whole percentile above the 50th that leaves ten
    * samples above it, by nearest rank: (value, percentile). With fewer
    * than twenty samples no such percentile exists, and the tail is the
    * median. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    def rank(p: Int) = math.ceil(p * n / 100.0).toInt
    (99 to 51 by -1).find(p => n - rank(p) >= 10) match {
      case Some(p) => (s(rank(p) - 1), p.toDouble)
      case None => (median(xs), 50.0)
    }
  }
}
