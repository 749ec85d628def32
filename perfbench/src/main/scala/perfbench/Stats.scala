package perfbench

/** Order statistics used by the result line. */
object Stats {

  /** Median, the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Total length of the union of intervals `[a, b)`. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curLo = 0L
    var curHi = 0L
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curHi) {
        total += curHi - curLo
        curLo = a
        curHi = b
      } else curHi = math.max(curHi, b)
    }
    total + curHi - curLo
  }
}
