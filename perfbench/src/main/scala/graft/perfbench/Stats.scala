package graft.perfbench

/** Order statistics and the rate-step rule, kept free of Spark so the
  * harness's own tests pin them on synthetic series. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** A tail percentile, the value at it and the sample count it rests on. */
  final case class Tail(percentile: Double, value: Double, n: Int)

  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile that has at least `minBeyond`
    * samples above it, with its nearest-rank value. None when even the
    * median has fewer than `minBeyond` samples beyond it. */
  def tail(xs: Seq[Double], minBeyond: Int = 10,
      candidates: Seq[Double] = TailCandidates): Option[Tail] = {
    val n = xs.size
    val s = xs.sorted
    candidates.sortBy(-_).find { p =>
      val rank = math.ceil(p / 100.0 * n - 1e-9).toInt
      n - rank >= minBeyond
    }.map { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
      Tail(p, s(rank - 1), n)
    }
  }

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double =
    if (pts.size < 2) 0.0
    else {
      val mx = pts.map(_._1).sum / pts.size
      val my = pts.map(_._2).sum / pts.size
      val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
      if (sxx == 0) 0.0
      else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }

  /** A backlog (datagrams received but not yet processed) grows over a
    * rate step when its fitted slope exceeds `share` of the offered rate:
    * the pipeline falls behind by that much of each second's input. */
  def backlogGrows(series: Seq[(Double, Double)], offeredPerS: Double,
      share: Double = 0.1): Boolean =
    series.size >= 2 && slope(series) > share * offeredPerS

  /** One fixed-rate step's verdict. */
  final case class Step(datagramsPerS: Double, flowsPerS: Double,
      backlogSlope: Double, receivedRatio: Double, tail: Option[Tail],
      missed: Int, passed: Boolean)

  /** A step passes when the backlog does not grow, the UDP received ratio
    * stays within `minReceived`, no planted alert was missed and the tail
    * latency meets `latencyLimitS`. */
  def judgeStep(datagramsPerS: Double, flowsPerDatagram: Int,
      backlog: Seq[(Double, Double)], receivedRatio: Double,
      latencies: Seq[Double], missed: Int, latencyLimitS: Double,
      minReceived: Double = 0.99): Step = {
    val t = tail(latencies)
    val ok = !backlogGrows(backlog, datagramsPerS) &&
      receivedRatio >= minReceived && missed == 0 &&
      t.exists(_.value <= latencyLimitS)
    Step(datagramsPerS, datagramsPerS * flowsPerDatagram, slope(backlog),
      receivedRatio, t, missed, ok)
  }
}
