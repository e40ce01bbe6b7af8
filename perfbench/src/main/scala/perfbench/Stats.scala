package perfbench

/** Order statistics for latency samples. */
object Stats {
  /** Fewest samples that must lie above a reported percentile. */
  val MinBeyond = 10

  /** True median (an even count averages the two middle samples). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Geometric mean: every op moves it by its relative change, so a round
    * of a dozen ops whose latencies span an order of magnitude still gives
    * a steady typical latency (TPC-H's power metric uses it for the same
    * reason), where the median of so few samples jumps between ops.
    */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Nearest-rank percentile `q` (0 < q < 1), refused (None) when fewer
    * than [[MinBeyond]] samples lie above it: a p90 over 40 samples is
    * the fourth-slowest op, not a tail.
    */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"percentile must be in (0, 1), got $q")
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val rank = math.max(1, math.ceil(q * s.length).toInt)
      if (s.length - rank >= MinBeyond) Some(s(rank - 1)) else None
    }
  }

  /** Samples needed before `percentile(_, q)` is reported. */
  def samplesNeeded(q: Double): Int =
    Iterator.from(1).find(n => n - math.max(1, math.ceil(q * n).toInt) >= MinBeyond).get
}

/** Attempted/failed op counter. An op fails when it throws, when its
  * result fingerprint differs from the expected one, or when a
  * transaction check fails; each failure keeps its reason.
  */
final class Tally {
  private var attempted0 = 0L
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def attempted: Long = attempted0
  def failed: Long = failures.size.toLong
  def reasons: Seq[String] = failures.toSeq
  def failedFrac: Double = if (attempted0 == 0) 0.0 else failed.toDouble / attempted0

  /** Records one attempt; `problem` is None for a success. */
  def record(op: String, problem: Option[String]): Unit = {
    attempted0 += 1
    problem.foreach(p => failures += s"$op: $p")
  }
}
