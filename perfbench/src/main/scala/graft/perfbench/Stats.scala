package graft.perfbench

/** The benchmark's arithmetic, kept free of Spark so it can be tested
  * on its own.
  */
object Stats {

  /** A tail reading: the value at percentile `pct` of `n` samples. */
  final case class Tail(pct: Int, value: Double, n: Int)

  /** Fewest samples a `.tail` is reported at. */
  val MinTailSamples = 20

  /** Samples a tail percentile must leave above it. */
  val SamplesAboveTail = 10

  /** Nearest-rank percentile of `sorted` (ascending), `pct` in (0, 100]. */
  def percentile(sorted: IndexedSeq[Double], pct: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    val rank = math.ceil(pct / 100.0 * sorted.size).toInt
    sorted(math.min(sorted.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest whole percentile that still has at least ten samples
    * above it (by nearest rank), or None below twenty samples.
    */
  def tail(xs: Seq[Double]): Option[Tail] =
    if (xs.size < MinTailSamples) None
    else {
      val n = xs.size
      // nearest rank r = ceil(p * n / 100) must leave n - r >= 10 above
      val pct = (100L * (n - SamplesAboveTail) / n).toInt
      val rank = math.ceil(pct / 100.0 * n).toInt
      require(n - rank >= SamplesAboveTail, s"tail rule broken at n=$n")
      Some(Tail(pct, percentile(xs.sorted.toIndexedSeq, pct), n))
    }

  /** Failed ops over attempted ops. An op fails when it throws, returns
    * a wrong answer, or succeeds where an error was expected.
    */
  def failedRatio(attempted: Int, failed: Int): Double = {
    require(attempted > 0 && failed >= 0 && failed <= attempted,
      s"bad op counts: $failed failed of $attempted")
    failed.toDouble / attempted
  }

  /** Bytes under the table directory over bytes of live data files. */
  def spaceAmp(tableDirBytes: Long, liveDataBytes: Long): Double = {
    require(liveDataBytes > 0, "space amplification of an empty table")
    require(tableDirBytes >= liveDataBytes,
      s"table directory ($tableDirBytes B) holds less than its live " +
        s"files ($liveDataBytes B)")
    tableDirBytes.toDouble / liveDataBytes
  }

  /** A closed interval of time on one clock. */
  final case class Interval(start: Long, end: Long) {
    require(end >= start, s"interval ends before it starts: $start..$end")
  }

  /** Length of `parent` not covered by any of `children` (children are
    * clipped to the parent; overlaps between children count once).
    */
  def selfTime(parent: Interval, children: Seq[Interval]): Long = {
    val clipped = children
      .map(c => (math.max(c.start, parent.start), math.min(c.end, parent.end)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (parent.end - parent.start) - covered
  }
}
