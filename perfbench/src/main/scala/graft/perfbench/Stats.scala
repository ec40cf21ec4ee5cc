package graft.perfbench

/** Order statistics, the tail rule, interval arithmetic and the two
  * ratios whose bases the README fixes. Pure functions, so the suite
  * pins each definition without a Spark session. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (the default of
    * numpy and of Python's `statistics.quantiles(method="inclusive")`).
    * NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  /** The highest percentile of a sample that still has at least
    * `MinBeyond` samples above it, picked from a fixed ladder so that
    * small changes in the sample count do not move the percentile.
    * When even the median has fewer beyond it, the sample supports no
    * tail: percentile and value are NaN (reported as null). */
  final case class Tail(percentile: Double, value: Double, n: Int,
      beyond: Int) {
    def supported: Boolean = !value.isNaN
    def note: String =
      if (supported) s"p$percentile, n=$n, beyond=$beyond"
      else s"n=$n: no percentile has $MinBeyond samples beyond it, so no tail"
  }

  val MinBeyond = 10
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** 0-based nearest-rank index of percentile `p` in a sorted sample
    * of `n`: the smallest value with at least p % of the sample at or
    * below it. */
  def rankIndex(n: Int, p: Double): Int =
    math.max(0, math.ceil(p / 100.0 * n - 1e-9).toInt - 1)

  def beyond(n: Int, p: Double): Int = n - 1 - rankIndex(n, p)

  def tail(xs: Seq[Double]): Tail = {
    val n = xs.size
    Ladder.find(p => beyond(n, p) >= MinBeyond) match {
      case Some(p) =>
        val i = rankIndex(n, p)
        Tail(p, xs.sorted.apply(i), n, n - 1 - i)
      case None => Tail(Double.NaN, Double.NaN, n, 0)
    }
  }

  /** Length of the union of half-open intervals `[start, end)`. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover (children clipped to the
    * parent, overlaps between children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val byParent = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> ((s.end - s.start) - unionLength(kids))
    }.toMap
  }

  /** Self time summed per layer (see [[Span.layer]]). */
  def layerSelfTimes(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** Bytes stored under the table directories per byte of the same
    * live rows written once as plain parquet. */
  def spaceAmp(storedBytes: Long, liveParquetBytes: Long): Double = {
    require(liveParquetBytes > 0, "space_amp needs a non-empty live set")
    storedBytes.toDouble / liveParquetBytes
  }

  /** Files the stats pruning skipped per file the planner considered:
    * skipped ÷ (planned + skipped). 0 when no file was considered. */
  def skipRatio(planned: Long, skipped: Long): Double =
    if (planned + skipped == 0) 0.0 else skipped.toDouble / (planned + skipped)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
