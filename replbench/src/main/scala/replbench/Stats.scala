package replbench

/** Pure harness arithmetic: percentiles, the tail rule, the open-loop
  * schedule and span self time. Kept free of Spark so the unit tests pin
  * it exactly. */
object Stats {

  /** Linear-interpolated percentile (R-7, the numpy/Excel default) of a
    * non-empty sample; `q` in [0, 100]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(q >= 0 && q <= 100, s"percentile $q outside [0, 100]")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * q / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly above the `q` percentile's rank in a sample of `n`. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(n * q / 100.0).toInt

  /** The tail rule: the highest of the standard percentiles that leaves at
    * least `minBeyond` samples beyond it, or None when even the median
    * does not. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    TailCandidates.find(q => beyond(n, q) >= minBeyond)

  /** A fixed-rate arrival schedule: operation `i` is due `i / ratePerS`
    * seconds after the start. */
  final case class Schedule(ratePerS: Double) {
    require(ratePerS > 0, "rate must be positive")
    def dueS(i: Long): Double = i / ratePerS
    /** How many operations have come due by `elapsedS` (0 before start). */
    def dueBy(elapsedS: Double): Long =
      if (elapsedS < 0) 0L else math.floor(elapsedS * ratePerS).toLong + 1
    /** How many operations are due strictly before `elapsedS`: those a
      * window of that length issues. */
    def dueBefore(elapsedS: Double): Long = {
      var n = math.max(0L, math.ceil(elapsedS * ratePerS).toLong)
      while (n > 0 && dueS(n - 1) >= elapsedS) n -= 1
      while (dueS(n) < elapsedS) n += 1
      n
    }
  }

  /** Open-loop validity from backlog samples taken at each loop iteration
    * (operations due but not yet started): the run is over capacity when
    * the backlog in its last third is larger than in its first third by
    * more than `slack` operations, i.e. the queue kept growing. */
  def overCapacity(backlog: Seq[Long], slack: Long): Boolean =
    if (backlog.size < 6) backlog.lastOption.exists(_ > slack)
    else {
      val k = backlog.size / 3
      val first = median(backlog.take(k).map(_.toDouble))
      val last = median(backlog.takeRight(k).map(_.toDouble))
      last - first > slack
    }

  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
      parent: Long, request: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * its direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(cs, s.startNs, s.endNs))
    }.toMap
  }
}
