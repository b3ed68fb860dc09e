package graft.perfbench

/** The benchmark's statistics, kept free of Spark so they are unit
  * checked on their own (SelfCheck).
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail: the highest percentile that still has at least `beyond`
    * samples above it. Returns (value, percentile, sample count), or
    * None when there are too few samples to name any tail.
    */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val s = xs.sorted
    val i = s.size - beyond - 1
    if (i < 0) None else Some(Tail(s(i), 100.0 * (i + 1) / s.size, s.size))
  }

  /** Length of the part of [from, until) that no interval covers. The
    * intervals may overlap each other and stick out of the window.
    */
  def uncovered(from: Long, until: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, until)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    (until - from) - covered
  }

  /** A traced span: `depth` 0 is an operation, deeper spans are the
    * layer calls inside it, in start order.
    */
  final case class Span(layer: String, op: Int, start: Long, end: Long, depth: Int) {
    def dur: Long = end - start
  }

  /** Self time of each span: its duration minus the time covered by
    * its direct children (children may overlap one another).
    */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Long)] = {
    val ordered = spans.sortBy(s => (s.op, s.start, s.depth))
    ordered.indices.map { i =>
      val p = ordered(i)
      val kids = ordered.drop(i + 1).takeWhile(c => c.op == p.op && c.start < p.end)
        .filter(c => c.depth == p.depth + 1 && c.end <= p.end)
      p -> uncovered(p.start, p.end, kids.map(k => (k.start, k.end)))
    }
  }

  /** Relative least-squares slope of a series over its index, per the
    * whole series: -0.2 means the fitted line falls by 20% of the
    * median from the first sample to the last.
    */
  def relativeTrend(xs: Seq[Double]): Double = {
    val n = xs.size
    if (n < 3) return 0.0
    val mx = (n - 1) / 2.0
    val my = xs.sum / n
    val num = xs.indices.map(i => (i - mx) * (xs(i) - my)).sum
    val den = xs.indices.map(i => (i - mx) * (i - mx)).sum
    num / den * (n - 1) / median(xs)
  }

  /** Warm-up stop rule: passes have stopped falling once each of the
    * last two passes is no faster than 95% of the best pass before them.
    */
  def levelled(passes: Seq[Double]): Boolean =
    passes.size >= 3 && passes.takeRight(2).forall(_ >= 0.95 * passes.dropRight(2).min)
}
