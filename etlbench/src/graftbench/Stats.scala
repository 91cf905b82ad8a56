package graftbench

/** The benchmark's own arithmetic: order statistics over latency samples,
  * interval unions over concurrent Spark jobs, and span self time. Kept
  * free of Spark so `SelfTest` can pin every rule on hand-made inputs.
  */
object Stats {

  /** Median: middle sample, or the mean of the middle two. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail a sample supports: the highest percentile that still has at
    * least `beyond` samples above it. With `n` sorted samples that is the
    * sample at 0-based rank `n - beyond - 1`, labelled with the share of
    * samples at or below it, rounded down to a whole percentile. Fewer than
    * `beyond + 1` samples support no tail.
    */
  final case class Tail(value: Double, percentile: Int, samples: Int, beyond: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (n < beyond + 1) None
    else {
      val rank = n - beyond - 1
      Some(Tail(xs.sorted.apply(rank), (100L * (rank + 1) / n).toInt, n, beyond))
    }
  }

  /** Merge possibly overlapping closed intervals into disjoint ones. */
  def union(intervals: Seq[(Double, Double)]): Seq[(Double, Double)] =
    intervals.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Double, Double)]) {
        case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse

  /** Total length covered by the intervals, each overlap counted once. */
  def covered(intervals: Seq[(Double, Double)]): Double =
    union(intervals).map { case (a, b) => b - a }.sum

  /** Length of `[start, end]` covered by no interval of `children`
    * (children are clipped to the span first). A parent's self time.
    */
  def uncovered(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - covered(children.map { case (a, b) =>
      (math.max(a, start), math.min(b, end)) })
}
