package graftbench

/** The benchmark's arithmetic, kept free of Spark so it can be tested on
  * its own (StatsSpec). */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Total length covered by a set of [start, end) intervals, overlaps
    * counted once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (children clipped to the parent, overlaps once). */
  def selfTime(parent: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (ps, pe) = parent
    val clipped = children.map { case (a, b) => (math.max(a, ps), math.min(b, pe)) }
    (pe - ps) - unionLength(clipped)
  }

  /** Splits a wall time into planning, eager jobs (run while the plan is
    * built), executor-active time and the rest, the floor. Parts are
    * taken in that order and each is capped by what the earlier parts
    * left, so the four always sum to the wall and none is negative. */
  final case class Split(plan: Double, eager: Double, exec: Double, floor: Double)

  def floorSplit(wall: Double, plan: Double, eager: Double, exec: Double): Split = {
    val p = math.min(math.max(plan, 0.0), wall)
    val e = math.min(math.max(eager, 0.0), wall - p)
    val x = math.min(math.max(exec, 0.0), wall - p - e)
    Split(p, e, x, wall - p - e - x)
  }
}
