package graftbench

/** Interval arithmetic behind the span self times: a span's self time is
  * its duration minus the part of it that its children cover, and the
  * children may overlap each other (concurrent Spark jobs). */
object Intervals {

  /** Total length covered by `iv` (half-open [start, end) pairs; empty or
    * inverted pairs cover nothing). Overlaps count once. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    val sorted = iv.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of [start, end) that none of `children` covers; children are
    * clipped to the parent first, so a child that outlives its parent
    * (an event delivered late) cannot make self time negative. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    math.max(0L, (end - start) - unionLength(clipped))
  }
}
