package graft.graph

/**
 * The library's JVM intersection kernel over SORTED long arrays
 * (adjacency lists, same-community neighbor ids) — every RDD-side
 * triangle count, triangle listing and apex enumeration runs on it.
 * The Catalyst `SortedIntersectCount` expression is its DataFrame
 * twin.
 *
 * Skew-adaptive: balanced pairs take the two-pointer merge scan,
 * O(|a| + |b|); pairs whose sizes differ by more than 16x gallop —
 * scan the SMALLER array and advance in the larger by doubling probes
 * plus a binary search, O(min * log max). On a degree-D hub the merge
 * scan pays O(D) per incident edge, O(D²) per hub; galloping pays
 * O(deg(leaf) * log D) per edge. This is the leapfrog step of
 * worst-case-optimal joins. Both branches find the same commons.
 */
object SortedIntersect {

  /** Visits every common element of two sorted arrays, in ascending
   * order, exactly as the classic merge scan does (with duplicates,
   * the visit count is the merge-pairing count). */
  def visitCommons(a: Array[Long], b: Array[Long])(visit: Long => Unit): Unit =
    scan(a, b, visit)

  /** Number of common elements of two sorted arrays. */
  def count(a: Array[Long], b: Array[Long]): Int = scan(a, b, null)

  /** The common elements of two sorted arrays, ascending. */
  def commons(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = Array.newBuilder[Long]
    scan(a, b, out += _)
    out.result()
  }

  /** The one loop: counts the commons and hands each to `visit`
   * unless it is null. */
  private def scan(sa: Array[Long], sb: Array[Long], visit: Long => Unit): Int = {
    val swap = sa.length > sb.length
    val a = if (swap) sb else sa
    val b = if (swap) sa else sb
    var c = 0
    if (a.length.toLong * 16 < b.length) {
      var i = 0; var lo = 0
      while (i < a.length && lo < b.length) {
        val x = a(i)
        // doubling probe from lo, then binary search the window
        var step = 1; var hi = lo
        while (hi < b.length && b(hi) < x) { lo = hi + 1; hi = lo + step - 1; step *= 2 }
        if (hi >= b.length) hi = b.length - 1
        // invariant: b(lo-1) < x (if lo > 0); answer position in [lo, hi]
        var l = lo; var h = hi
        while (l < h) {
          val m = (l + h) >>> 1
          if (b(m) < x) l = m + 1 else h = m
        }
        if (l < b.length && b(l) == x) {
          c += 1
          if (visit ne null) visit(x)
          lo = l + 1
        } else lo = l
        i += 1
      }
    } else {
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        val x = a(i); val y = b(j)
        if (x == y) {
          c += 1
          if (visit ne null) visit(x)
          i += 1; j += 1
        } else if (x < y) i += 1 else j += 1
      }
    }
    c
  }
}
