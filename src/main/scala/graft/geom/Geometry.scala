package graft.geom

/** Pure geometric predicates / measures shared by the merge + paragraph
  * operators. Each function cites the reference behaviour it mirrors.
  */
object Geometry {

  /** Overlap test with the second box shrunk 10px vertically — the
    * ensemble-merge join condition
    * (reference: server/modules/main/helper.py:40-52). */
  def boxesOverlapAdjusted(b1: BBox, b2: BBox): Boolean = {
    val ay = b2.y + 10
    val ah = b2.h - 10
    b1.x < b2.x + b2.w && b1.x + b1.w > b2.x &&
    b1.y < ay + ah && b1.y + b1.h > ay
  }

  /** Intersection area; 0 when disjoint or touching
    * (reference: helper.py:171-179). */
  def intersectionArea(b1: BBox, b2: BBox): Long = {
    val xl = math.max(b1.x, b2.x)
    val yt = math.max(b1.y, b2.y)
    val xr = math.min(b1.x2, b2.x2)
    val yb = math.min(b1.y2, b2.y2)
    if (xr <= xl || yb <= yt) 0L else (xr - xl).toLong * (yb - yt).toLong
  }

  /** Strict containment OR ≥ threshold% overlap-of-smaller
    * (reference: pinp_utils.py:45-57). */
  def isBoxInside(large: (Double, Double, Double, Double),
                  small: (Double, Double, Double, Double),
                  thresholdPct: Double): Boolean =
    isBoxInside8(large._1, large._2, large._3, large._4,
      small._1, small._2, small._3, small._4, thresholdPct)

  /** Allocation-free form for the O(n²) pinp scans. */
  def isBoxInside8(lx1: Double, ly1: Double, lx2: Double, ly2: Double,
                   sx1: Double, sy1: Double, sx2: Double, sy2: Double,
                   thresholdPct: Double): Boolean = {
    if (lx1 < sx1 && sx2 < lx2 && ly1 < sy1 && sy2 < ly2) return true
    val ox1 = math.max(lx1, sx1)
    val oy1 = math.max(ly1, sy1)
    val ox2 = math.min(lx2, sx2)
    val oy2 = math.min(ly2, sy2)
    val overlap = math.max(0.0, ox2 - ox1) * math.max(0.0, oy2 - oy1)
    val smallArea = (sx2 - sx1) * (sy2 - sy1)
    overlap / smallArea * 100.0 >= thresholdPct
  }

  /** A9: grow a bbox by `padding` on all sides, clamped to the page
    * bounds (reference: server/modules/main/post_helper.py:57-79). */
  def padClamp(b: BBox, padding: Int, pageW: Int, pageH: Int): BBox = {
    val x1 = math.max(0, b.x - padding)
    val y1 = math.max(0, b.y - padding)
    val x2 = math.min(pageW, b.x2 + padding)
    val y2 = math.min(pageH, b.y2 + padding)
    BBox.fromXyxy(x1, y1, x2, y2)
  }

  /** Exact median, the reference's `calculate_median`: sort ascending, take
    * the middle element, or the mean of the two middles when even
    * (reference: routils/new_read_order.py:74-80). */
  def exactMedian(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 0) (s(n / 2) + s(n / 2 - 1)) / 2.0 else s(n / 2)
  }
}
