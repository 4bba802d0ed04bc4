package graft.layout

import graft.geom.BBox

/** F4/J4/J5: edge-midpoint projections, kNN distance sampling and the
  * 4-direction nearest-neighbour join
  * (reference: server/modules/main/routils/neighbor_utils.py).
  *
  * NOTE on naming: the reference's `Right_Box` of box i minimises
  * dist(leftMid_i, rightMid_j) — i.e. it actually links to the box on the
  * LEFT — and symmetrically for the others
  * (neighbor_utils.py:219-291). The names are kept verbatim so the walks
  * (word_order) behave identically.
  *
  * The reference compares every pair of boxes. Here each join is a band
  * join over y-sorted midpoints ([[YSweep]]): a query visits candidates
  * outward from its own y and closes a side once the y gap alone rules
  * out everything beyond it. Each sweep returns exactly what the full
  * scan returns — the same doubles, the same ids — because:
  *
  *  - dx, dy and d = dx·dx + dy·dy are computed with the same operands in
  *    the same order as the full scan. IEEE round-to-nearest is monotone
  *    and the JVM never fuses a multiply-add, so along one side of the
  *    sorted order fl(q − y) is monotone in y, |dy| never decreases, and
  *    fl(dy·dy) never decreases either.
  *  - fl(fl(dx·dx) + fl(dy·dy)) ≥ fl(dy·dy), since dx·dx ≥ 0. So once
  *    dy·dy passes a bound, every candidate further out on that side has
  *    d past it too. A bound only tightens while a query runs, so a
  *    closed side stays closed.
  *  - A NaN or infinite coordinate makes d NaN or +∞, which no scan keeps;
  *    [[sortedIndices]] leaves NaN keys out. Every caller's coordinates
  *    are finite: BBox is Int-valued, and paragraph points are built from
  *    BBox edges.
  *
  * Each join's scaladoc gives its stop rule and why ties survive it.
  */
object Neighbors {

  /** J5: per box, mean of the 3 smallest horizontal / vertical
    * edge-to-edge distances to any other box — the KDE threshold sample
    * (reference: neighbor_utils.py:101-138 `find_closest_neighbors`).
    * Fewer than 3 neighbours still divide by 3, like the reference's
    * `sum(d[:3])/3`.
    *
    * A box's left and right midpoints share one y double, so one y-sorted
    * family serves both horizontal pairs. */
  def findClosestNeighbors(boxes: IndexedSeq[BBox]): (Array[Double], Array[Double]) = {
    val m = new Mids(boxes)
    val h = new YSweep(m.ry)
    (meanOf3Closest(m.lx, m.ly, h, m.rx, m.rx, m.ry, h, m.lx),
     closestVertical(m.tx, m.ty, m.bx, m.by))
  }

  /** The vertical sample: per i, the mean of the 3 smallest distances
    * (bottom_i, top_j) and (top_i, bottom_j) over j ≠ i. Shared by
    * [[findClosestNeighbors]] and [[Paragraphs.findClosestParagraphs]]. */
  private[layout] def closestVertical(tx: Array[Double], ty: Array[Double],
                                      bx: Array[Double], by: Array[Double]): Array[Double] = {
    val tops = new YSweep(ty)
    val bottoms = new YSweep(by)
    meanOf3Closest(bx, by, tops, tx, tx, ty, bottoms, bx)
  }

  /** Per i, the sum of the square roots of the 3 smallest of
    * d(query1_i, family1_j) and d(query2_i, family2_j) over j ≠ i, over 3;
    * a family is its sweep's ys with the x array `fx`.
    *
    * Both sweeps feed one [[Smallest3]]; a side closes when dy·dy ≥ its
    * third-smallest. Such a d is never inserted (insertion is strict), and
    * the selector keeps a multiset of three, which offer order cannot
    * change. */
  private def meanOf3Closest(q1x: Array[Double], q1y: Array[Double], f1: YSweep, f1x: Array[Double],
                             q2x: Array[Double], q2y: Array[Double], f2: YSweep, f2x: Array[Double])
      : Array[Double] = {
    val out = new Array[Double](q1x.length)
    val sel = new Smallest3
    for (i <- out.indices) {
      sel.reset()
      sel.offerAll(f1, f1x, i, q1x(i), q1y(i))
      sel.offerAll(f2, f2x, i, q2x(i), q2y(i))
      out(i) = sel.sumSqrt / 3.0
    }
    out
  }

  /** Streaming 3-smallest selector (sum of up to 3 smallest / 3, like the
    * reference's `sum(sorted[:3])/3`). A slot still at Double.MaxValue
    * holds nothing: insertion is strict, so MaxValue is never stored. */
  private final class Smallest3 {
    private var d0, d1, d2 = Double.MaxValue
    def reset(): Unit = { d0 = Double.MaxValue; d1 = Double.MaxValue; d2 = Double.MaxValue }
    def offer(d: Double): Unit =
      if (d < d2) { if (d < d1) { d2 = d1; if (d < d0) { d1 = d0; d0 = d } else d1 = d } else d2 = d }

    /** Offers d((qx, qy), family_j) for every j ≠ i that could still be
      * inserted. */
    def offerAll(f: YSweep, fx: Array[Double], i: Int, qx: Double, qy: Double): Unit = {
      f.start(qy)
      var j = f.next()
      while (j >= 0) {
        val dy = qy - f.ys(j)
        val dy2 = dy * dy
        if (dy2 >= d2) f.close()
        else if (j != i) { val dx = qx - fx(j); offer(dx * dx + dy2) }
        j = f.next()
      }
    }

    def sumSqrt: Double = {
      var s = 0.0
      if (d0 != Double.MaxValue) s += math.sqrt(d0)
      if (d1 != Double.MaxValue) s += math.sqrt(d1)
      if (d2 != Double.MaxValue) s += math.sqrt(d2)
      s
    }
  }

  /** J4: the four k=1 NN links. Threshold inclusivity matches the
    * reference exactly: Right uses d ≤ x (neighbor_utils.py:227), the
    * other three use d < threshold (…:246,264,282); Right/Left also
    * require the edge-midpoint Δy < 20. argmin = first minimum. */
  def fourDirectionLinks(boxes: IndexedSeq[BBox], x: Double, y: Double)
      : (Array[NLink], Array[NLink], Array[NLink], Array[NLink]) = {
    val n = boxes.length
    val m = new Mids(boxes)
    val h = new YSweep(m.ry)
    val tops = new YSweep(m.ty)
    val bottoms = new YSweep(m.by)
    // squared-threshold comparisons (d <= x  <=>  d^2 <= x^2 for d,x >= 0)
    val x2t = x * x
    val y2t = y * y
    (Array.tabulate(n)(i => nearest(h, m.rx, i, m.lx(i), m.ly(i), x2t, inclusive = true, banded = true)),
     Array.tabulate(n)(i => nearest(h, m.lx, i, m.rx(i), m.ry(i), x2t, inclusive = false, banded = true)),
     Array.tabulate(n)(i => nearest(tops, m.tx, i, m.bx(i), m.by(i), y2t, inclusive = false, banded = false)),
     Array.tabulate(n)(i => nearest(bottoms, m.bx, i, m.tx(i), m.ty(i), y2t, inclusive = false, banded = false)))
  }

  /** The link of (qx, qy) = a midpoint of box i: the least d to a family
    * member j ≠ i with d < limit² (≤ when `inclusive`) and, when `banded`,
    * |dy| < 20 — a box's left and right midpoints share one y double, so
    * that |dy| is the reference's Δy.
    *
    * The full scan keeps the first j at the least d, i.e. the
    * lexicographic minimum of (d, j), which any visiting order finds by
    * comparing (d, j). A side closes when dy·dy > min(limit², best), or
    * when |dy| ≥ 20 if banded. The stop is strict, so a candidate at the
    * best distance with a lower index is still visited. */
  private def nearest(f: YSweep, fx: Array[Double], i: Int, qx: Double, qy: Double,
                      limit2: Double, inclusive: Boolean, banded: Boolean): NLink = {
    var best = Double.MaxValue
    var id = -1
    f.start(qy)
    var j = f.next()
    while (j >= 0) {
      val dy = qy - f.ys(j)
      val dy2 = dy * dy
      if (dy2 > math.min(limit2, best) || banded && !(math.abs(dy) < 20)) f.close()
      else if (j != i) {
        val dx = qx - fx(j)
        val d = dx * dx + dy2
        if ((d < limit2 || inclusive && d == limit2) && (d < best || d == best && j < id)) {
          best = d; id = j
        }
      }
      j = f.next()
    }
    if (id >= 0) NLink(math.sqrt(best), id) else NLink.none
  }

  /** Connected components of the undirected 4-direction NN graph —
    * paragraphs (reference: routils/generate_graph_utils.py:4-28 +
    * paragraph.py:15-22). Components ordered by smallest member id,
    * members ascending. */
  def connectedComponents(n: Int, links: Seq[Array[NLink]]): Vector[Vector[Int]] = {
    val uf = new graft.geom.UnionFind(n)
    for (dir <- links; i <- 0 until n) {
      val l = dir(i)
      if (!l.isNone) uf.union(i, l.id)
    }
    uf.toGroups
  }

  /** The four edge midpoints of every box, as primitive arrays. */
  private final class Mids(boxes: IndexedSeq[BBox]) {
    val lx, ly, rx, ry, tx, ty, bx, by = new Array[Double](boxes.length)
    for (k <- boxes.indices) {
      val b = boxes(k)
      lx(k) = b.leftMid.x; ly(k) = b.leftMid.y
      rx(k) = b.rightMid.x; ry(k) = b.rightMid.y
      tx(k) = b.topMid.x; ty(k) = b.topMid.y
      bx(k) = b.bottomMid.x; by(k) = b.bottomMid.y
    }
  }

  /** The indices of the non-NaN `key`s in ascending (key, index) order,
    * with −0.0 equal to 0.0 as `<` has it: a stable bottom-up merge sort
    * on primitive arrays. */
  private[layout] def sortedIndices(key: Array[Double]): Array[Int] = {
    var a = new Array[Int](key.length)
    var n = 0
    var k = 0
    while (k < key.length) { if (!key(k).isNaN) { a(n) = k; n += 1 }; k += 1 }
    if (n < a.length) a = java.util.Arrays.copyOf(a, n)
    var b = new Array[Int](n)
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var l = lo
        var r = mid
        var o = lo
        while (o < hi) {
          if (l < mid && (r >= hi || !(key(a(r)) < key(a(l))))) { b(o) = a(l); l += 1 }
          else { b(o) = a(r); r += 1 }
          o += 1
        }
        lo = hi
      }
      val t = a; a = b; b = t
      width *= 2
    }
    a
  }
}

/** One midpoint family sorted by y, for the band sweeps of [[Neighbors]]
  * and [[Paragraphs]]. A query [[start]]s at its own y and visits the
  * family outward, the nearer side first: below the split lie the ys
  * < q, so fl(q − y) is positive and grows walking down; from the split
  * up lie the ys ≥ q, so fl(q − y) is ≤ 0 and falls walking up. The
  * caller [[close]]s a side once its y gap rules out every item beyond;
  * the visiting order decides nothing else. NaN ys are left out. */
private[layout] final class YSweep(val ys: Array[Double]) {
  private val id = Neighbors.sortedIndices(ys)
  private var q = 0.0
  private var lo, hi = 0
  private var lastHi = false

  def start(qy: Double): Unit = {
    q = qy
    // split: the number of ys < q
    var l = 0
    var r = id.length
    while (l < r) {
      val mid = (l + r) >>> 1
      if (ys(id(mid)) < qy) l = mid + 1 else r = mid
    }
    hi = l
    lo = l - 1
  }

  /** The next item on an open side, nearer side first, or -1 when both
    * sides are closed. */
  def next(): Int =
    if (hi < id.length && (lo < 0 || ys(id(hi)) - q <= q - ys(id(lo)))) { lastHi = true; hi += 1; id(hi - 1) }
    else if (lo >= 0) { lastHi = false; lo -= 1; id(lo + 1) }
    else -1

  /** Closes the side of the item [[next]] returned last. */
  def close(): Unit = if (lastHi) hi = id.length else lo = -1
}
