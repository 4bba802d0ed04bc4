package graft.layout

import scala.collection.mutable.ArrayBuffer
import graft.geom.{Geometry, Kde, Pt}

/** One row of the reference's per-page `component` (paragraph) table
  * (reference: server/modules/main/routils/paragraph.py:34-92): member box
  * ids, envelope edge midpoints, the bottom-NN link and walk state.
  */
final case class Para(
    members: Vector[Int],
    id: Int,
    top: Pt,
    bottom: Pt,
    right: Pt,
    left: Pt,
    bottomBox: NLink = NLink.none,
    visited: Boolean = false,
    order: Int = -1,
    col: Int = 0) {
  /** (x1, y1, x2, y2) envelope rectangle from the edge midpoints
    * (reference: pinp_utils.py:83-90). */
  def tlbr: (Double, Double, Double, Double) = (left.x, top.y, right.x, bottom.y)
}

/** A1/F5/J6/W3/W4/W5/F6: paragraph recognition, margin filtering,
  * para-in-para merging, ordering and column grouping, ported from
  * reference: routils/{paragraph,para_utils,pinp_utils,column_utils,
  * layout_filtering}.py. All per-page.
  */
object Paragraphs {

  /** A1: component envelopes → Para rows
    * (reference: paragraph.py:31-94 `recognise_paragraphs` head). The
    * reference rounds the edge midpoints with Python's round(); they are
    * the box's integer x, x2, y and y2, read as they are. An edge of -1
    * is skipped, as in the reference.
    *
    * The reference walks the word table in id order per component; min and
    * max do not depend on order, so each component visits only the words
    * of its member ids, through [[WordsById]]. */
  def envelopes(components: Seq[Vector[Int]], words: IndexedSeq[Word]): Vector[Para] = {
    if (components.isEmpty) return Vector.empty
    val byId = new WordsById(words)
    components.iterator.zipWithIndex.map { case (members, count) =>
      var l, t = Int.MaxValue
      var r, b = Int.MinValue
      val m = members.iterator
      while (m.hasNext) {
        var w = byId.last(m.next())
        while (w >= 0) {
          val box = words(w).bbox
          if (box.x != -1 && box.x < l) l = box.x
          if (box.x2 != -1 && box.x2 > r) r = box.x2
          if (box.y != -1 && box.y < t) t = box.y
          if (box.y2 != -1 && box.y2 > b) b = box.y2
          w = byId.next(w)
        }
      }
      Para(
        members = members,
        id = count,
        top = Pt((l + r) / 2.0, t.toDouble),
        bottom = Pt((l + r) / 2.0, b.toDouble),
        right = Pt(r.toDouble, (t + b) / 2.0),
        left = Pt(l.toDouble, (t + b) / 2.0))
    }.toVector
  }

  /** Word indices by id: `last(id)` is the last word with that id (-1 when
    * none), `next(k)` the word before k with the same id (-1 ends a
    * chain). Ids are non-negative. */
  private[layout] final class WordsById(words: IndexedSeq[Word]) {
    private val head = Array.fill(if (words.isEmpty) 0 else words.iterator.map(_.id).max + 1)(-1)
    val next = new Array[Int](words.length)
    for (k <- words.indices) { next(k) = head(words(k).id); head(words(k).id) = k }
    def last(id: Int): Int = if (id < head.length) head(id) else -1
  }

  /** F5: margin filter — drop paragraphs in the header/footer band with
    * <10 members, or entirely inside the left/right gutter
    * (reference: para_utils.py:61-93 `ignore_margins`). */
  def ignoreMargins(paras: Seq[Para], pageW: Int, pageH: Int,
                    widthP: Double, headerP: Double, footerP: Double): Vector[Para] = {
    val topMargin = pageH * (headerP / 100.0)
    val bottomMargin = pageH * (footerP / 100.0)
    val horizontalMargin = pageW * (widthP / 100.0)
    paras.iterator.filterNot { p =>
      (p.top.y < topMargin && p.members.length < 10) ||
      (p.top.y > pageH - bottomMargin && p.members.length < 10) ||
      p.right.x < horizontalMargin ||
      p.left.x > pageW - horizontalMargin
    }.toVector
  }

  /** J5-para: mean of the 3 smallest vertical envelope-to-envelope
    * distances per paragraph (reference: para_utils.py:30-54), as a band
    * sweep over y-sorted tops and bottoms
    * ([[Neighbors.closestVertical]]). */
  def findClosestParagraphs(paras: IndexedSeq[Para]): Array[Double] = {
    val n = paras.length
    val tx, ty, bx, by = new Array[Double](n)
    for (k <- 0 until n) {
      tx(k) = paras(k).top.x; ty(k) = paras(k).top.y
      bx(k) = paras(k).bottom.x; by(k) = paras(k).bottom.y
    }
    Neighbors.closestVertical(tx, ty, bx, by)
  }

  /** J4-para: per paragraph, among candidates with dist(top_j, bottom_i)
    * < x, pick the one with the smallest |Δy| (first minimum)
    * (reference: para_utils.py:5-27 `calculate_bottombox_para`).
    *
    * The full scan keeps the lexicographic minimum of (|Δy|, j). The
    * sweep visits the y-sorted tops in increasing |Δy| and compares
    * (|Δy|, j). |Δy| is |dy| exactly (fl(a − b) = −fl(b − a)) and does not
    * decrease along a side, so a side closes when |Δy| > the best (a tie
    * may still have a lower j), or when sqrt(dy·dy) ≥ x: the distance is
    * sqrt(fl(dx·dx + dy·dy)) ≥ sqrt(fl(dy·dy)), both correctly rounded, so
    * no candidate further out passes `dist < x`. Every candidate visited
    * gets the exact distance test. */
  def calculateBottomboxPara(paras: IndexedSeq[Para], x: Double): Vector[Para] = {
    val n = paras.length
    val ty, tx = new Array[Double](n)
    for (k <- 0 until n) { ty(k) = paras(k).top.y; tx(k) = paras(k).top.x }
    val tops = new YSweep(ty)
    paras.indices.map { i =>
      val bottom = paras(i).bottom
      var bestYd = Double.MaxValue
      var bestDist = -1.0
      var bestId = -1
      tops.start(bottom.y)
      var j = tops.next()
      while (j >= 0) {
        // Pt.dist's operands: top_j − bottom_i
        val dy = ty(j) - bottom.y
        val yd = math.abs(bottom.y - ty(j))
        if (yd > bestYd || !(math.sqrt(dy * dy) < x)) tops.close()
        else if (j != i) {
          val dx = tx(j) - bottom.x
          val distance = math.sqrt(dx * dx + dy * dy)
          if (distance >= 0 && distance < x && (yd < bestYd || yd == bestYd && j < bestId)) {
            bestYd = yd; bestDist = distance; bestId = j
          }
        }
        j = tops.next()
      }
      if (bestId >= 0) paras(i).copy(bottomBox = NLink(bestDist, bestId))
      else paras(i).copy(bottomBox = NLink.none)
    }.toVector
  }

  /** The shared post-pass of pinp/pinp2: reassign ids, reset bottom links,
    * margin-filter, then x_para = min(kdeEstimate, mean) of the closest-
    * paragraph sample and recompute bottom links
    * (reference: pinp_utils.py:108-157, 307-331). */
  private def pinpPost(kept: Seq[Para], pageW: Int, pageH: Int,
                       widthP: Double, headerP: Double, footerP: Double): Vector[Para] = {
    val reIded = kept.zipWithIndex.map { case (p, k) =>
      p.copy(id = k, bottomBox = NLink.none)
    }
    val filtered = ignoreMargins(reIded, pageW, pageH, widthP, headerP, footerP)
    if (filtered.isEmpty) return Vector.empty
    val vertical = findClosestParagraphs(filtered)
    // Array.sum's additions: the first sample, then the rest in order
    var sum = vertical(0)
    var k = 1
    while (k < vertical.length) { sum += vertical(k); k += 1 }
    val xPara = math.min(Kde.kdeEstimate(vertical).toDouble, sum / vertical.length)
    calculateBottomboxPara(filtered, xPara)
  }

  /** J6 first/third pass: small components (≤ theta members) absorbed into
    * big ones containing them (strict containment or ≥85% overlap of
    * smaller) (reference: pinp_utils.py:60-173 `pinp`).
    *
    * Faithful quirks: merged flags are live during the scan; an absorber's
    * envelope is NOT extended; when no small component exists, the input is
    * returned unchanged (no margin/bottom-box recompute).
    *
    * Each big component tests only the small ones whose y-interval
    * overlaps its own ([[YIntervals]]), in ascending index order, which is
    * the full scan's order: the live flags and the absorption order stay
    * the same.
    */
  def pinp(paras0: IndexedSeq[Para], pageW: Int, pageH: Int,
           widthP: Double, headerP: Double, footerP: Double, theta: Int): Vector[Para] = {
    val n = paras0.length
    val small = (0 until n).filter(paras0(_).members.length <= theta).toArray
    if (small.isEmpty) return paras0.toVector

    val env = new Envelopes(paras0)
    val index = new YIntervals(small, env.y1, env.y2)
    val merged = new Array[Boolean](n)
    val members = paras0.map(_.members).toArray
    for (i1 <- 0 until n if paras0(i1).members.length > theta) {
      val count = index.overlapping(env.y1(i1), env.y2(i1))
      for (c <- 0 until count) {
        val i2 = index.found(c)
        if (!merged(i2) && env.inside(i1, i2, 85.0)) {
          members(i1) = members(i1) ++ members(i2)
          merged(i2) = true
        }
      }
    }
    // a component that absorbed nothing keeps its row
    val kept = (0 until n).filterNot(merged).map { i =>
      if (members(i) eq paras0(i).members) paras0(i) else paras0(i).copy(members = members(i))
    }
    pinpPost(kept, pageW, pageH, widthP, headerP, footerP)
  }

  /** J6 second pass: ANY two paragraphs at ≥10% overlap merge, the
    * absorber's envelope extended to the union — computed from the
    * absorber's ORIGINAL envelope and the LAST absorbed one (last write
    * wins, a reference quirk) (reference: pinp_utils.py:247-331 `pinp2`).
    *
    * As in [[pinp]], each paragraph tests only the ones whose original
    * y-interval overlaps its own, in ascending index order, so the live
    * merged flags and the last absorbed envelope are the full scan's.
    */
  def pinp2(paras0: IndexedSeq[Para], pageW: Int, pageH: Int,
            widthP: Double, headerP: Double, footerP: Double, theta: Int): Vector[Para] = {
    val n = paras0.length
    val paras = paras0.toArray
    // live merged flags are tracked here; envelope snapshots for the
    // overlap tests come from the ORIGINAL rows (pandas iterrows copies)
    val mergedLive = new Array[Boolean](n)
    val env = new Envelopes(paras0)
    val index = new YIntervals(Array.range(0, n), env.y1, env.y2)
    // a paragraph that absorbs nothing keeps its row
    for (i1 <- 0 until n if !mergedLive(i1)) {
      val count = index.overlapping(env.y1(i1), env.y2(i1))
      for (c <- 0 until count) {
        val i2 = index.found(c)
        if (i1 != i2 && !mergedLive(i2) && env.inside(i1, i2, 10.0)) {
          mergedLive(i2) = true
          val x1 = math.min(env.x1(i1), env.x1(i2)); val x2 = math.max(env.x2(i1), env.x2(i2))
          val y1 = math.min(env.y1(i1), env.y1(i2)); val y2 = math.max(env.y2(i1), env.y2(i2))
          paras(i1) = paras(i1).copy(
            members = paras(i1).members ++ paras0(i2).members,
            top = Pt(x1 + (x2 - x1) / 2.0, y1),
            bottom = Pt(x1 + (x2 - x1) / 2.0, y2),
            left = Pt(x1, y1 + (y2 - y1) / 2.0),
            right = Pt(x2, y1 + (y2 - y1) / 2.0))
        }
      }
    }
    val kept = (0 until n).filterNot(mergedLive).map(paras(_))
    pinpPost(kept, pageW, pageH, widthP, headerP, footerP)
  }

  /** The (x1, y1, x2, y2) envelope rectangles of a pinp pass's input,
    * which the pass never changes. */
  private final class Envelopes(paras: IndexedSeq[Para]) {
    val x1, y1, x2, y2 = new Array[Double](paras.length)
    for (k <- paras.indices) {
      x1(k) = paras(k).left.x; y1(k) = paras(k).top.y
      x2(k) = paras(k).right.x; y2(k) = paras(k).bottom.y
    }
    def inside(large: Int, small: Int, thresholdPct: Double): Boolean =
      Geometry.isBoxInside8(x1(large), y1(large), x2(large), y2(large),
        x1(small), y1(small), x2(small), y2(small), thresholdPct)
  }

  /** The candidate index of the pinp passes. `isBoxInside8(l, s, t)` with
    * t > 0 (both passes use 85 or 10) can hold only when the y-intervals
    * [min(y1, y2), max(y1, y2)] of l and s overlap strictly:
    * min_s < max_l && max_s > min_l.
    *
    *  - Strict containment: l.y1 < s.y1 gives max_s ≥ s.y1 > l.y1 ≥ min_l,
    *    and s.y2 < l.y2 gives min_s ≤ s.y2 < l.y2 ≤ max_l. This holds for
    *    inverted and zero-height envelopes too.
    *  - Overlap ratio: overlap / smallArea · 100 ≥ t > 0 needs overlap ≠ 0
    *    (0 over any area is 0, −0 or NaN), so fl(oy2 − oy1) > 0, so
    *    min(l.y2, s.y2) > max(l.y1, s.y1). Then both envelopes are upright
    *    with s.y1 < l.y2 and s.y2 > l.y1, the same two inequalities.
    *
    * The test is symmetric, so one index answers for either role. Members
    * are sorted by lower end, with each subtree's greatest upper end kept
    * at its midpoint (an implicit interval tree); a query lists the
    * overlapping members in ascending index order, the order the full
    * scans visit them. NaN ends overlap nothing and are left out. */
  private final class YIntervals(members: Array[Int], y1: Array[Double], y2: Array[Double]) {
    private val low = new Array[Double](members.length)
    for (k <- members.indices) low(k) = math.min(y1(members(k)), y2(members(k)))
    private val byLow = Neighbors.sortedIndices(low)
    private val id = new Array[Int](byLow.length)
    private val lo, hi, subMax = new Array[Double](byLow.length)
    for (k <- byLow.indices) {
      id(k) = members(byLow(k))
      lo(k) = low(byLow(k))
      hi(k) = math.max(y1(id(k)), y2(id(k)))
    }
    build(0, id.length)
    private var buf = new Array[Int](16)

    /** The c-th member the last [[overlapping]] listed, ascending. */
    def found(c: Int): Int = buf(c)

    private def build(l: Int, r: Int): Double =
      if (l >= r) Double.NegativeInfinity
      else {
        val m = (l + r) >>> 1
        val s = math.max(hi(m), math.max(build(l, m), build(m + 1, r)))
        subMax(m) = s
        s
      }

    /** Lists the members overlapping the interval of (a, b) for
      * [[found]] and returns their count. */
    def overlapping(a: Double, b: Double): Int = {
      val count = collect(0, id.length, math.min(a, b), math.max(a, b), 0)
      java.util.Arrays.sort(buf, 0, count)
      count
    }

    private def collect(l: Int, r: Int, a: Double, b: Double, count0: Int): Int = {
      var count = count0
      if (l < r) {
        val m = (l + r) >>> 1
        if (subMax(m) > a) {
          count = collect(l, m, a, b, count)
          if (lo(m) < b) {
            if (hi(m) > a) {
              if (count == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * count)
              buf(count) = id(m)
              count += 1
            }
            count = collect(m + 1, r, a, b, count)
          }
        }
      }
      count
    }
  }

  /** W3: greedy paragraph order walk — seed at the paragraph whose Top
    * midpoint is closest to the page origin, follow bottom-NN links,
    * re-seed when a chain dies; at most n iterations
    * (reference: paragraph.py:197-228 `paragraph_order`,
    * dist_utils.py:36-45 `minimum_euclidean`, para_utils.py:95-99
    * `get_next`).
    *
    * The reference re-seeds by scanning every unvisited paragraph for the
    * first least hypot(top). Here the paragraphs are sorted once by
    * (hypot, index), leaving out NaN and +∞, which the strict `<` against
    * +∞ never picks; a re-seed moves a cursor forward past the visited
    * ones. */
  def paragraphOrder(paras0: IndexedSeq[Para]): Vector[Para] = {
    val n = paras0.length
    val visited = new Array[Boolean](n)
    val orderOf = Array.fill(n)(-1)
    val hyp = new Array[Double](n)
    for (i <- 0 until n) {
      val d = math.hypot(paras0(i).top.x, paras0(i).top.y)
      hyp(i) = if (d < Double.PositiveInfinity) d else Double.NaN
    }
    val seeds = Neighbors.sortedIndices(hyp)
    var cursor = 0
    def minimumEuclidean: Int = {
      while (cursor < seeds.length && visited(seeds(cursor))) cursor += 1
      if (cursor < seeds.length) seeds(cursor) else -1
    }
    var unvisited = n
    var order = 0
    var minIdx = minimumEuclidean
    var iter = 0
    while (iter < n && unvisited > 0 && minIdx != -1) {
      if (!visited(minIdx)) {
        visited(minIdx) = true
        orderOf(minIdx) = order
        order += 1
        unvisited -= 1
      }
      val next = paras0(minIdx).bottomBox
      minIdx = if (!next.isNone) next.id else minimumEuclidean
      iter += 1
    }
    paras0.indices.map(i => paras0(i).copy(visited = visited(i), order = orderOf(i))).toVector
  }

  /** W4: top-down/left-right paragraph sort — stable x-sort, split into
    * vertical columns at gaps ≥ mean width, y-sort within each, then
    * sequential orders matched back by ceil'd (x, y)
    * (reference: paragraph.py:340-412 `get_paragraph_order`). */
  def getParagraphOrder(paras0: IndexedSeq[Para]): Vector[Para] = {
    if (paras0.isEmpty) return Vector.empty
    val paras = ArrayBuffer.from(paras0)
    val tlbr = paras0.map(_.tlbr).toVector
    val sortedX = tlbr.sortBy(_._1)
    val meanWidth = sortedX.map(b => b._3 - b._1).sum / sortedX.length
    var currentVert = sortedX.head._1
    val vertLines = ArrayBuffer.empty[ArrayBuffer[(Double, Double, Double, Double)]]
    var temp = ArrayBuffer.empty[(Double, Double, Double, Double)]
    for (box <- sortedX) {
      if (box._1 >= currentVert + meanWidth) {
        vertLines += temp
        temp = ArrayBuffer(box)
        currentVert = box._1
      } else temp += box
    }
    vertLines += temp
    val columns = vertLines.map(_.sortBy(_._2))
    var order = 0
    for (line <- columns; box <- line; idx <- paras.indices) {
      val p = paras(idx)
      if (math.ceil(p.left.x) == math.ceil(box._1) &&
          math.ceil(p.top.y) == math.ceil(box._2)) {
        paras(idx) = p.copy(order = order)
        order += 1
      }
    }
    paras.toVector
  }

  /** W5: column grouping of ordered paragraphs — consecutive paragraphs
    * share a column while bottom_i < top_{i+1} and the gap < 200
    * (reference: column_utils.py:135-161 `get_col`). Input is re-sorted by
    * (Order, Id) as the reference's groupby-concat does. */
  def getCol(paras0: IndexedSeq[Para]): Vector[Para] = {
    if (paras0.isEmpty) return Vector.empty
    val sorted = ArrayBuffer.from(paras0.sortBy(p => (p.order, p.id)))
    var colN = 0
    for (i <- sorted.indices) sorted(i) = sorted(i).copy(col = 0)
    for (i <- 0 until sorted.length - 1) {
      val dist = math.abs(sorted(i).bottom.y - sorted(i + 1).top.y)
      if (sorted(i).bottom.y < sorted(i + 1).top.y && dist < 200) {
        sorted(i) = sorted(i).copy(col = colN)
        sorted(i + 1) = sorted(i + 1).copy(col = colN)
      } else {
        colN += 1
        sorted(i + 1) = sorted(i + 1).copy(col = colN)
      }
    }
    sorted.toVector
  }

  /** W5-alt: `column_order` — the W3 walk with order incremented only on
    * re-seed, so each chain shares one column id
    * (reference: column_utils.py:8-26). A link to an already-visited
    * paragraph re-seeds at once: every successor of a visited paragraph
    * is visited, so the reference's walk on from there changes nothing
    * until its chain ends and re-seeds — or, on a cycle, never returns. */
  def columnOrder(paras0: IndexedSeq[Para]): Vector[Para] = {
    val paras = ArrayBuffer.from(paras0.map(_.copy(visited = false, order = -1)))
    def minimumEuclidean: Int = {
      var best = Double.PositiveInfinity
      var minIdx = -1
      for (i <- paras.indices if !paras(i).visited) {
        val d = math.hypot(paras(i).top.x, paras(i).top.y)
        if (d < best) { best = d; minIdx = i }
      }
      minIdx
    }
    var order = 0
    var minIdx = minimumEuclidean
    // minIdx is always unvisited here, and -1 once every paragraph is visited
    while (minIdx != -1) {
      paras(minIdx) = paras(minIdx).copy(visited = true, order = order)
      val next = paras(minIdx).bottomBox
      if (!next.isNone && !paras(next.id).visited) minIdx = next.id
      else { minIdx = minimumEuclidean; order += 1 }
    }
    paras.toVector
  }

  /** F6: drop paragraphs ≥50%-inside any figure/table/caption/formula/
    * advertisement zone (reference: layout_filtering.py:100-129
    * `filter_layouts_direct`). Zone rectangles are (x1, y1, x2, y2). */
  def filterLayouts(paras: Seq[Para],
                    zones: Map[String, Seq[(Double, Double, Double, Double)]]): Vector[Para] = {
    val classes = Set("figure", "table", "caption", "formula", "advertisement")
    paras.iterator.filterNot { p =>
      zones.exists { case (key, values) =>
        classes.contains(key) && values.exists(z => Geometry.isBoxInside(z, p.tlbr, 50.0))
      }
    }.toVector
  }
}
