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
    merged: Boolean = false,
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
    * (reference: paragraph.py:31-94 `recognise_paragraphs` head). Edge
    * midpoints are rounded half-even via Python's round() — replicated with
    * RoundingMode.HALF_EVEN.
    *
    * The reference walks the word table in id order per component; min and
    * max do not depend on order, so each component visits only the words
    * of its member ids, through an id → words index built once. */
  def envelopes(components: Seq[Vector[Int]], words: IndexedSeq[Word]): Vector[Para] = {
    if (components.isEmpty) return Vector.empty
    val maxId = if (words.isEmpty) 0 else words.iterator.map(_.id).max + 1
    // word indices by id: head(id) is the last word with that id, next(k)
    // the word before k with the same id (-1 ends a chain)
    val head = Array.fill(maxId)(-1)
    val next = new Array[Int](words.length)
    var k = 0
    while (k < words.length) { next(k) = head(words(k).id); head(words(k).id) = k; k += 1 }
    components.iterator.zipWithIndex.map { case (members, count) =>
      var l, t = Int.MaxValue
      var r, b = Int.MinValue
      for (m <- members if m < maxId) {
        var w = head(m)
        while (w >= 0) {
          val box = words(w).bbox
          val li = pyRound(box.leftMid.x)
          val ri = pyRound(box.rightMid.x)
          val ti = pyRound(box.topMid.y)
          val bi = pyRound(box.bottomMid.y)
          if (li != -1 && li < l) l = li
          if (ri != -1 && ri > r) r = ri
          if (ti != -1 && ti < t) t = ti
          if (bi != -1 && bi > b) b = bi
          w = next(w)
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

  /** Python 3 round(): banker's rounding — Math.rint has exactly the
    * round-half-even semantics, allocation-free. */
  def pyRound(v: Double): Int = math.rint(v).toInt

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
    * distances per paragraph (reference: para_utils.py:30-54). */
  def findClosestParagraphs(paras: IndexedSeq[Para]): Array[Double] = {
    val n = paras.length
    val out = new Array[Double](n)
    // primitive midpoint arrays; 3-smallest kept via streaming selection
    // (allocation-free O(n²), same value as the reference's sorted[:3]/3)
    val txa = new Array[Double](n); val tya = new Array[Double](n)
    val bxa = new Array[Double](n); val bya = new Array[Double](n)
    var k = 0
    while (k < n) {
      txa(k) = paras(k).top.x; tya(k) = paras(k).top.y
      bxa(k) = paras(k).bottom.x; bya(k) = paras(k).bottom.y
      k += 1
    }
    var i = 0
    while (i < n) {
      var m0, m1, m2 = Double.MaxValue
      var cnt = 0
      def offer(d: Double): Unit = {
        cnt += 1
        if (d < m2) { if (d < m1) { m2 = m1; if (d < m0) { m1 = m0; m0 = d } else m1 = d } else m2 = d }
      }
      var j = 0
      while (j < n) {
        if (i != j) {
          var dx = bxa(i) - txa(j); var dy = bya(i) - tya(j)
          offer(dx * dx + dy * dy)
          dx = txa(i) - bxa(j); dy = tya(i) - bya(j)
          offer(dx * dx + dy * dy)
        }
        j += 1
      }
      var s = 0.0
      if (cnt > 0 && m0 != Double.MaxValue) s += math.sqrt(m0)
      if (cnt > 1 && m1 != Double.MaxValue) s += math.sqrt(m1)
      if (cnt > 2 && m2 != Double.MaxValue) s += math.sqrt(m2)
      out(i) = s / 3.0
      i += 1
    }
    out
  }

  /** J4-para: per paragraph, among candidates with dist(top_j, bottom_i)
    * < x, pick the one with the smallest |Δy| (first minimum)
    * (reference: para_utils.py:5-27 `calculate_bottombox_para`). */
  def calculateBottomboxPara(paras: IndexedSeq[Para], x: Double): Vector[Para] = {
    paras.zipWithIndex.map { case (pi, i) =>
      var bestYd = Double.MaxValue
      var bestDist = -1.0
      var bestId = -1
      var j = 0
      while (j < paras.length) {
        if (i != j) {
          val pj = paras(j)
          val distance = pj.top.dist(pi.bottom)
          if (distance >= 0 && distance < x) {
            val yd = math.abs(pi.bottom.y - pj.top.y)
            if (yd < bestYd) { bestYd = yd; bestDist = distance; bestId = j }
          }
        }
        j += 1
      }
      if (bestId >= 0) pi.copy(bottomBox = NLink(bestDist, bestId))
      else pi.copy(bottomBox = NLink.none)
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
    val xPara1 = Kde.kdeEstimate(vertical)
    val xPara2 = vertical.sum / vertical.length
    val xPara = math.min(xPara1.toDouble, xPara2)
    calculateBottomboxPara(filtered, xPara)
  }

  /** J6 first/third pass: small components (≤ theta members) absorbed into
    * big ones containing them (strict containment or ≥85% overlap of
    * smaller) (reference: pinp_utils.py:60-173 `pinp`).
    *
    * Faithful quirks: merged flags are live during the scan; an absorber's
    * envelope is NOT extended; when no small component exists, the input is
    * returned unchanged (no margin/bottom-box recompute).
    */
  def pinp(paras0: IndexedSeq[Para], pageW: Int, pageH: Int,
           widthP: Double, headerP: Double, footerP: Double, theta: Int): Vector[Para] = {
    val paras = ArrayBuffer.from(paras0.map(_.copy(merged = false)))
    val bigIdx = paras.indices.filter(i => paras(i).members.length > theta)
    val smallIdx = paras.indices.filter(i => paras(i).members.length <= theta)
    if (smallIdx.isEmpty) return paras.toVector

    // precomputed envelopes (pinp never mutates them) — no per-pair tuples
    val x1 = paras.map(_.left.x).toArray
    val y1 = paras.map(_.top.y).toArray
    val x2 = paras.map(_.right.x).toArray
    val y2 = paras.map(_.bottom.y).toArray
    for (i1 <- bigIdx) {
      val r1 = paras(i1)
      val absorbed = ArrayBuffer.empty[Vector[Int]]
      for (i2 <- smallIdx) {
        val r2 = paras(i2)
        if (!r2.merged) {
          if (Geometry.isBoxInside8(x1(i1), y1(i1), x2(i1), y2(i1),
                x1(i2), y1(i2), x2(i2), y2(i2), 85.0)) {
            absorbed += r2.members
            paras(i2) = r2.copy(merged = true)
          }
        }
      }
      paras(i1) = paras(i1).copy(members = r1.members ++ absorbed.flatten)
    }
    pinpPost(paras.toVector.filterNot(_.merged), pageW, pageH, widthP, headerP, footerP)
  }

  /** J6 second pass: ANY two paragraphs at ≥10% overlap merge, the
    * absorber's envelope extended to the union — computed from the
    * absorber's ORIGINAL envelope and the LAST absorbed one (last write
    * wins, a reference quirk) (reference: pinp_utils.py:247-331 `pinp2`).
    */
  def pinp2(paras0: IndexedSeq[Para], pageW: Int, pageH: Int,
            widthP: Double, headerP: Double, footerP: Double, theta: Int): Vector[Para] = {
    val paras = ArrayBuffer.from(paras0.map(_.copy(merged = false)))
    // live merged flags are tracked here; envelope snapshots for the
    // overlap tests come from the ORIGINAL rows (pandas iterrows copies)
    val original = paras0.map(_.copy(merged = false)).toVector
    val mergedLive = Array.fill(paras.length)(false)

    val x1 = original.map(_.left.x).toArray
    val y1 = original.map(_.top.y).toArray
    val x2 = original.map(_.right.x).toArray
    val y2 = original.map(_.bottom.y).toArray
    for (i1 <- paras.indices) {
      val r1 = original(i1)
      val absorbed = ArrayBuffer.empty[Vector[Int]]
      if (!mergedLive(i1)) {
        for (i2 <- paras.indices) {
          val r2 = original(i2)
          if (i1 != i2 && !mergedLive(i2)) {
            if (Geometry.isBoxInside8(x1(i1), y1(i1), x2(i1), y2(i1),
                  x1(i2), y1(i2), x2(i2), y2(i2), 10.0)) {
              absorbed += r2.members
              mergedLive(i2) = true
              val t1 = r1.tlbr
              val t2 = r2.tlbr
              val m = (math.min(t1._1, t2._1), math.min(t1._2, t2._2),
                       math.max(t1._3, t2._3), math.max(t1._4, t2._4))
              paras(i1) = paras(i1).copy(
                top = Pt(m._1 + (m._3 - m._1) / 2.0, m._2),
                bottom = Pt(m._1 + (m._3 - m._1) / 2.0, m._4),
                left = Pt(m._1, m._2 + (m._4 - m._2) / 2.0),
                right = Pt(m._3, m._2 + (m._4 - m._2) / 2.0))
            }
          }
        }
      }
      paras(i1) = paras(i1).copy(members = r1.members ++ absorbed.flatten)
    }
    val kept = paras.indices.filterNot(mergedLive).map(paras(_))
    pinpPost(kept.toVector, pageW, pageH, widthP, headerP, footerP)
  }

  /** W3: greedy paragraph order walk — seed at the paragraph whose Top
    * midpoint is closest to the page origin, follow bottom-NN links,
    * re-seed when a chain dies; at most n iterations
    * (reference: paragraph.py:197-228 `paragraph_order`,
    * dist_utils.py:36-45 `minimum_euclidean`, para_utils.py:95-99
    * `get_next`). */
  def paragraphOrder(paras0: IndexedSeq[Para]): Vector[Para] = {
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
    var iter = 0
    var done = false
    while (iter < paras.length && !done) {
      if (paras.exists(!_.visited) && minIdx != -1) {
        if (!paras(minIdx).visited) {
          paras(minIdx) = paras(minIdx).copy(visited = true, order = order)
          order += 1
        }
        val next = paras(minIdx).bottomBox
        minIdx = if (!next.isNone) next.id else minimumEuclidean
      } else done = true
      iter += 1
    }
    paras.toVector
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
    * (reference: column_utils.py:8-26). */
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
    while (paras.exists(!_.visited) && minIdx != -1) {
      if (!paras(minIdx).visited)
        paras(minIdx) = paras(minIdx).copy(visited = true, order = order)
      val next = paras(minIdx).bottomBox
      if (!next.isNone) minIdx = next.id
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
