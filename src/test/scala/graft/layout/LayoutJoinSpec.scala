package graft.layout

import scala.collection.mutable.ArrayBuffer
import graft.TestData
import graft.geom.{BBox, Geometry, Kde, Pt}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The band-sweep layout joins against the all-pairs scans they replaced
  * (kept below as test-only copies): the same doubles bit for bit, the
  * same links and the same paragraphs, on every stage input of the
  * extraction pages and the reading-order fixtures, and on generated
  * boxes and envelopes built to tie. */
class LayoutJoinSpec extends AnyFunSuite {
  import LayoutJoinSpec.FullScan

  private def assertSameBits(got: Array[Double], want: Array[Double], what: String): Unit = {
    assert(got.length == want.length, s"$what length")
    for (i <- got.indices)
      assert(java.lang.Double.doubleToRawLongBits(got(i)) == java.lang.Double.doubleToRawLongBits(want(i)),
        s"$what[$i]: got ${got(i)} want ${want(i)}")
  }

  private def assertSameLinks(got: Array[NLink], want: Array[NLink], what: String): Unit = {
    assert(got.toSeq == want.toSeq, what)
    assertSameBits(got.map(_.dist), want.map(_.dist), s"$what dist")
  }

  private def assertSameParas(got: Seq[Para], want: Seq[Para], what: String): Unit = {
    assert(got == want, what)
    assertSameBits(got.map(_.bottomBox.dist).toArray, want.map(_.bottomBox.dist).toArray, s"$what bottom dist")
  }

  private def checkBoxes(boxes: IndexedSeq[BBox], thresholds: Seq[(Double, Double)], what: String): Unit = {
    val (h, v) = Neighbors.findClosestNeighbors(boxes)
    val (wantH, wantV) = FullScan.findClosestNeighbors(boxes)
    assertSameBits(h, wantH, s"$what horizontal")
    assertSameBits(v, wantV, s"$what vertical")
    for ((x, y) <- thresholds)
      checkLinks(links4(Neighbors.fourDirectionLinks(boxes, x, y)), boxes, x, y, s"$what x=$x y=$y")
  }

  private def links4(t: (Array[NLink], Array[NLink], Array[NLink], Array[NLink])): Seq[Array[NLink]] =
    Seq(t._1, t._2, t._3, t._4)

  private def checkLinks(got: Seq[Array[NLink]], boxes: IndexedSeq[BBox], x: Double, y: Double, what: String): Unit = {
    val want = links4(FullScan.fourDirectionLinks(boxes, x, y))
    for ((dir, k) <- Seq("right", "left", "top", "bottom").zipWithIndex) assertSameLinks(got(k), want(k), s"$what $dir")
  }

  private def checkParas(paras: IndexedSeq[Para], pageW: Int, pageH: Int, xs: Seq[Double], what: String): Unit = {
    assertSameBits(Paragraphs.findClosestParagraphs(paras), FullScan.findClosestParagraphs(paras), s"$what closest")
    for (x <- xs)
      assertSameParas(Paragraphs.calculateBottomboxPara(paras, x), FullScan.calculateBottomboxPara(paras, x),
        s"$what bottom box x=$x")
    for (theta <- Seq(7, 10)) {
      assertSameParas(Paragraphs.pinp(paras, pageW, pageH, 0.0, 0.0, 0.0, theta),
        FullScan.pinp(paras, pageW, pageH, 0.0, 0.0, 0.0, theta), s"$what pinp($theta)")
      assertSameParas(Paragraphs.pinp2(paras, pageW, pageH, 0.0, 0.0, 0.0, theta),
        FullScan.pinp2(paras, pageW, pageH, 0.0, 0.0, 0.0, theta), s"$what pinp2($theta)")
    }
    assertSameParas(Paragraphs.paragraphOrder(paras), FullScan.paragraphOrder(paras), s"$what order")
  }

  /** Every join stage of one replayed page against the full scans. */
  private def checkReplay(r: StageReplay, what: String): Unit = {
    val (wantH, wantV) = FullScan.findClosestNeighbors(r.boxes)
    assertSameBits(r.horizontal, wantH, s"$what horizontal")
    assertSameBits(r.vertical, wantV, s"$what vertical")
    checkLinks(r.links, r.boxes, r.x, r.y, what)
    if (r.passes.nonEmpty) {
      val (pw, ph) = (r.pageW, r.pageH)
      assertSameParas(r.passes(0), FullScan.pinp(r.kept, pw, ph, 0.0, 0.0, 0.0, 7), s"$what pinp(7)")
      assertSameParas(r.passes(1), FullScan.pinp2(r.passes(0), pw, ph, 0.0, 0.0, 0.0, 10), s"$what pinp2(10)")
      assertSameParas(r.passes(2), FullScan.pinp(r.passes(1), pw, ph, 0.0, 0.0, 0.0, 7), s"$what second pinp(7)")
    }
    for (p <- r.passes if p.nonEmpty) {
      val sample = FullScan.findClosestParagraphs(p)
      val xPara = math.min(Kde.kdeEstimate(sample).toDouble, sample.sum / sample.length)
      checkParas(p, r.pageW, r.pageH, Seq(xPara, 2 * xPara + 1), what)
    }
    assertSameParas(Paragraphs.paragraphOrder(r.merged), FullScan.paragraphOrder(r.merged), s"$what order")
  }

  test("the sweeps match the full scans on every stage of the extraction pages") {
    val pages = StageReplay.extractionPages
    for ((r, k) <- pages.zipWithIndex) checkReplay(r, s"page $k")
    assert(pages.length >= 2000)
    assert(pages.count(_.words.length >= 200) >= 40)
    assert(pages.count(_.passes.nonEmpty) >= 1000)
  }

  test("the sweeps match the full scans on the reading-order fixtures' word boxes") {
    for (name <- Seq("ajoy", "openseg", "craft")) {
      val g = TestData.readResource(s"/golden/ro/$name.json")
      val boxes = g.get("boxes").elements.asScala.map { b =>
        BBox(b.get(0).asInt, b.get(1).asInt, b.get(2).asInt, b.get(3).asInt)
      }.toVector
      val r = StageReplay.of(boxes.zipWithIndex.map { case (b, i) => Word(i, b) }, g.get("pageW").asInt, g.get("pageH").asInt)
      checkReplay(r, name)
      checkBoxes(boxes, Seq((r.x.toDouble, r.y.toDouble), (5.0, 5.0), (200.0, 200.0)), name)
    }
  }

  private def forAll[A](gen: Gen[A], n: Int)(f: A => Unit): Unit =
    for (i <- 0 until n) f(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  // a coarse grid, so midpoints coincide and distances tie at different
  // indices; zero and negative extents give zero-area and inverted boxes
  private val coord = Gen.oneOf(0, 10, 20, 30, 40, 60)
  private val extent = Gen.frequency(6 -> Gen.oneOf(10, 20, 40), 1 -> Gen.const(0), 1 -> Gen.oneOf(-10, -20))
  private val genBox = for (x <- coord; y <- coord; w <- extent; h <- extent) yield BBox(x, y, w, h)
  private val genBoxes: Gen[Vector[BBox]] = Gen.frequency(
    2 -> Gen.choose(0, 3).flatMap(Gen.listOfN(_, genBox)),
    6 -> Gen.choose(4, 40).flatMap(Gen.listOfN(_, genBox)),
    // all on one line
    2 -> Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, genBox.map(b => b.copy(y = 20, h = 20)))),
    // a few boxes, each repeated
    1 -> Gen.listOfN(4, genBox).flatMap(bs => Gen.listOfN(12, Gen.oneOf(bs)))
  ).map(_.toVector)
  private val thresholds = Seq((0.0, 0.0), (5.0, 5.0), (10.0, 20.0), (15.0, 10.0), (20.0, 25.0), (30.0, 30.0), (45.0, 100.0))

  test("the neighbour sample and links match the full scans on boxes built to tie") {
    forAll(genBoxes, 600)(boxes => checkBoxes(boxes, thresholds, s"boxes ${boxes.mkString(",")}"))
  }

  // envelopes on the same grid, upright, inverted or flat, with 1-12
  // members so both pinp thetas split them; random bottom links for the
  // order walk
  private def genParas: Gen[Vector[Para]] =
    Gen.frequency(2 -> Gen.choose(0, 3), 6 -> Gen.choose(4, 30)).flatMap { n =>
      Gen.listOfN(n, for {
        l <- coord; t <- coord; w <- extent; h <- extent
        size <- Gen.choose(1, 12)
        link <- Gen.frequency(1 -> Gen.const(-1), 2 -> Gen.choose(0, math.max(n - 1, 0)))
      } yield (l, t, l + w, t + h, size, link)).map { rows =>
        var next = 0
        rows.zipWithIndex.map { case ((l, t, r, b, size, link), k) =>
          val members = Vector.range(next, next + size)
          next += size
          Para(members, k, top = Pt((l + r) / 2.0, t.toDouble), bottom = Pt((l + r) / 2.0, b.toDouble),
            right = Pt(r.toDouble, (t + b) / 2.0), left = Pt(l.toDouble, (t + b) / 2.0),
            bottomBox = if (link < 0) NLink.none else NLink(10.0, link))
        }.toVector
      }
    }

  test("the paragraph joins and merges match the full scans on envelopes built to tie") {
    forAll(genParas, 600) { paras =>
      checkParas(paras, 1000, 1000, Seq(0.0, 5.0, 10.0, 15.0, 25.0, 40.0, 100.0), s"paras ${paras.mkString(",")}")
    }
  }
}

object LayoutJoinSpec {

  /** The all-pairs scans the sweeps replaced, verbatim. */
  object FullScan {

    def findClosestNeighbors(boxes: IndexedSeq[BBox]): (Array[Double], Array[Double]) = {
      val n = boxes.length
      val horizontal = new Array[Double](n)
      val vertical = new Array[Double](n)
      val lx = boxes.map(_.leftMid.x).toArray; val ly = boxes.map(_.leftMid.y).toArray
      val rx = boxes.map(_.rightMid.x).toArray; val ry = boxes.map(_.rightMid.y).toArray
      val tx = boxes.map(_.topMid.x).toArray; val ty = boxes.map(_.topMid.y).toArray
      val bx = boxes.map(_.bottomMid.x).toArray; val by = boxes.map(_.bottomMid.y).toArray
      for (i <- 0 until n) {
        val hs = new Smallest3
        val vs = new Smallest3
        for (j <- 0 until n if i != j) {
          var dx = lx(i) - rx(j); var dy = ly(i) - ry(j)
          hs.offer(dx * dx + dy * dy)
          dx = rx(i) - lx(j); dy = ry(i) - ly(j)
          hs.offer(dx * dx + dy * dy)
          dx = bx(i) - tx(j); dy = by(i) - ty(j)
          vs.offer(dx * dx + dy * dy)
          dx = tx(i) - bx(j); dy = ty(i) - by(j)
          vs.offer(dx * dx + dy * dy)
        }
        horizontal(i) = hs.sumSqrt / 3.0
        vertical(i) = vs.sumSqrt / 3.0
      }
      (horizontal, vertical)
    }

    private final class Smallest3 {
      private var m0, m1, m2 = Double.MaxValue
      private var cnt = 0
      def offer(d: Double): Unit = {
        cnt += 1
        if (d < m2) { if (d < m1) { m2 = m1; if (d < m0) { m1 = m0; m0 = d } else m1 = d } else m2 = d }
      }
      def sumSqrt: Double = {
        var s = 0.0
        if (cnt > 0 && m0 != Double.MaxValue) s += math.sqrt(m0)
        if (cnt > 1 && m1 != Double.MaxValue) s += math.sqrt(m1)
        if (cnt > 2 && m2 != Double.MaxValue) s += math.sqrt(m2)
        s
      }
    }

    def fourDirectionLinks(boxes: IndexedSeq[BBox], x: Double, y: Double)
        : (Array[NLink], Array[NLink], Array[NLink], Array[NLink]) = {
      val n = boxes.length
      val right, left, top, bottom = new Array[NLink](n)
      val lx = boxes.map(_.leftMid.x).toArray; val ly = boxes.map(_.leftMid.y).toArray
      val rx = boxes.map(_.rightMid.x).toArray; val ry = boxes.map(_.rightMid.y).toArray
      val tx = boxes.map(_.topMid.x).toArray; val ty = boxes.map(_.topMid.y).toArray
      val bx = boxes.map(_.bottomMid.x).toArray; val by = boxes.map(_.bottomMid.y).toArray
      val x2t = x * x
      val y2t = y * y
      for (i <- 0 until n) {
        var bestR, bestL, bestT, bestB = Double.MaxValue
        var idR, idL, idT, idB = -1
        for (j <- 0 until n if i != j) {
          var dx = lx(i) - rx(j); var dy = ly(i) - ry(j)
          val dR = dx * dx + dy * dy
          if (dR <= x2t && math.abs(ry(i) - ly(j)) < 20 && dR < bestR) { bestR = dR; idR = j }
          dx = rx(i) - lx(j); dy = ry(i) - ly(j)
          val dL = dx * dx + dy * dy
          if (dL < x2t && math.abs(ly(i) - ry(j)) < 20 && dL < bestL) { bestL = dL; idL = j }
          dx = bx(i) - tx(j); dy = by(i) - ty(j)
          val dT = dx * dx + dy * dy
          if (dT < y2t && dT < bestT) { bestT = dT; idT = j }
          dx = tx(i) - bx(j); dy = ty(i) - by(j)
          val dB = dx * dx + dy * dy
          if (dB < y2t && dB < bestB) { bestB = dB; idB = j }
        }
        right(i) = if (idR >= 0) NLink(math.sqrt(bestR), idR) else NLink.none
        left(i) = if (idL >= 0) NLink(math.sqrt(bestL), idL) else NLink.none
        top(i) = if (idT >= 0) NLink(math.sqrt(bestT), idT) else NLink.none
        bottom(i) = if (idB >= 0) NLink(math.sqrt(bestB), idB) else NLink.none
      }
      (right, left, top, bottom)
    }

    def findClosestParagraphs(paras: IndexedSeq[Para]): Array[Double] = {
      val n = paras.length
      Array.tabulate(n) { i =>
        val sel = new Smallest3
        for (j <- 0 until n if i != j) {
          var dx = paras(i).bottom.x - paras(j).top.x; var dy = paras(i).bottom.y - paras(j).top.y
          sel.offer(dx * dx + dy * dy)
          dx = paras(i).top.x - paras(j).bottom.x; dy = paras(i).top.y - paras(j).bottom.y
          sel.offer(dx * dx + dy * dy)
        }
        sel.sumSqrt / 3.0
      }
    }

    def calculateBottomboxPara(paras: IndexedSeq[Para], x: Double): Vector[Para] =
      paras.zipWithIndex.map { case (pi, i) =>
        var bestYd = Double.MaxValue
        var bestDist = -1.0
        var bestId = -1
        for (j <- paras.indices if i != j) {
          val pj = paras(j)
          val distance = pj.top.dist(pi.bottom)
          if (distance >= 0 && distance < x) {
            val yd = math.abs(pi.bottom.y - pj.top.y)
            if (yd < bestYd) { bestYd = yd; bestDist = distance; bestId = j }
          }
        }
        if (bestId >= 0) pi.copy(bottomBox = NLink(bestDist, bestId)) else pi.copy(bottomBox = NLink.none)
      }.toVector

    private def pinpPost(kept: Seq[Para], pageW: Int, pageH: Int,
                         widthP: Double, headerP: Double, footerP: Double): Vector[Para] = {
      val reIded = kept.zipWithIndex.map { case (p, k) => p.copy(id = k, bottomBox = NLink.none) }
      val filtered = Paragraphs.ignoreMargins(reIded, pageW, pageH, widthP, headerP, footerP)
      if (filtered.isEmpty) return Vector.empty
      val vertical = findClosestParagraphs(filtered)
      val xPara = math.min(Kde.kdeEstimate(vertical).toDouble, vertical.sum / vertical.length)
      calculateBottomboxPara(filtered, xPara)
    }

    def pinp(paras0: IndexedSeq[Para], pageW: Int, pageH: Int,
             widthP: Double, headerP: Double, footerP: Double, theta: Int): Vector[Para] = {
      val paras = ArrayBuffer.from(paras0)
      val merged = new Array[Boolean](paras.length)
      val bigIdx = paras.indices.filter(i => paras(i).members.length > theta)
      val smallIdx = paras.indices.filter(i => paras(i).members.length <= theta)
      if (smallIdx.isEmpty) return paras.toVector
      val t = paras.map(_.tlbr)
      for (i1 <- bigIdx) {
        val r1 = paras(i1)
        val absorbed = ArrayBuffer.empty[Vector[Int]]
        for (i2 <- smallIdx) {
          val r2 = paras(i2)
          if (!merged(i2) && Geometry.isBoxInside(t(i1), t(i2), 85.0)) {
            absorbed += r2.members
            merged(i2) = true
          }
        }
        paras(i1) = paras(i1).copy(members = r1.members ++ absorbed.flatten)
      }
      pinpPost(paras.indices.filterNot(merged).map(paras(_)).toVector, pageW, pageH, widthP, headerP, footerP)
    }

    def pinp2(paras0: IndexedSeq[Para], pageW: Int, pageH: Int,
              widthP: Double, headerP: Double, footerP: Double, theta: Int): Vector[Para] = {
      val paras = ArrayBuffer.from(paras0)
      val original = paras0.toVector
      val mergedLive = Array.fill(paras.length)(false)
      for (i1 <- paras.indices) {
        val r1 = original(i1)
        val absorbed = ArrayBuffer.empty[Vector[Int]]
        if (!mergedLive(i1)) {
          for (i2 <- paras.indices) {
            val r2 = original(i2)
            if (i1 != i2 && !mergedLive(i2) && Geometry.isBoxInside(r1.tlbr, r2.tlbr, 10.0)) {
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
        paras(i1) = paras(i1).copy(members = r1.members ++ absorbed.flatten)
      }
      val kept = paras.indices.filterNot(mergedLive).map(paras(_))
      pinpPost(kept.toVector, pageW, pageH, widthP, headerP, footerP)
    }

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
  }
}
