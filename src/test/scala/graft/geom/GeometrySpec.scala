package graft.geom

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class GeometrySpec extends AnyFunSuite {
  /** Deterministic property driver (scalatestplus bridge isn't in the
    * offline cache): sample the generator N times from fixed seeds. */
  private def forAll[A](gen: Gen[A], n: Int = 100)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }
  private def forAll2[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until 100).foreach { i =>
      f(ga.pureApply(Gen.Parameters.default, Seed(i.toLong)),
        gb.pureApply(Gen.Parameters.default, Seed(1000L + i)))
    }
  private val genBox: Gen[BBox] = for {
    x <- Gen.choose(0, 1000)
    y <- Gen.choose(0, 1000)
    w <- Gen.choose(1, 400)
    h <- Gen.choose(1, 400)
  } yield BBox(x, y, w, h)

  test("intersection area bounded by the smaller area and symmetric") {
    forAll2(genBox, genBox) { (a, b) =>
      val i = Geometry.intersectionArea(a, b)
      assert(i == Geometry.intersectionArea(b, a))
      assert(i >= 0 && i <= math.min(a.area, b.area))
      // separating-axis test: touching edges do not overlap
      val overlaps = !(a.x2 <= b.x || b.x2 <= a.x || a.y2 <= b.y || b.y2 <= a.y)
      assert((i > 0) == overlaps)
    }
  }

  test("exact median matches the middle of the sorted sample") {
    forAll(Gen.nonEmptyListOf(Gen.choose(-1e6, 1e6))) { xs =>
      val m = Geometry.exactMedian(xs)
      val s = xs.sorted
      if (xs.length % 2 == 1) assert(m == s(xs.length / 2))
      else assert(m == (s(xs.length / 2) + s(xs.length / 2 - 1)) / 2.0)
    }
  }

  test("suppression output is free of >0.5 smaller-overlap pairs") {
    import graft.layout.{Merge, Region}
    forAll(Gen.listOfN(30, genBox)) { boxes =>
      val regions = boxes.toVector.map(b => Region(bbox = b))
      val out = Merge.removeSmallerOverlappingRegions(regions)
      for (i <- out.indices; j <- (i + 1) until out.length) {
        val inter = Geometry.intersectionArea(out(i).bbox, out(j).bbox)
        val smaller = math.min(out(i).bbox.area, out(j).bbox.area)
        assert(inter.toDouble / smaller <= 0.5 + 1e-12)
      }
    }
  }

  test("union-find groups partition the id range") {
    val uf = new UnionFind(10)
    uf.union(0, 1); uf.union(1, 2); uf.union(5, 6); uf.union(8, 9)
    val groups = uf.toGroups
    assert(groups.flatten.sorted == (0 until 10).toVector)
    assert(groups.exists(g => g.toSet == Set(0, 1, 2)))
    assert(groups.exists(g => g.toSet == Set(5, 6)))
  }
}
