package graft.geom

import org.scalatest.funsuite.AnyFunSuite
import graft.TestData
import graft.layout.{Para, Paragraphs, StageReplay, Word}
import scala.jdk.CollectionConverters._

/** KDE mode estimates vs the independent numpy re-derivation
  * (tools/gen_goldens.py kde section), and the pruned mode search vs the
  * full-grid scan it replaced. */
class KdeSpec extends AnyFunSuite {
  /** Same 64-bit LCG as the golden generator. */
  private def lcg(seed: Long, n: Int, lo: Double, hi: Double): Array[Double] = {
    var s = seed
    Array.fill(n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      lo + (s >>> 11).toDouble / (1L << 53).toDouble * (hi - lo)
    }
  }

  test("kde estimates match numpy goldens") {
    val cases = TestData.readResource("/golden/kde_cases.json").elements.asScala.toVector
    for (c <- cases) {
      val data = lcg(c.get("seed").asLong, c.get("n").asInt,
                     c.get("lo").asDouble, c.get("hi").asDouble)
      assert(Kde.kdeEstimate(data) == c.get("estimate01").asInt, s"estimate01 seed=${c.get("seed")}")
      assert(Kde.kdeEstimateD(data, horizontal = true) == c.get("estimateH").asInt, s"estimateH seed=${c.get("seed")}")
      assert(Kde.kdePara(data) == c.get("para").asInt, s"para seed=${c.get("seed")}")
    }
  }

  test("degenerate inputs are deterministic") {
    assert(Kde.kdeEstimate(Array.empty[Double]) == 0)
    assert(Kde.kdeEstimate(Array(3.2)) == 4)
    assert(Kde.kdeEstimate(Array(5.0, 5.0, 5.0)) == 5)
    assert(Kde.kdePara(Array(2.5, 2.5)) == 3)
  }

  test("mode lies within the sample range") {
    val data = lcg(123, 300, 10.0, 60.0)
    val m = Kde.kdeEstimate(data)
    assert(m >= data.min.floor && m <= data.max.ceil)
  }

  /** The full-grid scan the pruned search replaced: score all 1000 points
    * in order and keep the first maximum; -1 when the sample is
    * degenerate. */
  private def fullScanIndex(data: Array[Double], factor: Double): Int = {
    val n = data.length
    if (n < 2 || !data.forall(d => !d.isNaN && !d.isInfinite)) return -1
    val variance = sampleVariance(data)
    if (variance <= 0.0) return -1
    val bw2 = factor * factor * variance
    val lo = data.min
    val hi = data.max
    val step = (hi - lo) / 999
    val norm = 1.0 / (n * math.sqrt(2.0 * math.Pi * bw2))
    val inv2bw2 = 1.0 / (2.0 * bw2)
    var best = 0
    var bestY = Double.NegativeInfinity
    var g = 0
    while (g < 1000) {
      val x = lo + g * step
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = x - data(i)
        val e = d * d * inv2bw2
        if (e < 746.0) acc += math.exp(-e)
        i += 1
      }
      val y = acc * norm
      if (y > bestY) { bestY = y; best = g }
      g += 1
    }
    best
  }

  /** The two-pass sample variance, in data order, as the estimator's
    * prelude computes it. */
  private def sampleVariance(data: Array[Double]): Double = {
    var sum = 0.0
    data.foreach(sum += _)
    val mean = sum / data.length
    var sq = 0.0
    data.foreach { v => val d = v - mean; sq += d * d }
    sq / (data.length - 1)
  }

  /** The exponent scale 1/(2·bw²) the estimator computes for a sample and
    * factor, and the exponent it gives an offset d. */
  private def inv2bw2(data: Array[Double], factor: Double): Double =
    1.0 / (2.0 * (factor * factor * sampleVariance(data)))
  private def exponent(data: Array[Double], factor: Double, d: Double): Double =
    d * d * inv2bw2(data, factor)

  /** The 2·span + 1 consecutive doubles around f. */
  private def doublesAround(f: Double, span: Int): Seq[Double] = {
    val below = Iterator.iterate(f)(Math.nextDown).slice(1, span + 1).toSeq
    val above = Iterator.iterate(f)(Math.nextUp).take(span + 1).toSeq
    below.reverse ++ above
  }

  /** A factor whose computed exponent scale is exactly `inv`, if one lies
    * within 200 doubles of the real-valued solution. */
  private def factorFor(data: Array[Double], inv: Double): Option[Double] =
    doublesAround(math.sqrt(1.0 / (2.0 * inv * sampleVariance(data))), 200).find(inv2bw2(data, _) == inv)

  /** Factors near the one that gives offset d the exponent e: the one with
    * the largest computed exponent below e, and the one with the smallest
    * at or above it. */
  private def factorsAround(data: Array[Double], d: Double, e: Double): Seq[Double] = {
    val fs = doublesAround(d / math.sqrt(2.0 * e * sampleVariance(data)), 200)
    val (below, atOrAbove) = fs.partition(exponent(data, _, d) < e)
    Seq(below.maxByOption(exponent(data, _, d)), atOrAbove.minByOption(exponent(data, _, d))).flatten
  }

  private def assertSameMode(data: Array[Double], factor: Double, what: String): Unit =
    assert(Kde.modeIndex(data, factor) == fullScanIndex(data, factor),
      s"$what: n=${data.length} factor=$factor")

  /** Python 3 round(): half-even, as Math.rint. */
  private def pyRound(v: Double): Int = math.rint(v).toInt

  /** Envelopes the way the reference builds them: for each component,
    * walk the whole word table in id order and keep the member boxes. */
  private def envelopesByWordWalk(components: Seq[Vector[Int]], words: IndexedSeq[Word]): Vector[Para] =
    components.zipWithIndex.map { case (members, count) =>
      val isMember = members.toSet
      var l, t = Int.MaxValue
      var r, b = Int.MinValue
      for (w <- words if isMember(w.id)) {
        val box = w.bbox
        val li = pyRound(box.leftMid.x)
        val ri = pyRound(box.rightMid.x)
        val ti = pyRound(box.topMid.y)
        val bi = pyRound(box.bottomMid.y)
        if (li != -1 && li < l) l = li
        if (ri != -1 && ri > r) r = ri
        if (ti != -1 && ti < t) t = ti
        if (bi != -1 && bi > b) b = bi
      }
      Para(members, count, top = Pt((l + r) / 2.0, t.toDouble), bottom = Pt((l + r) / 2.0, b.toDouble),
        right = Pt(r.toDouble, (t + b) / 2.0), left = Pt(l.toDouble, (t + b) / 2.0))
    }.toVector

  /** The samples a page's mode searches score, with their bandwidth
    * factors: the x/y thresholds, then each pinp pass's x_para sample (a
    * post-pass only resets bottom links, so findClosestParagraphs over a
    * pass's output is the sample that pass scored). */
  private def samples(r: StageReplay): Seq[(Array[Double], Double)] =
    Seq(r.horizontal -> math.pow(r.horizontal.length.toDouble, -1.0 / 5.0), r.vertical -> 0.1) ++
      r.passes.filter(_.nonEmpty).map(p => Paragraphs.findClosestParagraphs(p) -> 0.1)

  private def pages: Vector[StageReplay] = StageReplay.extractionPages

  test("the pruned mode search returns the full scan's index on every extraction sample") {
    var checked = 0
    for (p <- pages; (sample, factor) <- samples(p)) {
      assertSameMode(sample, factor, "extraction sample")
      checked += 1
    }
    assert(checked >= 2 * pages.length, s"only $checked samples")
    assert(pages.count(_.words.length >= 200) >= 40)
  }

  test("the pruned mode search returns the full scan's index on adversarial samples") {
    val rng = new scala.util.Random(7)
    def factors(n: Int) = Seq(0.1, math.pow(n.toDouble, -1.0 / 5.0), 1e-3, 1e3)
    // heavy duplicates: a few distinct values, many copies each
    for (k <- 0 until 200) {
      val n = 2 + rng.nextInt(300)
      val values = Array.fill(1 + rng.nextInt(5))(rng.nextInt(50).toDouble)
      val data = Array.fill(n)(values(rng.nextInt(values.length)))
      factors(n).foreach(assertSameMode(data, _, s"duplicates #$k"))
    }
    // equal-height modes: two mirrored samples on an exact integer grid
    // (lo = 0, step = 1) tie at g and 999 - g, and a flat curve under a
    // huge bandwidth ties across blocks; the first index must win
    for (data <- Seq(Array(0.0, 999.0), Array(999.0, 0.0), Array(0.0, 999.0, 999.0, 0.0),
                     Array(0.0, 499.5, 999.0), Array(0.0, 333.0, 666.0, 999.0))) {
      Seq(0.1, 0.3, 1.0, 1e3, 1e8).foreach(assertSameMode(data, _, s"ties ${data.mkString(",")}"))
    }
    assert(Kde.modeIndex(Array(0.0, 999.0), 0.1) == 0)
    // wide ranges: most terms past the underflow cut
    for (k <- 0 until 50) {
      val n = 20 + rng.nextInt(200)
      val data = Array.tabulate(n)(i => if (i % 17 == 0) rng.nextDouble() * 1e7 else rng.nextDouble() * 10)
      factors(n).foreach(assertSameMode(data, _, s"wide #$k"))
    }
    // a range past Double.MaxValue: an infinite grid step
    for (data <- Seq(Array(-1e308, 1e308), Array(-1e308, 0.0, 5.0, 1e308, 1e308), Array(1.7e308, -1e308, 3.0)))
      factors(data.length).foreach(assertSameMode(data, _, s"infinite step ${data.mkString(",")}"))
    // a tiny bandwidth at a large offset
    for (n <- Seq(2, 3, 10, 101, 1000)) {
      val data = Array.tabulate(n)(k => 1e6 + 1e-3 * k)
      factors(n).foreach(assertSameMode(data, _, "offset"))
      val shuffled = rng.shuffle(data.toSeq).toArray
      factors(n).foreach(assertSameMode(shuffled, _, "offset, shuffled"))
    }
    // n = 2 and random mixtures of clusters
    for (k <- 0 until 300) {
      val n = if (k < 100) 2 else 3 + rng.nextInt(500)
      val centres = Array.fill(1 + rng.nextInt(4))(rng.nextDouble() * 1000)
      val data = Array.fill(n)(centres(rng.nextInt(centres.length)) + rng.nextGaussian() * rng.nextInt(30))
      factors(n).foreach(assertSameMode(data, _, s"mixture #$k"))
    }
    // degenerate samples are left to the caller
    for (data <- Seq(Array.empty[Double], Array(1.0), Array(2.0, 2.0), Array(1.0, Double.NaN),
                     Array(1.0, Double.PositiveInfinity)))
      assert(Kde.modeIndex(data, 0.1) == -1)
  }

  test("the pruned mode search returns the full scan's index where the table bound is tight") {
    val rng = new scala.util.Random(11)
    /** Integer samples spanning [0, 999]: the grid step is exactly 1, so
      * every offset from a grid point to a sample is an integer. */
    def integerSample(n: Int): Array[Double] =
      rng.shuffle(Seq(0.0, 999.0) ++ Seq.fill(n - 2)(rng.nextInt(1000).toDouble)).toArray
    // a power-of-two exponent scale 2^-p (p ≤ 8) puts every integer offset
    // d on a table-bin edge: e = d²·2^-p = k/256 exactly
    var edges = 0
    for (k <- 0 until 60; p <- Seq(0, 2, 5, 8)) {
      val data = integerSample(2 + rng.nextInt(200))
      for (f <- factorFor(data, 1.0 / (1 << p))) {
        assert(exponent(data, f, 7.0) * 256 == 49 << (8 - p))
        assertSameMode(data, f, s"bin edges #$k p=$p")
        edges += 1
      }
    }
    assert(edges >= 100, s"only $edges bin-edge samples")
    // the exponent of one offset just below and at or above the table cap
    // (e = 40) and the underflow cut (e = 746)
    var around = 0
    for (k <- 0 until 40; e <- Seq(40.0, 746.0)) {
      val data = integerSample(2 + rng.nextInt(200))
      val d = (1 + rng.nextInt(999)).toDouble
      val fs = factorsAround(data, d, e)
      assert(fs.exists(exponent(data, _, d) < e) && fs.exists(exponent(data, _, d) >= e))
      fs.foreach { f => assertSameMode(data, f, s"around e=$e #$k d=$d"); around += 1 }
    }
    assert(around == 160)
    // NaN exponents: bw² underflows to 0, so inv2bw2 = +∞ and a zero
    // offset gives ∞·0; an infinite grid step makes x_0 = 0·∞
    for (k <- 0 until 10) {
      val data = integerSample(2 + rng.nextInt(50))
      assert(exponent(data, 1e-200, 0.0).isNaN)
      assertSameMode(data, 1e-200, s"inv2bw2 = +inf #$k")
    }
    for (data <- Seq(Array(-Double.MaxValue, Double.MaxValue),
                     Array(Double.MaxValue, 1.0, -Double.MaxValue, 1.0, 2.0),
                     Array.tabulate(100)(i => if (i % 2 == 0) -1e308 else 1e308 - i)))
      Seq(0.1, 1e-3, 1e3, 1e-200).foreach(assertSameMode(data, _, s"NaN x_0 ${data.length}"))
    // flat curves: a huge bandwidth rounds every term to 1.0, so all 1000
    // points tie and the first wins; a tiny one leaves only zero offsets,
    // so the points on the samples repeated five times tie
    for (k <- 0 until 20) {
      val data = integerSample(3 + rng.nextInt(300))
      assertSameMode(data, 1e12, s"flat #$k")
      assert(Kde.modeIndex(data, 1e12) == 0)
      val tops = Seq.fill(2 + rng.nextInt(5))(1 + rng.nextInt(998)).distinct
      val once = rng.shuffle((1 until 999).filterNot(tops.contains)).take(rng.nextInt(300))
      val plateau = rng.shuffle(Seq(0, 999) ++ once ++ tops.flatMap(Seq.fill(5)(_))).map(_.toDouble).toArray
      assertSameMode(plateau, 1e-5, s"plateau #$k")
      assert(Kde.modeIndex(plateau, 1e-5) == tops.min)
    }
  }

  test("envelopes match the per-component word walk on every page") {
    var checked = 0
    for (p <- pages) {
      assert(Paragraphs.envelopes(p.components, p.words) == envelopesByWordWalk(p.components, p.words))
      checked += p.components.length
    }
    assert(checked > pages.length)
    // members in any order, repeated, or without a word; an id on two words
    val words = Vector(Word(0, BBox(10, 10, 50, 20)), Word(2, BBox(2, 3, 4, 4)),
                       Word(1, BBox(5, 70, 90, 20)), Word(2, BBox(300, 200, 40, 20)))
    val components = Seq(Vector(2, 0), Vector(1, 1, 9), Vector(7))
    assert(Paragraphs.envelopes(components, words) == envelopesByWordWalk(components, words))
  }
}
