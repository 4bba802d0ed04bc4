package graft.geom

/** 1-D Gaussian kernel-density mode estimation.
  *
  * Re-derivation of the reference's scipy-based adaptive thresholds
  * (reference: server/modules/main/routils/kde_utils.py:8-101):
  * density is evaluated on a 1000-point inclusive linspace over
  * [min(data), max(data)] and the (first) argmax — or, for the paragraph
  * variant, the second-highest local peak — is returned, ceil'd to Int.
  *
  * scipy.stats.gaussian_kde with a scalar `bw_method` uses
  * bandwidth² = factor² · Var(data, ddof=1), and
  * density(x) = (1/n) Σᵢ exp(-(x-xᵢ)²/(2·bw²)) / sqrt(2π·bw²).
  * The trailing `ceil` absorbs most float noise between scipy and this
  * re-derivation.
  *
  * Degenerate inputs (n < 2, a NaN/infinite value or zero variance) crash
  * scipy in the reference; here they deterministically return
  * ceil(max(data)).
  *
  * Every extracted page makes five mode searches: the x/y word thresholds
  * and one x_para in each of the three pinp post-passes. They read only
  * the curve's first argmax, so [[modeIndex]] finds it by branch and bound
  * instead of scoring all 1000 grid points. Its bounds sum table loads
  * from [[Table]], not `Math.exp` calls, over blocks of grid points and
  * then over each point of a surviving block, and only a point whose
  * bound reaches the best density so far is scored exactly; see there for
  * why the index is the full scan's, bit for bit. [[kdePara]] needs the
  * whole curve and still scores every point.
  */
object Kde {
  private val GRID = 1000
  /** The mode search splits the grid into Blocks coarse blocks of Coarse
    * points, and each coarse block into Blocks fine blocks of Fine points. */
  private val Blocks = 10
  private val Coarse = GRID / Blocks
  private val Fine = Coarse / Blocks

  /** exp(-e) underflows to exactly +0.0 for e ≥ 746 (the IEEE-754 double
    * cutoff is ≈745.13; 746 is safely past it), and `acc += +0.0` leaves a
    * non-negative accumulator bit-identical — so skipping those terms
    * changes NOTHING in the result while eliminating the exp() call. */
  private val UnderflowCut = 746.0

  /** The bound kernel: Table(k) ≥ exp(−k/256) for k = 0..TableCap, one
    * entry per 1/256 of exponent up to e = 40. An entry is v · (1 + 2⁻⁴⁰)
    * raised to the next double, so it is ≥ that exact product, where v is
    * `Math.exp(−k/256)` as computed here. `Math.exp` is within 1 ulp of
    * the true value in every implementation, and an ulp of these normal
    * values is ≤ 2⁻⁵² of them, so another implementation's w at the same
    * point is ≤ v · (1 + 2⁻⁵²)/(1 − 2⁻⁵²) < v · (1 + 2⁻⁵⁰). An entry thus
    * dominates the interpreter's, C2's and StrictMath's exp alike, whichever
    * one built the table. TableScale = 256 was the fastest of 16, 64, 256
    * and 1024 on tail pages. */
  private val TableScale = 256.0
  private val TableCap = 40 * 256
  private val Table: Array[Double] =
    Array.tabulate(TableCap + 1)(k => Math.nextUp(math.exp(-k / TableScale) * (1.0 + 1.0 / (1L << 40))))

  /** The bound term of exponent e: Table(min(⌊256·e⌋, TableCap)). A NaN e
    * loads Table(0) and an e past the cap (+∞ included) Table(TableCap);
    * see [[modeIndex]] for why it is ≥ the point loop's term. */
  private def tableTerm(e: Double): Double = Table(math.min((TableScale * e).toInt, TableCap))

  /** The linspace of a non-degenerate sample: x_g = lo + g·step. */
  private final class Linspace(val lo: Double, val step: Double, val variance: Double) {
    def x(g: Int): Double = lo + g * step
  }

  /** One prelude per estimate: sum, min, max and the finite check in one
    * pass, then the squared deviations from the mean — the two-pass
    * variance, in data order, so bw² is bit-identical to the reference
    * derivation's. Null when the sample is degenerate. */
  private def linspace(data: Array[Double]): Linspace = {
    val n = data.length
    if (n < 2) return null
    var sum = 0.0
    var lo = data(0)
    var hi = data(0)
    var i = 0
    while (i < n) {
      val d = data(i)
      if (d.isNaN || d.isInfinite) return null
      sum += d
      lo = math.min(lo, d)
      hi = math.max(hi, d)
      i += 1
    }
    val mean = sum / n
    var acc = 0.0
    i = 0
    while (i < n) { val d = data(i) - mean; acc += d * d; i += 1 }
    val variance = acc / (n - 1)
    if (variance <= 0.0) null else new Linspace(lo, (hi - lo) / (GRID - 1), variance)
  }

  /** One estimate's kernel on its linspace: bw² = factor² · Var, the normaliser
    * 1/(n · sqrt(2π · bw²)) and the exponent scale 1/(2 · bw²), computed once. */
  private final class Kernel(data: Array[Double], s: Linspace, factor: Double) {
    private val bw2 = factor * factor * s.variance
    private val norm = 1.0 / (data.length * math.sqrt(2.0 * math.Pi * bw2))
    private val inv2bw2 = 1.0 / (2.0 * bw2)

    /** The point loop: the density at grid point g, its terms summed from
      * 0.0 in data order. */
    def density(g: Int): Double = {
      val x = s.x(g)
      var acc = 0.0
      var i = 0
      while (i < data.length) {
        val d = x - data(i)
        val e = d * d * inv2bw2
        if (e < UnderflowCut) acc += math.exp(-e)
        i += 1
      }
      acc * norm
    }

    /** The [[modeIndex]] bound of grid point g: the table terms of the
      * point loop's exponents, summed from 0.0 in data order. */
    def densityBound(g: Int): Double = {
      val x = s.x(g)
      var acc = 0.0
      var i = 0
      while (i < data.length) {
        val d = x - data(i)
        acc += tableTerm(d * d * inv2bw2)
        i += 1
      }
      acc * norm
    }

    /** The density at every grid point (only [[kdePara]] needs it). */
    def curve: Array[Double] = {
      val ys = new Array[Double](GRID)
      for (g <- 0 until GRID) ys(g) = density(g)
      ys
    }

    /** Fills `ub` with the [[modeIndex]] bounds of the Blocks consecutive
      * blocks of `size` grid points from g0, and `ord` with the block
      * numbers in descending-bound order (an insertion sort, ties by block
      * number). */
    def bounds(g0: Int, size: Int, ub: Array[Double], ord: Array[Int]): Unit = {
      var b = 0
      while (b < Blocks) {
        val a = s.x(g0 + b * size)
        val z = s.x(g0 + b * size + size - 1)
        var acc = 0.0
        var i = 0
        while (i < data.length) {
          val xi = data(i)
          val d = if (xi < a) a - xi else if (xi > z) xi - z else 0.0
          acc += tableTerm(d * d * inv2bw2)
          i += 1
        }
        ub(b) = acc * norm
        var k = b
        while (k > 0 && ub(ord(k - 1)) < ub(b)) { ord(k) = ord(k - 1); k -= 1 }
        ord(k) = b
        b += 1
      }
    }
  }

  /** First argmax of the density curve, by branch and bound: the same
    * index as scoring all GRID points in order and keeping the first
    * maximum, bit for bit, at a fraction of the `Math.exp` calls.
    *
    * Write K(e) for the term of the point loop [[Kernel.density]]:
    * `Math.exp(-e)` if e < UnderflowCut, else nothing; and B(e) for
    * [[tableTerm]]. Each block of grid points [g0, g1] gets the bound
    * UB = norm · Σᵢ B(eᵢ'), with eᵢ' = dᵢ·dᵢ·inv2bw2 and
    * dᵢ = x_g0 − xᵢ if xᵢ < x_g0, xᵢ − x_g1 if xᵢ > x_g1, else 0. Each
    * point g of a block that survives gets PB = norm · Σᵢ B(eᵢ), with eᵢ
    * the exponent the point loop computes for (g, xᵢ). Both are ≥ the
    * computed y of the point(s) they cover, term by term in data order:
    *  - the block exponent is ≤ the point's. x_g = lo + g·step is
    *    non-decreasing in g, because IEEE round-to-nearest is monotone for
    *    `*` and `+` (step ≥ 0). Only x_0 can be NaN (0·∞, for a range past
    *    Double.MaxValue); a NaN x_g0 fails `xᵢ < x_g0`, which only loosens
    *    the bound. So |fl(x_g − xᵢ)| ≥ dᵢ (subtraction is monotone, and
    *    fl(a − b) = −fl(b − a) exactly), and eᵢ' ≤ eᵢ because `*` is
    *    monotone and Java never contracts d·d·inv2bw2 into an FMA. The
    *    point bound computes eᵢ itself, by the same expression.
    *  - B(e') ≥ K(e) for every e' ≤ e, and for a NaN e' or e:
    *    - K(e) adds nothing (e ≥ UnderflowCut, +∞ or NaN): every Table
    *      entry is > 0;
    *    - e' NaN (0·∞) and e finite: B loads Table(0) ≥ exp(0) ≥ exp(−e),
    *      as e ≥ 0 and `Math.exp` is semi-monotonic by its specification;
    *    - otherwise 0 ≤ e' ≤ e < UnderflowCut. 256·e' is exact (a power of
    *      two, no overflow), and `toInt` floors a non-negative value, so
    *      k = min(⌊256·e'⌋, TableCap) has k/256 ≤ e' ≤ e. −k/256 is exact
    *      too, so semi-monotonicity gives exp(−e) ≤ exp(−k/256) ≤ Table(k)
    *      in whatever `Math.exp` the point loop runs (see [[Table]]).
    *  - both sums start from 0.0 and add their n terms in the same data
    *    order, and `+` and the final `* norm` (norm ≥ 0) are monotone, so
    *    UB and PB are ≥ y by induction.
    *  - a table sum of n finite positive entries is finite and positive,
    *    so a bound is NaN only when norm is, and norm is NaN only when bw²
    *    is (0·∞: a factor whose square underflows to 0 times a variance
    *    that overflows; or a NaN factor). Then every y is NaN too: the full scan takes none and
    *    returns 0, and this search visits no block and returns 0. A NaN y
    *    is never taken, as in the full scan.
    * No ε is needed. A block or point is skipped only when its bound is
    * < bestY strictly, so a point that ties the best is never skipped, and
    * the take rule (y > bestY, or y == bestY at a lower g) keeps the first
    * argmax whatever order points are scored in. While no point has been
    * scored bestY is −∞, so the first point reached is always scored.
    *
    * The search is two-level: the Blocks coarse blocks are visited in
    * descending-bound order, and inside each its Blocks fine blocks,
    * also in descending-bound order. In each surviving fine block every
    * point whose PB reaches bestY is scored with the point loop that
    * [[Kernel.curve]] scores every point with. */
  private def modeIndex(data: Array[Double], s: Linspace, factor: Double): Int = {
    val k = new Kernel(data, s, factor)
    val coarseUb = new Array[Double](Blocks)
    val coarseOrd = new Array[Int](Blocks)
    val fineUb = new Array[Double](Blocks)
    val fineOrd = new Array[Int](Blocks)
    var best = 0
    var bestY = Double.NegativeInfinity
    k.bounds(0, Coarse, coarseUb, coarseOrd)
    var c = 0
    while (c < Blocks && coarseUb(coarseOrd(c)) >= bestY) {
      val c0 = coarseOrd(c) * Coarse
      k.bounds(c0, Fine, fineUb, fineOrd)
      var f = 0
      while (f < Blocks && fineUb(fineOrd(f)) >= bestY) {
        var g = c0 + fineOrd(f) * Fine
        val end = g + Fine
        while (g < end) {
          if (k.densityBound(g) >= bestY) {
            val y = k.density(g)
            if (y > bestY || (y == bestY && g < best)) { bestY = y; best = g }
          }
          g += 1
        }
        f += 1
      }
      c += 1
    }
    best
  }

  /** [[modeIndex]] of a sample, or -1 when it is degenerate. */
  private[geom] def modeIndex(data: Array[Double], factor: Double): Int = {
    val s = linspace(data)
    if (s == null) -1 else modeIndex(data, s, factor)
  }

  private def firstArgmax(ys: Array[Double]): Int = {
    var best = 0
    var i = 1
    while (i < ys.length) { if (ys(i) > ys(best)) best = i; i += 1 }
    best
  }

  /** Mode estimate with fixed bandwidth factor 0.1
    * (reference: kde_utils.py:8-30, the word/vertical threshold). */
  def kdeEstimate(data: Array[Double]): Int = withFactor(data, 0.1)

  /** Direction-dependent bandwidth: Scott-like n^(-1/5) for 'horizontal',
    * 0.1 for 'vertical' (reference: kde_utils.py:35-59). */
  def kdeEstimateD(data: Array[Double], horizontal: Boolean): Int = {
    val factor =
      if (horizontal) math.pow(data.length.toDouble, -1.0 / 5.0) else 0.1
    withFactor(data, factor)
  }

  private def withFactor(data: Array[Double], factor: Double): Int = {
    if (data.isEmpty) return 0
    val s = linspace(data)
    if (s == null) return math.ceil(data.max).toInt
    math.ceil(s.x(modeIndex(data, s, factor))).toInt
  }

  /** Paragraph-threshold variant: Scott-like bandwidth, then the
    * SECOND-highest local peak of the density curve (first peak if only
    * one exists) (reference: kde_utils.py:82-101).
    *
    * Peak finding mirrors scipy.signal.find_peaks' default behaviour:
    * interior local maxima; a flat plateau peaks at its floor-midpoint;
    * array edges are never peaks.
    */
  def kdePara(data: Array[Double]): Int = {
    if (data.isEmpty) return 0
    val s = linspace(data)
    if (s == null) return math.ceil(data.max).toInt
    val factor = math.pow(data.length.toDouble, -1.0 / 5.0)
    val ys = new Kernel(data, s, factor).curve
    val peaks = findPeaks(ys)
    val idx =
      if (peaks.isEmpty) firstArgmax(ys)
      else if (peaks.length < 2) peaks.head
      else {
        // second peak by height; ties broken toward the later index
        // (matches a reversed stable ascending argsort)
        val byHeightDesc = peaks.sortBy(p => (-ys(p), -p))
        byHeightDesc(1)
      }
    math.ceil(s.x(idx)).toInt
  }

  /** scipy.signal.find_peaks default local-maxima scan
    * (plateau → floor of midpoint; edges excluded). */
  private[geom] def findPeaks(ys: Array[Double]): Array[Int] = {
    val out = Array.newBuilder[Int]
    var i = 1
    val last = ys.length - 1
    while (i < last) {
      if (ys(i - 1) < ys(i)) {
        var ahead = i + 1
        while (ahead < last && ys(ahead) == ys(i)) ahead += 1
        if (ys(ahead) < ys(i)) {
          out += (i + ahead - 1) / 2
          i = ahead
        } else i = ahead
      } else i += 1
    }
    out.result()
  }
}
