package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.pages.{PageGen, PageRow}

/** One generated page row with the generator's own golden: `row.text` is
  * the text extraction must produce, `nSpans` the number of content
  * blocks the generator wrote. */
final case class Page(idx: Long, row: PageRow, nSpans: Int) {
  def url: String = row.url
  def html: Array[Byte] = row.html
  def text: String = row.text
}

/** Seeded inputs. Every page comes from `PageGen.pageFull(seed, i)`; the
  * benchmark only chooses which indices to keep.
  *
  * The choice is a stratified sample over the golden block count
  * `PageMeta.n_spans` (never the extractor's output): each stratum gets a
  * fixed quota in proportion to its share of the generator's natural mix,
  * filled with the stratum's first pages in index order. Extraction cost
  * grows with the block count and ~2% of pages carry 10-40x more blocks,
  * so a plain prefix of the stream would let a seed's luck with that tail
  * move docs/s by more than a real change does; the quotas keep every
  * seed's cost mix the same while the pages themselves still differ. */
object Inputs {

  /** Golden `n_spans` strata [lo, hi) with their share (%) of the
    * generator's output, counted over 60,000 pages of seed 7. */
  final case class Stratum(lo: Int, hi: Int, sharePct: Double)
  val census: Vector[Stratum] = Vector(
    Stratum(0, 25, 60.132), Stratum(25, 50, 37.558), Stratum(50, 100, 0.295),
    Stratum(100, 150, 0.138), Stratum(150, 200, 0.165), Stratum(200, 300, 0.247),
    Stratum(300, 400, 0.293), Stratum(400, 500, 0.265), Stratum(500, 600, 0.198),
    Stratum(600, 700, 0.148), Stratum(700, 800, 0.157), Stratum(800, 900, 0.120),
    Stratum(900, 1000, 0.102), Stratum(1000, 1100, 0.060),
    Stratum(1100, 1200, 0.058), Stratum(1200, Int.MaxValue, 0.063))

  /** Golden block count from which a page counts as a tail page. */
  val TailSpans = 200

  /** `n` pages in the generator's natural mix. */
  def naturalMix(seed: Long, n: Int): Vector[Page] = stratified(seed, census, n)

  /** `n` pages with at least [[TailSpans]] golden blocks, in the natural
    * proportions of the tail strata. */
  def tail(seed: Long, n: Int): Vector[Page] =
    stratified(seed, census.filter(_.lo >= TailSpans), n)

  /** Quotas by largest remainder, so they sum to exactly `n`. */
  private def quotas(shares: Seq[Double], n: Int): Array[Int] = {
    val total = shares.sum
    val exact = shares.map(_ / total * n)
    val q = exact.map(math.floor(_).toInt).toArray
    val byRemainder = exact.indices.sortBy(i => -(exact(i) - q(i)))
    byRemainder.take(n - q.sum).foreach(i => q(i) += 1)
    q
  }

  private def stratified(seed: Long, strata: Vector[Stratum], n: Int): Vector[Page] = {
    val quota = quotas(strata.map(_.sharePct), n)
    val have = new Array[Int](strata.length)
    val out = ArrayBuffer.empty[Page]
    // the rarest stratum averages one page in ~1,600; this bound is ~60x that
    val limit = 100000L + 2000L * n
    var i = 0L
    while (out.length < n) {
      if (i >= limit)
        throw new IllegalStateException(s"seed $seed: strata quotas unfilled after $i pages")
      val g = PageGen.pageFull(seed, i)
      val s = g.meta.n_spans
      val k = strata.indexWhere(st => s >= st.lo && s < st.hi)
      if (k >= 0 && have(k) < quota(k)) {
        have(k) += 1
        out += Page(i, g.row, s)
      }
      i += 1
    }
    out.toVector
  }

  /** Every `stride`-th page in golden block-count order: a subsample with
    * the same block-count mix as `pages`. */
  def systematic(pages: Vector[Page], stride: Int): Vector[Page] =
    pages.sortBy(p => (p.nSpans, p.idx)).zipWithIndex
      .collect { case (p, k) if k % stride == 0 => p }
}
