package perfbench

import graft.extract.{Extracted, Extractor}
import graft.geom.{BBox, Kde}
import graft.html.Dom
import graft.layout.{Neighbors, Paragraphs, ReadingOrderPipeline, Word, WordOrder}

/** The per-page layer split, timed from outside the engine: each page goes
  * through `Dom.parse`, `blocksOf` + `isContent` and `Extractor.extract`,
  * then the layout branch is replayed stage by stage on boxes rebuilt from
  * `Extracted.blocks` (the same work the extractor did), and once more as
  * one `ReadingOrderPipeline.run` call. The replay must reproduce the
  * extractor's block orders; a page where it does not is a failed check. */
final class PageTrace {
  var pages = 0L
  var parseNs, blocksNs, extractNs = 0L
  var neighborsNs, kdeNs, linksNs, parasNs, orderNs, roNs = 0L
  var allBlocks, contentBlocks = 0L

  private def us(ns: Long): Double = if (pages == 0) 0.0 else ns / 1e3 / pages

  /** Traces one page; returns the reason it failed a check, if it did. */
  def page(p: Page): Option[String] = {
    val t0 = System.nanoTime()
    val dom = Dom.parse(p.html)
    val t1 = System.nanoTime()
    val all = Extractor.blocksOf(dom)
    val content = all.filter(Extractor.isContent)
    val t2 = System.nanoTime()
    val ex = Extractor.extract(p.url, p.html)
    val t3 = System.nanoTime()
    pages += 1
    parseNs += t1 - t0; blocksNs += t2 - t1; extractNs += t3 - t2
    allBlocks += all.length; contentBlocks += content.length
    if (ex.failed || ex.text != p.text) Some("text differs from golden")
    else if (content.length != ex.blocks.length) Some("content block count differs")
    else replay(ex)
  }

  private val PageW = 960
  private val MarginX = 40
  private val BlockGap = 10

  private def replay(ex: Extracted): Option[String] = {
    if (ex.blocks.isEmpty) return None
    val words: IndexedSeq[Word] =
      ex.blocks.indices.map(k => Word(k, BBox(ex.blocks(k).x, ex.blocks(k).y, ex.blocks(k).w, ex.blocks(k).h)))
    val last = ex.blocks.last
    val pageH = math.max(last.y + last.h + BlockGap + MarginX, 200)
    val boxes = words.map(_.bbox)

    val t0 = System.nanoTime()
    val (horizontal, vertical) = Neighbors.findClosestNeighbors(boxes)
    val t1 = System.nanoTime()
    val x = Kde.kdeEstimateD(horizontal, horizontal = true)
    val y = Kde.kdeEstimateD(vertical, horizontal = false)
    val t2 = System.nanoTime()
    val (right, left, top, bottom) = Neighbors.fourDirectionLinks(boxes, x, y)
    val components = Neighbors.connectedComponents(boxes.length, Seq(right, left, top, bottom))
    val t3 = System.nanoTime()
    val envs = Paragraphs.envelopes(components, words)
    val m = Paragraphs.ignoreMargins(envs, PageW, pageH, 0.0, 0.0, 0.0)
    val merged =
      if (m.length >= 3) {
        val p1 = Paragraphs.pinp(m, PageW, pageH, 0.0, 0.0, 0.0, theta = 7)
        val p2 = Paragraphs.pinp2(p1, PageW, pageH, 0.0, 0.0, 0.0, theta = 10)
        Paragraphs.pinp(p2, PageW, pageH, 0.0, 0.0, 0.0, theta = 7)
      } else m
    val t4 = System.nanoTime()
    val ordered = Paragraphs.paragraphOrder(merged)
    val regions = WordOrder.finalWordOrder(
      ordered.sortBy(_.order)(Ordering.Int).map(_.members), words)
    val t5 = System.nanoTime()
    val whole = ReadingOrderPipeline.run(words, PageW, pageH)
    val t6 = System.nanoTime()
    neighborsNs += t1 - t0; kdeNs += t2 - t1; linksNs += t3 - t2
    parasNs += t4 - t3; orderNs += t5 - t4; roNs += t6 - t5

    if (whole.regions != regions) Some("stage replay differs from ReadingOrderPipeline.run")
    else if (!blockOrders(words, regions).sameElements(ex.blocks.map(_.order)))
      Some("replayed block order differs from the extractor's")
    else None
  }

  /** 1-based block orders from the pipeline's regions, with blocks the walk
    * never emitted appended in document order — the extractor's contract. */
  private def blockOrders(words: IndexedSeq[Word], regions: Seq[graft.layout.Region]): Array[Int] = {
    val orderOf = Array.fill(words.length)(-1)
    val byY = words.indices.map(k => words(k).bbox.y -> k).toMap
    var maxOrd = -1
    for (r <- regions; k <- byY.get(r.bbox.y) if words(k).bbox == r.bbox) {
      orderOf(k) = r.order - 1
      maxOrd = math.max(maxOrd, r.order - 1)
    }
    for (k <- orderOf.indices if orderOf(k) < 0) { maxOrd += 1; orderOf(k) = maxOrd }
    orderOf.map(_ + 1)
  }

  /** The per-page layer metrics, means per traced page. */
  def metrics: Seq[Metric] = Seq(
    Metric("html.parse_us", us(parseNs), "us"),
    Metric("extract.blocks_us", us(blocksNs), "us"),
    Metric("extract.content_ratio",
      if (allBlocks == 0) 0.0 else contentBlocks.toDouble / allBlocks, "ratio"),
    Metric("extract.content_blocks", if (pages == 0) 0.0 else contentBlocks.toDouble / pages, "count"),
    Metric("extract.us", us(extractNs), "us"),
    Metric("extract.stage_coverage",
      if (extractNs == 0) 0.0 else (parseNs + blocksNs + roNs).toDouble / extractNs, "ratio"),
    Metric("geom.kde_us", us(kdeNs), "us"),
    Metric("layout.neighbors_us", us(neighborsNs), "us"),
    Metric("layout.links_cc_us", us(linksNs), "us"),
    Metric("layout.paragraphs_us", us(parasNs), "us"),
    Metric("layout.order_us", us(orderNs), "us"),
    Metric("layout.ro_us", us(roNs), "us"))
}
