package graft.layout

import graft.extract.Extractor
import graft.geom.{BBox, Kde}
import graft.pages.{PageGen, PagesTable}

/** One page's reading-order chain, stage by stage, as
  * `ReadingOrderPipeline.run` calls it with zero margins: the input of
  * every stage, so a spec can re-run any stage against a reference
  * implementation. `passes` holds the outputs of pinp(7), pinp2(10) and
  * pinp(7), each the next one's input; it is empty when fewer than three
  * paragraphs survive the margin filter. */
final case class StageReplay(
    words: IndexedSeq[Word],
    pageW: Int,
    pageH: Int,
    horizontal: Array[Double],
    vertical: Array[Double],
    x: Int,
    y: Int,
    links: Seq[Array[NLink]],
    components: Vector[Vector[Int]],
    kept: Vector[Para],
    passes: Seq[Vector[Para]]) {
  def boxes: IndexedSeq[BBox] = words.map(_.bbox)

  /** What the paragraph order walk receives. */
  def merged: Vector[Para] = passes.lastOption.getOrElse(kept)
}

object StageReplay {

  def of(words: IndexedSeq[Word], pageW: Int, pageH: Int): StageReplay = {
    val boxes = words.map(_.bbox)
    val (horizontal, vertical) = Neighbors.findClosestNeighbors(boxes)
    val x = Kde.kdeEstimateD(horizontal, horizontal = true)
    val y = Kde.kdeEstimateD(vertical, horizontal = false)
    val (right, left, top, bottom) = Neighbors.fourDirectionLinks(boxes, x, y)
    val links = Seq(right, left, top, bottom)
    val components = Neighbors.connectedComponents(boxes.length, links)
    val kept = Paragraphs.ignoreMargins(Paragraphs.envelopes(components, words), pageW, pageH, 0.0, 0.0, 0.0)
    val passes =
      if (kept.length < 3) Nil
      else {
        val p1 = Paragraphs.pinp(kept, pageW, pageH, 0.0, 0.0, 0.0, theta = 7)
        val p2 = Paragraphs.pinp2(p1, pageW, pageH, 0.0, 0.0, 0.0, theta = 10)
        val p3 = Paragraphs.pinp(p2, pageW, pageH, 0.0, 0.0, 0.0, theta = 7)
        Seq(p1, p2, p3)
      }
    StageReplay(words, pageW, pageH, horizontal, vertical, x, y, links, components, kept, passes)
  }

  /** The extractor's layout branch on one page: its block boxes on the
    * virtual 960px page (as perfbench's PageTrace rebuilds them), or None
    * when the page has no content block. */
  def ofPage(html: Array[Byte]): Option[StageReplay] = {
    val ex = Extractor.extract("replay://page", html)
    require(!ex.failed, "extraction failed")
    if (ex.blocks.isEmpty) None
    else {
      val words = ex.blocks.indices.map { k =>
        val b = ex.blocks(k)
        Word(k, BBox(b.x, b.y, b.w, b.h))
      }
      val last = ex.blocks.last
      Some(of(words, 960, math.max(last.y + last.h + 50, 200)))
    }
  }

  /** sf0.01's pages (the board's natural mix), then 40 seed-11 pages with
    * at least 200 golden blocks (the benchmark's tail). Shared by the
    * specs of one test JVM. */
  lazy val extractionPages: Vector[StageReplay] = {
    val natural = (0L until PagesTable.rowsFor("sf0.01")).map(i => PageGen.pageFull(PagesTable.Seed, i))
    val tail = Iterator.from(0).map(i => PageGen.pageFull(11L, i.toLong))
      .filter(_.meta.n_spans >= 200).take(40)
    (natural.iterator ++ tail).flatMap(g => ofPage(g.row.html)).toVector
  }
}
