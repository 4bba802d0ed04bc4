package graft.layout

import graft.geom.Kde

/** The full per-page reading-order DAG — the reference's richest pipeline
  * (SURVEY.md §3 entry point 3; reference call chain across
  * routils/{neighbor_utils,kde_utils,generate_graph_utils,paragraph,
  * pinp_utils,para_utils,new_read_order}.py):
  *
  * boxes → edge-midpoint kNN sample → KDE thresholds (x horizontal,
  * y vertical) → 4-direction NN join → connected components → envelopes →
  * margin filter → pinp(7)/pinp2(10)/pinp(7) containment merges →
  * paragraph order walk → per-paragraph line sort → final 1-based word
  * order. The margins are zero: the engine never trims a page edge.
  *
  * Pure per-page Scala: in the Spark job this runs inside the typed
  * mapPartitions over the page rows; nothing here touches more than one
  * page.
  */
object ReadingOrderPipeline {

  final case class Result(regions: Vector[Region])

  /** The pipeline's first five stages: neighbour sample → two KDE
    * thresholds → 4-direction links → components → paragraph envelopes. */
  def envelopes(words: IndexedSeq[Word]): Vector[Para] = {
    val boxes = words.map(_.bbox)

    // J5 + A5: adaptive distance thresholds
    val (horizontal, vertical) = Neighbors.findClosestNeighbors(boxes)
    val x = Kde.kdeEstimateD(horizontal, horizontal = true)
    val y = Kde.kdeEstimateD(vertical, horizontal = false)

    // J4 + CC
    val (right, left, top, bottom) = Neighbors.fourDirectionLinks(boxes, x, y)
    val components =
      Neighbors.connectedComponents(boxes.length, Seq(right, left, top, bottom))

    // A1
    Paragraphs.envelopes(components, words)
  }

  def run(words: IndexedSeq[Word], pageW: Int, pageH: Int): Result = {
    if (words.isEmpty) return Result(Vector.empty)

    // F5
    val afterMargins = Paragraphs.ignoreMargins(envelopes(words), pageW, pageH, 0.0, 0.0, 0.0)

    // J6: pinp(7) → pinp2(10) → pinp(7) (reference: paragraph.py:109-116)
    val afterPinp =
      if (afterMargins.length >= 3) {
        val p1 = Paragraphs.pinp(afterMargins, pageW, pageH, 0.0, 0.0, 0.0, theta = 7)
        val p2 = Paragraphs.pinp2(p1, pageW, pageH, 0.0, 0.0, 0.0, theta = 10)
        Paragraphs.pinp(p2, pageW, pageH, 0.0, 0.0, 0.0, theta = 7)
      } else afterMargins

    // W3
    val ordered = Paragraphs.paragraphOrder(afterPinp)

    // W1 + final emit, paragraphs visited in reading order
    val componentsInOrder = ordered.sortBy(_.order)(Ordering.Int).map(_.members)
    Result(WordOrder.finalWordOrder(componentsInOrder, words))
  }
}
