package graft.layout

import scala.collection.mutable.ArrayBuffer
import graft.geom.BBox

/** W1 + the live final ordering path, ported from
  * reference: server/modules/main/routils/new_read_order.py. All
  * per-page and inherently sequential — small n.
  */
object WordOrder {

  /** W1: line grouping + within-line x sort over (x1,y1,x2,y2) boxes
    * already sorted by y — a new line starts when y1 ≥ current + 0.75·mean
    * height (reference: new_read_order.py:194-229 `sort_words`). */
  def sortWords(boxes: Seq[(Int, Int, Int, Int)]): Vector[Vector[(Int, Int, Int, Int)]] = {
    if (boxes.isEmpty) return Vector.empty
    val meanHeight = boxes.map(b => b._4 - b._2).sum.toDouble / boxes.length
    var currentLine = boxes.head._2.toDouble
    val lines = ArrayBuffer.empty[ArrayBuffer[(Int, Int, Int, Int)]]
    var tmp = ArrayBuffer.empty[(Int, Int, Int, Int)]
    for (box <- boxes) {
      if (box._2 >= currentLine + meanHeight * 0.75) {
        lines += tmp
        tmp = ArrayBuffer(box)
        currentLine = box._2.toDouble
      } else tmp += box
    }
    lines += tmp
    lines.map(_.sortBy(_._1).toVector).toVector
  }

  /** The live final ordering: per paragraph (in the given component
    * order), stable y-sort the member boxes, group into lines with
    * [[sortWords]], then emit 1-based (order, line-within-paragraph)
    * regions; duplicate coordinates resolved via first-match + visited
    * (reference: new_read_order.py:363-423 `get_final_word_order`,
    * box-id lookup …:6-15). */
  def finalWordOrder(components: Seq[Vector[Int]], words: IndexedSeq[Word]): Vector[Region] = {
    val visited = Array.fill(words.length)(false)
    val regions = ArrayBuffer.empty[Region]
    var order = 0
    // first-match semantics of the reference's linear scan
    // (new_read_order.py:6-15), precomputed as a first-wins hash index
    val coordIndex = new java.util.HashMap[(Int, Int, Int, Int), Int](words.length * 2)
    for (k <- words.indices) {
      val w = words(k).bbox
      coordIndex.putIfAbsent((w.x, w.y, w.x2, w.y2), k)
    }
    def boxIdFromCoordinates(b: (Int, Int, Int, Int)): Int =
      coordIndex.getOrDefault(b, -1)
    val byId = words.iterator.map(w => w.id -> w.bbox).toMap
    for (members <- components) {
      val coords = members.map { id =>
        val b = byId(id); (b.x, b.y, b.x2, b.y2)
      }
      val sortedY = coords.sortBy(_._2)(Ordering.Int)
      val lines = sortWords(sortedY)
      var cc = 0
      for (line <- lines) {
        cc += 1
        for (box <- line) {
          val boxId = boxIdFromCoordinates(box)
          if (boxId >= 0 && !visited(boxId)) {
            order += 1
            visited(boxId) = true
            regions += Region(
              bbox = BBox(box._1, box._2, box._3 - box._1, box._4 - box._2),
              order = order,
              line = cc)
          }
        }
      }
    }
    regions.toVector
  }
}
