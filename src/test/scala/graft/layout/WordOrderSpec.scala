package graft.layout

import scala.collection.mutable.ArrayBuffer
import graft.TestData
import graft.geom.BBox
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The final word order over word indices against the coordinate-tuple
  * port it replaced (kept below as a test-only copy): the same regions,
  * orders and line numbers on every replayed extraction page and
  * reading-order fixture, and on words built to collide — two words on
  * one box, two words with one id, equal-y and equal-x ties, inverted
  * boxes whose first line is empty — under components that repeat a
  * member or are empty. */
class WordOrderSpec extends AnyFunSuite {
  import WordOrderSpec.Coordinates

  private def check(components: Seq[Vector[Int]], words: IndexedSeq[Word], what: String): Unit =
    assert(WordOrder.finalWordOrder(components, words) == Coordinates.finalWordOrder(components, words), what)

  /** The emit order the pipeline uses, and the raw components. */
  private def checkReplay(r: StageReplay, what: String): Unit = {
    val ordered = Paragraphs.paragraphOrder(r.merged).sortBy(_.order)(Ordering.Int).map(_.members)
    check(ordered, r.words, s"$what ordered")
    check(r.components, r.words, s"$what components")
  }

  test("the word order matches the coordinate lookup on every extraction page") {
    val pages = StageReplay.extractionPages
    for ((r, k) <- pages.zipWithIndex) checkReplay(r, s"page $k")
    assert(pages.length >= 2000)
  }

  test("the word order matches the coordinate lookup on the reading-order fixtures") {
    for (name <- Seq("ajoy", "openseg", "craft")) {
      val g = TestData.readResource(s"/golden/ro/$name.json")
      val words = g.get("boxes").elements.asScala.zipWithIndex.map { case (b, i) =>
        Word(i, BBox(b.get(0).asInt, b.get(1).asInt, b.get(2).asInt, b.get(3).asInt))
      }.toVector
      checkReplay(StageReplay.of(words, g.get("pageW").asInt, g.get("pageH").asInt), name)
    }
  }

  test("the word order matches the coordinate lookup on colliding words") {
    val rng = new scala.util.Random(5)
    val grid = Seq(0, 10, 20, 30, 40)
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.length))
    for (k <- 0 until 2000) {
      val n = rng.nextInt(25)
      // few distinct boxes, so boxes repeat and y and x tie; some flat or
      // inverted, so a mean height can be zero or negative
      val boxes = Vector.fill(1 + rng.nextInt(6))(
        BBox(pick(grid), pick(grid), pick(Seq(5, 10, 20, 0, -10)), pick(Seq(5, 10, 20, 0, -10, -30))))
      // ids mostly dense, sometimes shared by two words
      val words = Vector.tabulate(n)(i => Word(if (rng.nextInt(5) == 0) rng.nextInt(n) else i, pick(boxes)))
      val ids = words.map(_.id).distinct
      val components = Vector.fill(rng.nextInt(6)) {
        if (ids.isEmpty || rng.nextInt(6) == 0) Vector.empty[Int]
        else Vector.fill(1 + rng.nextInt(8))(pick(ids)) // repeats allowed
      }
      check(components, words, s"case $k: words ${words.mkString(",")} components ${components.mkString(",")}")
    }
    // a member with no word throws in both
    val words = Vector(Word(0, BBox(0, 0, 10, 10)))
    intercept[NoSuchElementException](WordOrder.finalWordOrder(Seq(Vector(0, 3)), words))
    intercept[NoSuchElementException](Coordinates.finalWordOrder(Seq(Vector(0, 3)), words))
  }
}

object WordOrderSpec {

  /** The coordinate-tuple final word order, verbatim. */
  object Coordinates {

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

    def finalWordOrder(components: Seq[Vector[Int]], words: IndexedSeq[Word]): Vector[Region] = {
      val visited = Array.fill(words.length)(false)
      val regions = ArrayBuffer.empty[Region]
      var order = 0
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
}
