package graft.layout

import com.fasterxml.jackson.databind.JsonNode
import graft.TestData
import graft.geom.{BBox, Kde}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Stage-by-stage parity of the reading-order chain against goldens
  * produced by EXECUTING the reference's own routils code on the fixture
  * box sets (tools/gen_ro_goldens.py):
  *
  *   edge-midpoint kNN sample (neighbor_utils.find_closest_neighbors)
  *   → KDE thresholds (kde_utils.kde_estimate_d)
  *   → 4-direction NN links (neighbor_utils.calculate_{right,left,top,bottom}box)
  *   → connected components (create_graphs edge rules)
  *   → envelopes + margin filter (paragraph.recognise_paragraphs head)
  *   → pinp(7)/pinp2(10)/pinp(7) (pinp_utils)
  *   → paragraph order walk (paragraph.paragraph_order)
  *   → final word order (new_read_order.get_final_word_order)
  */
class ReadingOrderGoldenSpec extends AnyFunSuite {

  private def golden(name: String): JsonNode =
    TestData.readResource(s"/golden/ro/$name.json")

  private def arr(n: JsonNode): Vector[JsonNode] = n.elements.asScala.toVector

  private def approx(got: Double, want: Double, what: String): Unit =
    assert(math.abs(got - want) <= 5e-6 + 1e-9 * math.abs(want),
      s"$what: got $got want $want")

  private def checkLinks(got: Array[NLink], want: JsonNode, what: String): Unit = {
    assert(got.length == want.size, s"$what length")
    for (i <- got.indices) {
      val w = want.get(i)
      val (wd, wid) = (w.get(0).asDouble, w.get(1).asInt)
      if (wd == -1.0) assert(got(i).isNone, s"$what[$i]: got ${got(i)} want none")
      else {
        assert(!got(i).isNone && got(i).id == wid,
          s"$what[$i]: got ${got(i)} want [$wd,$wid]")
        approx(got(i).dist, wd, s"$what[$i].dist")
      }
    }
  }

  private def checkParas(got: Seq[Para], want: JsonNode, what: String,
                         withBB: Boolean = false, withOrder: Boolean = false): Unit = {
    val rows = arr(want)
    assert(got.length == rows.length, s"$what count: got ${got.length} want ${rows.length}")
    for ((p, w) <- got.zip(rows)) {
      assert(p.members.sorted == arr(w.get("members")).map(_.asInt).sorted,
        s"$what members of para ${p.id}")
      approx(p.top.x, w.get("top").get(0).asDouble, s"$what top.x")
      approx(p.top.y, w.get("top").get(1).asDouble, s"$what top.y")
      approx(p.bottom.y, w.get("bottom").get(1).asDouble, s"$what bottom.y")
      approx(p.left.x, w.get("left").get(0).asDouble, s"$what left.x")
      approx(p.right.x, w.get("right").get(0).asDouble, s"$what right.x")
      if (withBB) {
        val bb = w.get("bottom_box")
        if (bb.get(0).asDouble == -1.0) assert(p.bottomBox.isNone, s"$what bottomBox none")
        else {
          assert(p.bottomBox.id == bb.get(1).asInt, s"$what bottomBox id")
          approx(p.bottomBox.dist, bb.get(0).asDouble, s"$what bottomBox dist")
        }
      }
      if (withOrder)
        assert(p.order == w.get("order").asInt, s"$what order of para ${p.id}")
    }
  }

  for (name <- Seq("ajoy", "openseg", "craft")) test(s"reading-order chain matches reference on $name") {
    val g = golden(name)
    val pageW = g.get("pageW").asInt
    val pageH = g.get("pageH").asInt
    val boxes = arr(g.get("boxes")).map { b =>
      BBox(b.get(0).asInt, b.get(1).asInt, b.get(2).asInt, b.get(3).asInt)
    }
    val words = boxes.zipWithIndex.map { case (b, i) => Word(i, b) }

    // J5: kNN distance sample
    val (h, v) = Neighbors.findClosestNeighbors(boxes)
    val wantH = arr(g.get("horizontal")).map(_.asDouble)
    val wantV = arr(g.get("vertical")).map(_.asDouble)
    for (i <- h.indices) approx(h(i), wantH(i), s"horizontal[$i]")
    for (i <- v.indices) approx(v(i), wantV(i), s"vertical[$i]")

    // A5: KDE thresholds
    val x = Kde.kdeEstimateD(h, horizontal = true)
    val y = Kde.kdeEstimateD(v, horizontal = false)
    assert(x == g.get("x").asInt, s"x threshold: got $x")
    assert(y == g.get("y").asInt, s"y threshold: got $y")

    // J4: 4-direction links
    val (right, left, top, bottom) = Neighbors.fourDirectionLinks(boxes, x, y)
    checkLinks(right, g.get("right"), "right")
    checkLinks(left, g.get("left"), "left")
    checkLinks(top, g.get("top"), "top")
    checkLinks(bottom, g.get("bottom"), "bottom")

    // CC
    val comps = Neighbors.connectedComponents(boxes.length, Seq(right, left, top, bottom))
    val wantComps = arr(g.get("components")).map(c => arr(c).map(_.asInt))
    assert(comps.map(_.sorted) == wantComps, "components")

    // A1 + F5 (margins 0 = no-op, as in the golden chain)
    val envs = Paragraphs.envelopes(comps, words)
    val before = Paragraphs.ignoreMargins(envs, pageW, pageH, 0, 0, 0)
    checkParas(before, g.get("paras_before_pinp"), "before_pinp")

    // F5 with real margins (separate golden; chain continues from `before`)
    val keptIds = Paragraphs.ignoreMargins(envs, pageW, pageH, 10, 10, 10).map(_.id)
    assert(keptIds == arr(g.get("margins_kept_ids")).map(_.asInt), "margins_kept_ids")

    // J6: pinp(7) → pinp2(10) → pinp(7)
    val after =
      if (before.length >= 3) {
        val p1 = Paragraphs.pinp(before, pageW, pageH, 0, 0, 0, theta = 7)
        val p2 = Paragraphs.pinp2(p1, pageW, pageH, 0, 0, 0, theta = 10)
        Paragraphs.pinp(p2, pageW, pageH, 0, 0, 0, theta = 7)
      } else before
    checkParas(after, g.get("paras_after_pinp"), "after_pinp", withBB = true)

    // W3: paragraph order walk
    val ordered = Paragraphs.paragraphOrder(after)
    checkParas(ordered, g.get("paras_ordered"), "ordered", withBB = true, withOrder = true)

    // W4: top-down/left-right paragraph sort (paragraph.get_paragraph_order)
    val w4 = Paragraphs.getParagraphOrder(after)
    assert(w4.map(_.order) == arr(g.get("w4_orders")).map(_.asInt), "w4 orders")

    // W5-alt: column_order chain walk (column_utils.column_order)
    val w5 = Paragraphs.columnOrder(after)
    assert(w5.map(_.order) == arr(g.get("w5_column_orders")).map(_.asInt), "w5 column orders")

    // W1/W2 emit: final word order over paragraphs sorted by order
    val regions = WordOrder.finalWordOrder(
      ordered.sortBy(_.order)(Ordering.Int).map(_.members), words)
    val wantRegions = arr(g.get("regions"))
    assert(regions.length == wantRegions.length, "region count")
    for ((r, w) <- regions.zip(wantRegions)) {
      assert(r.bbox == BBox(w.get("x").asInt, w.get("y").asInt,
        w.get("w").asInt, w.get("h").asInt), s"region bbox at order ${r.order}")
      assert(r.order == w.get("order").asInt, "region order")
      assert(r.line == w.get("line").asInt, "region line")
    }

    // and the stitched pipeline reproduces the same final regions
    val stitched = ReadingOrderPipeline.run(words, pageW, pageH)
    assert(stitched.regions == regions, "ReadingOrderPipeline.run == stage chain")
  }

  test("W5 column order returns on a bottom-link cycle while a paragraph is unvisited") {
    // 0 -> 1 -> 0 and 2 unlinked: the walk must re-seed at the visited
    // target instead of circling the cycle with paragraph 2 still open
    def para(id: Int, x: Double, y: Double, link: Option[Int]) =
      Para(Vector(id), id, top = graft.geom.Pt(x, y), bottom = graft.geom.Pt(x, y + 10),
        right = graft.geom.Pt(x + 5, y + 5), left = graft.geom.Pt(x - 5, y + 5),
        bottomBox = link.fold(NLink.none)(NLink(10.0, _)))
    val paras = Vector(para(0, 10, 10, Some(1)), para(1, 10, 30, Some(0)),
      para(2, 500, 500, None))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val w5 = Await.result(Future(Paragraphs.columnOrder(paras)),
      scala.concurrent.duration.Duration(5, "s"))
    assert(w5.map(_.order) == Vector(0, 0, 1))
  }
}
