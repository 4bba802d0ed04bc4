package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.html.Dom

class TablesSpec extends AnyFunSuite {

  private def parse(html: String) = Dom.parse(html.getBytes("UTF-8"))

  test("simple table: rows, cells, cellrows geometry") {
    val dom = parse(
      "<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td><td>e</td></tr></table>")
    val ts = Tables.tablesOf(dom)
    assert(ts.length == 1)
    val t = ts.head
    assert(t.nrows == 2)
    assert(t.ncells == 5)
    assert(t.cellrows(0).length == 2)
    assert(t.cellrows(1).length == 3)
    // row 0 cells split the content width evenly and tile without overlap
    val r0 = t.cellrows(0)
    assert(r0(0).x2 == r0(1).x)
    assert(r0.forall(_.h == Extractor.LineH))
    // rows stack one line apart
    assert(t.cellrows(1).head.y == t.cellrows(0).head.y + Extractor.LineH)
  }

  test("thead/tbody indirection and th cells are traversed") {
    val dom = parse(
      "<table><thead><tr><th>h1</th><th>h2</th></tr></thead>" +
        "<tbody><tr><td>x</td><td>y</td></tr></tbody></table>")
    val t = Tables.tablesOf(dom).head
    assert(t.nrows == 2)
    assert(t.ncells == 4)
  }

  test("nested tables become separate structs, not inner rows") {
    val dom = parse(
      "<table><tr><td><table><tr><td>inner</td></tr></table></td></tr></table>")
    val ts = Tables.tablesOf(dom)
    assert(ts.length == 2)
    assert(ts.map(_.nrows).sorted == Vector(1, 1))
    assert(ts.map(_.ncells).sum == 2)
  }

  test("pages with no table yield nothing") {
    assert(Tables.tablesOf(parse("<p>plain</p>")).isEmpty)
  }

  test("generated pages containing tables produce consistent structure") {
    val withTables = graft.pages.PageGen.pages(42L, 0, 50)
      .map(p => Tables.tablesOf(Dom.parse(p.html)))
      .filter(_.nonEmpty).toVector
    assert(withTables.nonEmpty, "generator should emit some tables in 50 pages")
    withTables.flatten.foreach { t =>
      assert(t.ncells == t.cellrows.valuesIterator.map(_.length).sum)
      assert(t.nrows == t.cellrows.size)
    }
  }
}
