package graft.extract

import scala.collection.mutable.ArrayBuffer
import graft.geom.BBox
import graft.html.Dom

/** Table structure for one `<table>` element: the reference's table Region
  * carries `nrows`, `ncells` and `cellrows` — a row-index → list-of-cell-
  * boxes map (reference: server/modules/iitb/table/models.py:35-66, filled
  * from the detector sidecar at server/modules/iitb/table/routes.py:39-43).
  * Ours derives the same structure from the DOM instead of a vision model.
  */
final case class TableStruct(
    tableIdx: Int,
    nrows: Int,
    ncells: Int,
    cellrows: Map[Int, Vector[BBox]])

/** Table-structure recognition over the arena DOM.
  *
  * Rows are `<tr>` elements reached without crossing a nested `<table>`;
  * cells are `<td>`/`<th>` under a row, likewise not crossing a nested
  * table (nested tables are emitted as their own TableStruct). Cell boxes
  * are laid out on the extractor's pseudo-geometry grid: rows are
  * `Extractor.LineH`-tall bands stacked from the table top, columns split
  * the page width evenly by that row's cell count — the same deterministic
  * geometry model the reading-order branch uses, so table cells and
  * paragraph blocks share one coordinate space.
  */
object Tables {

  import Extractor.{LineH, MarginX, PageW}

  def tablesOf(dom: Dom): Vector[TableStruct] = {
    val tables = ArrayBuffer.empty[Int]
    dom.walk(dom.root) { i => if (dom.tag(i) == "table") tables += i }

    var yCursor = MarginX
    tables.zipWithIndex.map { case (tableNode, tableIdx) =>
      val rows = ArrayBuffer.empty[Int]
      collectRows(dom, tableNode, rows)
      val width = PageW - 2 * MarginX
      val cellrows = rows.zipWithIndex.map { case (tr, r) =>
        val cells = ArrayBuffer.empty[Int]
        collectCells(dom, tr, cells)
        val n = math.max(cells.length, 1)
        val cw = width / n
        val boxes = cells.indices.map { c =>
          BBox(MarginX + c * cw, yCursor + r * LineH, cw, LineH)
        }.toVector
        r -> boxes
      }.toMap
      yCursor += rows.length * LineH + LineH
      TableStruct(tableIdx, rows.length, cellrows.valuesIterator.map(_.length).sum, cellrows)
    }.toVector
  }

  /** `<tr>` descendants of `table`, not descending into nested tables. */
  private def collectRows(dom: Dom, node: Int, out: ArrayBuffer[Int]): Unit =
    dom.foreachChild(node) { c =>
      dom.tag(c) match {
        case "tr"                        => out += c
        case "table"                     => () // nested: its own struct
        case t if !dom.isText(c)         => collectRows(dom, c, out)
        case _                           => ()
      }
    }

  /** `<td>`/`<th>` descendants of a row, not crossing nested tables/rows. */
  private def collectCells(dom: Dom, node: Int, out: ArrayBuffer[Int]): Unit =
    dom.foreachChild(node) { c =>
      dom.tag(c) match {
        case "td" | "th"                 => out += c
        case "table" | "tr"              => ()
        case t if !dom.isText(c)         => collectCells(dom, c, out)
        case _                           => ()
      }
    }
}
