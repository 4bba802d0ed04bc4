package graft

import graft.extract.{BlockOut, Extractor}
import graft.geom.BBox
import graft.html.Dom
import graft.layout._

/** Per-page layout-operator drivers for the query surface: build
  * deterministic detector box sets from a page's extracted blocks (the
  * `blocks` of [[graft.jobs.ExtractionJob.extract]]'s rows) and run the
  * ensemble-merge / projection operators over them. The second and
  * third "detectors" are jittered variants of the first (pure function of
  * the box geometry), standing in for the reference's multi-model
  * ensembles (V-05.xx). */
object LayoutQueries {

  private def blockBoxes(blocks: Array[BlockOut]): Vector[Region] =
    blocks.iterator.zipWithIndex.map { case (b, i) =>
      Region(BBox(b.x, b.y, b.w, b.h), order = i + 1, line = b.line)
    }.toVector

  /** Deterministic jitter: shift/scale derived from box coordinates. */
  private def jitter(rs: Vector[Region], dx: Int, dy: Int, grow: Int): Vector[Region] =
    rs.map { r =>
      val b = r.bbox
      Region(BBox(b.x + dx + (b.y % 3), b.y + dy + (b.x % 3),
        math.max(1, b.w + grow), math.max(1, b.h + grow)), order = 0, line = r.line)
    }

  def mergeEnsemble(url: String, blocks: Array[BlockOut]): (String, Int, Long) = {
    val set1 = blockBoxes(blocks)
    val set2 = jitter(set1, 3, 2, 4)
    val merged = Merge.mergePipelineTwo(set1, set2)
    (url, merged.length, merged.iterator.map(_.order.toLong).sum)
  }

  def mergeThreeV3(url: String, blocks: Array[BlockOut]): (String, Int, Long) = {
    val set1 = blockBoxes(blocks)
    val set2 = jitter(set1, 3, 2, 4)
    val set3 = jitter(set1, -2, 5, -2)
    val merged = MergeV3.mergePipelineThreeV3(set1, set2, set3)
    (url, merged.length, merged.iterator.map(_.order.toLong).sum)
  }

  /** W4 + W5: top-down/left-right paragraph sort, then column grouping —
    * runs the pipeline's envelope prefix and the two column operators
    * over it; emits per-page column stats. */
  def columns(url: String, blocks: Array[BlockOut]): (String, Int, Int, Long) = {
    val words = blocks.iterator.zipWithIndex.map { case (b, i) =>
      Word(i, BBox(b.x, b.y, b.w, b.h))
    }.toVector
    if (words.isEmpty) return (url, 0, 0, 0L)
    val ordered = Paragraphs.getParagraphOrder(ReadingOrderPipeline.envelopes(words))
    val withCols = Paragraphs.getCol(ordered)
    val nCols = withCols.iterator.map(_.col).distinct.length
    (url, withCols.length, nCols, withCols.iterator.map(_.order.toLong).sum)
  }

  /** F6: layout-class filter — table/figure blocks become zones; paragraph
    * envelopes ≥50% inside them are dropped. Emits (kept, dropped). */
  def layoutFilter(url: String, blocks: Array[BlockOut]): (String, Int, Int) = {
    val zones = blocks.iterator
      .filter(b => b.label == "table_cell" || b.label == "caption")
      .map(b => (b.x.toDouble, b.y.toDouble, (b.x + b.w).toDouble, (b.y + b.h).toDouble))
      .toSeq
    val paras = blocks.iterator.zipWithIndex.map { case (b, i) =>
      Para(members = Vector(i), id = i,
        top = graft.geom.Pt(b.x + b.w / 2.0, b.y.toDouble),
        bottom = graft.geom.Pt(b.x + b.w / 2.0, (b.y + b.h).toDouble),
        right = graft.geom.Pt((b.x + b.w).toDouble, b.y + b.h / 2.0),
        left = graft.geom.Pt(b.x.toDouble, b.y + b.h / 2.0))
    }.toVector
    val kept = Paragraphs.filterLayouts(paras, Map("table" -> zones))
    (url, kept.length, paras.length - kept.length)
  }

  /** Per-page style-context totals (the l7 query shape): summed in the
    * page transform — no shuffle, the per-url grouping is free. */
  def textAttrTotals(url: String, html: Array[Byte]): (String, Long, Long, Long, Long, Long, Long, Long, Long) = {
    val dom = graft.html.Dom.parse(html)
    var chars = 0L; var b = 0L; var i = 0L; var u = 0L; var s = 0L; var hd = 0L; var c = 0L
    var px = 0L
    graft.extract.TextAttributes.blockAttrs(dom).foreach { a =>
      chars += a.chars; b += a.boldChars; i += a.italicChars
      u += a.underlineChars; s += a.strikeChars; c += a.coloredChars
      if (a.fontSize > 0) hd += a.chars
      px += a.fontSize
    }
    (url, chars, b, i, u, s, hd, c, px)
  }

  /** F1/F2/F9: detector-side filter chain over a deterministic box set
    * with synthetic confidences (pure function of geometry). */
  def detectorFilters(url: String, blocks: Array[BlockOut]): (String, Int, Int, Int, Int) = {
    val raw = blockBoxes(blocks).zipWithIndex.map { case (r, i) =>
      // synthetic confidence in [-0.1, 0.9] derived from coordinates
      r.copy(confidence = ((r.bbox.x * 31 + r.bbox.y * 17 + i) % 100) / 100.0 - 0.1)
    }
    val conf = Filters.confidenceFilter(raw)
    val sized = Filters.sizeFilter(conf)
    val capped = Filters.capDetections(sized, maxDet = 300)
    (url, raw.length, conf.length, sized.length, capped.length)
  }

  /** Table-structure recognition (iitb/table): per page, number of
    * tables plus total rows/cells and the envelope area of all cell
    * boxes — the DOM-side analogue of the reference's nrows/ncells/
    * cellrows region fields. */
  def tableStructure(url: String, html: Array[Byte]): (String, Int, Int, Int, Long) = {
    val tables = graft.extract.Tables.tablesOf(Dom.parse(html))
    val cellArea = tables.iterator
      .flatMap(_.cellrows.valuesIterator.flatten)
      .map(b => b.w.toLong * b.h.toLong).sum
    (url, tables.length, tables.iterator.map(_.nrows).sum,
      tables.iterator.map(_.ncells).sum, cellArea)
  }

  /** A8 + A9: post-processing — 4-edge pixel-run dilate over the page's
    * block-ink grid, then padding clamped to the page
    * (reference: post_helper.py:10-35 `process_region` + 57-79
    * `add_region_padding`). Emits the post-processed xyxy per block. */
  def postprocess(url: String, blocks: Array[BlockOut], padding: Int = 5)
      : Seq[(String, Int, Int, Int, Int, Int)] = {
    val boxes = blocks.map(b => BBox(b.x, b.y, b.w, b.h)).toIndexedSeq
    if (boxes.isEmpty) return Seq.empty
    val pageW = Extractor.PageW
    val pageH = math.max(boxes.iterator.map(_.y2).max + 40, 200)
    val grid = new Projection.BoxInkGrid(pageW, pageH, boxes)
    boxes.zipWithIndex.map { case (b, i) =>
      val d = Projection.dilate4(b, grid)
      val p = graft.geom.Geometry.padClamp(d, padding, pageW, pageH)
      (url, i, p.x, p.y, p.x2, p.y2)
    }
  }

  /** Hi-SAM line→paragraph grouping over the page's projection-profile
    * lines (each line = one run box), geometric affinity at the
    * reference's default threshold shape. */
  def hisamGroups(url: String, blocks: Array[BlockOut]): (String, Int, Int) = {
    val lines = profileLines(blocks).map(r => Hisam.Line(Vector(r.bbox)))
    val paras = Hisam.lineGroups(lines, layoutThresh = 0.5)
    (url, lines.length, paras.length)
  }

  /** F3: normalised-coordinate geometry projection — each block's
    * pseudo-geometry normalised over a (4000, 8000) source space, then
    * projected onto a 960×1280 page with rint (banker's) rounding and
    * symmetric padding 3, the reference's detector-output projection
    * (doctr.py:16-36 / doctr_utils.py:7-28). The 0.24/0.16 scale factors
    * admit NO exact .5 rounding ties (96x=100k+50 has no integer
    * solution), so the oracle's plain round() agrees with rint on every
    * representable input. */
  def geometryProjection(url: String, blocks: Array[BlockOut])
      : Seq[(String, Int, Int, Int, Int, Int)] =
    blocks.iterator.zipWithIndex.map { case (b, i) =>
      val norm = (b.x / 4000.0, b.y / 8000.0,
        (b.x + b.w) / 4000.0, (b.y + b.h) / 8000.0)
      val bb = Filters.geometryProjection(norm, pageW = 960, pageH = 1280, padding = 3)
      (url, i, bb.x, bb.y, bb.w, bb.h)
    }.toSeq

  /** Projection-profile line segmentation over the pseudo-page ink density. */
  def projectionLines(url: String, blocks: Array[BlockOut]): (String, Int, Long) = {
    val lines = profileLines(blocks)
    (url, lines.length, lines.iterator.map(_.bbox.h.toLong).sum)
  }

  /** The page's block boxes rasterised onto the y axis (the horizontal
    * projection profile), segmented into lines. */
  private def profileLines(blocks: Array[BlockOut]): Vector[Region] = {
    val boxes = blockBoxes(blocks)
    val height = boxes.iterator.map(_.bbox.y2).foldLeft(200)(math.max) + 20
    val hpp = new Array[Long](height)
    for (r <- boxes; y <- r.bbox.y until r.bbox.y2) hpp(y) += r.bbox.w.toLong
    Projection.segmentLines(hpp.toIndexedSeq, width = Extractor.PageW)
  }
}
