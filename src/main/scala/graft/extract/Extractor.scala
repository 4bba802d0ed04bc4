package graft.extract

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import graft.html.Dom
import graft.geom.BBox
import graft.layout.{ReadingOrderPipeline, Word}

/** A candidate text block lifted from the DOM. */
final case class Block(
    tag: String,
    label: String,
    text: String,
    linkChars: Int,
    classTokens: Set[String],
    ancestorTags: Set[String]) {
  def chars: Int = text.length
  def words: Int = if (text.isEmpty) 0 else {
    var c = 1; var i = 0
    while (i < text.length) { if (text.charAt(i) == ' ') c += 1; i += 1 }
    c
  }
}

/** Typed span into the extracted text. */
final case class Span(kind: String, label: String, start: Long, end: Long,
                      order: Int, line: Int)
final case class BlockOut(label: String, order: Int, line: Int,
                          x: Int, y: Int, w: Int, h: Int)
final case class Extracted(url: String, text: String,
                           spans: Array[Span], blocks: Array[BlockOut],
                           failed: Boolean = false)

/** Main-content extraction: streaming tokenizer → DOM → block scoring
  * (text/link density + tag/class heuristics à la Boilerpipe/Readability)
  * → layout branch over pseudo-geometry (reading-order pipeline at block
  * granularity) → text + typed spans.
  *
  * All thresholds are integer-exact (`3·linkChars > chars`, `words ≥ 5`,
  * `chars ≥ 30`) so the decision is reproducible byte-for-byte on any
  * platform. Extracted text = content blocks in document order, each
  * whitespace-normalised, joined by '\n'.
  *
  * The layout branch runs at block level, not word level, so the 100 TB
  * job stays compute-bounded (the reference runs the same DAG at word
  * level, O(n²) with n ≈ 500, per page; see BASELINE.md). A typical page
  * has a few dozen content blocks and the heavy tail several hundred. The
  * layout joins are band sweeps over y-sorted boxes, so a page costs about
  * O(blocks · log blocks), which `PageBudgetSpec` checks on pages of 4k
  * and 16k blocks.
  */
object Extractor {

  /** Elements whose subtree is never content. */
  private val skipTags = Set("script", "style", "noscript", "head", "title",
    "svg", "iframe", "template", "select", "option", "button", "object")

  /** Elements that open a new text block. */
  private val blockTags = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "dt", "dd",
    "td", "th", "pre", "blockquote", "figcaption", "caption", "article",
    "section", "main", "header", "footer", "nav", "aside", "ul", "ol",
    "table", "thead", "tbody", "tfoot", "tr", "figure", "form", "fieldset",
    "body", "html", "#root", "address", "details", "summary")

  /** Structural ancestors that mark chrome, not content. */
  private val chromeTags = Set("nav", "aside", "header", "footer")

  /** class/id tokens that mark boilerplate chrome. */
  private val boilerplateTokens = Set(
    "nav", "navbar", "menu", "footer", "header", "sidebar", "breadcrumb",
    "breadcrumbs", "comment", "comments", "share", "social", "ad", "ads",
    "advert", "advertisement", "promo", "banner", "cookie", "copyright",
    "widget", "related", "pagination", "pager", "masthead", "subscribe",
    "newsletter", "popup", "modal", "skip", "toolbar", "dropdown")

  private def labelOf(tag: String): String = tag match {
    case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" => "heading"
    case "li" | "dt" | "dd"                       => "list_item"
    case "td" | "th"                              => "table_cell"
    case "caption" | "figcaption"                 => "caption"
    case "pre"                                    => "code"
    case "blockquote"                             => "quote"
    case _                                        => "paragraph"
  }

  /** Collapse all whitespace runs in a block buffer to single spaces and
    * trim, without an intermediate toString copy — a monomorphic body (a
    * shared CharSequence loop makes charAt bimorphic on the hot path). */
  private def normalizeSb(s: java.lang.StringBuilder): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) pendingSpace = sb.length() > 0
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** length of the [[normalizeSb]] form of s, computed without building
    * the string. */
  def normalizedLength(s: String): Int = {
    val n = s.length
    var len = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) pendingSpace = len > 0
      else {
        if (pendingSpace) { len += 1; pendingSpace = false }
        len += 1
      }
      i += 1
    }
    len
  }

  private def classTokensOf(dom: Dom, node: Int): Set[String] = {
    val cls = dom.attr(node, "class")
    val id = dom.attr(node, "id")
    if (cls.isEmpty && id.isEmpty) Set.empty
    else {
      // split on non-[a-z0-9] runs without the regex machinery — this runs
      // for every element node and was a measurable allocation source
      val raw = (cls.getOrElse("") + " " + id.getOrElse("")).toLowerCase
      var out = Set.empty[String]
      var i = 0
      val n = raw.length
      @inline def alnum(c: Char) = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      while (i < n) {
        while (i < n && !alnum(raw.charAt(i))) i += 1
        val st = i
        while (i < n && alnum(raw.charAt(i))) i += 1
        if (i > st) out += raw.substring(st, i)
      }
      out
    }
  }

  /** DOM → candidate blocks, document order. */
  def blocksOf(dom: Dom): Vector[Block] = {
    val out = ArrayBuffer.empty[Block]

    final class Ctx(val tag: String, val classTokens: Set[String],
                    val ancestorTags: Set[String]) {
      val sb = new java.lang.StringBuilder()
      var linkChars = 0
    }

    def flush(ctx: Ctx): Unit = {
      if (ctx.sb.length() > 0) {
        val text = normalizeSb(ctx.sb)
        if (text.nonEmpty)
          out += Block(ctx.tag, labelOf(ctx.tag), text, math.min(ctx.linkChars, text.length),
            ctx.classTokens, ctx.ancestorTags)
        ctx.sb.setLength(0)
      }
      ctx.linkChars = 0
    }

    // Text nodes are appended verbatim — source whitespace decides word
    // separation (browser-faithful: `word<b>x</b>` concatenates, and the
    // markup between words carries the spaces). <br> contributes a space.
    def walk(node: Int, ctx: Ctx, inLink: Boolean): Unit = {
      if (dom.isText(node)) {
        val t = dom.text(node)
        ctx.sb.append(t)
        if (inLink) ctx.linkChars += normalizedLength(t)
      } else {
        val tag = dom.tag(node)
        if (!skipTags.contains(tag)) {
          if (blockTags.contains(tag) && node != dom.root) {
            flush(ctx)
            val sub = new Ctx(tag,
              ctx.classTokens ++ classTokensOf(dom, node),
              ctx.ancestorTags + ctx.tag)
            dom.foreachChild(node)(walk(_, sub, inLink))
            flush(sub)
          } else {
            if (tag == "br") ctx.sb.append(' ')
            val link = inLink || tag == "a"
            dom.foreachChild(node)(walk(_, ctx, link))
          }
        }
      }
    }

    val rootCtx = new Ctx("#root", Set.empty, Set.empty)
    walk(dom.root, rootCtx, inLink = false)
    flush(rootCtx)
    out.toVector
  }

  /** The content decision — Boilerpipe-style, integer-exact. */
  def isContent(b: Block): Boolean = {
    if (b.text.isEmpty) return false
    if (b.ancestorTags.exists(chromeTags.contains) || chromeTags.contains(b.tag)) return false
    if (b.classTokens.exists(boilerplateTokens.contains)) return false
    if (3 * b.linkChars > b.chars) return false
    if (b.label == "heading") b.chars >= 3
    else b.words >= 5 || b.chars >= 30
  }

  // pseudo-geometry constants (block layout on a virtual 960px page)
  private val PageW = 960
  private val MarginX = 40
  private val CharW = 8
  private val LineH = 20
  private val BlockGap = 10
  private val LineChars = (PageW - 2 * MarginX) / CharW // 110

  /** Lines a block occupies when wrapped at LineChars. */
  def lineCount(chars: Int): Int = math.max(1, (chars + LineChars - 1) / LineChars)

  /** Extract one page. Total: a NonFatal error (null html, an extractor
    * bug) yields a `failed` row, so every caller shares one failure policy. */
  def extract(url: String, html: Array[Byte]): Extracted =
    try extractPage(url, html)
    catch { case NonFatal(_) => Extracted(url, "", Array.empty, Array.empty, failed = true) }

  private def extractPage(url: String, html: Array[Byte]): Extracted = {
    val dom = Dom.parse(html)
    val all = blocksOf(dom)
    val content = all.filter(isContent)

    // text assembly: document order, '\n'-joined
    val sb = new java.lang.StringBuilder()
    val offsets = new Array[(Long, Long)](content.length)
    var i = 0
    while (i < content.length) {
      if (i > 0) sb.append('\n')
      val start = sb.length().toLong
      sb.append(content(i).text)
      offsets(i) = (start, sb.length().toLong)
      i += 1
    }
    val text = sb.toString

    // layout branch: block boxes stacked on the virtual page, ordered by
    // the reading-order pipeline (paragraph walk at block granularity)
    var cursor = MarginX
    val words = new Array[Word](content.length)
    val lineStart = new Array[Int](content.length)
    var lineCursor = 1
    i = 0
    while (i < content.length) {
      val lines = lineCount(content(i).chars)
      val w = math.min(content(i).chars * CharW, PageW - 2 * MarginX)
      words(i) = Word(i, BBox(MarginX, cursor, math.max(w, CharW), lines * LineH))
      lineStart(i) = lineCursor
      lineCursor += lines
      cursor += lines * LineH + BlockGap
      i += 1
    }
    val pageH = math.max(cursor + MarginX, 200)
    val layout = ReadingOrderPipeline.run(words.toIndexedSeq, PageW, pageH)
    // block order: 1-based reading order from the pipeline. The reference's
    // pinp2 drops chain-absorbed members (pinp_utils.py:268 reads the
    // absorbed row's ORIGINAL component list, so grand-members vanish);
    // the engine contract is stronger — every block exactly once, orders a
    // permutation of 1..n — so blocks the walk never emitted are appended
    // after the ordered ones, in document order.
    val orderOf = new Array[Int](content.length)
    java.util.Arrays.fill(orderOf, -1)
    // block boxes have unique y coordinates — O(1) map-back
    val byY = new java.util.HashMap[Int, Int](content.length * 2)
    for (k <- words.indices) byY.put(words(k).bbox.y, k)
    var maxOrd = -1
    for (r <- layout.regions) {
      val idx = byY.getOrDefault(r.bbox.y, -1)
      if (idx >= 0 && words(idx).bbox == r.bbox) {
        orderOf(idx) = r.order - 1
        if (r.order - 1 > maxOrd) maxOrd = r.order - 1
      }
    }
    i = 0
    while (i < content.length) {
      if (orderOf(i) < 0) { maxOrd += 1; orderOf(i) = maxOrd }
      i += 1
    }

    val spans = Array.tabulate(content.length) { k =>
      Span(kind = content(k).label, label = content(k).tag,
        start = offsets(k)._1, end = offsets(k)._2,
        order = orderOf(k) + 1, line = lineStart(k))
    }
    val blocks = Array.tabulate(content.length) { k =>
      val b = words(k).bbox
      BlockOut(content(k).label, orderOf(k) + 1, lineStart(k), b.x, b.y, b.w, b.h)
    }
    Extracted(url, text, spans, blocks)
  }
}
