package graft.extract

import scala.collection.immutable.ArraySeq
import scala.util.control.NonFatal
import graft.html.Dom
import graft.geom.BBox
import graft.layout.{ReadingOrderPipeline, Word}

/** A candidate text block lifted from the DOM: `text` is whitespace-
  * normalised, `words` its space-separated word count. `chrome`: the block
  * or a block ancestor is a nav/aside/header/footer element.
  * `boilerplate`: the class or id of the block or of a block ancestor
  * holds a boilerplate token (see [[Extractor.isContent]]). */
final case class Block(
    tag: String,
    label: String,
    text: String,
    linkChars: Int,
    words: Int,
    chrome: Boolean,
    boilerplate: Boolean) {
  def chars: Int = text.length
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
  private[extract] val skipTags = Set("script", "style", "noscript", "head", "title",
    "svg", "iframe", "template", "select", "option", "button", "object")

  /** Elements that open a new text block. */
  private[extract] val blockTags = Set(
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

  /** Whitespace as `Character.isWhitespace`, with the ASCII range tested
    * by mask (bits 9–13, 28–32). */
  private val AsciiWs = 0x1f0003e00L
  @inline private def isWhitespace(c: Char): Boolean =
    if (c < 64) ((AsciiWs >>> c) & 1L) != 0
    else c >= 128 && Character.isWhitespace(c)

  /** Does a class or id value hold a boilerplate token, a run of
    * [a-z0-9] in the value lowercased under `Locale.ROOT`? */
  private def hasBoilerplateToken(value: String): Boolean = {
    val s = value.toLowerCase(java.util.Locale.ROOT)
    @inline def alnum(c: Char) = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && !alnum(s.charAt(i))) i += 1
      val st = i
      while (i < n && alnum(s.charAt(i))) i += 1
      if (i > st && boilerplateTokens.contains(s.substring(st, i))) return true
    }
    false
  }

  /** DOM → candidate blocks, document order.
    *
    * One block is open at a time. A block element first flushes the block
    * it interrupts (its nearest block ancestor's text so far), then its
    * children — each nested block flushing in turn — and then itself; the
    * ancestor resumes with an empty buffer. `TextAttributes.blockAttrs`
    * cuts blocks at the same points. So a single shared builder holds
    * the open block's normalised text: whitespace runs collapse to one
    * space and the ends are trimmed as the text streams in, and words and
    * link chars are counted in the same pass. Text nodes are appended
    * verbatim — source whitespace decides word separation
    * (browser-faithful: `word<b>x</b>` concatenates, and the markup
    * between words carries the spaces). <br> contributes a space. A link's
    * chars are counted per text node, normalised on their own. */
  def blocksOf(dom: Dom): Vector[Block] = {
    val out = Vector.newBuilder[Block]
    val src = dom.chars
    var buf = new Array[Char](256)
    var len = 0
    var pendingSpace = false
    var words = 0
    var linkChars = 0

    def flush(tag: String, chrome: Boolean, boilerplate: Boolean): Unit = {
      if (len > 0)
        out += Block(tag, labelOf(tag), new String(buf, 0, len), math.min(linkChars, len),
          words, chrome, boilerplate)
      len = 0; pendingSpace = false; words = 0; linkChars = 0
    }

    def append(from: Int, until: Int, inLink: Boolean): Unit = {
      if (len + (until - from) + 1 > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + (until - from) + 1))
      // this node's own normalised length, for linkChars
      var nodeLen = 0
      var nodePending = false
      var k = from
      while (k < until) {
        val c = src(k)
        if (isWhitespace(c)) { pendingSpace = len > 0; nodePending = nodeLen > 0 }
        else {
          if (pendingSpace) { buf(len) = ' '; len += 1; words += 1; pendingSpace = false }
          else if (len == 0) words = 1
          buf(len) = c; len += 1
          if (nodePending) { nodeLen += 1; nodePending = false }
          nodeLen += 1
        }
        k += 1
      }
      if (inLink) linkChars += nodeLen
    }

    def walk(node: Int, blockTag: String, chrome: Boolean, boilerplate: Boolean, inLink: Boolean): Unit = {
      if (dom.isText(node)) append(dom.textFrom(node), dom.textUntil(node), inLink)
      else {
        val tag = dom.tag(node)
        if (!skipTags.contains(tag)) {
          if (blockTags.contains(tag) && node != dom.root) {
            flush(blockTag, chrome, boilerplate)
            val ch = chrome || chromeTags.contains(tag)
            val bp = boilerplate || dom.attr(node, "class").exists(hasBoilerplateToken) ||
              dom.attr(node, "id").exists(hasBoilerplateToken)
            var c = dom.firstChild(node)
            while (c >= 0) { walk(c, tag, ch, bp, inLink); c = dom.nextSibling(c) }
            flush(tag, ch, bp)
          } else {
            if (tag == "br") pendingSpace = len > 0
            val link = inLink || tag == "a"
            var c = dom.firstChild(node)
            while (c >= 0) { walk(c, blockTag, chrome, boilerplate, link); c = dom.nextSibling(c) }
          }
        }
      }
    }

    walk(dom.root, "#root", chrome = false, boilerplate = false, inLink = false)
    flush("#root", chrome = false, boilerplate = false)
    out.result()
  }

  /** The content decision — Boilerpipe-style, integer-exact. */
  def isContent(b: Block): Boolean = {
    if (b.text.isEmpty || b.chrome || b.boilerplate) return false
    if (3 * b.linkChars > b.chars) return false
    if (b.label == "heading") b.chars >= 3
    else b.words >= 5 || b.chars >= 30
  }

  // pseudo-geometry constants (block layout on a virtual 960px page),
  // shared with `Tables` and the layout queries
  final val PageW = 960
  final val MarginX = 40
  final val CharW = 8
  final val LineH = 20
  final val BlockGap = 10
  final val LineChars = (PageW - 2 * MarginX) / CharW // 110

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

    // text assembly: document order, '\n'-joined. StringJoiner sizes the
    // result from its parts and builds it in one allocation.
    val joiner = new java.util.StringJoiner("\n")
    val starts = new Array[Int](content.length)
    var pos = 0
    var i = 0
    while (i < content.length) {
      starts(i) = pos
      joiner.add(content(i).text)
      pos += content(i).chars + 1
      i += 1
    }
    val text = joiner.toString

    // layout branch: block boxes stacked on the virtual page, ordered by
    // the reading-order pipeline (paragraph walk at block granularity)
    var cursor = MarginX
    val words = new Array[Word](content.length)
    val ys = new Array[Int](content.length)
    val lineStart = new Array[Int](content.length)
    var lineCursor = 1
    i = 0
    while (i < content.length) {
      val lines = lineCount(content(i).chars)
      val w = math.min(content(i).chars * CharW, PageW - 2 * MarginX)
      words(i) = Word(i, BBox(MarginX, cursor, math.max(w, CharW), lines * LineH))
      ys(i) = cursor
      lineStart(i) = lineCursor
      lineCursor += lines
      cursor += lines * LineH + BlockGap
      i += 1
    }
    val pageH = math.max(cursor + MarginX, 200)
    val layout = ReadingOrderPipeline.run(ArraySeq.unsafeWrapArray(words), PageW, pageH)
    // block order: 1-based reading order from the pipeline. The reference's
    // pinp2 drops chain-absorbed members (pinp_utils.py:268 reads the
    // absorbed row's ORIGINAL component list, so grand-members vanish);
    // the engine contract is stronger — every block exactly once, orders a
    // permutation of 1..n — so blocks the walk never emitted are appended
    // after the ordered ones, in document order.
    val orderOf = new Array[Int](content.length)
    java.util.Arrays.fill(orderOf, -1)
    // block boxes have strictly increasing y coordinates — map back by
    // binary search
    var maxOrd = -1
    for (r <- layout.regions) {
      val idx = java.util.Arrays.binarySearch(ys, r.bbox.y)
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
        start = starts(k).toLong, end = (starts(k) + content(k).chars).toLong,
        order = orderOf(k) + 1, line = lineStart(k))
    }
    val blocks = Array.tabulate(content.length) { k =>
      val b = words(k).bbox
      BlockOut(content(k).label, orderOf(k) + 1, lineStart(k), b.x, b.y, b.w, b.h)
    }
    Extracted(url, text, spans, blocks)
  }
}
