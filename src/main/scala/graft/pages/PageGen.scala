package graft.pages

import java.sql.Timestamp

/** One Common-Crawl-style page row — the driver-fixed input shape
  * (BASELINE.json input_hint): url, crawl timestamp, raw html bytes,
  * golden extracted text, language tag. */
final case class PageRow(url: String, warc_ts: Timestamp, html: Array[Byte],
                         text: String, lang: String)

/** Golden span expectation, derived at generation time from the content
  * the generator itself wrote (NOT by running the extractor): one row per
  * expected content block. `ord` is deliberately absent — reading order on
  * real geometry is the pipeline's own semantics (verified against
  * reference-executed goldens); the generator instead pins the
  * order-permutation invariant through [[PageMeta]]. */
final case class SpanGolden(url: String, idx: Int, kind: String, tag: String,
                            start: Long, end: Long, line: Int,
                            x: Int, y: Int, w: Int, h: Int)

/** Per-page golden aggregates, all derived from what the generator wrote:
  * span count, non-whitespace char totals by style context, table
  * structure counts, and projection-profile line expectations. */
final case class PageMeta(url: String, n_spans: Int,
                          chars: Long, bold_chars: Long, italic_chars: Long,
                          underline_chars: Long, strike_chars: Long,
                          heading_chars: Long, colored_chars: Long,
                          size_px_sum: Long,
                          n_tables: Int, table_rows: Int, table_cells: Int,
                          cell_area: Long,
                          n_lines: Int, line_h_sum: Long)

final case class GenPage(row: PageRow, meta: PageMeta, spans: Vector[SpanGolden])

/** Deterministic synthetic page generator (FIXTURES.md §1).
  *
  * Pure function of (seed, index): builds structured HTML — boilerplate
  * chrome (header/nav/aside/footer/cookie banner, high link density) around
  * main-content paragraphs, headings, lists, tables, quotes, code — and
  * computes the EXPECTED extraction from the content parts directly (not
  * by running the extractor), so `Extractor.extract(html).text == text`
  * is a real self-consistent golden, per the extraction contract:
  * whitespace-normalised blocks, document order, '\n'-joined.
  *
  * v2 additionally emits golden sidecar tables ([[SpanGolden]], [[PageMeta]])
  * so the driver's DuckDB oracle can hash-check the layout/attribute branch
  * of the engine, not just the text bytes:
  *  - span offsets/labels/lines and pseudo-geometry follow the published
  *    layout contract (virtual 960px page, 40px margins, 8px char cells,
  *    20px lines, 10px block gap) that the extractor also implements;
  *  - style-context char totals count every non-whitespace character the
  *    generator writes into the body (content AND chrome), per context;
  *  - table row/cell counts come from the tables the generator emitted.
  *
  * v4 adds the inline-CSS styling real pages carry: whole-block
  * `style="font-size:..px"` paragraphs, whole-block `style="color:…"`
  * blockquotes and inline `<span style="color:…">` words — so the
  * attribute operator is exercised on style attributes, not just legacy
  * markup; [[PageMeta.size_px_sum]] pins the pixel-size expectation
  * (styled px, else the heading-level default) over every emitted block.
  *
  * The html-length distribution is deliberately heavy-tailed (~2% of pages
  * are 10-40× larger) so skew handling (cost-sized repartition, AQE) is
  * exercised at bench scale.
  */
object PageGen {
  private val baseTs = 1704067200000L // 2024-01-01T00:00:00Z

  // ---- layout contract constants (shared spec with the extractor) ------
  private val PageW = 960
  private val MarginX = 40
  private val CharW = 8
  private val LineH = 20
  private val BlockGap = 10
  private val LineChars = (PageW - 2 * MarginX) / CharW // 110
  private def lineCount(chars: Int): Int =
    math.max(1, (chars + LineChars - 1) / LineChars)
  /** Default pixel font size per tag — the same published contract the
    * text-attribute operator implements (heading levels are pixel-valued;
    * body text is 0 = unstyled). */
  private def defaultPx(tag: String): Int = tag match {
    case "h1" => 32
    case "h2" => 28
    case "h3" => 24
    case "h4" => 20
    case "h5" => 18
    case "h6" => 16
    case _    => 0
  }
  private def kindOf(tag: String): String = tag match {
    case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" => "heading"
    case "li" | "dt" | "dd"                       => "list_item"
    case "td" | "th"                              => "table_cell"
    case "caption" | "figcaption"                 => "caption"
    case "pre"                                    => "code"
    case "blockquote"                             => "quote"
    case _                                        => "paragraph"
  }

  // splitmix64
  private final class Rng(seed0: Long) {
    private var s = seed0
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextInt(bound: Int): Int = {
      val l = nextLong() >>> 1
      (l % bound).toInt
    }
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    def pick[A](xs: IndexedSeq[A]): A = xs(nextInt(xs.length))
  }

  /** Non-whitespace char totals by style context — mirrors what the
    * text-attribute operator counts over DOM text nodes. */
  private final class Attr {
    var total = 0L
    var bold = 0L
    var italic = 0L
    var under = 0L
    var strike = 0L
    var heading = 0L
    var colored = 0L
    def add(s: String, h: Boolean = false, b: Boolean = false,
            i: Boolean = false, u: Boolean = false, st: Boolean = false,
            c: Boolean = false): Unit = {
      var n = 0
      var k = 0
      while (k < s.length) { if (!Character.isWhitespace(s.charAt(k))) n += 1; k += 1 }
      total += n
      if (h) heading += n
      if (b) bold += n
      if (i) italic += n
      if (u) under += n
      if (st) strike += n
      if (c) colored += n
    }
  }

  /** fontColor palette for `<font color>` spans (FontRegion.fontColor
    * analogue). */
  private val fontColors = Vector("#c0392b", "#1a6b99", "#2d7a2d")

  private val vocabEn = Vector("the", "quick", "analysis", "shows", "that",
    "modern", "systems", "process", "large", "volumes", "of", "data",
    "across", "distributed", "clusters", "while", "keeping", "latency",
    "low", "and", "throughput", "high", "engineers", "measure", "partition",
    "skew", "before", "deploying", "pipelines", "to", "production",
    "storage", "formats", "matter", "because", "columnar", "layouts",
    "enable", "predicate", "pushdown", "which", "reduces", "scan", "cost",
    "significantly", "over", "time", "teams", "iterate", "on", "models")
  private val vocabDe = Vector("die", "schnelle", "analyse", "zeigt", "dass",
    "moderne", "systeme", "große", "datenmengen", "verarbeiten", "während",
    "verteilte", "cluster", "niedrige", "latenz", "halten", "ingenieure",
    "messen", "partitionen", "vor", "der", "bereitstellung", "speicher",
    "formate", "spaltenweise", "ermöglichen", "prädikat", "reduziert",
    "kosten", "über", "zeit", "teams", "iterieren", "straße", "fähigkeit")
  private val vocabFr = Vector("la", "rapide", "analyse", "montre", "que",
    "les", "systèmes", "modernes", "traitent", "de", "grands", "volumes",
    "données", "répartis", "tout", "en", "gardant", "latence", "faible",
    "débit", "élevé", "ingénieurs", "mesurent", "avant", "déploiement",
    "stockage", "formats", "colonnes", "permettent", "réduction", "coûts")
  private val vocabEs = Vector("el", "rápido", "análisis", "muestra", "que",
    "los", "sistemas", "modernos", "procesan", "grandes", "volúmenes",
    "datos", "distribuidos", "manteniendo", "latencia", "baja", "alto",
    "rendimiento", "ingenieros", "miden", "antes", "de", "desplegar",
    "almacenamiento", "formatos", "columnares", "permiten", "reducción")
  private val vocabHi = Vector("yah", "vishleshan", "dikhata", "hai", "ki",
    "aadhunik", "pranali", "bade", "data", "ko", "sambhalti", "hain",
    "vitrit", "cluster", "kam", "vilambata", "uchch", "praväh", "abhiyanta",
    "maapte", "pahle", "tainaati", "bhandaran", "praaroop", "stambh")

  private val langs = Vector("en", "en", "en", "en", "en", "en", "de", "fr", "es", "hi")
  private def vocabOf(lang: String) = lang match {
    case "de" => vocabDe
    case "fr" => vocabFr
    case "es" => vocabEs
    case "hi" => vocabHi
    case _    => vocabEn
  }

  /** Entity-bearing tokens: (html form, decoded expected form). */
  private val entityWords = Vector(
    ("AT&amp;T", "AT&T"), ("R&amp;D", "R&D"), ("&copy;2024", "©2024"),
    ("caf&eacute;", "café"), ("&ldquo;quoted&rdquo;", "“quoted”"),
    ("5&nbsp;&lt;&nbsp;10", "5 < 10"), ("x&nbsp;&gt;&nbsp;y", "x > y"))

  /** Styled sentence; counts every produced char into `attr` under the
    * given heading/colored context. Returns (htmlText, expectedText).
    * Inline color markup mixes the legacy `<font color>` form with the
    * inline-CSS `<span style="color:…">` form real pages carry; with
    * `colored = true` (a color-styled enclosing block) every char counts
    * as colored regardless of inline markup. */
  private def sentence(r: Rng, vocab: IndexedSeq[String], nWords: Int,
                       attr: Attr, heading: Boolean,
                       colored: Boolean = false): (String, String) = {
    val hb = new StringBuilder
    val eb = new StringBuilder
    var k = 0
    while (k < nWords) {
      if (k > 0) { hb += ' '; eb += ' ' }
      if (r.nextInt(40) == 0) {
        val (h, e) = r.pick(entityWords)
        hb ++= h; eb ++= e
        attr.add(e, h = heading, c = colored)
      } else {
        val w = r.pick(vocab)
        if (r.nextInt(25) == 0) { hb ++= s"<b>$w</b>"; attr.add(w, h = heading, b = true, c = colored) }
        else if (r.nextInt(25) == 0) { hb ++= s"<i>$w</i>"; attr.add(w, h = heading, i = true, c = colored) }
        else if (r.nextInt(25) == 0) { hb ++= s"<u>$w</u>"; attr.add(w, h = heading, u = true, c = colored) }
        else if (r.nextInt(25) == 0) { hb ++= s"<s>$w</s>"; attr.add(w, h = heading, st = true, c = colored) }
        else if (r.nextInt(25) == 0) {
          val c = r.pick(fontColors)
          hb ++= s"""<font color="$c">$w</font>"""
          attr.add(w, h = heading, c = true)
        }
        else if (r.nextInt(25) == 0) {
          val c = r.pick(fontColors)
          hb ++= s"""<span style="color:$c">$w</span>"""
          attr.add(w, h = heading, c = true)
        }
        else { hb ++= w; attr.add(w, h = heading, c = colored) }
        eb ++= w
      }
      k += 1
    }
    (hb.toString, eb.toString)
  }

  /** Chrome link lists (header/nav/sidebar/related/footer). Link TARGETS
    * model a crawl frontier: the raw draw is squared down (`t*t/1000`) so
    * target ids concentrate toward low values — a Zipf-ish in-degree tail
    * like a real host graph, so downstream link-graph aggregations see
    * genuine key skew — and every 5th draw becomes an ABSOLUTE cross-host
    * href (target host = `site{id%500}`), the rest stay root-relative.
    * Both the skew map and the absolute/relative split are pure functions
    * of the single existing `nextInt(1000)` draw: the RNG stream, the
    * anchor text, and therefore the extracted text and span geometry are
    * all IDENTICAL to the previous generator version — only href bytes
    * differ (PagesTable.Version still bumps; the html changes).
    */
  private def linkList(r: Rng, vocab: IndexedSeq[String], n: Int, attr: Attr): String =
    (0 until n).map { k =>
      if (k > 0) attr.add("|")
      val w1 = r.pick(vocab)
      val w2 = r.pick(vocab)
      attr.add(w1); attr.add(w2)
      val t = r.nextInt(1000)
      val id = t * t / 1000
      val href =
        if (t % 5 == 0) s"https://site${id % 500}.example.org/x/$id"
        else s"/x/$id"
      s"""<a href="$href">$w1 $w2</a>"""
    }.mkString(" | ")

  /** Generate page #idx under `seed`, with golden sidecar rows. */
  def pageFull(seed: Long, idx: Long): GenPage = {
    val r = new Rng(seed * 0x100000001b3L + idx)
    val attr = new Attr
    val lang = langs(r.nextInt(langs.length))
    val vocab = vocabOf(lang)
    val host = s"site${r.nextInt(500)}.example.org"
    val url = s"https://$host/articles/${idx}"

    val html = new StringBuilder(4096)
    // (tag, expectedText, stylePx) per content block, document order
    // (stylePx > 0 = whole-block inline font-size style; 0 = tag default)
    val expected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int)]
    var nTables = 0
    var tableRows = 0
    var tableCells = 0
    var cellArea = 0L

    html ++= "<!DOCTYPE html>\n<html><head>"
    html ++= s"<title>${r.pick(vocab)} ${r.pick(vocab)}</title>"
    html ++= "<style>body{margin:0} .content{width:960px}</style>"
    html ++= "<script>var t=1;function f(){if(t<2){t+=1}}</script>"
    html ++= "</head>\n<body>\n"

    // chrome: header + nav (dropped by tag rule)
    locally {
      val hw = r.pick(vocab)
      attr.add(hw, h = true)
      html ++= s"""<header class="site-header"><h1>$hw</h1>${linkList(r, vocab, 4, attr)}</header>\n"""
    }
    html ++= s"""<nav class="main-nav">${linkList(r, vocab, 3 + r.nextInt(6), attr)}</nav>\n"""
    if (r.nextInt(3) == 0) {
      val cw = r.pick(vocab)
      attr.add("We use cookies"); attr.add(cw); attr.add("accept")
      html ++= s"""<div class="cookie-banner">We use cookies $cw <a href="/accept">accept</a></div>\n"""
    }

    html ++= """<div class="content">"""

    // heavy-tailed section count
    val baseSections = 1 + r.nextInt(7)
    val nSections =
      if (r.nextDouble() < 0.02) baseSections * (10 + r.nextInt(31))
      else baseSections

    // article heading
    val (h1h, h1e) = sentence(r, vocab, 2 + r.nextInt(5), attr, heading = true)
    html ++= s"<h1>$h1h</h1>\n"
    expected += (("h1", h1e, 0))

    var s = 0
    while (s < nSections) {
      if (r.nextInt(3) > 0) {
        val (hh, he) = sentence(r, vocab, 2 + r.nextInt(4), attr, heading = true)
        html ++= s"<h2>$hh</h2>\n"
        expected += (("h2", he, 0))
      }
      val nParas = 1 + r.nextInt(4)
      var p = 0
      while (p < nParas) {
        // ~1/6 of paragraphs carry a whole-block inline font-size style —
        // the dominant real-world form of size markup; their chars count
        // into the sized/heading context like heading chars do
        val stylePx = if (r.nextInt(6) == 0) Vector(14, 18, 22)(r.nextInt(3)) else 0
        val sized = stylePx > 0
        val (ph, pe) = sentence(r, vocab, 8 + r.nextInt(53), attr, heading = sized)
        // at most one short link per paragraph keeps link density << 1/3
        val (bodyH, bodyE) =
          if (r.nextInt(4) == 0) {
            val lw = r.pick(vocab)
            attr.add(lw, h = sized); attr.add(".", h = sized)
            (s"""$ph <a href="/ref/${r.nextInt(99)}">$lw</a>.""", s"$pe $lw.")
          } else {
            attr.add(".", h = sized)
            (s"$ph.", s"$pe.")
          }
        val open = if (sized) s"""<p style="font-size:${stylePx}px">""" else "<p>"
        html ++= s"$open$bodyH</p>\n"
        expected += (("p", bodyE, stylePx))
        p += 1
      }
      r.nextInt(5) match {
        case 0 => // list: items ≥5 words
          val items = (0 until 2 + r.nextInt(4))
            .map(_ => sentence(r, vocab, 5 + r.nextInt(6), attr, heading = false))
          html ++= "<ul>" + items.map(i => s"<li>${i._1}</li>").mkString + "</ul>\n"
          expected ++= items.map(i => ("li", i._2, 0))
        case 1 => // table: cells ≥5 words
          val rows = (0 until 1 + r.nextInt(3)).map { _ =>
            (0 until 2).map(_ => sentence(r, vocab, 5 + r.nextInt(4), attr, heading = false))
          }
          html ++= "<table>" + rows.map(row =>
            "<tr>" + row.map(c => s"<td>${c._1}</td>").mkString + "</tr>").mkString + "</table>\n"
          expected ++= rows.flatMap(_.map(c => ("td", c._2, 0)))
          nTables += 1
          tableRows += rows.length
          tableCells += rows.length * 2
          // table-structure pseudo-geometry: each row splits the 880px
          // content width evenly over its cells, rows are 20px bands
          cellArea += rows.length.toLong * 2L * ((PageW - 2 * MarginX) / 2).toLong * LineH
        case 2 => // blockquote; half carry a whole-block inline color style
          val styled = r.nextInt(2) == 0
          val qc = if (styled) r.pick(fontColors) else ""
          val (qh, qe) = sentence(r, vocab, 6 + r.nextInt(12), attr,
            heading = false, colored = styled)
          val open =
            if (styled) s"""<blockquote style="color:$qc">""" else "<blockquote>"
          html ++= s"$open$qh</blockquote>\n"
          expected += (("blockquote", qe, 0))
        case 3 if r.nextInt(2) == 0 => // pre: internal newlines normalise to spaces
          val lines = (0 until 2 + r.nextInt(3)).map(_ => s"val x${r.nextInt(99)} = ${r.nextInt(999)}")
          lines.foreach(l => attr.add(l))
          html ++= s"<pre>${lines.mkString("\n")}</pre>\n"
          expected += (("pre", lines.mkString(" "), 0))
        case _ =>
      }
      s += 1
    }
    html ++= "</div>\n"

    // chrome: related/aside/comments/footer (dropped by tag/class rules)
    locally {
      val aw = r.pick(vocab)
      attr.add(aw, h = true)
      html ++= s"""<aside class="sidebar"><h3>$aw</h3>${linkList(r, vocab, 5, attr)}</aside>\n"""
    }
    if (r.nextInt(2) == 0) {
      val (ch, _) = sentence(r, vocab, 10 + r.nextInt(20), attr, heading = false)
      html ++= s"""<div class="comments"><div class="comment">$ch</div></div>\n"""
    }
    html ++= s"""<div class="related">${linkList(r, vocab, 4, attr)}</div>\n"""
    attr.add("©"); attr.add("2024"); attr.add(host)
    html ++= s"""<footer><p>&copy; 2024 $host</p>${linkList(r, vocab, 3, attr)}</footer>\n"""
    html ++= "</body></html>\n"

    // ---- golden span table: offsets, lines, pseudo-geometry -------------
    val spans = Vector.newBuilder[SpanGolden]
    var off = 0L
    var lineCursor = 1
    var yCursor = MarginX
    var lineHSum = 0L
    // size_px_sum spans ALL blocks the attribute walk emits, chrome
    // included (like the char totals): the header's h1 (32) and the
    // aside's h3 (24) are always present; every other chrome block is
    // size-0 body text
    var sizePxSum = 32L + 24L
    var i = 0
    while (i < expected.length) {
      val (tag, text, stylePx) = expected(i)
      sizePxSum += (if (stylePx > 0) stylePx else defaultPx(tag))
      if (i > 0) off += 1 // '\n' separator
      val start = off
      off += text.length
      val lines = lineCount(text.length)
      val w = math.max(math.min(text.length * CharW, PageW - 2 * MarginX), CharW)
      spans += SpanGolden(url, i, kindOf(tag), tag, start, off, lineCursor,
        MarginX, yCursor, w, lines * LineH)
      lineHSum += lines.toLong * LineH + 1L // projection run = box height + 1
      lineCursor += lines
      yCursor += lines * LineH + BlockGap
      i += 1
    }

    val expectedText = expected.iterator.map(_._2).mkString("\n")
    val meta = PageMeta(url, expected.length,
      attr.total, attr.bold, attr.italic, attr.under, attr.strike, attr.heading,
      attr.colored, sizePxSum,
      nTables, tableRows, tableCells, cellArea,
      n_lines = expected.length, line_h_sum = lineHSum)

    GenPage(
      PageRow(url, new Timestamp(baseTs + idx * 1000L),
        html.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        expectedText, lang),
      meta, spans.result())
  }

  /** Generate page #idx under `seed` (row only). */
  def page(seed: Long, idx: Long): PageRow = pageFull(seed, idx).row

  /** Deterministic page range [from, until). */
  def pages(seed: Long, from: Long, until: Long): Iterator[PageRow] =
    Iterator.range(from, until).map(page(seed, _))
}
