package graft.extract

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import scala.collection.mutable.ArrayBuffer
import graft.geom.BBox
import graft.html.{Dom, HtmlToken, Outlink, Outlinks}
import graft.pages.PageGen
import org.scalatest.funsuite.AnyFunSuite

/** The allocation-flat front end (token sink, char-arena DOM, one shared
  * block builder, flag-carrying blocks) against the token-object front end
  * it replaced, kept below as a test-only copy: the same tokens, the same
  * DOM node by node, the same blocks and content decisions, and the same
  * tables, text attributes and outlinks, on generated pages, the
  * benchmark's tail, the fuzz corpora and pages built to stress entities
  * and letter case. */
class FrontEndSpec extends AnyFunSuite {
  import FrontEndSpec.Old

  private def check(name: String, bytes: Array[Byte]): Unit = {
    assert(HtmlToken.tokenize(bytes) == Old.tokenize(bytes), s"$name tokens")

    val dom = Dom.parse(bytes)
    val old = Old.parse(bytes)
    assert(dom.size == old.size, s"$name node count")
    var i = 0
    while (i < old.size) {
      if (dom.tag(i) != old.tag(i) || dom.text(i) != old.text(i) || dom.attrs(i) != old.attrs(i) ||
          dom.parent(i) != old.parent(i) || dom.firstChild(i) != old.firstChild(i) ||
          dom.nextSibling(i) != old.nextSibling(i))
        fail(s"$name node $i: ${dom.tag(i)}/${dom.text(i).take(40)} vs ${old.tag(i)}/${old.text(i).take(40)}")
      i += 1
    }

    val blocks = Extractor.blocksOf(dom)
    val oldBlocks = Old.blocksOf(old)
    assert(blocks.length == oldBlocks.length, s"$name block count")
    for ((b, o) <- blocks.zip(oldBlocks)) {
      assert(b.tag == o.tag && b.label == o.label && b.text == o.text && b.linkChars == o.linkChars,
        s"$name block ${o.tag} ${o.text.take(60)}")
      assert(b.words == o.words, s"$name words of ${o.text.take(60)}")
      assert(b.chrome == (o.ancestorTags.exists(Old.chromeTags.contains) || Old.chromeTags.contains(o.tag)),
        s"$name chrome of ${o.text.take(60)}")
      assert(b.boilerplate == o.classTokens.exists(Old.boilerplateTokens.contains),
        s"$name boilerplate of ${o.text.take(60)}")
      assert(Extractor.isContent(b) == Old.isContent(o), s"$name isContent of ${o.text.take(60)}")
    }

    assert(Tables.tablesOf(dom) == Old.tablesOf(old), s"$name tables")
    assert(TextAttributes.blockAttrs(dom) == Old.blockAttrs(old), s"$name text attributes")
    assert(Outlinks.extract(bytes) == Old.outlinks(old), s"$name outlinks")
  }

  test("generated pages: seed 42, pages 0..1999") {
    for (i <- 0L until 2000L) check(s"42/$i", PageGen.pageFull(42L, i).row.html)
  }

  test("tail pages: 40 seed-11 pages with at least 200 golden blocks") {
    val tail = Iterator.from(0).map(i => PageGen.pageFull(11L, i.toLong))
      .filter(_.meta.n_spans >= 200).take(40).toVector
    assert(tail.length == 40)
    for (g <- tail) check(g.row.url, g.row.html)
  }

  test("fuzz corpora: random bytes, tag soup, truncated, mutated, invalid UTF-8, huge attribute, deep nesting") {
    for ((name, bytes) <- FuzzSpec.randomAndSoup ++ FuzzSpec.truncatedAndMutated ++
           FuzzSpec.invalidAndHuge ++ FuzzSpec.deepNesting)
      check(name, bytes)
  }

  test("entity-dense pages") {
    val pieces = Seq("&amp;", "&lt;", "&gt;", "&nbsp;", "&copy;", "&shy;", "&eacute;", "&bogus;",
      "&#65;", "&#x42;", "&#X43;", "&#x1F600;", "&#128512;", "&#xD800;", "&#0;", "&#+66;", "&#-1;",
      "&#x;", "&#;", "&#99999999999;", "&#٣٤;", "&", "&&", ";", "& ;", "&am p;",
      "&" + "x" * 30 + ";", "&" + "x" * 31 + ";", "&#" + "0" * 29 + "65;", "&#" + "0" * 30 + "65;",
      "&#" + "0" * 31 + "65;", "café&amp;", "é&#233;", "😀&gt;", " ", "\n", "word")
    val rng = new scala.util.Random(5)
    for (p <- 0 until 60) {
      val sb = new StringBuilder("<html><body>")
      for (_ <- 0 until 40) {
        val tag = Seq("p", "div", "li", "a href=\"/x&amp;y\"", "h2", "td", "script", "style", "title", "textarea")(rng.nextInt(10))
        sb.append('<').append(tag).append('>')
        for (_ <- 0 until 1 + rng.nextInt(30)) sb.append(pieces(rng.nextInt(pieces.length)))
        sb.append("</").append(tag.takeWhile(_ != ' ')).append('>')
      }
      check(s"entities-$p", sb.append("</body></html>").toString.getBytes(UTF_8))
    }
    check("one-run", ("<p>" + pieces.mkString + "</p>").getBytes(UTF_8))
  }

  test("upper- and mixed-case pages") {
    val rng = new scala.util.Random(8)
    for (i <- 0L until 60L) {
      val html = new String(PageGen.pageFull(42L, i).row.html, UTF_8)
      check(s"upper-$i", html.toUpperCase(Locale.ROOT).getBytes(UTF_8))
      val mixed = html.map(c => if (rng.nextBoolean()) c.toUpper else c)
      check(s"mixed-$i", mixed.getBytes(UTF_8))
    }
    check("classes", ("""<DIV CLASS="SideBar"><P>words words words words words words</P></DIV>""" +
      """<Div Id="MAIN-Content" class="x"><P>more words words words words words</P></Div>""" +
      """<div class="Keep sKip"><p>kelvin sign lowers to an ascii k here ok</p></div>""" +
      """<section class="İtem Été NAVé"><p>dotted capital i and accented words</p></section>""" +
      """<FONT COLOR="red" STYLE="FONT-SIZE:18PX"><B>bold red words in a font</B></FONT>""" +
      """<A HREF="/x">A link &AMP; its anchor</A><TABLE><TR><TD>a<TD>b</TABLE>""").getBytes(UTF_8))
  }
}

/** HEAD's token-object front end, verbatim apart from pinning its
  * lowercasing to `Locale.ROOT`, with the walks of `Tables`,
  * `TextAttributes` and `Outlinks` over its String-per-node DOM. */
object FrontEndSpec {
  object Old {
    private val rawTextTags = Set("script", "style", "noscript", "textarea", "title")
    private def isSpace(b: Byte): Boolean = b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'
    private def isNameStart(b: Byte): Boolean = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
    private def isNameChar(b: Byte): Boolean =
      isNameStart(b) || (b >= '0' && b <= '9') || b == '-' || b == '_' || b == ':'
    private def lower(b: Byte): Byte = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

    def tokenize(bytes: Array[Byte]): Vector[HtmlToken] = {
      val out = ArrayBuffer.empty[HtmlToken]
      tokenizeTo(bytes, out += _)
      out.toVector
    }

    def tokenizeTo(bytes: Array[Byte], emit: HtmlToken => Unit): Unit = {
      val n = bytes.length
      var i = 0
      var textStart = 0
      def flushText(endExclusive: Int): Unit =
        if (endExclusive > textStart)
          emit(HtmlToken.Text(new String(bytes, textStart, endExclusive - textStart, UTF_8), textStart))
      def indexOf(target: Byte, from: Int): Int = {
        var k = from
        while (k < n && bytes(k) != target) k += 1
        k
      }
      def findCloseTag(tag: String, from: Int): Int = {
        val t = tag.getBytes(UTF_8)
        var k = from
        while (k < n) {
          if (bytes(k) == '<' && k + 1 < n && bytes(k + 1) == '/') {
            var m = 0
            var ok = true
            while (ok && m < t.length) {
              val at = k + 2 + m
              ok = at < n && lower(bytes(at)) == t(m)
              m += 1
            }
            if (ok) {
              val after = k + 2 + t.length
              if (after >= n || bytes(after) == '>' || isSpace(bytes(after))) return k
            }
          }
          k += 1
        }
        n
      }
      while (i < n) {
        if (bytes(i) == '<' && i + 1 < n) {
          val next = bytes(i + 1)
          if (next == '!') {
            flushText(i)
            if (i + 3 < n && bytes(i + 2) == '-' && bytes(i + 3) == '-') {
              var k = i + 4
              while (k + 2 < n && !(bytes(k) == '-' && bytes(k + 1) == '-' && bytes(k + 2) == '>')) k += 1
              emit(HtmlToken.Comment(i))
              i = math.min(n, k + 3)
            } else {
              val k = indexOf('>', i + 2)
              emit(HtmlToken.Doctype(i))
              i = math.min(n, k + 1)
            }
            textStart = i
          } else if (next == '/') {
            flushText(i)
            var k = i + 2
            val nameStart = k
            while (k < n && isNameChar(bytes(k))) k += 1
            val name = new String(bytes, nameStart, k - nameStart, UTF_8).toLowerCase(Locale.ROOT)
            val gt = indexOf('>', k)
            if (name.nonEmpty) emit(HtmlToken.End(name, i))
            i = math.min(n, gt + 1)
            textStart = i
          } else if (isNameStart(next)) {
            flushText(i)
            var k = i + 1
            val nameStart = k
            while (k < n && isNameChar(bytes(k))) k += 1
            val name = new String(bytes, nameStart, k - nameStart, UTF_8).toLowerCase(Locale.ROOT)
            var attrs: List[(String, String)] = Nil
            var selfClosing = false
            var done = false
            while (!done && k < n) {
              while (k < n && isSpace(bytes(k))) k += 1
              if (k >= n) done = true
              else if (bytes(k) == '>') { done = true; k += 1 }
              else if (bytes(k) == '/') {
                k += 1
                if (k < n && bytes(k) == '>') { selfClosing = true; done = true; k += 1 }
              } else {
                val as = k
                while (k < n && bytes(k) != '=' && bytes(k) != '>' && bytes(k) != '/' && !isSpace(bytes(k))) k += 1
                val aname = new String(bytes, as, k - as, UTF_8).toLowerCase(Locale.ROOT)
                var avalue = ""
                while (k < n && isSpace(bytes(k))) k += 1
                if (k < n && bytes(k) == '=') {
                  k += 1
                  while (k < n && isSpace(bytes(k))) k += 1
                  if (k < n && (bytes(k) == '"' || bytes(k) == '\'')) {
                    val q = bytes(k)
                    k += 1
                    val vs = k
                    while (k < n && bytes(k) != q) k += 1
                    avalue = new String(bytes, vs, k - vs, UTF_8)
                    if (k < n) k += 1
                  } else {
                    val vs = k
                    while (k < n && bytes(k) != '>' && !isSpace(bytes(k))) k += 1
                    avalue = new String(bytes, vs, k - vs, UTF_8)
                  }
                }
                if (aname.nonEmpty) attrs = (aname -> avalue) :: attrs
              }
            }
            emit(HtmlToken.Start(name, attrs.reverse, selfClosing, i))
            i = k
            textStart = i
            if (!selfClosing && rawTextTags.contains(name)) {
              val close = findCloseTag(name, i)
              if (close > i) emit(HtmlToken.Text(new String(bytes, i, close - i, UTF_8), i))
              if (close < n) {
                val gt = indexOf('>', close)
                emit(HtmlToken.End(name, close))
                i = math.min(n, gt + 1)
              } else i = n
              textStart = i
            }
          } else i += 1
        } else i += 1
      }
      flushText(n)
    }

    private val named: Map[String, String] = Map(
      "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
      "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
      "trade" -> "™", "hellip" -> "…", "mdash" -> "—",
      "ndash" -> "–", "lsquo" -> "‘", "rsquo" -> "’",
      "ldquo" -> "“", "rdquo" -> "”", "laquo" -> "«",
      "raquo" -> "»", "times" -> "×", "divide" -> "÷",
      "deg" -> "°", "plusmn" -> "±", "frac12" -> "½",
      "frac14" -> "¼", "sup2" -> "²", "sup3" -> "³",
      "micro" -> "µ", "para" -> "¶", "sect" -> "§",
      "middot" -> "·", "bull" -> "•", "dagger" -> "†",
      "euro" -> "€", "pound" -> "£", "yen" -> "¥",
      "cent" -> "¢", "szlig" -> "ß", "agrave" -> "à",
      "aacute" -> "á", "eacute" -> "é", "egrave" -> "è",
      "iacute" -> "í", "oacute" -> "ó", "uacute" -> "ú",
      "ntilde" -> "ñ", "uuml" -> "ü", "ouml" -> "ö",
      "auml" -> "ä", "shy" -> "­")

    def decode(s: String): String = {
      var i = s.indexOf('&')
      if (i < 0) return s
      val sb = new java.lang.StringBuilder(s.length)
      var from = 0
      while (i >= 0) {
        sb.append(s, from, i)
        val semi = s.indexOf(';', i + 1)
        var consumed = false
        if (semi > i && semi - i <= 32) {
          val body = s.substring(i + 1, semi)
          if (body.startsWith("#")) {
            val numStr = body.substring(1)
            val cp =
              try {
                if (numStr.startsWith("x") || numStr.startsWith("X")) Integer.parseInt(numStr.substring(1), 16)
                else Integer.parseInt(numStr)
              } catch { case _: NumberFormatException => -1 }
            if (cp >= 0 && cp <= 0x10ffff && Character.isValidCodePoint(cp)) {
              sb.appendCodePoint(cp)
              consumed = true
            }
          } else named.get(body) match {
            case Some(rep) => sb.append(rep); consumed = true
            case None =>
          }
        }
        if (consumed) from = semi + 1
        else { sb.append('&'); from = i + 1 }
        i = s.indexOf('&', from)
      }
      sb.append(s, from, s.length)
      sb.toString
    }

    final class Dom(val tag: Array[String], val text: Array[String], val attrs: Array[List[(String, String)]],
                    val parent: Array[Int], val firstChild: Array[Int], val nextSibling: Array[Int]) {
      def size: Int = tag.length
      def isText(i: Int): Boolean = tag(i).isEmpty
      def root: Int = 0
      def foreachChild(i: Int)(f: Int => Unit): Unit = {
        var c = firstChild(i)
        while (c >= 0) { f(c); c = nextSibling(c) }
      }
      def attr(i: Int, name: String): Option[String] = attrs(i).collectFirst { case (n, v) if n == name => v }
      def walk(i: Int)(f: Int => Unit): Unit = {
        f(i)
        var c = firstChild(i)
        while (c >= 0) { walk(c)(f); c = nextSibling(c) }
      }
    }

    private val voidTags = Set("area", "base", "br", "col", "embed", "hr", "img", "input", "link",
      "meta", "param", "source", "track", "wbr")
    private val implicitClose: Map[String, Set[String]] = {
      val p = Set("p")
      Map("p" -> p, "div" -> p, "ul" -> p, "ol" -> p, "table" -> p,
        "h1" -> p, "h2" -> p, "h3" -> p, "h4" -> p, "h5" -> p, "h6" -> p,
        "blockquote" -> p, "pre" -> p, "section" -> p, "article" -> p,
        "aside" -> p, "nav" -> p, "header" -> p, "footer" -> p, "figure" -> p,
        "li" -> Set("li"), "dt" -> Set("dt", "dd"), "dd" -> Set("dt", "dd"),
        "tr" -> Set("tr", "td", "th"), "td" -> Set("td", "th"), "th" -> Set("td", "th"),
        "option" -> Set("option"))
    }
    private val MaxDepth = 512

    def parse(bytes: Array[Byte]): Dom = {
      val tag = ArrayBuffer[String]("#root")
      val text = ArrayBuffer[String]("")
      val attrs = ArrayBuffer[List[(String, String)]](Nil)
      val parent = ArrayBuffer(-1)
      val firstChild = ArrayBuffer(-1)
      val nextSibling = ArrayBuffer(-1)
      val lastChild = ArrayBuffer(-1)
      var stack = List(0)
      var depth = 1
      def addNode(t: String, txt: String, as: List[(String, String)]): Int = {
        val id = tag.length
        val par = stack.head
        tag += t; text += txt; attrs += as
        parent += par; firstChild += -1; nextSibling += -1; lastChild += -1
        if (firstChild(par) < 0) firstChild(par) = id
        else nextSibling(lastChild(par)) = id
        lastChild(par) = id
        id
      }
      tokenizeTo(bytes, {
        case HtmlToken.Start(name, as, selfClosing, _) =>
          implicitClose.get(name).foreach { closes =>
            if (stack.nonEmpty && closes.contains(tag(stack.head))) { stack = stack.tail; depth -= 1 }
          }
          val id = addNode(name, "", as)
          if (!selfClosing && !voidTags.contains(name) && depth < MaxDepth) { stack ::= id; depth += 1 }
        case HtmlToken.End(name, _) =>
          if (stack.exists(ix => tag(ix) == name)) {
            while (tag(stack.head) != name) { stack = stack.tail; depth -= 1 }
            stack = stack.tail
            depth -= 1
            if (stack.isEmpty) { stack = List(0); depth = 1 }
          }
        case HtmlToken.Text(raw, _) =>
          val parentTag = tag(stack.head)
          val decoded =
            if (parentTag == "script" || parentTag == "style" || parentTag == "noscript") raw
            else decode(raw)
          if (decoded.nonEmpty) addNode("", decoded, Nil)
        case _ =>
      })
      new Dom(tag.toArray, text.toArray, attrs.toArray, parent.toArray, firstChild.toArray, nextSibling.toArray)
    }

    final case class Block(tag: String, label: String, text: String, linkChars: Int,
                           classTokens: Set[String], ancestorTags: Set[String]) {
      def chars: Int = text.length
      def words: Int = if (text.isEmpty) 0 else {
        var c = 1; var i = 0
        while (i < text.length) { if (text.charAt(i) == ' ') c += 1; i += 1 }
        c
      }
    }

    private val skipTags = Set("script", "style", "noscript", "head", "title",
      "svg", "iframe", "template", "select", "option", "button", "object")
    private val blockTags = Set(
      "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "dt", "dd",
      "td", "th", "pre", "blockquote", "figcaption", "caption", "article",
      "section", "main", "header", "footer", "nav", "aside", "ul", "ol",
      "table", "thead", "tbody", "tfoot", "tr", "figure", "form", "fieldset",
      "body", "html", "#root", "address", "details", "summary")
    val chromeTags = Set("nav", "aside", "header", "footer")
    val boilerplateTokens = Set(
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

    private def normalizedLength(s: String): Int = {
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
        val raw = (cls.getOrElse("") + " " + id.getOrElse("")).toLowerCase(Locale.ROOT)
        var out = Set.empty[String]
        var i = 0
        val n = raw.length
        def alnum(c: Char) = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        while (i < n) {
          while (i < n && !alnum(raw.charAt(i))) i += 1
          val st = i
          while (i < n && alnum(raw.charAt(i))) i += 1
          if (i > st) out += raw.substring(st, i)
        }
        out
      }
    }

    def blocksOf(dom: Dom): Vector[Block] = {
      val out = ArrayBuffer.empty[Block]
      final class Ctx(val tag: String, val classTokens: Set[String], val ancestorTags: Set[String]) {
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
              val sub = new Ctx(tag, ctx.classTokens ++ classTokensOf(dom, node), ctx.ancestorTags + ctx.tag)
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

    def isContent(b: Block): Boolean = {
      if (b.text.isEmpty) return false
      if (b.ancestorTags.exists(chromeTags.contains) || chromeTags.contains(b.tag)) return false
      if (b.classTokens.exists(boilerplateTokens.contains)) return false
      if (3 * b.linkChars > b.chars) return false
      if (b.label == "heading") b.chars >= 3
      else b.words >= 5 || b.chars >= 30
    }

    def tablesOf(dom: Dom): Vector[TableStruct] = {
      val tables = ArrayBuffer.empty[Int]
      dom.walk(dom.root) { i => if (dom.tag(i) == "table") tables += i }
      var yCursor = Extractor.MarginX
      tables.zipWithIndex.map { case (tableNode, tableIdx) =>
        val rows = ArrayBuffer.empty[Int]
        collectRows(dom, tableNode, rows)
        val width = Extractor.PageW - 2 * Extractor.MarginX
        val cellrows = rows.zipWithIndex.map { case (tr, r) =>
          val cells = ArrayBuffer.empty[Int]
          collectCells(dom, tr, cells)
          val cw = width / math.max(cells.length, 1)
          r -> cells.indices.map(c => BBox(Extractor.MarginX + c * cw, yCursor + r * Extractor.LineH, cw, Extractor.LineH)).toVector
        }.toMap
        yCursor += rows.length * Extractor.LineH + Extractor.LineH
        TableStruct(tableIdx, rows.length, cellrows.valuesIterator.map(_.length).sum, cellrows)
      }.toVector
    }
    private def collectRows(dom: Dom, node: Int, out: ArrayBuffer[Int]): Unit =
      dom.foreachChild(node) { c =>
        dom.tag(c) match {
          case "tr"                => out += c
          case "table"             => ()
          case _ if !dom.isText(c) => collectRows(dom, c, out)
          case _                   => ()
        }
      }
    private def collectCells(dom: Dom, node: Int, out: ArrayBuffer[Int]): Unit =
      dom.foreachChild(node) { c =>
        dom.tag(c) match {
          case "td" | "th"         => out += c
          case "table" | "tr"      => ()
          case _ if !dom.isText(c) => collectCells(dom, c, out)
          case _                   => ()
        }
      }

    private val boldTags = Set("b", "strong")
    private val italicTags = Set("i", "em")
    private val underlineTags = Set("u", "ins")
    private val strikeTags = Set("s", "strike", "del")
    private val attrSkip = Set("script", "style", "noscript", "head", "title", "svg")

    def blockAttrs(dom: Dom): Vector[TextAttributes.BlockAttrs] = {
      val out = ArrayBuffer.empty[TextAttributes.BlockAttrs]
      var chars, bold, italic, under, strike, colored = 0
      var curTag = "#root"
      var colorCounts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      var sizeCounts = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
      def flush(): Unit = {
        if (chars > 0) {
          val majority = if (colorCounts.isEmpty) "" else colorCounts.maxBy(_._2)._1
          val stylePx = {
            val best = if (sizeCounts.isEmpty) (0, 0) else sizeCounts.maxBy(_._2)
            if (2 * best._2 > chars) best._1 else 0
          }
          val px = if (stylePx > 0) stylePx else TextAttributes.fontSizeOf(curTag)
          out += TextAttributes.BlockAttrs(out.length, curTag, chars, bold, italic, under, strike, colored, majority, px)
        }
        chars = 0; bold = 0; italic = 0; under = 0; strike = 0; colored = 0
        colorCounts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
        sizeCounts = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
      }
      def walk(node: Int, inB: Boolean, inI: Boolean, inU: Boolean, inS: Boolean, color: String, sizePx: Int): Unit = {
        if (dom.isText(node)) {
          val t = dom.text(node)
          var n = 0
          var k = 0
          while (k < t.length) { if (!Character.isWhitespace(t.charAt(k))) n += 1; k += 1 }
          chars += n
          if (inB) bold += n
          if (inI) italic += n
          if (inU) under += n
          if (inS) strike += n
          if (color.nonEmpty && n > 0) {
            colored += n
            colorCounts.updateWith(color) { c => Some(c.getOrElse(0) + n) }
          }
          if (sizePx > 0 && n > 0) sizeCounts.updateWith(sizePx) { c => Some(c.getOrElse(0) + n) }
        } else {
          val tag = dom.tag(node)
          if (!attrSkip.contains(tag)) {
            val (stSize, stColor) = dom.attr(node, "style") match {
              case Some(st) => TextAttributes.parseStyle(st)
              case None     => (0, "")
            }
            val c0 =
              if (stColor.nonEmpty) stColor
              else if (tag == "font") dom.attr(node, "color").getOrElse(color)
              else color
            val sz0 = if (stSize > 0) stSize else sizePx
            if (blockTags.contains(tag) && node != dom.root) {
              flush()
              val saved = curTag
              curTag = tag
              dom.foreachChild(node)(walk(_, inB, inI, inU, inS, c0, sz0))
              flush()
              curTag = saved
            } else {
              dom.foreachChild(node)(walk(_, inB || boldTags.contains(tag), inI || italicTags.contains(tag),
                inU || underlineTags.contains(tag), inS || strikeTags.contains(tag), c0, sz0))
            }
          }
        }
      }
      walk(dom.root, inB = false, inI = false, inU = false, inS = false, color = "", sizePx = 0)
      flush()
      out.toVector
    }

    def outlinks(dom: Dom): Vector[Outlink] = {
      val out = Vector.newBuilder[Outlink]
      var pos = 0
      dom.walk(dom.root) { i =>
        if (dom.tag(i) == "a") {
          val href = dom.attr(i, "href")
          if (href.isDefined) {
            val sb = new java.lang.StringBuilder
            dom.walk(i)(j => if (dom.isText(j)) sb.append(dom.text(j)))
            out += Outlink(pos, href.get, sb.toString)
            pos += 1
          }
        }
      }
      out.result()
    }
  }
}
