package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import graft.html.{Dom, Entities, HtmlToken}
import graft.pages.PageGen

class ExtractSpec extends AnyFunSuite {

  test("tokenizer: tags, attrs, rawtext, comments, bare '<'") {
    val html = """<!DOCTYPE html><p class="a b" id=x>hi &amp; 5 < 10</p><script>if(a<b){}</script><!-- c -->"""
    val toks = HtmlToken.tokenize(html.getBytes(UTF_8))
    assert(toks.collect { case HtmlToken.Start(n, _, _, _) => n } == Vector("p", "script"))
    val p = toks.collectFirst { case s: HtmlToken.Start if s.name == "p" => s }.get
    assert(p.attrs == List("class" -> "a b", "id" -> "x"))
    val texts = toks.collect { case HtmlToken.Text(t, _) => t }
    assert(texts.contains("hi &amp; 5 < 10"))
    assert(texts.contains("if(a<b){}")) // rawtext not split at '<'
    assert(toks.exists { case _: HtmlToken.Comment => true; case _ => false })
  }

  test("entities: named, numeric, invalid pass-through") {
    assert(Entities.decode("a &amp; b") == "a & b")
    assert(Entities.decode("&#65;&#x42;") == "AB")
    assert(Entities.decode("&bogus; & x") == "&bogus; & x")
    assert(Entities.decode("5&nbsp;&lt;&nbsp;10") == "5 < 10")
  }

  test("dom: implicit close and stray end tags") {
    val dom = Dom.parse("<body><p>one<p>two</p><ul><li>a<li>b</ul></span></body>".getBytes(UTF_8))
    val tags = (0 until dom.size).map(dom.tag).filter(_.nonEmpty)
    assert(tags.count(_ == "p") == 2)
    assert(tags.count(_ == "li") == 2)
    // the two <p>s are siblings (implicit close), not nested
    val ps = (0 until dom.size).filter(i => dom.tag(i) == "p")
    assert(dom.parent(ps(0)) == dom.parent(ps(1)))
  }

  test("extraction: boilerplate dropped, content kept") {
    val html =
      """<body><nav><a href="/">home</a> <a href="/b">blog</a></nav>
        |<div class="content"><h1>A title</h1>
        |<p>This paragraph has definitely more than five words in it.</p>
        |<p>tiny</p>
        |<p><a href="/x">link</a> <a href="/y">only</a> <a href="/z">stuff</a></p></div>
        |<footer><p>Copyright words words words words words words</p></footer></body>""".stripMargin
    val out = Extractor.extract("u", html.getBytes(UTF_8))
    assert(out.text == "A title\nThis paragraph has definitely more than five words in it.")
    assert(out.spans.length == 2)
    assert(out.spans(0).kind == "heading" && out.spans(1).kind == "paragraph")
    assert(out.spans.forall(s => out.text.substring(s.start.toInt, s.end.toInt).nonEmpty))
  }

  test("generator round-trip: extracted text is byte-identical to golden, 400 pages x 2 seeds") {
    for (seed <- Seq(42L, 7L); row <- PageGen.pages(seed, 0, 400)) {
      val got = Extractor.extract(row.url, row.html)
      assert(java.util.Arrays.equals(got.text.getBytes(UTF_8), row.text.getBytes(UTF_8)),
        s"seed=$seed url=${row.url}\n--- got ---\n${got.text.take(600)}\n--- want ---\n${row.text.take(600)}")
    }
  }

  test("extractor is deterministic and spans are consistent") {
    val row = PageGen.page(42L, 3L)
    val a = Extractor.extract(row.url, row.html)
    val b = Extractor.extract(row.url, row.html)
    assert(a.text == b.text && a.spans.toSeq == b.spans.toSeq)
    // spans tile the text with single-'\n' gaps, orders are a permutation
    val sorted = a.spans.sortBy(_.start)
    for (i <- 1 until sorted.length)
      assert(sorted(i).start == sorted(i - 1).end + 1)
    assert(a.spans.map(_.order).sorted.toSeq == (1 to a.spans.length))
  }

  test("tag, class and style names lower the same under a Turkish default locale") {
    val html =
      """<HTML><BODY><SCRIPT>var hidden = "script body words leak";</SCRIPT>
        |<DIV CLASS="SIDEBAR"><P>Sidebar text that is long enough to be a content block.</P></DIV>
        |<P>Main content with more than five words in it.</P>
        |<P STYLE="FONT-SIZE:18PX">Styled words here, six words long.</P></BODY></HTML>""".stripMargin.getBytes(UTF_8)
    def run() = (Extractor.extract("u", html).text, TextAttributes.blockAttrs(Dom.parse(html)))
    val saved = java.util.Locale.getDefault
    val (enText, enAttrs) =
      try { java.util.Locale.setDefault(java.util.Locale.US); run() }
      finally java.util.Locale.setDefault(saved)
    assert(enText == "Main content with more than five words in it.\nStyled words here, six words long.")
    assert(enAttrs.last.fontSize == 18)
    val (trText, trAttrs) =
      try { java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR")); run() }
      finally java.util.Locale.setDefault(saved)
    assert(trText == enText)
    assert(trAttrs == enAttrs)
  }
}
