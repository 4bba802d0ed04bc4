package graft.extract

import graft.html.Dom
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage of the font/text-attribute operator (the FontRegion
  * analogue): non-whitespace counting independent of text-node splits,
  * style contexts, heading font sizes, and majority fontColor. */
class TextAttributesSpec extends AnyFunSuite {

  private def attrs(html: String) =
    TextAttributes.blockAttrs(Dom.parse(html.getBytes("UTF-8")))

  test("non-whitespace counts are node-split independent") {
    val a = attrs("<p>a <b>x</b> c</p>")
    assert(a.length == 1)
    assert(a.head.chars == 3)
    assert(a.head.boldChars == 1)
  }

  test("style contexts: bold/italic/underline/strike nest and sum") {
    val a = attrs("<p><b>ab <i>cd</i></b> <u>ef</u> <s>gh</s> ij</p>").head
    assert(a.chars == 10)
    assert(a.boldChars == 4)      // ab + cd (nested in b)
    assert(a.italicChars == 2)    // cd
    assert(a.underlineChars == 2) // ef
    assert(a.strikeChars == 2)    // gh
    assert(a.attributes("bold") == "false")
  }

  test("heading blocks carry the level's font size") {
    val a = attrs("<h1>one</h1><h3>three</h3><p>body</p>")
    assert(a.map(_.fontSize) == Vector(32, 24, 0))
    assert(a.head.attributes("fontSize") == "32")
  }

  test("majority fontColor wins; first color wins ties; empty without font tags") {
    val a = attrs(
      """<p><font color="#111111">abcd</font> x <font color="#222222">ef</font></p>""").head
    assert(a.coloredChars == 6)
    assert(a.fontColor == "#111111")
    val tie = attrs(
      """<p><font color="#a">xx</font><font color="#b">yy</font></p>""").head
    assert(tie.fontColor == "#a", "document-order tie-break")
    assert(attrs("<p>plain</p>").head.fontColor == "")
  }

  test("blocks align with Extractor.blocksOf: skipped form and template subtrees count nothing") {
    val html = "<p>Hello <button>Subscribe now</button></p>" +
      "<template><p>x</p></template><p>World wide</p>"
    val blocks = Extractor.blocksOf(Dom.parse(html.getBytes("UTF-8")))
    val a = attrs(html)
    assert(blocks.map(_.text) == Vector("Hello", "World wide"))
    assert(a.map(_.chars) == blocks.map(_.text.count(!_.isWhitespace)))
  }

  test("script/style/title text is never counted") {
    val a = attrs("<head><title>t</title><style>p{}</style></head><p>ok</p>")
    assert(a.map(_.chars).sum == 2)
  }

  test("inline-CSS font-size: whole-block style sets fontSize; minority span does not") {
    val a = attrs("""<p style="font-size:18px">sized paragraph body</p>""").head
    assert(a.fontSize == 18)
    // a minority inline span keeps the block at its tag default
    val b = attrs("""<p><span style="font-size:14px">x</span> longer unstyled rest</p>""").head
    assert(b.fontSize == 0)
    // a majority inline span wins over the tag default
    val c = attrs("""<h2><span style="font-size:14px">mostly styled text</span> y</h2>""").head
    assert(c.fontSize == 14)
    // non-px units are viewer-relative -> unstyled
    assert(attrs("""<p style="font-size:1.2em">x</p>""").head.fontSize == 0)
  }

  test("inline-CSS color: style color counts as colored; background-color does not") {
    val a = attrs("""<p><span style="color:#c0392b">red red</span> z</p>""").head
    assert(a.coloredChars == 6)
    assert(a.fontColor == "#c0392b")
    val b = attrs("""<p style="color:teal">all of this colored</p>""").head
    assert(b.coloredChars == b.chars)
    assert(b.fontColor == "teal")
    val c = attrs("""<p style="background-color:#fff">plain text here</p>""").head
    assert(c.coloredChars == 0)
    // style color overrides an enclosing font color for its subtree
    val d = attrs(
      """<p><font color="#a">aa <span style="color:#b">bb</span></font></p>""").head
    assert(d.coloredChars == 4)
    assert(d.fontColor == "#a") // 2 vs 2 — insertion order tie-break
  }

  test("parseStyle: declarations split on semicolons, keys case-insensitive") {
    assert(TextAttributes.parseStyle("font-size: 18px; color: #abc") == (18, "#abc"))
    assert(TextAttributes.parseStyle("COLOR:red;FONT-SIZE:22PX") == (22, "red"))
    assert(TextAttributes.parseStyle("margin:0;background-color:red") == (0, ""))
    assert(TextAttributes.parseStyle("font-size:18") == (0, ""))
  }

  test("block majority flags in the attributes map") {
    val a = attrs("<p><b>bold bold bold</b> x</p>").head
    assert(a.attributes("bold") == "true")
    val d = attrs("<p><u>under under</u> x</p>").head
    assert(d.attributes("fontDecoration") == "underline")
  }
}
