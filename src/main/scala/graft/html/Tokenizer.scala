package graft.html

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale

/** Receiver of [[Tokenizer.tokenizeTo]]'s events, in document order. Tag
  * and attribute names arrive lowercased (under `Locale.ROOT`, never the
  * default locale); a name in the tokenizer's fixed table of known names
  * arrives as the table's one shared instance, so comparing it with a
  * literal is a reference check. Offsets are byte offsets of the
  * construct's '<'. */
trait TokenSink {
  /** A start tag; `attrs` in source order. */
  def start(name: String, attrs: List[(String, String)], selfClosing: Boolean, offset: Int): Unit
  def end(name: String, offset: Int): Unit
  /** A non-empty text run: the input bytes `[from, until)`, not decoded,
    * entities included. A script/style/noscript/textarea/title body is
    * one run up to its close tag. */
  def text(from: Int, until: Int): Unit
  def comment(offset: Int): Unit = ()
  def doctype(offset: Int): Unit = ()
}

/** Single-pass streaming HTML tokenizer over raw UTF-8 bytes.
  *
  * Scale notes: structural characters (`< > = " ' / !`) are ASCII, so the
  * scan runs on bytes without decoding. Text runs are handed to the sink
  * as byte ranges, so the tokenizer decodes only attribute values and
  * names outside its table of known names (each byte is looked at O(1)
  * times; the raw input is never materialised as one big String).
  * Script/style/noscript bodies are raw text up to the matching close
  * tag, like the HTML5 rawtext states. Malformed markup never throws — a
  * bare '<' that doesn't open a tag is emitted as text.
  *
  * Replaces the reference's detector stage (SURVEY.md §2.1 S6): page →
  * ordered candidate blocks, here fed from markup instead of model
  * inference.
  */
object Tokenizer {
  private val rawTextTags = Set("script", "style", "noscript", "textarea", "title")

  /** Tag and attribute names the engine tests for or that are common
    * enough to be worth sharing, in an open-addressed table keyed by
    * `String.hashCode`. */
  private val KnownNames = Array(
    "a", "abbr", "address", "area", "article", "aside", "b", "base", "blockquote",
    "body", "br", "button", "caption", "cite", "code", "col", "dd", "del", "details",
    "div", "dl", "dt", "em", "embed", "fieldset", "figcaption", "figure", "font",
    "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "head", "header", "hr",
    "html", "i", "iframe", "img", "input", "ins", "label", "li", "link", "main",
    "meta", "nav", "noscript", "object", "ol", "option", "p", "param", "pre", "s",
    "script", "section", "select", "small", "source", "span", "strike", "strong",
    "style", "sub", "summary", "sup", "svg", "table", "tbody", "td", "template",
    "textarea", "tfoot", "th", "thead", "title", "tr", "track", "u", "ul", "wbr",
    "alt", "charset", "class", "color", "content", "height", "href", "id", "lang",
    "name", "property", "rel", "role", "src", "target", "type", "value", "width")
  private val TableMask = 511
  private val table: Array[String] = {
    val t = new Array[String](TableMask + 1)
    for (s <- KnownNames) {
      var k = s.hashCode & TableMask
      while (t(k) != null) k = (k + 1) & TableMask
      t(k) = s
    }
    t
  }

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'

  private def isNameStart(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')

  private def isNameChar(b: Byte): Boolean =
    isNameStart(b) || (b >= '0' && b <= '9') || b == '-' || b == '_' || b == ':'

  private def lower(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  /** The name in `bytes[from, until)` lowered under `Locale.ROOT`: the
    * shared instance when it is a known name (an ASCII name's hash is
    * taken over its bytes lowered one by one, the same mapping), else a
    * new String. */
  private def nameOf(bytes: Array[Byte], from: Int, until: Int): String = {
    var h = 0
    var ascii = true
    var k = from
    while (k < until) {
      val b = bytes(k)
      if (b < 0) ascii = false
      h = 31 * h + lower(b)
      k += 1
    }
    if (ascii) {
      var slot = h & TableMask
      while (table(slot) != null) {
        val s = table(slot)
        if (s.length == until - from) {
          var m = 0
          while (m < s.length && s.charAt(m) == lower(bytes(from + m))) m += 1
          if (m == s.length) return s
        }
        slot = (slot + 1) & TableMask
      }
    }
    new String(bytes, from, until - from, UTF_8).toLowerCase(Locale.ROOT)
  }

  /** Event-style tokenization: no token objects, text as byte ranges —
    * the DOM builder is the sink, so one pass serves both. */
  def tokenizeTo(bytes: Array[Byte], sink: TokenSink): Unit = {
    val n = bytes.length
    var i = 0
    var textStart = 0

    def flushText(endExclusive: Int): Unit =
      if (endExclusive > textStart) sink.text(textStart, endExclusive)

    def indexOf(target: Byte, from: Int): Int = {
      var k = from
      while (k < n && bytes(k) != target) k += 1
      k
    }

    /** Case-insensitive search for `</tag` starting at `from`; returns the
      * index of '<' or n. `tag` is lowercase ASCII. */
    def findCloseTag(tag: String, from: Int): Int = {
      val len = tag.length
      var k = from
      while (k < n) {
        if (bytes(k) == '<' && k + 1 < n && bytes(k + 1) == '/') {
          var m = 0
          var ok = true
          while (ok && m < len) {
            val at = k + 2 + m
            ok = at < n && lower(bytes(at)) == tag.charAt(m)
            m += 1
          }
          if (ok) {
            val after = k + 2 + len
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
            // comment: scan for -->
            var k = i + 4
            while (k + 2 < n && !(bytes(k) == '-' && bytes(k + 1) == '-' && bytes(k + 2) == '>')) k += 1
            sink.comment(i)
            i = math.min(n, k + 3)
          } else {
            // doctype / CDATA / bogus markup: skip to '>'
            val k = indexOf('>', i + 2)
            sink.doctype(i)
            i = math.min(n, k + 1)
          }
          textStart = i
        } else if (next == '/') {
          flushText(i)
          var k = i + 2
          val nameStart = k
          while (k < n && isNameChar(bytes(k))) k += 1
          val gt = indexOf('>', k)
          if (k > nameStart) sink.end(nameOf(bytes, nameStart, k), i)
          i = math.min(n, gt + 1)
          textStart = i
        } else if (isNameStart(next)) {
          flushText(i)
          var k = i + 1
          val nameStart = k
          while (k < n && isNameChar(bytes(k))) k += 1
          val name = nameOf(bytes, nameStart, k)
          // attributes
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
              // attribute name
              val as = k
              while (k < n && bytes(k) != '=' && bytes(k) != '>' && bytes(k) != '/' && !isSpace(bytes(k))) k += 1
              val nameEnd = k
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
              if (nameEnd > as) attrs = (nameOf(bytes, as, nameEnd) -> avalue) :: attrs
            }
          }
          // most tags carry at most one attribute, whose list is its own reverse
          sink.start(name, if (attrs.isEmpty || attrs.tail.isEmpty) attrs else attrs.reverse, selfClosing, i)
          i = k
          textStart = i
          // rawtext elements: emit body as a single text run
          if (!selfClosing && rawTextTags.contains(name)) {
            val close = findCloseTag(name, i)
            if (close > i) sink.text(i, close)
            // consume the close tag
            if (close < n) {
              val gt = indexOf('>', close)
              sink.end(name, close)
              i = math.min(n, gt + 1)
            } else i = n
            textStart = i
          }
        } else {
          i += 1 // bare '<' in text
        }
      } else i += 1
    }
    flushText(n)
  }
}
