package graft.html

import java.nio.charset.StandardCharsets.UTF_8

/** Arena DOM: nodes live in flat arrays, children linked by index. One
  * arena per page, built in the same pass as tokenization — bounded by the
  * page size, no global state (the per-page transform's memory contract,
  * SURVEY.md §4).
  *
  * The node arrays may be longer than [[size]]; slots past it are unused.
  * Decoded text lives in one page-wide char arena, [[chars]]: text node
  * `i` is `chars[textFrom(i), textUntil(i))` (an empty range for element
  * nodes). The arena is sized to the page's byte count and never grows,
  * because decoded text never outgrows its bytes: UTF-8 decodes each 1–3
  * byte sequence to one char, each 4-byte sequence to a surrogate pair and
  * each malformed subsequence (≥ 1 byte) to one U+FFFD, and entity
  * decoding only shrinks text ([[Entities.decodeInPlace]]).
  */
final class Dom private (
    val size: Int,
    val tag: Array[String],          // "" for text nodes
    val attrs: Array[List[(String, String)]],
    val parent: Array[Int],
    val firstChild: Array[Int],
    val nextSibling: Array[Int],
    val textFrom: Array[Int],
    val textUntil: Array[Int],
    val chars: Array[Char]) {

  def isText(i: Int): Boolean = tag(i).isEmpty
  def root: Int = 0

  /** Decoded text of a text node, "" for an element. Builds a String;
    * hot paths read [[chars]] over the node's range instead. */
  def text(i: Int): String = new String(chars, textFrom(i), textUntil(i) - textFrom(i))

  /** Appends node `i`'s text to `sb` without an intermediate String. */
  def appendText(i: Int, sb: java.lang.StringBuilder): Unit =
    sb.append(chars, textFrom(i), textUntil(i) - textFrom(i))

  /** Allocation-free child traversal (Function1[Int, Unit] is
    * specialized) — use in per-page hot paths. */
  def foreachChild(i: Int)(f: Int => Unit): Unit = {
    var c = firstChild(i)
    while (c >= 0) { f(c); c = nextSibling(c) }
  }

  def attr(i: Int, name: String): Option[String] = {
    var as = attrs(i)
    while (as.nonEmpty) {
      if (as.head._1 == name) return Some(as.head._2)
      as = as.tail
    }
    None
  }

  /** Depth-first pre-order walk below `i` (inclusive). */
  def walk(i: Int)(f: Int => Unit): Unit = {
    f(i)
    var c = firstChild(i)
    while (c >= 0) { walk(c)(f); c = nextSibling(c) }
  }
}

object Dom {
  /** Growable primitive int array — ArrayBuffer[Int] boxes every element
    * past the Integer cache. */
  private final class IntBuf(hint: Int) {
    private var a = new Array[Int](hint)
    private var n = 0
    def length: Int = n
    def apply(i: Int): Int = a(i)
    def last: Int = a(n - 1)
    def setLast(v: Int): Unit = a(n - 1) = v
    def add(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(n) = v; n += 1
    }
    def truncate(len: Int): Unit = n = len
  }

  /** Void elements never get children (HTML5 spec list). */
  private val voidTags = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")

  /** Simplified implicit-close rules: opening `key` closes an open element
    * in the value set (subset of the HTML5 tree-builder's "in body"
    * rules — the deterministic core, not the full spec). */
  private val implicitClose: Map[String, Set[String]] = {
    val p = Set("p")
    Map(
      "p" -> p, "div" -> p, "ul" -> p, "ol" -> p, "table" -> p,
      "h1" -> p, "h2" -> p, "h3" -> p, "h4" -> p, "h5" -> p, "h6" -> p,
      "blockquote" -> p, "pre" -> p, "section" -> p, "article" -> p,
      "aside" -> p, "nav" -> p, "header" -> p, "footer" -> p, "figure" -> p,
      "li" -> Set("li"),
      "dt" -> Set("dt", "dd"), "dd" -> Set("dt", "dd"),
      "tr" -> Set("tr", "td", "th"),
      "td" -> Set("td", "th"), "th" -> Set("td", "th"),
      "option" -> Set("option"))
  }

  /** Open-element depth cap (browsers cap around 512): an element opening
    * beyond this depth still becomes a node but opens no scope, so its
    * children attach to the capped ancestor. This bounds the TREE depth,
    * which keeps every recursive consumer (block builder, attribute walk,
    * table scan) stack-safe on adversarial input — a crawl page of 100k
    * nested divs would otherwise throw StackOverflowError, an Error the
    * NonFatal handler in `Extractor.extract` cannot eat, killing the
    * task (and, after retries, the 10^12-row job). Also bounds the
    * stray-end-tag scan, which is O(depth) per end token. */
  val MaxDepth = 512

  /** Parse bytes → DOM in one streaming pass. Never throws on malformed
    * input: stray end tags are ignored unless a matching ancestor is open,
    * in which case everything above it is popped. */
  def parse(bytes: Array[Byte]): Dom = {
    val b = new Builder(bytes)
    Tokenizer.tokenizeTo(bytes, b)
    b.result()
  }

  /** The tokenizer sink that builds one page's arena. Each text run is
    * decoded once, straight into the arena: an ASCII run byte → char, any
    * other run through `new String(…, UTF_8)`; runs holding a '&' are then
    * entity-decoded in place, except script/style/noscript bodies, which
    * stay verbatim. */
  private final class Builder(bytes: Array[Byte]) extends TokenSink {
    // every node takes at least one tag or text run of the page; the
    // generated pages average ~15 bytes per node, so the arrays rarely grow
    private var cap = math.max(16, bytes.length / 12)
    private var tag = new Array[String](cap)
    private var attrs = new Array[List[(String, String)]](cap)
    private var parent = new Array[Int](cap)
    private var firstChild = new Array[Int](cap)
    private var nextSibling = new Array[Int](cap)
    private var textFrom = new Array[Int](cap)
    private var textUntil = new Array[Int](cap)
    private var size = 1 // the root, set up below
    private val chars = new Array[Char](bytes.length)
    private var used = 0
    // open-element stack of node indices (its length is the depth), and
    // each open element's last child so far: only an open element gains
    // children, so the links need no per-node lastChild array
    private val stack = new IntBuf(64)
    private val stackLast = new IntBuf(64)

    tag(0) = "#root"; attrs(0) = Nil
    parent(0) = -1; firstChild(0) = -1; nextSibling(0) = -1
    stack.add(0); stackLast.add(-1)

    private def grow(): Unit = {
      cap *= 2
      tag = java.util.Arrays.copyOf(tag, cap)
      attrs = java.util.Arrays.copyOf(attrs, cap)
      parent = java.util.Arrays.copyOf(parent, cap)
      firstChild = java.util.Arrays.copyOf(firstChild, cap)
      nextSibling = java.util.Arrays.copyOf(nextSibling, cap)
      textFrom = java.util.Arrays.copyOf(textFrom, cap)
      textUntil = java.util.Arrays.copyOf(textUntil, cap)
    }

    /** Appends a node as the last child of the innermost open element. */
    private def addNode(t: String, as: List[(String, String)], from: Int, until: Int): Int = {
      if (size == cap) grow()
      val id = size
      size += 1
      val par = stack.last
      tag(id) = t; attrs(id) = as
      parent(id) = par; firstChild(id) = -1; nextSibling(id) = -1
      textFrom(id) = from; textUntil(id) = until
      if (stackLast.last < 0) firstChild(par) = id else nextSibling(stackLast.last) = id
      stackLast.setLast(id)
      id
    }

    private def pop(depth: Int): Unit = { stack.truncate(depth); stackLast.truncate(depth) }

    def start(name: String, as: List[(String, String)], selfClosing: Boolean, offset: Int): Unit = {
      val closes = implicitClose.getOrElse(name, null)
      if (closes != null && closes.contains(tag(stack.last))) pop(stack.length - 1)
      val id = addNode(name, as, 0, 0)
      if (!selfClosing && !voidTags.contains(name) && stack.length < MaxDepth) {
        stack.add(id); stackLast.add(-1)
      }
    }

    def end(name: String, offset: Int): Unit = {
      var k = stack.length - 1
      while (k >= 0 && tag(stack(k)) != name) k -= 1
      // the root stays open (no end tag names it)
      if (k >= 0) pop(math.max(k, 1))
    }

    def text(from: Int, until: Int): Unit = {
      val at = used
      var len = until - from
      var k = 0
      while (k < len && bytes(from + k) >= 0) { chars(at + k) = bytes(from + k).toChar; k += 1 }
      if (k < len) {
        val s = new String(bytes, from, len, UTF_8)
        len = s.length
        s.getChars(0, len, chars, at)
      }
      val parentTag = tag(stack.last)
      if (parentTag != "script" && parentTag != "style" && parentTag != "noscript") {
        var amp = at
        while (amp < at + len && chars(amp) != '&') amp += 1
        if (amp < at + len) len = Entities.decodeInPlace(chars, amp, at + len) - at
      }
      if (len > 0) {
        used += len
        addNode("", Nil, at, at + len)
      }
    }

    def result(): Dom =
      new Dom(size, tag, attrs, parent, firstChild, nextSibling, textFrom, textUntil, chars)
  }
}
