package graft.html

import scala.collection.mutable.ArrayBuffer

/** Arena DOM: nodes live in flat arrays, children linked by index. One
  * arena per page, built in the same pass as tokenization — bounded by the
  * page size, no global state (the per-page transform's memory contract,
  * SURVEY.md §4).
  */
final class Dom private (
    val tag: Array[String],          // "" for text nodes
    val text: Array[String],         // decoded text for text nodes, else ""
    val attrs: Array[List[(String, String)]],
    val parent: Array[Int],
    val firstChild: Array[Int],
    val nextSibling: Array[Int]) {

  def size: Int = tag.length
  def isText(i: Int): Boolean = tag(i).isEmpty
  def root: Int = 0

  def children(i: Int): Iterator[Int] = new Iterator[Int] {
    private var cur = firstChild(i)
    def hasNext: Boolean = cur >= 0
    def next(): Int = { val c = cur; cur = nextSibling(c); c }
  }

  /** Allocation-free child traversal (Function1[Int, Unit] is specialized;
    * the Iterator version boxes each id) — use in per-page hot paths. */
  def foreachChild(i: Int)(f: Int => Unit): Unit = {
    var c = firstChild(i)
    while (c >= 0) { f(c); c = nextSibling(c) }
  }

  def attr(i: Int, name: String): Option[String] =
    attrs(i).collectFirst { case (n, v) if n == name => v }

  /** Depth-first pre-order walk below `i` (inclusive). */
  def walk(i: Int)(f: Int => Unit): Unit = {
    f(i)
    var c = firstChild(i)
    while (c >= 0) { walk(c)(f); c = nextSibling(c) }
  }
}

object Dom {
  /** Growable primitive int array — ArrayBuffer[Int] boxes every element
    * past the Integer cache, and the DOM builder appends four ints per
    * node; this keeps the arena build allocation-flat. */
  private final class IntBuf(hint: Int) {
    private var a = new Array[Int](math.max(hint, 16))
    private var n = 0
    def length: Int = n
    def apply(i: Int): Int = a(i)
    def update(i: Int, v: Int): Unit = a(i) = v
    def add(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(n) = v; n += 1
    }
    def toArray: Array[Int] = java.util.Arrays.copyOf(a, n)
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
    // presize the arena: ~1 node per 40 bytes of html is a safe upper
    // estimate, so the buffers grow at most once instead of log2(n) times
    val hint = math.max(16, bytes.length / 40)
    val tag = new ArrayBuffer[String](hint); tag += "#root"
    val text = new ArrayBuffer[String](hint); text += ""
    val attrs = new ArrayBuffer[List[(String, String)]](hint); attrs += Nil
    val parent = new IntBuf(hint); parent.add(-1)
    val firstChild = new IntBuf(hint); firstChild.add(-1)
    val nextSibling = new IntBuf(hint); nextSibling.add(-1)
    val lastChild = new IntBuf(hint); lastChild.add(-1)

    // open-element stack of node indices (depth tracked for the cap)
    var stack = List(0)
    var depth = 1

    def addNode(t: String, txt: String, as: List[(String, String)]): Int = {
      val id = tag.length
      val par = stack.head
      tag += t; text += txt; attrs += as
      parent.add(par); firstChild.add(-1); nextSibling.add(-1); lastChild.add(-1)
      if (firstChild(par) < 0) firstChild(par) = id
      else nextSibling(lastChild(par)) = id
      lastChild(par) = id
      id
    }

    Tokenizer.tokenizeTo(bytes, {
      case HtmlToken.Start(name, as, selfClosing, _) =>
        implicitClose.get(name).foreach { closes =>
          if (stack.nonEmpty && closes.contains(tag(stack.head))) {
            stack = stack.tail
            depth -= 1
          }
        }
        val id = addNode(name, "", as)
        if (!selfClosing && !voidTags.contains(name) && depth < MaxDepth) {
          stack ::= id
          depth += 1
        }

      case HtmlToken.End(name, _) =>
        if (stack.exists(ix => tag(ix) == name)) {
          while (tag(stack.head) != name) { stack = stack.tail; depth -= 1 }
          stack = stack.tail
          depth -= 1
          if (stack.isEmpty) { stack = List(0); depth = 1 }
        }

      case HtmlToken.Text(raw, _) =>
        // rawtext bodies (script/style) are kept verbatim; normal text is
        // entity-decoded here, once
        val parentTag = tag(stack.head)
        val decoded =
          if (parentTag == "script" || parentTag == "style" || parentTag == "noscript") raw
          else Entities.decode(raw)
        if (decoded.nonEmpty) addNode("", decoded, Nil)

      case _ => // comments / doctype carry no content
    })

    new Dom(tag.toArray, text.toArray, attrs.toArray, parent.toArray,
      firstChild.toArray, nextSibling.toArray)
  }
}
