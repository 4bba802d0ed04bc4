package graft.extract

import java.util.Locale
import graft.html.Dom

/** Font/text attribute extraction — the engine analogue of the reference's
  * textual-attribute classifier (reference: server/modules/main/
  * textualAttribute.py:295-335, which runs a CNN per word crop and emits
  * `{bold, italic}` attributes, and server/modules/iitb/textattrib/
  * models.py:46-50, whose FontRegion additionally carries fontSize,
  * fontColor and fontDecoration). Here the markup itself carries the
  * ground truth: per block, the non-whitespace character counts under
  * bold/italic/underline/strike/colored contexts, a font size, and the
  * majority explicit color.
  *
  * Font size and color come from BOTH sources real-world HTML uses:
  * inline CSS (`style="font-size:18px"`, `style="color:#c0392b"` — where
  * the overwhelming majority of size/color markup lives) and legacy
  * markup (`<font color>`, heading-tag default sizes). The reference's
  * `FontRegion.fontSize` is pixel-valued from the rendered page; here a
  * block's fontSize is the explicit `font-size` px styling the majority
  * of its characters, falling back to the heading-level default.
  *
  * Counting is per DOM text node over NON-WHITESPACE characters only, so
  * the counts are independent of how inline markup splits text nodes
  * (`a <b>x</b> c` counts 3 regardless of node boundaries).
  */
object TextAttributes {
  final case class BlockAttrs(idx: Int, tag: String, chars: Int,
                              boldChars: Int, italicChars: Int,
                              underlineChars: Int, strikeChars: Int,
                              coloredChars: Int, fontColor: String,
                              fontSize: Int) {
    /** Majority-styled block → attribute true (the reference flags whole
      * words; blocks aggregate by character majority). Decoration string
      * mirrors FontRegion.fontDecoration; fontColor is the block's
      * most-frequent explicit color (document order on ties). */
    def attributes: Map[String, String] = Map(
      "bold" -> (2 * boldChars > chars).toString,
      "italic" -> (2 * italicChars > chars).toString,
      "fontSize" -> fontSize.toString,
      "fontColor" -> fontColor,
      "fontDecoration" ->
        (if (2 * underlineChars > chars) "underline"
         else if (2 * strikeChars > chars) "line-through"
         else ""))
  }

  private val boldTags = Set("b", "strong")
  private val italicTags = Set("i", "em")
  private val underlineTags = Set("u", "ins")
  private val strikeTags = Set("s", "strike", "del")

  /** Heading level → pixel font size (default body text = 0 = unstyled). */
  def fontSizeOf(tag: String): Int = tag match {
    case "h1" => 32
    case "h2" => 28
    case "h3" => 24
    case "h4" => 20
    case "h5" => 18
    case "h6" => 16
    case _    => 0
  }

  /** Inline-CSS parse: (font-size px, color), 0/"" when absent. Only the
    * `color` property itself matches (`background-color` must not), and
    * only integer `px` sizes are pixel-valued (em/%/pt are viewer-relative
    * and stay 0, like the unstyled default). */
  def parseStyle(style: String): (Int, String) = {
    var size = 0
    var color = ""
    var from = 0
    while (from <= style.length) {
      val semi = style.indexOf(';', from)
      val end = if (semi < 0) style.length else semi
      val decl = style.substring(from, end)
      val colon = decl.indexOf(':')
      if (colon > 0) {
        val k = decl.substring(0, colon).trim.toLowerCase(Locale.ROOT)
        val v = decl.substring(colon + 1).trim
        if (k == "font-size" && v.length > 2 &&
            v.toLowerCase(Locale.ROOT).endsWith("px")) {
          val num = v.substring(0, v.length - 2).trim
          // toIntOption, not toInt: a hostile digit run past Int.MaxValue
          // ("font-size:99999999999px") must not throw out of the parser
          if (num.nonEmpty && num.forall(_.isDigit))
            size = num.toIntOption.getOrElse(0)
        } else if (k == "color" && v.nonEmpty) color = v
      }
      from = end + 1
    }
    (size, color)
  }

  /** One row per block containing non-whitespace text, document order,
    * aligned with [[Extractor.blocksOf]]'s blocks: the same block and skip
    * tags cut and prune both walks. Only one block is open at a time — a
    * block element flushes the open block before its children and itself
    * after them — so one set of counters serves the whole walk. Text is
    * counted straight from the DOM's char arena. */
  def blockAttrs(dom: Dom): Vector[BlockAttrs] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[BlockAttrs]
    var chars = 0
    var bold = 0
    var italic = 0
    var under = 0
    var strike = 0
    var colored = 0
    var curTag = "#root"
    // insertion-ordered per-color / per-explicit-size char counts within
    // the current block
    var colorCounts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    var sizeCounts = scala.collection.mutable.LinkedHashMap.empty[Int, Int]

    def flush(): Unit = {
      if (chars > 0) {
        val majority =
          if (colorCounts.isEmpty) ""
          else colorCounts.maxBy(_._2)._1 // LinkedHashMap: first max wins
        // explicit style size wins when it styles the char majority
        // (LinkedHashMap maxBy: first insertion wins count ties), else
        // the heading-level default
        val stylePx = {
          val best = if (sizeCounts.isEmpty) (0, 0) else sizeCounts.maxBy(_._2)
          if (2 * best._2 > chars) best._1 else 0
        }
        val px = if (stylePx > 0) stylePx else fontSizeOf(curTag)
        out += BlockAttrs(out.length, curTag, chars, bold, italic, under,
          strike, colored, majority, px)
      }
      chars = 0; bold = 0; italic = 0; under = 0; strike = 0; colored = 0
      colorCounts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      sizeCounts = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    }

    def walk(node: Int, inB: Boolean, inI: Boolean, inU: Boolean,
             inS: Boolean, color: String, sizePx: Int): Unit = {
      if (dom.isText(node)) {
        val t = dom.chars
        var n = 0
        var k = dom.textFrom(node)
        while (k < dom.textUntil(node)) { if (!Character.isWhitespace(t(k))) n += 1; k += 1 }
        chars += n
        if (inB) bold += n
        if (inI) italic += n
        if (inU) under += n
        if (inS) strike += n
        if (color.nonEmpty && n > 0) {
          colored += n
          colorCounts.updateWith(color) { c => Some(c.getOrElse(0) + n) }
        }
        if (sizePx > 0 && n > 0)
          sizeCounts.updateWith(sizePx) { c => Some(c.getOrElse(0) + n) }
      } else {
        val tag = dom.tag(node)
        if (!Extractor.skipTags.contains(tag)) {
          // inline CSS overrides the inherited context (style color beats
          // an enclosing <font color>; style font-size beats an ancestor's)
          val (stSize, stColor) = dom.attr(node, "style") match {
            case Some(st) => parseStyle(st)
            case None     => (0, "")
          }
          val c0 =
            if (stColor.nonEmpty) stColor
            else if (tag == "font") dom.attr(node, "color").getOrElse(color)
            else color
          val sz0 = if (stSize > 0) stSize else sizePx
          if (Extractor.blockTags.contains(tag) && node != dom.root) {
            flush()
            val saved = curTag
            curTag = tag
            dom.foreachChild(node)(walk(_, inB, inI, inU, inS, c0, sz0))
            flush()
            curTag = saved
          } else {
            val b = inB || boldTags.contains(tag)
            val i = inI || italicTags.contains(tag)
            val u = inU || underlineTags.contains(tag)
            val s = inS || strikeTags.contains(tag)
            dom.foreachChild(node)(walk(_, b, i, u, s, c0, sz0))
          }
        }
      }
    }
    walk(dom.root, inB = false, inI = false, inU = false, inS = false,
      color = "", sizePx = 0)
    flush()
    out.toVector
  }
}
