package graft.html

/** One hyperlink found in a page, in document order. `pos` counts only
  * href-carrying anchors (an `<a>` with no href is a named target, not a
  * link). `anchor` is the concatenated text content below the element —
  * entity-decoded by the tokenizer, untrimmed.
  */
final case class Outlink(pos: Int, href: String, anchor: String)

/** Link extraction for link-graph construction — the web-graph side of a
  * Common-Crawl-style pipeline (host graph, in-degree features, crawl
  * frontier seeds). Reference scope: layout-parser consumes single
  * documents and has no link stage; this is part of the surrounding
  * corpus-pipeline surface the engine serves (SURVEY.md §2 "beyond the
  * reference" family, same tier as dedup/tiering).
  *
  * Scale design: a pure per-row projection over the pruned `(url, html)`
  * scan — zero exchanges; the DOM arena is per-page and bounded by page
  * size (the extraction job's memory contract). Downstream graph
  * aggregations shuffle only the narrow edge rows this emits, never the
  * html payload.
  */
object Outlinks {

  /** All links in document (pre-)order. */
  def extract(html: Array[Byte]): Vector[Outlink] = {
    val dom = Dom.parse(html)
    val out = Vector.newBuilder[Outlink]
    var pos = 0
    dom.walk(dom.root) { i =>
      if (dom.tag(i) == "a") {
        val href = dom.attr(i, "href")
        if (href.isDefined) {
          val sb = new java.lang.StringBuilder
          dom.walk(i)(j => if (dom.isText(j)) dom.appendText(j, sb))
          out += Outlink(pos, href.get, sb.toString)
          pos += 1
        }
      }
    }
    out.result()
  }

  /** `scheme://host` origin of an absolute url ("" if `url` has none). */
  def originOf(url: String): String = {
    val i = url.indexOf("://")
    if (i < 0) ""
    else {
      val pathStart = url.indexOf('/', i + 3)
      if (pathStart < 0) url else url.substring(0, pathStart)
    }
  }

  /** Resolve `href` against the page `base` url: absolute hrefs pass
    * through, root-relative join the base origin, other relative forms
    * join the base directory (RFC 3986 merge, minus dot-segment
    * normalization — crawl-frontier resolution, not a full URL library).
    */
  def resolve(base: String, href: String): String =
    if (href.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")) href
    else if (href.startsWith("/")) originOf(base) + href
    else {
      val cut = base.lastIndexOf('/')
      val dir = if (cut > base.indexOf("://") + 2) base.substring(0, cut) else base
      dir + "/" + href
    }
}
