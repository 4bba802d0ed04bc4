package graft.web

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DOM-structural template fingerprinting — the boilerplate signal that
  * works at the TEMPLATE level rather than the line level: pages served
  * from the same CMS template share their opening-tag sequence even when
  * every word differs, so hashing that sequence groups a host's pages
  * into render-template clusters. Web-scale pipelines use the cluster
  * size (a) to route template-aware extraction (learn the chrome once
  * per template, strip it from every member — the structural
  * generalisation of `x17_boilerplate_lines`' exact-line rule), and
  * (b) as a dedup/quality prior (mega-clusters of thin pages are
  * listing/tag-page farms). Same "beyond the reference" corpus-pipeline
  * family as dedup/tiering (reference scope: the layout-parser merge
  * family reasons about per-page structure; this is its cross-page
  * counterpart).
  *
  * The fingerprint is md5 over the comma-joined sequence of OPENING tag
  * names in document order (`<a href=..>` → `a`); closing tags, the
  * doctype, and comments carry no extra structural information and are
  * excluded by the pattern itself (`</`, `<!` don't match `[a-z]`).
  * Clustering is per (host, fingerprint): the same structure on two
  * hosts is two templates — template reuse is a property of a site, and
  * keeping host in the key means the groupBy key distributes instead of
  * collecting every WordPress-default page on earth onto one reducer.
  *
  * Scale shape: ONE pruned (url, html) scan → a codegen'd projection
  * (regexp_extract_all + array_join + md5 — no UDF, no explode: the tag
  * array never leaves the row) cached narrow via [[graft.util.CacheOnce]]
  * (≤ 60 bytes/row), then a map-side-combinable count on (host, tpl) and
  * one narrow equi-join back. No window, no sort; the html payload never
  * shuffles. At 10^12 pages the cluster table is ~#templates rows
  * (orders of magnitude smaller), and AQE broadcasts it when small.
  */
object Templates {

  /** Opening-tag-sequence fingerprint of an html BINARY column. */
  def fingerprint(html: Column): Column =
    md5(array_join(
      regexp_extract_all(decode(html, "UTF-8"), lit("<([a-z][a-z0-9]*)[^>]*>"), lit(1)),
      ","))

  /** Per-page template assignment: `(url, host, tpl, tpl_pages)` where
    * `tpl_pages` is the number of the host's pages sharing the
    * fingerprint (≥2 ⇒ a reused render template). `pages` needs
    * (url, html:binary). */
  def templateClusters(pages: DataFrame): DataFrame = {
    val fp = graft.util.CacheOnce(pages.select(
      col("url"),
      UrlNorm.hostOf(col("url")).as("host"),
      fingerprint(col("html")).as("tpl")))
    val sizes = fp.groupBy("host", "tpl").agg(count(lit(1)).as("tpl_pages"))
    fp.join(sizes, Seq("host", "tpl"))
      .select(col("url"), col("host"), col("tpl"), col("tpl_pages"))
  }
}
