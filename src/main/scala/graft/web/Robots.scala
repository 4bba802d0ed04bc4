package graft.web

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Robots-style URL exclusion — the crawl-side gate every corpus build
  * runs before a byte of html is fetched or kept: a table of per-host
  * path-prefix rules (disallow/allow), applied with the de-facto
  * Google/RFC 9309 precedence — the LONGEST matching prefix wins, and on
  * a length tie `allow` wins. Wildcards (`*`, `$`) are deliberately out
  * of scope: prefix rules keep the operator regex-free on the hot path
  * and cover the overwhelmingly common rule shape; a page whose host has
  * no matching rule is allowed (robots is opt-out).
  *
  * Scale shape: pages meet rules via a HOST equi-join — never a
  * broadcast, because a 10^12-page crawl's rule table (one row per
  * host×rule, hundreds of millions of hosts) is itself a big table; the
  * per-page fanout is bounded by rules-per-host (single digits in
  * practice). The winner is picked by a partial-aggregated `max` over a
  * (prefix_len, allow, prefix) struct — an ordinary groupBy that
  * combines map-side, no window, no sort of the payload. Spark plans the
  * small-rules case (unit tests, per-tenant overrides) as a broadcast
  * join on its own via AQE; nothing in the operator assumes it.
  */
object Robots {

  private def pathOf(url: Column): Column = {
    val p = regexp_replace(url, "^[a-z]+://[^/]+", "")
    when(p === "", "/").otherwise(p)
  }

  /** Verdict per input url: `(url, allowed, rule_prefix)` where
    * `rule_prefix` is the winning rule's prefix (null when no rule
    * matched — then `allowed` is true). `rules` columns: `host`,
    * `prefix`, `allow`. Rows with equal winning length and verdict pick
    * the lexicographically largest prefix, so the REPORTED rule is
    * deterministic too, not just the verdict. */
  def verdicts(pages: DataFrame, rules: DataFrame): DataFrame = {
    val p = pages.select(col("url"),
      UrlNorm.hostOf(col("url")).as("host"),
      pathOf(col("url")).as("path"))
    val hit = p.join(rules, Seq("host"), "left")
      .select(col("url"),
        // non-matching rule rows (and rule-less hosts) contribute NULL,
        // which max() skips — one aggregate resolves precedence
        when(col("prefix").isNotNull && col("path").startsWith(col("prefix")),
          struct(length(col("prefix")).as("len"),
            col("allow").as("allow"),
            col("prefix").as("prefix"))).as("m"))
    hit.groupBy("url").agg(max(col("m")).as("best"))
      .select(col("url"),
        coalesce(col("best.allow"), lit(true)).as("allowed"),
        col("best.prefix").as("rule_prefix"))
  }

  /** The filter form: input columns preserved, disallowed pages dropped.
    * Same join/aggregate shape as [[verdicts]] (the verdict is computed
    * on the narrow (url, host, path) projection and semi-joined back). */
  def filter(pages: DataFrame, rules: DataFrame): DataFrame =
    pages.join(
      verdicts(pages.select("url"), rules).where(col("allowed"))
        .select("url"),
      Seq("url"), "left_semi")
}
