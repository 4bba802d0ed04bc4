package graft.web

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization — the dedup key a crawl pipeline uses before
  * url-level joins (resume anti-join, ingest dedup, link-graph node
  * identity): the same page arrives as `HTTP://Host:80/a#x` and
  * `http://host/a` and must collapse to one key. Reference scope: the
  * surrounding corpus-pipeline surface (same "beyond the reference"
  * family as dedup/tiering); rules are the conservative core of RFC 3986
  * §6 normalization — only equivalence-preserving rewrites:
  *
  *   1. strip the fragment (`#…` — never sent to the server),
  *   2. lowercase scheme and authority (case-insensitive by RFC),
  *   3. drop the default port (`:80` for http, `:443` for https),
  *   4. drop a trailing empty query (`?`),
  *   5. make the empty path explicit (`http://h` → `http://h/`).
  *
  * Deliberately NOT done (they change semantics on real servers):
  * query-param reordering/stripping, dot-segment collapse on the raw
  * path, percent-decode. Everything below is built-in codegen'd column
  * functions — no UDF, whole-stage codegen keeps it inside the scan's
  * projection; the DuckDB oracle replays the identical regex chain
  * (all patterns RE2-safe, all anchored so first-match == global).
  */
object UrlNorm {

  /** `scheme://host` → host: everything between `://` and the next `/`
    * (query and port included), "" for a url without a scheme. The one
    * host key of the Scala operators; the oracle SQL replays the same
    * regex. */
  def hostOf(url: Column): Column = regexp_extract(url, "^[a-z]+://([^/]+)", 1)

  /** Canonical form of `u`. Urls without a `scheme://` prefix pass
    * through steps 1/4 only (no authority to normalize). */
  def canonical(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    // scheme://host[:port] prefix (empty when the url has no scheme)
    val auth = regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val rest = substr(noFrag, length(auth) + lit(1))
    val authLower = lower(auth)
    val authNoPort = when(authLower.startsWith("http://"),
        regexp_replace(authLower, ":80$", ""))
      .when(authLower.startsWith("https://"),
        regexp_replace(authLower, ":443$", ""))
      .otherwise(authLower)
    val restClean = regexp_replace(rest, "\\?$", "")
    val path = when(length(auth) > 0 && length(restClean) === 0, lit("/"))
      .otherwise(restClean)
    concat(authNoPort, path)
  }
}
