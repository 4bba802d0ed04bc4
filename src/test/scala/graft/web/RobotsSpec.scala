package graft.web

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Robots precedence on crafted rules: longest match wins, allow wins a
  * length tie, rule-less hosts pass, and the filter form drops exactly
  * the disallowed urls. */
class RobotsSpec extends AnyFunSuite with SparkSuite {
  private def run(urls: Seq[String], rules: Seq[(String, String, Boolean)])
      : Map[String, (Boolean, String)] = {
    val s = spark
    import s.implicits._
    Robots.verdicts(urls.toDF("url"),
        rules.toDF("host", "prefix", "allow"))
      .collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
  }

  test("longest matching prefix wins; allow wins a length tie") {
    val rules = Seq(
      ("a.org", "/docs", false),
      ("a.org", "/docs/pub", true),   // longer allow overrides
      ("b.org", "/x", false),
      ("b.org", "/x", true))          // tie -> allow wins
    val v = run(Seq(
      "https://a.org/docs/secret",    // /docs disallow (pub doesn't match)
      "https://a.org/docs/pub/1",     // /docs/pub allow wins on length
      "https://b.org/x/1",            // tie -> allowed
      "https://a.org/other"),         // no matching rule -> allowed
      rules)
    assert(v("https://a.org/docs/secret") == ((false, "/docs")))
    assert(v("https://a.org/docs/pub/1") == ((true, "/docs/pub")))
    assert(v("https://b.org/x/1") == ((true, "/x")))
    assert(v("https://a.org/other") == ((true, null)))
  }

  test("whole-host disallow via '/'; rule-less host passes; bare host path is '/'") {
    val rules = Seq(("blocked.org", "/", false))
    val v = run(Seq(
      "https://blocked.org/anything",
      "https://blocked.org",          // empty path normalizes to "/"
      "https://open.org/anything"), rules)
    assert(v("https://blocked.org/anything") == ((false, "/")))
    assert(v("https://blocked.org") == ((false, "/")))
    assert(v("https://open.org/anything") == ((true, null)))
  }

  test("filter form keeps input columns and drops exactly the disallowed rows") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      ("https://a.org/keep/1", 10),
      ("https://a.org/drop/1", 20),
      ("https://b.org/keep/2", 30)).toDF("url", "payload")
    val rules = Seq(("a.org", "/drop", false)).toDF("host", "prefix", "allow")
    val kept = Robots.filter(pages, rules).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(kept == Set(("https://a.org/keep/1", 10), ("https://b.org/keep/2", 30)))
  }
}
