package graft.web

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Recrawl collapse semantics on crafted snapshot histories: canon
  * collapsing across URL spellings, latest-timestamp wins, the
  * greatest-url tie-break, and single-snapshot pass-through. */
class RecrawlSpec extends AnyFunSuite with SparkSuite {
  private def collapse(rows: (String, Long)*): Map[String, (Long, Long, String)] = {
    val s = spark
    import s.implicits._
    Recrawl.latestSnapshot(rows.toDF("url", "ts_epoch"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
  }

  test("spellings of one page collapse to one canon; latest ts wins") {
    val out = collapse(
      ("https://a.org/p", 100L),
      ("https://a.org:443/p", 200L),
      ("https://a.org/p?", 300L),
      ("https://b.org/q", 50L))
    assert(out == Map(
      "https://a.org/p" -> ((3L, 300L, "https://a.org/p?")),
      "https://b.org/q" -> ((1L, 50L, "https://b.org/q"))))
  }

  test("equal timestamps break to the lexicographically greatest url") {
    val out = collapse(
      ("https://a.org/p", 100L),
      ("https://a.org/p?", 100L),
      ("https://a.org:443/p", 100L))
    // ':' (0x3a) > '/' (0x2f) at the first byte after "https://a.org"
    assert(out("https://a.org/p") == ((3L, 100L, "https://a.org:443/p")))
  }

  test("distinct pages never merge even at identical timestamps") {
    val out = collapse(
      ("https://a.org/p", 7L), ("https://a.org/q", 7L))
    assert(out.keySet == Set("https://a.org/p", "https://a.org/q"))
    assert(out.values.forall(_._1 == 1L))
  }
}
