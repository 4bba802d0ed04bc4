package graft.text

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Bucket-rule semantics of [[TextOps.ccnetBuckets]] on crafted score
  * tables: exact thirds split 3/3/3, tie groups never straddle a cut,
  * degenerate one-value languages land wholly in middle, and languages
  * bucket independently. */
class CcnetBucketsSpec extends AnyFunSuite with SparkSuite {
  private def run(rows: Seq[(String, Long, String)]): Map[String, String] = {
    val s = spark
    import s.implicits._
    val scored = rows.map(r => (r._1, r._2)).toDF("doc_id", "avg_bp")
    val langs = rows.map(r => (r._1, r._3)).toDF("doc_id", "pred_lang")
    TextOps.ccnetBuckets(scored, langs).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
  }

  test("nine distinct scores split 3/3/3 head/middle/tail") {
    val v = run((1 to 9).map(i => (s"d$i", i * 100L, "en")))
    assert((7 to 9).forall(i => v(s"d$i") == "head"))
    assert((4 to 6).forall(i => v(s"d$i") == "middle"))
    assert((1 to 3).forall(i => v(s"d$i") == "tail"))
  }

  test("a tie group straddling the cut falls to middle") {
    // n=6, n/3=2: top value has 3 docs (cum_hi=3 > 2 -> not head),
    // bottom two distinct docs are tail
    val v = run(Seq(
      ("a", 500L, "en"), ("b", 500L, "en"), ("c", 500L, "en"),
      ("d", 300L, "en"), ("e", 200L, "en"), ("f", 100L, "en")))
    assert(Seq("a", "b", "c").forall(v(_) == "middle"))
    assert(v("d") == "middle") // cum_hi=4, cum_lo=3 -> neither third
    assert(v("e") == "tail" && v("f") == "tail")
  }

  test("degenerate single-value language is all middle; languages are independent") {
    val v = run(Seq(
      ("a", 7L, "fr"), ("b", 7L, "fr"), ("c", 7L, "fr"),
      ("x", 1L, "de"), ("y", 2L, "de"), ("z", 3L, "de")))
    assert(Seq("a", "b", "c").forall(v(_) == "middle"))
    assert(v("x") == "tail" && v("y") == "middle" && v("z") == "head")
  }
}
