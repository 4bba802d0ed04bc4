package graft.text

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Hand-checkable semantics for the round-4 curation additions:
  * quality-aware keeper election (t37), shingle-containment pairs (t38)
  * and the corpus vocabulary card (d3). The driver's DuckDB oracle
  * re-derives the same ops at sf scale; these pin the rules with known
  * answers. */
class CurationOpsSpec extends AnyFunSuite with SparkSuite {
  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def pairs(rows: (Long, Long)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("a", "b")
  }

  test("qualityKeepers elects the most-distinct-token copy per cluster") {
    // cluster {1,2,3}: doc 2 has the most distinct tokens; 4 is a
    // singleton and keeps itself
    val d = docs(
      1L -> "alpha beta alpha beta",          // 2 distinct, 4 tokens
      2L -> "alpha beta gamma delta",          // 4 distinct, 4 tokens
      3L -> "alpha beta gamma",                // 3 distinct, 3 tokens
      4L -> "solo page")
    val out = TextOps.qualityKeepers(spark, d, pairs(1L -> 2L, 2L -> 3L))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(4), r.getBoolean(5))).toMap
    assert(out(1L) == (1L, 2L, false))
    assert(out(2L) == (1L, 2L, true))
    assert(out(3L) == (1L, 2L, false))
    assert(out(4L) == (4L, 4L, true))
  }

  test("qualityKeepers breaks full ties by min doc_id") {
    val d = docs(5L -> "one two three", 6L -> "four five six")
    val out = TextOps.qualityKeepers(spark, d, pairs(5L -> 6L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(out == Map(5L -> true, 6L -> false))
  }

  test("qualityKeepers election is invariant to input partitioning") {
    val d = docs((1L to 20L).map(i =>
      i -> s"tok${i % 7} tok${i % 5} tok${i % 3} filler$i"): _*)
    val p = pairs((1L to 19L).filter(_ % 4 != 0).map(i => i -> (i + 1)): _*)
    val a = TextOps.qualityKeepers(spark, d, p)
      .orderBy("doc_id").collect().toSeq
    val b = TextOps.qualityKeepers(spark, d.repartition(7), p.repartition(3))
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("containmentPairs catches a subset-duplicate jaccard misses") {
    // A's 4 shingles all appear in B (16 tokens → 14 shingles):
    // containment = 10000, jaccard = 4/14 < 0.3 → subset_only
    val d = docs(
      1L -> "a b c d e f",
      2L -> "a b c d e f g h i j k l m n o p")
    val rows = TextOps.containmentPairs(d).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getLong(2) == 4L)       // inter
    assert(r.getLong(3) == 14L)      // union
    assert(r.getLong(4) == 10000L)   // cont_bp
    assert(r.getBoolean(5))          // subset_only: not a jaccard pair
  }

  test("containmentPairs marks true near-identical pairs as NOT subset_only") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog")
    val rows = TextOps.containmentPairs(d).collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(4) == 10000L)
    assert(!rows.head.getBoolean(5))
  }

  test("containmentPairs emits nothing for disjoint docs") {
    val d = docs(1L -> "aa bb cc dd ee", 2L -> "vv ww xx yy zz")
    assert(TextOps.containmentPairs(d).count() == 0L)
  }

  test("vocabCard ranks by count then term, coverage is floor-division bp") {
    val d = docs(1L -> "a a b", 2L -> "b c")
    val rows = TextOps.vocabCard(d, k = 3).orderBy("vocab_rank").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq == Seq(
      (1L, "a", 2L, 5L, 4000L),
      (2L, "b", 2L, 5L, 8000L),
      (3L, "c", 1L, 5L, 10000L)))
  }

  test("corpusCardDiff raises exactly the right alerts per language") {
    val s = spark
    import s.implicits._
    def card(rows: Seq[(Long, String, String)]) =
      TextOps.corpusCard(rows.toDF("doc_id", "text", "lang"))
    val prev = card(Seq(
      (1L, "one two three", "en"), (2L, "four five", "en"),
      (3L, "six seven eight", "en"), (4L, "nine ten", "en"),
      (5L, "eleven twelve", "en"),
      (6L, "un deux", "fr"), (7L, "trois quatre", "fr"),
      (8L, "ciao mondo", "it")))
    val cur = card(Seq(
      (1L, "one two three", "en"), (2L, "four five", "en"), // 5 -> 2: drop
      (6L, "un deux", "fr"), (7L, "un deux", "fr"),         // dup spike
      (8L, "trois quatre", "fr"),
      (9L, "hallo welt", "de")))                            // new language
    val out = TextOps.corpusCardDiff(prev, cur).collect()
      .map(r => r.getString(0) -> r).toMap
    // en: 5 -> 2 docs = -6000 bp, drop alert, no dup alert
    assert(out("en").getLong(7) == -6000L)
    assert(out("en").getBoolean(9) && !out("en").getBoolean(10))
    // fr: 2 -> 3 docs (+5000 bp), dup 0 -> 333 permille >= 10: spike
    assert(out("fr").getLong(6) == 333L)
    assert(!out("fr").getBoolean(9) && out("fr").getBoolean(10))
    // de only in cur; it only in prev (gone implies docs-drop too)
    assert(out("de").getBoolean(11) && !out("de").getBoolean(12))
    assert(out("it").getBoolean(12) && out("it").getBoolean(9))
    assert(out("it").getLong(2) == 0L) // docs_cur coalesced to 0
  }

  test("vocabCard k bounds the output and the tail coverage stays partial") {
    val d = docs(1L -> "x x x y y z w", 2L -> "x q")
    val rows = TextOps.vocabCard(d, k = 2).orderBy("vocab_rank").collect()
    assert(rows.length == 2)
    // x:4 of 9 → 4444; +y:2 → 6666
    assert(rows.map(_.getLong(4)).toSeq == Seq(4444L, 6666L))
  }
}
