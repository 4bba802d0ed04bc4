package graft.text

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Unicode-range script identification on unambiguous snippets per
  * script, plus tie/empty behaviour. */
class ScriptIdSpec extends AnyFunSuite with SparkSuite {
  test("each script's snippet classifies to its script; empty text is unknown") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      1L -> "the quick brown fox jumps",
      2L -> "यह एक हिंदी वाक्य है",
      3L -> "هذه جملة عربية قصيرة",
      4L -> "这是一个中文句子",
      5L -> "это русское предложение",
      6L -> "12345 67890 ...",
      7L -> "").toDF("doc_id", "text")
    val got = ScriptId.predict(docs).collect()
      .map(r => r.getLong(0) -> r.getString(r.length - 1)).toMap
    assert(got(1L) == "latin")
    assert(got(2L) == "devanagari")
    assert(got(3L) == "arabic")
    assert(got(4L) == "han")
    assert(got(5L) == "cyrillic")
    assert(got(6L) == "unknown", "digits/punct alone profile to no script")
    assert(got(7L) == "unknown")
  }

  test("Gurmukhi (the reference corpus's script) is profiled and distinct from Devanagari") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      1L -> "ਇਹ ਇੱਕ ਪੰਜਾਬੀ ਵਾਕ ਹੈ",     // Punjabi, Gurmukhi script
      2L -> "यह एक हिंदी वाक्य है",          // Hindi, Devanagari
      3L -> "ਪੰਜਾਬੀ and english ਲਿਖਤ ਵਿੱਚ ਮਿਲੀ").toDF("doc_id", "text")
    val rows = ScriptId.predict(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def field(id: Long, name: String) = {
      val r = rows(id)
      r.get(r.fieldIndex(name))
    }
    assert(field(1L, "pred_script") == "gurmukhi")
    assert(field(2L, "pred_script") == "devanagari")
    assert(field(1L, "devanagari_chars") == 0, "ranges do not overlap")
    assert(field(2L, "gurmukhi_chars") == 0)
    assert(field(3L, "pred_script") == "gurmukhi", "majority script wins on mixed text")
  }

  test("broader Indic blocks classify and stay mutually disjoint") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      10L -> "এটি একটি বাংলা বাক্য",          // Bengali
      11L -> "આ એક ગુજરાતી વાક્ય છે",         // Gujarati
      12L -> "ଏହା ଏକ ଓଡ଼ିଆ ବାକ୍ୟ",            // Oriya
      13L -> "இது ஒரு தமிழ் வாக்கியம்",        // Tamil
      14L -> "ఇది ఒక తెలుగు వాక్యం",           // Telugu
      15L -> "ಇದು ಒಂದು ಕನ್ನಡ ವಾಕ್ಯ",          // Kannada
      16L -> "ഇത് ഒരു മലയാള വാക്യം").toDF("doc_id", "text") // Malayalam
    val got = ScriptId.predict(docs).collect()
      .map(r => r.getLong(0) -> r.getString(r.length - 1)).toMap
    assert(got == Map(10L -> "bengali", 11L -> "gujarati", 12L -> "oriya",
      13L -> "tamil", 14L -> "telugu", 15L -> "kannada", 16L -> "malayalam"))
    // disjointness: each snippet profiles to exactly one Indic block
    val rows = ScriptId.predict(docs).collect()
    for (r <- rows) {
      val counts = ScriptId.profiles.map { case (n, _) =>
        r.getInt(r.fieldIndex(s"${n}_chars"))
      }
      assert(counts.count(_ > 0) == 1, s"overlapping ranges for ${r.getLong(0)}")
    }
  }

  test("counts are per-character exact and mixed text picks the majority") {
    val s = spark
    import s.implicits._
    val docs = Seq(1L -> "abc 一二三四五").toDF("doc_id", "text")
    val row = ScriptId.predict(docs).collect().head
    val byName = row.schema.fieldNames.zip(row.toSeq).toMap
    assert(byName("latin_chars") == 3)
    assert(byName("han_chars") == 5)
    assert(byName("pred_script") == "han")
  }
}
