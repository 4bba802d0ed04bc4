package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Language-ID accuracy. The driver's `documents.lang` column is a label
  * uncorrelated with its (English-ish synthetic) text, so ground truth
  * comes from the generated pages table, whose content vocabulary IS
  * language-dependent (PageGen.vocabOf). */
class LangIdSpec extends AnyFunSuite with SparkSuite {
  test("stopword profiles recover the generator's language on extracted text") {
    val s = spark
    import s.implicits._
    val pages = graft.pages.PageGen.pages(7L, 0, 400)
      .map(p => (p.url, p.text, p.lang)).toVector
    val docs = pages.toDF("doc_id", "text", "lang")
    val known = LangId.profiles.map(_._1).toSet
    val scored = docs.filter(col("lang").isin(known.toSeq.map(x => x: Any): _*))
    val total = scored.count()
    assert(total > 100, s"generator should emit profiled languages, got $total")
    val hits = LangId.predict(scored).join(scored.select("doc_id", "lang"), "doc_id")
      .filter(col("pred_lang") === col("lang")).count()
    val acc = hits.toDouble / total
    info(f"accuracy = $acc%.3f over $total pages")
    assert(acc >= 0.9, f"language-id accuracy regressed: $acc%.3f")
  }

  test("unambiguous stopword-dense snippets classify exactly") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "the cat is in the house and it is warm for now with food"),
      (2L, "der hund ist nicht mit der katze und das ist für dass auf"),
      (3L, "le chat est dans la maison pour que les amis et une des"),
      (4L, "el perro es en la casa para que los gatos una con las")
    ).toDF("doc_id", "text")
    val got = LangId.predict(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es"))
  }

  test("en/pa and hi/pa discriminate (the reference's 2-class endpoints)") {
    val s = spark
    import s.implicits._
    // mirror of the reference's lang_iden_2class_enpa / _hipa surfaces:
    // each pair must separate on its own stopword profiles
    val d = Seq(
      (1L, "ਇਹ ਕਿਤਾਬ ਮੇਜ਼ ਦੇ ਉੱਤੇ ਹੈ ਅਤੇ ਉਹ ਸਕੂਲ ਨੂੰ ਜਾਂਦਾ ਹੈ"),
      (2L, "the book is on the table and it is for the school"),
      (3L, "yah kitab mez par hai aur vah school ko jaata hai"),
      (4L, "ਪਿੰਡ ਵਿੱਚ ਲੋਕ ਖੇਤਾਂ ਦੀ ਫ਼ਸਲ ਨਾਲ ਕੰਮ ਤੋਂ ਬਾਅਦ ਘਰ ਦਾ ਰਾਹ ਫੜਦੇ")
    ).toDF("doc_id", "text")
    val got = LangId.predict(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "pa" && got(4L) == "pa")
    assert(got(2L) == "en")
    assert(got(3L) == "hi")
  }

  test("broader Indic languages classify from native-script stopwords") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "এবং এই বইটি টেবিলের উপরে ছিল যে তার সঙ্গে একটি"),
      (2L, "இந்த புத்தகம் மேசையில் உள்ளது என்று அவர் ஒரு மற்றும் அது"),
      (3L, "ఈ పుస్తకం బల్ల మీద ఉంది మరియు అతను ఒక అది నుండి")
    ).toDF("doc_id", "text")
    val got = LangId.predict(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "bn", 2L -> "ta", 3L -> "te"))
  }
}
