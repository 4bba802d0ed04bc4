package graft.web

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Canonicalization rules on crafted urls — one case per rule plus the
  * pass-throughs the rules must NOT touch. */
class UrlNormSpec extends AnyFunSuite with SparkSuite {
  private def canon(urls: String*): Seq[String] = {
    val s = spark
    import s.implicits._
    urls.toDF("u").select(UrlNorm.canonical(org.apache.spark.sql.functions.col("u")))
      .collect().map(_.getString(0)).toSeq
  }

  test("fragment stripped, scheme+host lowercased, path case preserved") {
    assert(canon("HTTPS://Site3.Example.org/Articles/9#Sec2") ==
      Seq("https://site3.example.org/Articles/9"))
  }

  test("default ports dropped per scheme, non-default ports kept") {
    assert(canon(
      "http://h.org:80/a", "https://h.org:443/a",
      "http://h.org:8080/a", "https://h.org:80/a") ==
      Seq("http://h.org/a", "https://h.org/a",
        "http://h.org:8080/a", "https://h.org:80/a"))
  }

  test("trailing empty query dropped, non-empty query kept verbatim") {
    assert(canon("https://h.org/a?", "https://h.org/a?b=1&a=2") ==
      Seq("https://h.org/a", "https://h.org/a?b=1&a=2"))
  }

  test("empty path made explicit; query-only rest keeps the slashless form's query") {
    assert(canon("https://H.org", "https://h.org?x=1") ==
      Seq("https://h.org/", "https://h.org?x=1"))
  }

  test("scheme-less strings pass through untouched except fragment/empty-query") {
    assert(canon("relative/Path#f", "no-scheme?") ==
      Seq("relative/Path", "no-scheme"))
  }

  test("other schemes: authority lowercased, no port rule applied") {
    assert(canon("FTP://Host.org:21/File") == Seq("ftp://host.org:21/File"))
  }
}
