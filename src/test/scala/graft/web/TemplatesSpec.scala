package graft.web

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Template fingerprint semantics on crafted pages: the hash keys on the
  * opening-tag SEQUENCE (content-blind, order-sensitive), clusters are
  * per host, and closing tags / doctype / comments never enter the key. */
class TemplatesSpec extends AnyFunSuite with SparkSuite {
  private def clusters(pages: Seq[(String, String)]): Map[String, (String, Long)] = {
    val s = spark
    import s.implicits._
    val df = pages.toDF("url", "h")
      .select(col("url"), encode(col("h"), "UTF-8").as("html"))
    Templates.templateClusters(df).collect()
      .map(r => r.getString(0) -> ((r.getString(2), r.getLong(3)))).toMap
  }

  test("same structure, different words -> one cluster; structure change splits") {
    val v = clusters(Seq(
      ("https://a.org/1", "<!DOCTYPE html><html><body><h1>Alpha</h1><p>one two</p></body></html>"),
      ("https://a.org/2", "<html><body><h1>Beta</h1><p>three</p></body></html>"),
      ("https://a.org/3", "<html><body><p>no heading</p></body></html>")))
    assert(v("https://a.org/1")._1 == v("https://a.org/2")._1)
    assert(v("https://a.org/1")._2 == 2L)
    assert(v("https://a.org/3")._1 != v("https://a.org/1")._1)
    assert(v("https://a.org/3")._2 == 1L)
  }

  test("clusters are per host; attributes don't change the key; order does") {
    val v = clusters(Seq(
      ("https://a.org/1", "<html><body><p>x</p><ul><li>i</li></ul></body></html>"),
      ("https://b.org/1", "<html><body><p>x</p><ul><li>i</li></ul></body></html>"),
      ("https://a.org/2", "<html><body class=\"c\"><p id=\"p1\">y</p><ul><li>j</li></ul></body></html>"),
      ("https://a.org/3", "<html><body><ul><li>i</li></ul><p>x</p></body></html>")))
    // same fingerprint across hosts, but counted within each host
    assert(v("https://a.org/1")._1 == v("https://b.org/1")._1)
    assert(v("https://b.org/1")._2 == 1L)
    // attributes ignored -> joins a.org/1's cluster
    assert(v("https://a.org/2")._1 == v("https://a.org/1")._1)
    assert(v("https://a.org/1")._2 == 2L)
    // tag order is part of the structure
    assert(v("https://a.org/3")._1 != v("https://a.org/1")._1)
  }

  test("comments and closing tags are structure-blind") {
    val v = clusters(Seq(
      ("https://c.org/1", "<html><body><p>a</p></body></html>"),
      ("https://c.org/2", "<html><!-- note --><body><p>b</p></body></html>")))
    assert(v("https://c.org/1")._1 == v("https://c.org/2")._1)
    assert(v("https://c.org/1")._2 == 2L)
  }
}
