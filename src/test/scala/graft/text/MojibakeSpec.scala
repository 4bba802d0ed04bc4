package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Mojibake repair on crafted strings: every rule fires, clean text is
  * untouched, mixed sequences repair in one pass, and the chain is a
  * pure projection (no exchange in the plan). */
class MojibakeSpec extends AnyFunSuite with SparkSuite {
  private def repair(ss: String*): Seq[String] = {
    val s = spark
    import s.implicits._
    ss.toDF("t").select(Mojibake.repair(col("t"))).collect()
      .map(_.getString(0)).toSeq
  }

  test("every rule repairs its sequence; clean text is untouched") {
    Mojibake.Rules.foreach { case (broken, fixed) =>
      assert(repair(s"a${broken}b") == Seq(s"a${fixed}b"),
        s"rule $broken -> $fixed")
    }
    assert(repair("plain ascii text.", "déjà vu — fine.") ==
      Seq("plain ascii text.", "déjà vu — fine."))
  }

  test("mixed and repeated sequences repair in one pass") {
    assert(repair("Ã©tude â€” itâ€™s â€œquotedâ€¦ CafÃ© Â here") ==
      Seq("étude — it’s “quoted… Café  here"))
  }

  test("repair is a zero-exchange projection") {
    val s = spark
    import s.implicits._
    val plan = Seq("x").toDF("t").select(Mojibake.repair(col("t")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected exchange:\n$plan")
  }
}
