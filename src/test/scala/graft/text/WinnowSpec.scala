package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Winnowing rewrite guard: the per-row higher-order-function projection
  * must (a) agree row-for-row with the definitional explode+window
  * formulation (the one the DuckDB t15 oracle replays), (b) honour the
  * winnowing guarantee (shared substring of length ≥ w+k-1 ⇒ shared
  * fingerprint), and (c) stay a ZERO-exchange plan with the md5 gram pass
  * evaluated once per document. */
class WinnowSpec extends AnyFunSuite with SparkSuite {
  /** The definitional formulation: one row per char position, frame-window
    * min over the per-doc position order, global distinct. Kept here as
    * the semantic reference the projection must match. */
  private def winnowReference(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val grams = docs
      .select(col("doc_id"),
        explode(sequence(lit(1), greatest(length(col("text")) - (k - 1), lit(1))))
          .as("p"),
        col("text"))
      .select(col("doc_id"), col("p"),
        TextOps.md5Hash60(col("text").substr(col("p"), lit(k))).as("h"))
    val win = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("fp", min(col("h")).over(win))
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("projection matches the explode+window reference on varied docs") {
    // deterministic pseudo-random texts spanning: shorter than k, exactly
    // k, k..k+w, repetitive (min-hash ties inside a window), and long
    val rng = new scala.util.Random(42)
    val alphabet = "abcde "
    val varied = (1L to 30L).map { i =>
      val n = (i * 7 % 97).toInt + 1
      i -> (1 to n).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    }
    val edge = Seq(
      100L -> "x",                 // < k
      101L -> "abcdefgh",          // == k (one gram)
      102L -> "abcdefghij",        // k < len < k+w
      103L -> "aaaaaaaaaaaaaaaa")  // all grams identical
    val d = docs((varied ++ edge): _*).repartition(3)
    val got = TextOps.winnow(d).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = winnowReference(d, 8, 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("shared substring of length >= w+k-1 yields a shared fingerprint") {
    val shared = "this exact clause is long enough to guarantee a match"
    val d = docs(
      1L -> s"left context before. $shared and then one tail.",
      2L -> s"completely different opening words $shared unrelated ending here.")
    val fps = TextOps.winnow(d).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty)
  }

  test("plan has zero exchanges and hashes each gram once") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = TextOps.winnow(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"winnow plan must not shuffle:\n$plan")
    assert(!plan.toLowerCase.contains("window"), s"winnow plan must not sort/window:\n$plan")
    // the hash array is aliased once and referenced twice; CollapseProject
    // must not inline it (that would run the md5 gram pass twice per doc)
    val optimized = TextOps.winnow(d).queryExecution.optimizedPlan.toString
    val md5Count = "md5".r.findAllIn(optimized).length
    assert(md5Count == 1, s"md5 gram pass must appear once, saw $md5Count:\n$optimized")
  }
}
