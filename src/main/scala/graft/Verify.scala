package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.jobs.MetricsSink.quoted
/** Driver-run correctness dump: `Verify <sfDir> <outDir> [name...]` writes
  * each SparkEntry.queries result to `outDir/<name>` parquet, plus
  * oracle_sql.json, for the driver's DuckDB compare. With no names every
  * query runs; naming some runs just those (the per-query loop when
  * developing one op) with the same sink shape, so the compare replays
  * unchanged on the subset. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [name...]")
    val spark = Sessions.get("graft-verify")
    dump(spark, args(0), args(1), args.drop(2).toSeq)
    spark.stop()
  }

  /** Body split from `main` so specs drive it with a test session. Empty
    * `names` means every query; an unknown name fails before any runs. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Seq[String]): Unit = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val selected =
      if (names.isEmpty) all.toSeq else names.distinct.map(n => n -> all(n))
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // e2/e7/e8/x9 persist intermediates internally (documented leak —
      // the caller owns the cache); drop them so 59 sequential queries
      // don't accumulate session-lifetime blocks
      spark.catalog.clearCache()
    }
    // dump the oracle map for the sf that actually ran (the driver's
    // sf0.01 flow is unchanged; a local sf0.001 replay now compares
    // against its own pages tables instead of the driver scale's), every
    // string JSON-escaped, control chars included, so json.load reads it
    val json = SparkEntry.oracleSqlFor(new java.io.File(sfDir).getName)
      .filter { case (k, _) => names.isEmpty || names.contains(k) }
      .map { case (k, v) => s"${quoted(k)}: ${quoted(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
