package graft
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.get("graft-plan-audit", SparkSuite.Local4)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    for (q <- Seq("x3_resume_antijoin", "t5_minhash", "t7_jaccard_pairs", "q2_join", "e2_knn_ivf", "e5_ivf_recall", "t3_dedup_exact", "t11_lsh_pairs", "t14_simhash_pairs", "t15_winnow", "l11_geometry_projection")) {
      println(s"########## $q")
      println(SparkEntry.queries(q)(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
