package graft

/** Dev utility: print the final (post-AQE) physical plan of declared
  * queries — `runMain graft.PlanPeek q_a q_b ...`. The same rendering the
  * PlanAuditSpec pins assert against, for iterating on plan shape before
  * writing the pin.
  */
object PlanPeek {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- args) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      df.collect()
      println(s"======== $q ========")
      println(df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head)
    }
  }
}
