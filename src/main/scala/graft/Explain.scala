package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.sparkSession(4)
    for (q <- args) {
      println(s"===== $q =====")
      println(SparkEntry.queries(q)(spark, "/root/testdata/sf0.01").queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
