package graft

/** Replicates the driver's t1 smoke: SparkEntry.entry must return >0 rows
  * on sf0.001. Run: sbt "runMain graft.Smoke" */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.sparkSession(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n COLS=${df.columns.mkString(",")}")
    assert(n > 0, "entry returned 0 rows")
    spark.stop()
  }
}
