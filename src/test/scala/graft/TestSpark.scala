package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one per suite via lazy
  * val; sharing across suites is fine since config is identical), built
  * by the same factory as every main. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.sparkSession(4)
}
