package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shape [[GraftSession.sparkSession]] gives every main and, through
  * [[TestSpark]], every suite. */
class SessionFactorySpec extends AnyFunSuite {

  test("the factory's session: UTC, AQE and skew-join on, nanosAsLong, partitions = cores, graft functions") {
    val spark = GraftSession.sparkSession(4)
    assert(spark eq TestSpark.spark, "getOrCreate returns the running session")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    // GraftExtensions registered: 3 × 5 = 15 = 0b1111
    assert(spark.sql("SELECT graft_pbits(CAST(3 AS BIGINT), CAST(5 AS BIGINT))")
      .head().getLong(0) == 4L)
  }
}
