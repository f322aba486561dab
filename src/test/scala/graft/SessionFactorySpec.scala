package graft

import org.apache.spark.metrics.source.CodegenMetrics
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

  test("graft sessions keep 2048 generated classes: a second run of a >100-class working set compiles nothing") {
    val spark = TestSpark.spark
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.codegenCacheMaxEntries == 2048)
    // 120 distinct inlined literals: 120 generated sources, each compiled
    // once for the driver and once for the executor threads (the cache
    // keys on the thread's context classloader), 240 entries in all
    val ks = 0 until 120
    def round(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      ks.foreach { k =>
        val got = spark.range(0, 4, 1, 2).selectExpr(s"id * 7 + ${1000 + k}L")
          .collect().map(_.getLong(0)).toSeq
        assert(got == (0 until 4).map(i => i * 7L + 1000 + k))
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = round()
    assert(first >= 2 * ks.size, s"a first run compiles each source on both sides: $first")
    assert(round() == 0, "a second run finds every class in the cache")
  }
}
