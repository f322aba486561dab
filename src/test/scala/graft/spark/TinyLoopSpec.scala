package graft.spark

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The tiny-loop child session follows its parent's runtime confs: the
  * child is memoized, so a conf set on the parent after the child was
  * first made must still reach the loops bound to it. */
class TinyLoopSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val TzConf = "spark.sql.session.timeZone"

  test("a conf set on the parent after the child was made reaches the child; the loop overrides stay") {
    val tz = spark.conf.get(TzConf)
    TinyLoop.session(spark) // the memoized child exists before the sets
    try {
      spark.conf.set(Materialize.CONF, "true")
      spark.conf.set(TzConf, "America/Los_Angeles")
      val child = TinyLoop.rebindIfTiny(spark.range(3).coalesce(1).toDF()).sparkSession
      assert(child ne spark)
      assert(child eq TinyLoop.session(spark))
      assert(child.conf.get(Materialize.CONF) == "true")
      assert(child.conf.get(TzConf) == "America/Los_Angeles")
      assert(child.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(child.conf.get("spark.sql.shuffle.partitions") == "1")
    } finally {
      spark.conf.unset(Materialize.CONF)
      spark.conf.set(TzConf, tz)
    }
    assert(spark.conf.getOption(Materialize.CONF).isEmpty)
    assert(spark.conf.get(TzConf) == tz)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // the restore reaches the child too: the unset key is gone there
    val child = TinyLoop.session(spark)
    assert(child.conf.getOption(Materialize.CONF).isEmpty)
    assert(child.conf.get(TzConf) == tz)
  }
}
