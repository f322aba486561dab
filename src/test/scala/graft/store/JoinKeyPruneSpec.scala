package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Dynamic join-key file pruning ([[JoinKeyPrune]]): a store fact scan
  * joined to a small build side on equi-keys must read only the files
  * whose sidecar stats can contain SOME build key — with NO literal
  * predicate on the fact table at all — and never change results
  * (the Join re-checks every surviving row). */
class JoinKeyPruneSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterEach {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // the spec's fixture tables are a few KB — open the probe's
  // benefit gate (default 32 MiB) so the rule under test fires
  override def beforeEach(): Unit =
    spark.conf.set(JoinKeyPrune.MinFactBytesConf, "0")
  override def afterEach(): Unit =
    spark.conf.unset(JoinKeyPrune.MinFactBytesConf)

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("graft_jkp").toString,
      numBuckets = 2)

  private def factFiles(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.toSet
    }.reduceOption(_ ++ _).getOrElse(Set.empty)

  /** 8 appends, key-range-disjoint (batch b holds ids [b·500, b·500+500)). */
  private def rangeTable(store: TableStore): DataFrame = {
    store.createTable("fact", StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType))),
      keys = Seq("id"))
    (0 until 8).foreach { b =>
      store.append("fact",
        (0 until 500).map(i => (b * 500L + i, s"g$b")).toDF("id", "grp"))
    }
    store.read("fact")
  }

  test("inner star join prunes fact files from the build side's keys, rows unchanged") {
    val store = freshStore()
    val fact = rangeTable(store)
    val allFiles = factFiles(fact)
    // the build side selects three keys, all inside batch 3's range —
    // NO literal predicate ever touches the fact table
    val dim = Seq((1500L, "a"), (1600L, "b"), (1999L, "c")).toDF("id", "label")

    val joined = fact.join(dim, "id")
    val served = factFiles(joined)
    assert(served.size < allFiles.size,
      s"join-key prune must shrink the fact scan: ${served.size} of ${allFiles.size}")

    // kill switch = the unpruned baseline; results must be identical
    spark.conf.set(JoinKeyPrune.EnabledConf, "false")
    val baseline = try {
      val b = fact.join(dim, "id")
      assert(factFiles(b) == allFiles, "kill switch must restore the full scan")
      b.orderBy("id").collect().toSeq
    } finally spark.conf.unset(JoinKeyPrune.EnabledConf)
    assert(joined.orderBy("id").collect().toSeq == baseline,
      "pruned join must return exactly the unpruned rows")
    assert(baseline.size == 3)
  }

  test("default benefit gate: a sub-32MiB fact skips the probe and serves the full file set") {
    // undo beforeEach's override — this test pins the PRODUCTION default:
    // the plan-time key probe is a tax worth paying only on facts big
    // enough (32 MiB+) for file-level pruning to buy back more than the
    // probe job costs, so a KB-scale fact must plan with zero probe work
    spark.conf.unset(JoinKeyPrune.MinFactBytesConf)
    val store = freshStore()
    val fact = rangeTable(store)
    val allFiles = factFiles(fact)
    val dim = Seq((1500L, "a"), (1600L, "b"), (1999L, "c")).toDF("id", "label")
    val joined = fact.join(dim, "id")
    assert(factFiles(joined) == allFiles,
      "under the default gate a KB-scale fact must keep its full file set")
    assert(joined.orderBy("id").collect().length == 3,
      "gated-off plan must still join correctly")
  }

  test("outer-join positions whose unmatched rows survive are never pruned") {
    val store = freshStore()
    val fact = rangeTable(store)
    val allFiles = factFiles(fact)
    val dim = Seq((100L, "x")).toDF("id", "label")

    // fact on the LEFT of a LEFT OUTER: its unmatched rows ARE output
    val lo = fact.join(dim, Seq("id"), "left_outer")
    assert(factFiles(lo) == allFiles,
      "left-outer fact side must keep every file")
    assert(lo.count() == 4000)

    // fact on the RIGHT of a LEFT OUTER: unmatched fact rows drop out,
    // so pruning is sound and must fire
    val ro = dim.join(fact, Seq("id"), "left_outer")
    assert(factFiles(ro).size < allFiles.size,
      "right side of a left-outer is prunable")
    assert(ro.count() == 1)

    // left-semi prunes too
    val ls = fact.join(dim, Seq("id"), "left_semi")
    assert(factFiles(ls).size < allFiles.size)
    assert(ls.collect().map(_.getLong(0)).toSeq == Seq(100L))
  }

  test("an empty build side prunes every fact file") {
    val store = freshStore()
    val fact = rangeTable(store)
    val dim = Seq((100L, "x")).toDF("id", "label").filter(col("label") === "zzz")
    val joined = fact.join(dim, "id")
    assert(joined.count() == 0)
    assert(factFiles(joined).isEmpty,
      "empty build side proves the fact scan contributes nothing")
  }

  test("over the IN-list budget, the span fallback still prunes by key range") {
    val store = freshStore()
    val fact = rangeTable(store)
    val allFiles = factFiles(fact)
    // 40 distinct build keys — over a maxKeys=10 budget, so the exact
    // IN-list probe gives up; all keys sit inside batch 3's id range
    // [1500, 2000), so the [min, max] span prunes to that batch's files
    val dim = (0 until 40).map(i => (1500L + i * 12, s"v$i")).toDF("id", "label")
    spark.conf.set(JoinKeyPrune.MaxKeysConf, "10")
    try {
      val joined = fact.join(dim, "id")
      val served = factFiles(joined)
      assert(served.size < allFiles.size,
        s"span fallback must shrink the fact scan: ${served.size} of ${allFiles.size}")
      spark.conf.set(JoinKeyPrune.EnabledConf, "false")
      val baseline = try fact.join(dim, "id").orderBy("id").collect().toSeq
        finally spark.conf.unset(JoinKeyPrune.EnabledConf)
      assert(joined.orderBy("id").collect().toSeq == baseline,
        "span-pruned join must return exactly the unpruned rows")
      assert(baseline.size == 40)
    } finally spark.conf.unset(JoinKeyPrune.MaxKeysConf)
  }

  test("join-key pruning composes with lookup blooms on a scattered key") {
    val store = freshStore()
    store.createTable("fact", StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType))),
      keys = Seq("id"), lookup = Seq("id"))
    def scatter(i: Int, b: Int): Long = ((i * 2654435761L) & 0x7fffffffL) * 16L + b
    (0 until 8).foreach { b =>
      store.append("fact",
        (0 until 400).map(i => (scatter(i, b), s"g$b")).toDF("id", "grp")
          .coalesce(1))
    }
    val fact = store.read("fact")
    val allFiles = factFiles(fact)
    // every file spans ~the full id range — intervals alone keep all;
    // only the per-file blooms can prune these two build keys
    val dim = Seq((scatter(123, 2), "p"), (scatter(345, 6), "q"))
      .toDF("id", "label")
    val joined = fact.join(dim, "id")
    assert(factFiles(joined).size <= allFiles.size / 2,
      s"bloom-backed join prune: ${factFiles(joined).size} of ${allFiles.size}")
    assert(joined.collect().map(_.getLong(0)).toSet ==
      Set(scatter(123, 2), scatter(345, 6)))
  }

  test("a store dim overwritten in place re-probes: the next join prunes by the new keys") {
    val store = freshStore()
    val fact = rangeTable(store)
    def batchFiles(lo: Long): Set[String] =
      factFiles(fact.filter(col("id") >= lo && col("id") < lo + 500))
    store.createTable("dim", StructType(Seq(
      StructField("id", LongType), StructField("label", StringType))))
    // a build side that is itself a store read: its relation is the
    // probe memo's key, so the memo must tell its versions apart
    def joinDim(): DataFrame = fact.join(store.read("dim"), "id")
    def served(df: DataFrame): Set[String] = factFiles(df).filter(_.contains("/fact/"))

    store.append("dim", Seq((1500L, "a"), (1999L, "b")).toDF("id", "label"))
    val before = joinDim()
    assert(served(before).nonEmpty && served(before).subsetOf(batchFiles(1500L)))
    assert(before.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1500L, 1999L))

    store.overwrite("dim", Seq((2500L, "c"), (2999L, "d")).toDF("id", "label"))
    val after = joinDim()
    assert(served(after).nonEmpty && served(after).subsetOf(batchFiles(2500L)),
      "the join after the overwrite must prune by the dim's new keys")
    assert(after.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(2500L, 2999L))
  }
}
