package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The transparent-pruning optimizer rule ([[SidecarPrune]]): plain
  * `store.read(t).filter(...)` and SQL over registered views must read
  * the same sidecar-pruned file set the opt-in [[TableStore.scanWhere]]
  * reads — without the caller asking — and non-store parquet must pass
  * through untouched. */
class SidecarPruneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("graft_prune").toString,
      numBuckets = 4)

  /** The (possibly pruned) file sets served by each parquet relation in
    * the OPTIMIZED logical plan — where [[SidecarPrune]] swaps the
    * index. `Dataset.inputFiles` collects from the same optimized plan,
    * but merges every relation's files into one set. */
  private def scanFiles(df: DataFrame): Seq[Set[String]] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation =>
        l.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.toSet
    }

  private def timeDisjointTable(store: TableStore): DataFrame = {
    store.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType))),
      keys = Seq("id"))
    (0 until 8).foreach { b =>
      val rows = (0 until 500).map(i => (b * 500L + i, s"g$b"))
      store.append("t", rows.toDF("id", "grp"))
    }
    store.read("t")
  }

  test("plain read(t).filter prunes to scanWhere's file set, same rows") {
    val store = freshStore()
    val all = timeDisjointTable(store)
    val allFiles = scanFiles(all).head
    val cond = col("id") >= 1000L && col("id") < 1500L

    val optIn = store.scanWhere("t", cond).inputFiles.toSet // logical-level list
    assert(optIn.size < allFiles.size, "fixture must actually prune")

    val transparent = all.filter(cond)
    val Seq(served) = scanFiles(transparent)
    assert(served == optIn,
      s"transparent prune must serve scanWhere's exact file set " +
        s"(${served.size} vs ${optIn.size} of ${allFiles.size})")
    assert(transparent.orderBy("id").collect().toSeq ==
      all.collect().toSeq.filter(r => r.getLong(0) >= 1000L && r.getLong(0) < 1500L)
        .sortBy(_.getLong(0)),
      "pruned result must equal the unpruned filter")

    // join planning sees the pruned size, not the table size
    val prunedIdx = transparent.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation =>
        l.relation.asInstanceOf[HadoopFsRelation].location
    }.head
    assert(prunedIdx.isInstanceOf[StoreFileIndex])
    assert(prunedIdx.sizeInBytes > 0)
    val fullSize = all.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation =>
        l.relation.asInstanceOf[HadoopFsRelation].location.sizeInBytes
    }.head
    assert(prunedIdx.sizeInBytes < fullSize,
      "pruned relation must report shrunken sizeInBytes to join planning")
  }

  test("SQL over a registered view prunes transparently, hashes unchanged") {
    val store = freshStore()
    val all = timeDisjointTable(store)
    all.createOrReplaceTempView("prune_v")
    val q = spark.sql(
      "SELECT grp, count(*) AS n FROM prune_v WHERE id >= 2000 AND id < 2500 GROUP BY grp")
    val Seq(served) = scanFiles(q)
    val optIn = store.scanWhere("t", col("id") >= 2000L && col("id") < 2500L)
      .inputFiles.toSet
    assert(served == optIn, "SQL WHERE must prune like scanWhere")
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("g4", 500L)))
  }

  test("predicates the stats can't prove keep every file; legacy batches untouched") {
    val store = freshStore()
    val all = timeDisjointTable(store)
    val allFiles = scanFiles(all).head
    // unprovable shape → no rewrite at all (original index survives)
    val weird = all.filter(length(col("grp")) === 2)
    assert(scanFiles(weird).head == allFiles)
    assert(weird.count() == 4000L)
    // provable but all-matching → no rewrite (prunedN == 0 short-circuit)
    val allMatch = all.filter(col("id") >= 0L)
    assert(scanFiles(allMatch).head == allFiles)
  }

  test("non-store parquet scans pass through untouched") {
    val df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .filter(col("n_regionkey") === 1)
    val idx = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation =>
        l.relation.asInstanceOf[HadoopFsRelation].location
    }.head
    assert(!idx.isInstanceOf[StoreFileIndex],
      "external parquet must never enter the sidecar-prune path")
  }
}
