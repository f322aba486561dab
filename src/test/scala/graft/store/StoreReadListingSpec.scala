package graft.store

import java.nio.file.Files

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** A store read serves its files from the committed manifest and the
  * batches' `_graft_stats` inventories ([[StoreFileIndex]]): it lists no
  * directory and starts no listing job, even past Spark's 32-path
  * parallel-discovery threshold, and its schema is the one a parquet
  * read of the same bucket dirs under the declared schema gets. */
class StoreReadListingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a store read lists nothing, past the parallel-listing threshold") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_listing").toString,
      numBuckets = 4)
    val declared = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("ts", TimestampNTZType), StructField("grp", StringType)))
    store.createTable("t", declared, keys = Seq("id"), clusterBy = Seq("ts"))
    (0 until 10).foreach { b =>
      store.append("t", (0 until 40).map(i => (b * 40L + i,
        java.time.LocalDateTime.of(2024, 1, 1 + b, i % 24, 0), s"g$b")).toDF("id", "ts", "grp"))
    }
    val bucketDirs = store.readManifest("t", store.currentVersion("t")).map(_._2)
    assert(bucketDirs.size == 40, s"fixture must pass 32 roots, got ${bucketDirs.size}")

    val discovered = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val listingJobs = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
    val filtered = store.read("t").filter(col("id") >= 80L && col("id") < 120L).collect()
    val all = store.read("t").count()
    assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - discovered == 0,
      "a store read must not list its bucket dirs")
    assert(HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount - listingJobs == 0,
      "a store read must not start a listing job")
    assert(filtered.map(_.getLong(0)).sorted.toSeq == (80L until 120L))
    assert(all == 400L)

    val listed = spark.read.schema(declared).parquet(bucketDirs: _*).schema
    assert(store.read("t").schema == listed,
      s"schema ${store.read("t").schema.treeString} vs ${listed.treeString}")
  }
}
