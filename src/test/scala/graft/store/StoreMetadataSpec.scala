package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.ChangeStream

/** Answers the store takes from metadata instead of a Spark job:
  * `system$stream_has_data` from the change batches' parquet footers, and
  * the autoincrement base from the batches' stats sidecars. Each must give
  * exactly the answer of the scan it replaces, and fall back to that scan
  * whenever the metadata can't vouch for it. */
class StoreMetadataSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("graft_meta").toString, numBuckets = 4)

  private val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** hasData and the Spark probe it replaces, as outcomes (a read that
    * fails is an answer too: both must fail). */
  private def answers(s: ChangeStream): (Option[Boolean], Option[Boolean]) =
    (scala.util.Try(s.hasData).toOption, scala.util.Try(!s.read.isEmpty).toOption)

  private def dataFiles(dir: Path): Seq[Path] =
    fs.listStatus(dir).toIndexedSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))

  test("has_data from footers: empty, non-empty and unreadable change batches") {
    val st = freshStore()
    st.createTable("t", schema, keys = Seq("id"))
    val s = ChangeStream.create(st, "t", "s")
    assert(answers(s) == (Some(false), Some(false))) // no pending version

    st.append("t", Seq.empty[(Long, String)].toDF("id", "v")) // empty change batch
    assert(st.currentVersion("t") == 1L)
    assert(st.changeRowCount("t", 0L, 1L) == Some(0L))
    assert(answers(s) == (Some(false), Some(false)))

    st.append("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(st.changeRowCount("t", 0L, 2L) == Some(2L))
    assert(answers(s) == (Some(true), Some(true)))
    s.markConsumed()
    assert(answers(s) == (Some(false), Some(false)))

    // a data file whose footer is gone (zero bytes): no metadata answer,
    // so hasData asks Spark and must answer exactly as Spark does
    st.append("t", Seq((3L, "c")).toDF("id", "v"))
    val v3 = st.currentVersion("t")
    val batch3 = st.changesDirOf("t", v3).get
    dataFiles(batch3).foreach { p =>
      fs.delete(p, false)
      fs.create(p).close()
    }
    assert(st.changeRowCount("t", v3 - 1, v3).isEmpty)
    val (zeroFooter, zeroProbe) = answers(s)
    assert(zeroFooter == zeroProbe)

    // a corrupt footer: garbage where the parquet tail should be
    st.append("t", Seq((4L, "d")).toDF("id", "v"))
    val v4 = st.currentVersion("t")
    dataFiles(st.changesDirOf("t", v4).get).foreach { p =>
      fs.delete(p, false)
      val out = fs.create(p)
      try out.write("PAR1 this is not a parquet file PAR1".getBytes("UTF-8")) finally out.close()
    }
    assert(st.changeRowCount("t", v3, v4).isEmpty)
    val (corruptFooter, corruptProbe) = answers(s)
    assert(corruptFooter == corruptProbe)
  }

  private val dimSchema = StructType(Seq(StructField("sk", LongType), StructField("id", LongType),
    StructField("v", StringType)))

  private def sks(st: TableStore): Map[Long, Option[Long]] =
    st.read("dim").select("id", "sk").collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

  // matched rows keep their surrogate key: SET only the value
  private def upsert(st: TableStore, rows: (Long, String)*): Unit =
    st.merge("dim", rows.toDF("id", "v"),
      whenMatchedSet = Some(Map("v" -> graft.ops.Merge.src("v"))))

  private def dense(n: Long): Map[Long, Option[Long]] = (1L to n).map(i => i -> Some(i)).toMap

  test("autoincrement base from sidecar stats: dense keys, scan fallback when stats can't vouch") {
    val st = freshStore()
    st.createTable("dim", dimSchema, keys = Seq("id"), autoInc = Seq("sk"))
    def statsMax = st.sidecarMax("dim", st.currentVersion("dim"), "sk")
    assert(statsMax == Some(0L)) // empty version

    st.append("dim", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    assert(statsMax == Some(3L))
    upsert(st, (2L, "B"), (4L, "d"), (5L, "e"))
    assert(statsMax == Some(5L))
    st.append("dim", Seq((6L, "f")).toDF("id", "v"))
    assert(sks(st) == dense(6))

    // the max row's bucket is rewritten without it while the rest of its
    // batch stays referenced: the bucket's old file must not count
    st.compact("dim")
    val compacted = st.readManifest("dim", st.currentVersion("dim")).map(_._2).toSet
    st.delete("dim", col("id") === 6L)
    assert(st.readManifest("dim", st.currentVersion("dim")).exists(e => compacted(e._2)))
    assert(statsMax == Some(5L))
    st.append("dim", Seq((6L, "f")).toDF("id", "v"))
    assert(sks(st) == dense(6))

    // a legacy batch (no sidecar) can't vouch: the base comes from a scan
    val lastBatch = new Path(st.readManifest("dim", st.currentVersion("dim")).last._2).getParent
    fs.delete(new Path(lastBatch, "_graft_stats"), false)
    assert(statsMax.isEmpty)
    upsert(st, (6L, "F"), (7L, "g"))
    st.append("dim", Seq((8L, "h")).toDF("id", "v"))
    assert(sks(st) == dense(8))

    // a batch whose keys are all null has no max: scan again, which sees
    // the max of the rest of the table
    st.compact("dim")
    val bucketOf8 = pmod(xxhash64(col("id")), lit(4)).cast("int")
    val b8 = st.read("dim").filter(col("id") === 8L).select(bucketOf8).head().getInt(0)
    st.update("dim", bucketOf8 === b8, Map("sk" -> lit(null).cast("bigint")))
    val nulled = sks(st).collect { case (id, None) => id }.toSet
    assert(nulled.contains(8L))
    assert(statsMax.isEmpty)
    val survivingMax = sks(st).values.flatten.max
    st.append("dim", Seq((9L, "i")).toDF("id", "v"))
    assert(sks(st) == dense(8).map { case (id, sk) => id -> sk.filterNot(_ => nulled(id)) } +
      (9L -> Some(survivingMax + 1)))
  }
}
