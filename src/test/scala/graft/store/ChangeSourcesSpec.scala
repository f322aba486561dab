package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.jobsDuring
import graft.cdc.ChangeStream
import graft.ops.Merge
import graft.sql.MergeSql

/** Where a version's change rows live ([[TableStore.changeSourcesOf]]):
  * APPEND, UPDATE, MERGE and INSERT OVERWRITE mark the rows of the data
  * batch they wrote; only a DELETE and a MERGE's deleted rows commit a
  * `_changes` batch. A stream reading across
  * both kinds, the footer-only has_data answer, and the maintenance paths
  * (rename, vacuum, dropped streams) must all see the same change rows. */
class ChangeSourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot() = Files.createTempDirectory("graft_chsrc").toString

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val kv = StructType(Seq(StructField("id", LongType), StructField("v", StringType),
    StructField("n", IntegerType)))

  private def kvTable(st: TableStore, ids: Seq[Long]): Unit = {
    st.createTable("t", kv, keys = Seq("id"))
    st.append("t", ids.map(i => (i, s"v$i", i.toInt)).toDF("id", "v", "n"))
  }

  private def rows(df: DataFrame, v: String = "v"): Seq[String] =
    df.select("id", v, "n", "__action").collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def sqlMerge(st: TableStore, view: String, src: DataFrame, sql: String): Unit = {
    src.createOrReplaceTempView(view)
    MergeSql.run(spark, st, sql)
  }

  test("one stream over APPEND, MERGE, DELETE-branch MERGE, UPDATE, DELETE, OVERWRITE, keyless MERGE, TRUNCATE") {
    val st = new TableStore(spark, freshRoot(), numBuckets = 4)
    kvTable(st, 1L to 6L)
    val s = ChangeStream.create(st, "t", "s")
    def step(what: String)(write: => Unit): Unit = {
      write
      assert(s.hasData == !s.read.isEmpty, s"has_data disagrees with the read after $what")
    }
    assert(!s.hasData && s.read.isEmpty)

    step("APPEND") { st.append("t", Seq((7L, "v7", 7), (8L, "v8", 8)).toDF("id", "v", "n")) }
    step("MERGE") { st.merge("t", Seq((2L, "B", 20), (9L, "v9", 9)).toDF("id", "v", "n")) }
    step("MERGE with DELETE") {
      sqlMerge(st, "chsrc_del", Seq((3L, "drop", 0), (4L, "D", 40), (10L, "v10", 10))
        .toDF("id", "v", "n"),
        """MERGE INTO t USING chsrc_del s ON t.id = s.id
          |WHEN MATCHED AND s.v = 'drop' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.v = s.v, t.n = s.n
          |WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, s.v, s.n)""".stripMargin)
    }
    step("UPDATE") { st.update("t", col("id") === 5L, Map("v" -> lit("E"))) }
    step("DELETE") { st.delete("t", col("id") === 6L) }
    step("INSERT OVERWRITE") {
      st.overwrite("t", Seq((1L, "a", 1), (2L, "B", 20), (100L, "x", 100)).toDF("id", "v", "n"))
    }
    step("keyless MERGE") {
      // ON a non-key column: the full compute-and-overwrite path
      sqlMerge(st, "chsrc_keyless", Seq((100L, "x", 101), (50L, "y", 50)).toDF("id", "v", "n"),
        """MERGE INTO t USING chsrc_keyless s ON t.v = s.v
          |WHEN MATCHED THEN UPDATE SET t.n = s.n
          |WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, s.v, s.n)""".stripMargin)
    }
    step("TRUNCATE") { st.truncate("t") }

    assert(rows(s.read) == Seq(
      "1|a|1|insert", "1|a|1|insert",
      "10|v10|10|insert",
      "100|x|100|insert", "100|x|101|insert",
      "2|B|20|insert", "2|B|20|insert", "2|B|20|update",
      "3|v3|3|delete",
      "4|D|40|update",
      "5|E|5|update",
      "50|y|50|insert",
      "6|v6|6|delete",
      "7|v7|7|insert",
      "8|v8|8|insert",
      "9|v9|9|insert").sorted)
    s.markConsumed()

    // a DELETE-only MERGE writes a batch of carried rows alone: its marked
    // source counts zero from the footers' null counts, so has_data is the
    // deleted rows' count, taken without a Spark job
    st.append("t", (200L until 220L).map(i => (i, s"v$i", i.toInt)).toDF("id", "v", "n"))
    s.markConsumed()
    sqlMerge(st, "chsrc_delonly", Seq((200L, "", 0), (201L, "", 0)).toDF("id", "v", "n"),
      "MERGE INTO t USING chsrc_delonly s ON t.id = s.id WHEN MATCHED THEN DELETE")
    val v = st.currentVersion("t")
    val marked = st.changeSourcesOf("t", v).marked
    assert(marked.nonEmpty, "the merge's own batch is its change source")
    val batch = spark.read.schema(kv.add(Merge.ActionCol, StringType))
      .parquet(marked.map(_.toString): _*)
    assert(batch.count() > 0 && batch.filter(col(Merge.ActionCol).isNotNull).isEmpty,
      "the batch holds carried rows only")
    assert(st.changeRowCount("t", v - 1, v) == Some(2L))
    val (hasData, jobs) = jobsDuring(s.hasData)
    assert(hasData && jobs == 0)
    assert(rows(s.read) == Seq("200|v200|200|delete", "201|v201|201|delete"))
    s.markConsumed()

    // every write that commits no change rows answers false the same way
    st.compact("t")
    assert(st.changeRowCount("t", v, v + 1) == Some(0L))
    val (afterCompact, compactJobs) = jobsDuring(s.hasData)
    assert(!afterCompact && compactJobs == 0 && s.read.isEmpty)
  }

  test("an APPEND writes its rows once: its batch is its change source, no `#changes` header") {
    val root = freshRoot()
    val st = new TableStore(spark, root, numBuckets = 4)
    kvTable(st, 1L to 3L)
    val s = ChangeStream.create(st, "t", "s")
    val (_, jobs) = jobsDuring(st.append("t", Seq((7L, "v7", 7), (8L, "v8", 8)).toDF("id", "v", "n")))
    val v = st.currentVersion("t")
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "t", "_versions", f"v$v%08d")), "UTF-8").split("\n")
    assert(!manifest.exists(_.startsWith("#changes\t")) && manifest.exists(_.startsWith("#marked\t")))
    assert(jobs == 1, "the data job is the append's only write")
    assert(st.changeRowCount("t", v - 1, v) == Some(2L))
    assert(rows(s.read) == Seq("7|v7|7|insert", "8|v8|8|insert"))
  }

  test("an UPDATE writes its rows once: its batch marks the updated rows, a NULL predicate marks none") {
    val root = freshRoot()
    val st = new TableStore(spark, root, numBuckets = 1) // every row is rewritten
    st.createTable("t", kv, keys = Seq("id"))
    st.append("t", Seq((1L, "a", 1), (2L, "b", 2), (3L, null, 3), (4L, "d", 4))
      .toDF("id", "v", "n"))
    val s = ChangeStream.create(st, "t", "s")
    // the SET rewrites `v`, which the predicate reads: the marker must be
    // decided on the row before the SET. Row 3's predicate is NULL.
    st.update("t", col("v").isin("a", "b"), Map("v" -> lit("z"), "n" -> col("n") * 10))
    val v = st.currentVersion("t")
    val sources = st.changeSourcesOf("t", v)
    assert(sources.plain.isEmpty && sources.marked.nonEmpty,
      s"the UPDATE's data batch is its only change source: $sources")
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "t", "_versions", f"v$v%08d")), "UTF-8").split("\n")
    assert(!manifest.exists(_.startsWith("#changes\t")) && manifest.exists(_.startsWith("#marked\t")))
    assert(st.changeRowCount("t", v - 1, v) == Some(2L))
    assert(rows(s.read) == Seq("1|z|10|update", "2|z|20|update"))
    assert(st.read("t").orderBy("id").collect().map(_.toSeq.mkString("|")).toSeq ==
      Seq("1|z|10", "2|z|20", "3|null|3", "4|d|4"))
  }

  test("renameColumn rewrites a pending MERGE's and OVERWRITE's change rows under the new name") {
    val st = new TableStore(spark, freshRoot(), numBuckets = 4)
    kvTable(st, 1L to 6L)
    val s = ChangeStream.create(st, "t", "s")
    st.merge("t", Seq((2L, "B", 20), (9L, "v9", 9)).toDF("id", "v", "n"))
    st.overwrite("t", Seq((1L, "a", 1), (50L, "x", 50)).toDF("id", "v", "n"))
    val want = Seq("1|a|1|insert", "2|B|20|update", "50|x|50|insert", "9|v9|9|insert")
    assert(rows(s.read) == want)

    st.renameColumn("t", "v", "val")
    assert(rows(s.read, "val") == want)
    assert(s.hasData)
    // the materialized rows are a plain change batch now: a second rename
    // rewrites them like any other
    st.renameColumn("t", "val", "w")
    assert(rows(s.read, "w") == want)
    assert(s.consume(ch => rows(ch, "w")) == want)
    assert(!s.hasData)
  }

  test("vacuum keeps a pending MERGE's and OVERWRITE's data batches until the stream consumes them") {
    val st = new TableStore(spark, freshRoot(), numBuckets = 4)
    kvTable(st, 1L to 6L)
    val s = ChangeStream.create(st, "t", "s")
    st.merge("t", Seq((2L, "B", 20), (9L, "v9", 9)).toDF("id", "v", "n"))
    val mergeDir = st.changeSourcesOf("t", st.currentVersion("t")).marked.head.getParent
    st.overwrite("t", Seq((1L, "a", 1), (50L, "x", 50)).toDF("id", "v", "n"))
    val overwriteDir = st.changeSourcesOf("t", st.currentVersion("t")).marked.head.getParent
    st.compact("t") // the current version references neither batch
    val want = Seq("1|a|1|insert", "2|B|20|update", "50|x|50|insert", "9|v9|9|insert")

    spark.conf.set("spark.graft.store.commitTimeoutMs", "100")
    try {
      Thread.sleep(600) // every batch dir is mtime-quiet past the grace
      st.vacuum("t", keepVersions = 1)
      assert(fs.exists(mergeDir) && fs.exists(overwriteDir),
        "vacuum reclaimed a data batch a stream still has pending")
      assert(st.readVersion("t", st.currentVersion("t")).count() == 2)
      assert(rows(s.read) == want)

      assert(s.consume(rows(_)) == want)
      st.vacuum("t", keepVersions = 1)
      assert(!fs.exists(mergeDir) && !fs.exists(overwriteDir),
        "vacuum kept data batches no stream has pending")
      assert(st.read("t").count() == 2)
    } finally spark.conf.unset("spark.graft.store.commitTimeoutMs")
  }

  test("DROP STREAM and CREATE OR REPLACE STREAM onto another table delete the old offset") {
    val g = graft.GraftSession(spark, freshRoot(), 2)
    val st = g.store
    g.sqlScript(
      """CREATE TABLE t (id BIGINT, v STRING) KEYS (id);
        |CREATE TABLE u (id BIGINT, v STRING) KEYS (id);
        |CREATE STREAM s ON TABLE t;
        |INSERT INTO t SELECT 1, 'a';
        |DELETE FROM t WHERE id = 1""".stripMargin)
    // the DELETE's `_changes` batch (an APPEND marks its data batch,
    // which stays live in the table)
    val pending = st.changesDirOf("t", st.currentVersion("t")).get
    assert(fs.exists(st.offsetPath("t", "s")))

    g.sql("DROP STREAM s")
    assert(!fs.exists(st.offsetPath("t", "s")))
    g.sql("INSERT INTO t SELECT 2, 'b'")
    st.vacuum("t", keepVersions = 1)
    assert(!fs.exists(pending), "a dropped stream still pins the table's change batches")

    g.sql("CREATE STREAM s2 ON TABLE t")
    g.sql("CREATE OR REPLACE STREAM s2 ON TABLE u")
    assert(!fs.exists(st.offsetPath("t", "s2")), "the replaced stream's offset stayed behind")
    assert(fs.exists(st.offsetPath("u", "s2")))
    assert(g.stream("s2").table == "u")
  }
}
