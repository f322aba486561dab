package graft.store

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}

/** Snapshot views are rebuilt only when their table changed: the memo key
  * is the current committed manifest's text, `_schema.json` and the
  * clustering keys, and a memo entry counts only while the session still
  * holds the exact view it registered. Every case that changes what a
  * view must show has to rebuild it. */
class ViewMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))

  private def rawView(name: String): AnyRef =
    spark.sessionState.catalog.getRawTempView(name).orNull

  private def ids(view: String): Seq[(Long, String)] =
    spark.sql(s"select id, v from $view order by id").as[(Long, String)].collect().toSeq

  test("an unchanged table keeps its registered view; each kind of change rebuilds it") {
    val root = Files.createTempDirectory("graft_vmemo").toString
    val st = new TableStore(spark, root, numBuckets = 2)
    st.createTable("vm", schema, keys = Seq("id"))
    st.append("vm", Seq((1L, "a")).toDF("id", "v"))
    st.registerView("vm")
    val first = rawView("vm")
    st.registerView("vm")
    st.registerAllViews()
    assert(rawView("vm") eq first, "nothing changed: the view must not be rebuilt")
    assert(ids("vm") == Seq((1L, "a")))

    // a MERGE committed by another store instance on the same root
    val other = new TableStore(spark, root, numBuckets = 2)
    other.merge("vm", Seq((1L, "A"), (2L, "b")).toDF("id", "v"))
    st.registerView("vm")
    assert(ids("vm") == Seq((1L, "A"), (2L, "b")))
    val afterMerge = rawView("vm")
    assert(afterMerge ne first)

    // drop and recreate reaching the same version number
    val v = st.currentVersion("vm")
    st.dropTable("vm", purge = true)
    st.createTable("vm", schema, keys = Seq("id"))
    (1L to v).foreach(i => st.append("vm", Seq((10L + i, s"r$i")).toDF("id", "v")))
    assert(st.currentVersion("vm") == v)
    st.registerView("vm")
    assert(ids("vm") == (1L to v).map(i => (10L + i, s"r$i")))

    // ADD COLUMN changes the schema without a new version
    st.addColumn("vm", "score", IntegerType)
    st.registerView("vm")
    assert(spark.sql("select * from vm").columns.toSeq == Seq("id", "v", "score"))
    val afterAlter = rawView("vm")
    st.registerView("vm")
    assert(rawView("vm") eq afterAlter)

    // spark.sql replaces the temp view under the same name
    spark.sql("create or replace temp view vm as select 'x' as stray")
    st.registerView("vm")
    assert(spark.sql("select * from vm").columns.toSeq == Seq("id", "v", "score"))
    assert(ids("vm") == (1L to v).map(i => (10L + i, s"r$i")))

    // another store instance registering the same name: ours is stale
    other.registerView("vm")
    val theirs = rawView("vm")
    st.registerView("vm")
    assert(rawView("vm") ne theirs)
    assert(ids("vm") == (1L to v).map(i => (10L + i, s"r$i")))
  }

  test("stream views follow the offset and the table's commits") {
    val g = GraftSession(spark, Files.createTempDirectory("graft_vmemo_s").toString, numBuckets = 2)
    g.sql("CREATE TABLE vm_src (id BIGINT, v STRING) KEYS (id)")
    g.sql("CREATE STREAM vm_src_stm ON TABLE vm_src")
    g.sql("INSERT INTO vm_src VALUES (1, 'a')")
    assert(g.sql("select id from vm_src_stm").get.as[Long].collect().toSeq == Seq(1L))
    val first = rawView("vm_src_stm")
    assert(g.sql("select count(*) from vm_src").get.as[Long].head() == 1L)
    assert(rawView("vm_src_stm") eq first, "unchanged stream: view reused")

    g.sql("INSERT INTO vm_src VALUES (2, 'b')")
    assert(g.sql("select id from vm_src_stm order by id").get.as[Long].collect().toSeq == Seq(1L, 2L))
    g.stream("vm_src_stm").markConsumed()
    assert(g.sql("select id from vm_src_stm").get.isEmpty)
  }
}
