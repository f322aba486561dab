package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}
import graft.store.TableStore

/** Store tables, streams and graft views resolve by name in Spark's
  * analyzer, at the state committed when the statement is analyzed: a
  * temp view first, then a catalog table, then the graft name. Every
  * change to what a name denotes is visible to the next statement, and a
  * dropped name is gone. `TABLE(graft_*(…))`, time travel, `task_history()`
  * and DESCRIBE resolve on the same path, in graft SQL and plain
  * `spark.sql` alike, and register no temp view. */
class GraftCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))

  private def session(): GraftSession =
    GraftSession(spark, Files.createTempDirectory("graft_names").toString, numBuckets = 2)

  private def ids(g: GraftSession, name: String): Seq[(Long, String)] =
    g.sql(s"select id, v from $name order by id").get.as[(Long, String)].collect().toSeq

  private def notFound(g: GraftSession, name: String): Unit = {
    val e = intercept[AnalysisException](g.sql(s"select * from $name"))
    assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND", e.getMessage)
  }

  test("store changes are visible to the next statement") {
    val g = session()
    val st = g.store
    g.sql("create table nr_vm (id bigint, v string) keys (id)")
    g.sql("insert into nr_vm values (1, 'a')")
    assert(ids(g, "nr_vm") == Seq((1L, "a")))

    // a MERGE committed by another store instance on the same root
    val other = new TableStore(spark, st.root, numBuckets = 2)
    other.merge("nr_vm", Seq((1L, "A"), (2L, "b")).toDF("id", "v"))
    assert(ids(g, "nr_vm") == Seq((1L, "A"), (2L, "b")))

    // drop and recreate reaching the same version number
    val v = st.currentVersion("nr_vm")
    st.dropTable("nr_vm", purge = true)
    st.createTable("nr_vm", schema, keys = Seq("id"))
    (1L to v).foreach(i => st.append("nr_vm", Seq((10L + i, s"r$i")).toDF("id", "v")))
    assert(st.currentVersion("nr_vm") == v)
    assert(ids(g, "nr_vm") == (1L to v).map(i => (10L + i, s"r$i")))

    // ADD COLUMN changes the schema without a new version
    st.addColumn("nr_vm", "score", IntegerType)
    assert(g.sql("select * from nr_vm").get.columns.toSeq == Seq("id", "v", "score"))
    // plain spark.sql sees the same table
    assert(spark.sql("select * from nr_vm").columns.toSeq == Seq("id", "v", "score"))
  }

  test("a temp view shadows a store name") {
    val g = session()
    g.sql("create table nr_sh (id bigint, v string)")
    g.sql("insert into nr_sh values (1, 'a')")
    spark.sql("create or replace temp view nr_sh as select 'x' as stray")
    try assert(g.sql("select * from nr_sh").get.as[String].collect().toSeq == Seq("x"))
    finally spark.catalog.dropTempView("nr_sh")
    assert(ids(g, "nr_sh") == Seq((1L, "a")))
  }

  test("a stream name reads its pending slice") {
    val g = session()
    g.sql("CREATE TABLE nr_src (id BIGINT, v STRING) KEYS (id)")
    g.sql("CREATE STREAM nr_src_stm ON TABLE nr_src")
    g.sql("INSERT INTO nr_src VALUES (1, 'a')")
    assert(g.sql("select id from nr_src_stm").get.as[Long].collect().toSeq == Seq(1L))
    g.sql("INSERT INTO nr_src VALUES (2, 'b')")
    assert(g.sql("select id from nr_src_stm order by id").get.as[Long].collect().toSeq == Seq(1L, 2L))
    g.stream("nr_src_stm").markConsumed()
    assert(g.sql("select id from nr_src_stm").get.isEmpty)
    g.sql("INSERT INTO nr_src VALUES (3, 'c')")
    assert(spark.sql("select id, __action from nr_src_stm").as[(Long, String)].collect().toSeq ==
      Seq((3L, "insert")))
  }

  test("views stack, and a broken view fails alone") {
    val g = session()
    g.sql("create table nr_base (id bigint, v string)")
    g.sql("insert into nr_base values (1, 'a'), (2, 'b')")
    g.sql("create view nr_v1 as select id, v from nr_base where id > 1")
    g.sql("create view nr_v2 as select count(*) as n from nr_v1")
    assert(g.sql("select n from nr_v2").get.as[Long].head() == 1L)
    g.sql("insert into nr_base values (3, 'c')")
    assert(g.sql("select n from nr_v2").get.as[Long].head() == 2L)

    g.sql("create table nr_gone (id bigint)")
    g.sql("create view nr_broken as select id from nr_gone")
    g.sql("drop table nr_gone")
    intercept[AnalysisException](g.sql("select * from nr_broken"))
    assert(g.sql("select n from nr_v2").get.as[Long].head() == 2L)
    assert(ids(g, "nr_v1") == Seq((2L, "b"), (3L, "c")))
  }

  test("a self-referencing view fails without looping") {
    val g = session()
    g.sql("create view nr_self as select * from nr_self")
    val e = intercept[IllegalArgumentException](g.sql("select * from nr_self"))
    assert(e.getMessage.contains("nr_self references itself"), e.getMessage)
    g.sql("create view nr_ping as select * from nr_pong")
    g.sql("create view nr_pong as select * from nr_ping")
    val m = intercept[IllegalArgumentException](g.sql("select * from nr_ping")).getMessage
    assert(m.contains("nr_ping -> nr_pong -> nr_ping"), m)
  }

  test("names resolve case-insensitively") {
    val g = session()
    g.sql("create table nr_ci (id bigint, v string)")
    g.sql("create stream nr_ci_stm on table nr_ci")
    g.sql("insert into nr_ci values (1, 'a')")
    g.sql("create view nr_ci_v as select id, v from nr_ci")
    assert(ids(g, "NR_CI") == Seq((1L, "a")))
    assert(ids(g, "Nr_Ci_Stm") == Seq((1L, "a")))
    assert(ids(g, "NR_CI_V") == Seq((1L, "a")))
    g.sql("create table nr_ci_t (id bigint, v string) keys (id)")
    g.sql("merge into nr_ci_t t using NR_CI_STM s on t.id = s.id " +
      "when not matched then insert (id, v) values (s.id, s.v)")
    assert(ids(g, "nr_ci_t") == Seq((1L, "a")))
    assert(g.sql("select * from nr_ci_stm").get.isEmpty, "the MERGE consumed the stream")
  }

  test("a DataFrame stays pinned to its version") {
    val g = session()
    g.sql("create table nr_pin (id bigint, v string) keys (id)")
    g.sql("insert into nr_pin values (1, 'a')")
    val before = g.sql("select id, v from nr_pin").get
    g.sql("insert into nr_pin values (2, 'b')")
    g.sql("merge into nr_pin t using (select 1 as id, 'A' as v) s on t.id = s.id " +
      "when matched then update set t.v = s.v")
    assert(before.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(ids(g, "nr_pin") == Seq((1L, "A"), (2L, "b")))
  }

  test("dropped names fail TABLE_OR_VIEW_NOT_FOUND") {
    val g = session()
    g.sql("create table nr_dt (id bigint, v string)")
    g.sql("create stream nr_ds on table nr_dt")
    g.sql("create view nr_dv as select id from nr_dt")
    Seq("nr_dt", "nr_ds", "nr_dv").foreach(n => assert(g.sql(s"select * from $n").get.isEmpty))
    g.sql("drop view nr_dv")
    notFound(g, "nr_dv")
    g.sql("drop stream nr_ds")
    notFound(g, "nr_ds")
    g.sql("drop table nr_dt")
    notFound(g, "nr_dt")
  }

  test("a consuming MERGE leaves no stream temp view") {
    val g = session()
    g.sql("create table nr_cs (id bigint, v string) keys (id)")
    g.sql("create table nr_ct (id bigint, v string) keys (id)")
    g.sql("create stream nr_cs_stm on table nr_cs")
    g.sql("insert into nr_cs values (1, 'a'), (2, 'b')")
    g.sql("merge into nr_ct t using (select id, v from nr_cs_stm where id > 1) s on t.id = s.id " +
      "when not matched then insert (id, v) values (s.id, s.v)")
    assert(ids(g, "nr_ct") == Seq((2L, "b")))
    assert(g.sql("select * from nr_cs_stm").get.isEmpty, "the MERGE consumed the stream")
    assert(spark.sessionState.catalog.getTempView("nr_cs_stm").isEmpty)
  }

  test("DESCRIBE reads a graft name's schema") {
    val g = session()
    g.sql("create table nr_desc (id bigint, v string)")
    g.sql("create view nr_desc_v as select id from nr_desc")
    Seq("describe table nr_desc", "describe nr_desc", "desc NR_DESC").foreach { stmt =>
      val df = g.sql(stmt).get
      assert(df.columns.toSeq == Seq("col_name", "data_type", "comment"), stmt)
      assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("id", "bigint"), ("v", "string")), stmt)
    }
    assert(spark.sql("desc nr_desc_v").collect().map(_.getString(0)).toSeq == Seq("id"))
  }

  test("table functions and time travel register no temp view") {
    val g = session()
    g.sql("create table nr_tv (id bigint, v string) keys (id)")
    g.sql("insert into nr_tv values (1, 'a')")
    g.sql("insert into nr_tv values (2, 'b')")
    def graftViews = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("__tf_") || n.toLowerCase.startsWith("nr_tv")).toSet
    val before = graftViews
    g.sql("select * from TABLE(graft_artifacts())").get.collect()
    assert(g.sql("select count(*) from nr_tv AT (VERSION => 1)").get.as[Long].head() == 1L)
    // a graft view body reads the same dialect: time travel and QUALIFY
    g.sql("create view nr_tv_v as select id from nr_tv AT (VERSION => 2) " +
      "qualify row_number() over (order by id desc) = 1")
    assert(g.sql("select id from nr_tv_v").get.as[Long].collect().toSeq == Seq(2L))
    assert(graftViews == before)
  }

  test("a graft view over a table function answers and sees later commits") {
    val g = session()
    g.sql("create table nr_hs (id bigint, v string) keys (id)")
    g.sql("insert into nr_hs values (1, 'a')")
    g.sql("create view nr_split as select id, split from TABLE(graft_hash_split(nr_hs, 'id'))")
    def n(q: String) = g.sql(q).get.as[Long].head()
    assert(n("select count(*) from nr_split") == 1L)
    g.sql("insert into nr_hs values (2, 'b')")
    assert(n("select count(*) from nr_split") == 2L)
    // inside a CTE body and a subquery too
    assert(n("with c as (select * from TABLE(graft_hash_split(nr_hs, 'id'))) select count(*) from c") == 2L)
    assert(n("select count(*) from nr_hs where id in " +
      "(select id from TABLE(graft_hash_split(nr_hs, 'id')) where id > 1)") == 1L)
  }

  test("a MERGE source reads a time-travel version") {
    val g = session()
    g.sql("create table nr_ms (id bigint, v string) keys (id)")
    g.sql("insert into nr_ms values (1, 'a')")
    g.sql("insert into nr_ms values (2, 'b')")
    g.sql("create table nr_mt (id bigint, v string) keys (id)")
    g.sql("merge into nr_mt t using (select id, v from nr_ms AT (VERSION => 1)) s on t.id = s.id " +
      "when not matched then insert (id, v) values (s.id, s.v)")
    assert(ids(g, "nr_mt") == Seq((1L, "a")))
  }

  test("plain spark.sql reads store versions and the run log") {
    val g = session()
    g.sql("create table nr_vr (id bigint, v string) keys (id)")
    g.sql("insert into nr_vr values (1, 'a')")
    g.sql("insert into nr_vr values (2, 'b')")
    assert(spark.sql("select count(*) from nr_vr version as of 1").as[Long].head() == 1L)
    assert(spark.sql("select count(*) from nr_vr version as of 2").as[Long].head() == 2L)
    g.sql("create table task_history (name string)")
    g.sql("insert into task_history values ('t1')")
    assert(spark.sql("select name from table(information_schema.task_history())")
      .as[String].collect().toSeq == Seq("t1"))
  }
}
