package graft.sql

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}

/** Dialect statements whose literals, escapes or clause order used to be
  * misread: each runs through [[GraftSql]] and must keep its text data as
  * data. */
class DialectTextSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def session(): GraftSession =
    GraftSession(spark, Files.createTempDirectory("graft_text").toString, 2)

  private def strings(g: GraftSession, query: String): Seq[String] =
    g.sql(query).get.collect().map(r => String.valueOf(r.get(0))).toSeq

  test("MERGE keeps alias-like text inside literals") {
    val g = session()
    g.sqlScript(
      """CREATE TABLE lt (id BIGINT, v STRING, note STRING) KEYS (id);
        |INSERT INTO lt SELECT 1, 'a', 'n1';
        |CREATE TABLE lt_src (id BIGINT, v STRING) KEYS (id);
        |INSERT INTO lt_src SELECT 1, 'A' UNION ALL SELECT 2, 'B'""".stripMargin)
    g.sql(
      """MERGE INTO lt AS t USING lt_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = concat(s.v, ' mail@s.example')
        |WHEN NOT MATCHED THEN INSERT (id, v, note) VALUES (s.id, s.v, 'noreply@t.example')""".stripMargin)
    assert(strings(g, "SELECT concat(v, '|', note) FROM lt ORDER BY id") ==
      Seq("A mail@s.example|n1", "B|noreply@t.example"))
  }

  test("UPDATE SET keeps a literal that contains WHERE") {
    val g = session()
    g.sqlScript(
      """CREATE TABLE ub (id BIGINT, note STRING) KEYS (id);
        |INSERT INTO ub SELECT 1, 'x' UNION ALL SELECT 2, 'y'""".stripMargin)
    g.sql("UPDATE ub SET note = 'lives where it rains' WHERE id = 1")
    assert(strings(g, "SELECT note FROM ub ORDER BY id") == Seq("lives where it rains", "y"))
  }

  test("a backslash-escaped quote in MERGE VALUES stays inside its literal") {
    val g = session()
    g.sqlScript(
      """CREATE TABLE be (id BIGINT, note STRING) KEYS (id);
        |CREATE TABLE be_src (id BIGINT) KEYS (id);
        |INSERT INTO be_src SELECT 7""".stripMargin)
    g.sql(
      """MERGE INTO be t USING be_src s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, note) VALUES (s.id, 'it\'s, fine')""".stripMargin)
    assert(strings(g, "SELECT note FROM be") == Seq("it's, fine"))
  }

  test("a backslash-escaped quote in a column DEFAULT stays inside its literal") {
    val g = session()
    g.sql("CREATE TABLE dflt (id BIGINT, note varchar default 'it\\'s, fine') KEYS (id)")
    g.sql("INSERT INTO dflt (id) SELECT 1")
    assert(strings(g, "SELECT note FROM dflt") == Seq("it's, fine"))
  }

  test("a stream named only in a literal is not consumed; one read in a CTE is") {
    val g = session()
    g.sqlScript(
      """CREATE TABLE src_d (id BIGINT, v STRING) KEYS (id);
        |CREATE STREAM src_d_stm ON TABLE src_d;
        |INSERT INTO src_d SELECT 1, 'pending';
        |CREATE TABLE other_d (id BIGINT, v STRING) KEYS (id);
        |INSERT INTO other_d SELECT 2, 'other';
        |CREATE TABLE tgt_d (id BIGINT, v STRING, origin STRING) KEYS (id)""".stripMargin)
    assert(g.stream("src_d_stm").hasData)
    g.sql(
      """MERGE INTO tgt_d t USING (select id, v, 'src_d_stm' as origin from other_d) s
        |ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, v, origin) VALUES (s.id, s.v, s.origin)""".stripMargin)
    assert(g.stream("src_d_stm").hasData, "a literal naming the stream must not drain it")

    g.sql(
      """MERGE INTO tgt_d t USING (
        |  with d as (select id, v from src_d_stm) select id, v, 'stream' as origin from d) s
        |ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, v, origin) VALUES (s.id, s.v, s.origin)""".stripMargin)
    assert(!g.stream("src_d_stm").hasData)
    assert(strings(g, "SELECT concat(id, ':', v, ':', origin) FROM tgt_d ORDER BY id") ==
      Seq("1:pending:stream", "2:other:src_d_stm"))
  }

  test("WHEN clauses in Snowflake order give the canonical order's result") {
    val g = session()
    Seq("co_a", "co_b").foreach { t =>
      g.sqlScript(
        s"""CREATE TABLE $t (id BIGINT, v STRING) KEYS (id);
           |INSERT INTO $t SELECT 1, 'a' UNION ALL SELECT 2, 'b' UNION ALL SELECT 3, 'c'""".stripMargin)
    }
    g.sqlScript(
      """CREATE TABLE co_src (id BIGINT, v STRING) KEYS (id);
        |INSERT INTO co_src SELECT 1, 'drop' UNION ALL SELECT 2, 'x' UNION ALL SELECT 4, 'new'""".stripMargin)
    val delete = "WHEN MATCHED AND s.v = 'drop' THEN DELETE"
    val update = "WHEN MATCHED THEN UPDATE SET t.v = CASE WHEN s.v = 'x' THEN 'X' ELSE s.v END"
    val insert = "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
    def merge(t: String, clauses: String*) =
      g.sql(s"MERGE INTO $t t USING co_src s ON t.id = s.id\n${clauses.mkString("\n")};")
    merge("co_a", delete, update, insert)
    merge("co_b", insert, delete, update)
    val want = Seq("2:X", "3:c", "4:new")
    assert(strings(g, "SELECT concat(id, ':', v) FROM co_a ORDER BY id") == want)
    assert(strings(g, "SELECT concat(id, ':', v) FROM co_b ORDER BY id") == want)
  }

  test("TABLE(graft_*(…)) inside a literal stays text") {
    val g = session()
    assert(strings(g, "SELECT 'see TABLE(graft_chunk(t, ''id''))' AS doc").head
      .startsWith("see TABLE(graft_chunk(t, "))
  }

  test("AT (VERSION => n) inside a literal stays text") {
    val g = session()
    g.sqlScript(
      """CREATE TABLE tt (id BIGINT) KEYS (id);
        |INSERT INTO tt SELECT 1;
        |INSERT INTO tt SELECT 2""".stripMargin)
    assert(strings(g, "SELECT 'tt AT (VERSION => 1)' AS doc") == Seq("tt AT (VERSION => 1)"))
    assert(strings(g, "SELECT count(*) FROM tt AT (VERSION => 1)") == Seq("1"))
  }

  test("unsupported MERGE and DML shapes are rejected as IllegalArgumentException") {
    spark // the parser is the active session's
    val head = "MERGE INTO a t USING b s ON t.id = s.id "
    Seq(
      "WHEN MATCHED AND s.v = 1 THEN UPDATE SET t.v = s.v",
      "WHEN MATCHED THEN UPDATE SET *",
      "WHEN NOT MATCHED THEN INSERT *",
      "WHEN NOT MATCHED AND s.v = 1 THEN INSERT (id) VALUES (s.id)",
      "WHEN NOT MATCHED BY SOURCE THEN DELETE",
      "WHEN MATCHED THEN UPDATE SET t.v = (").foreach { clause =>
      intercept[IllegalArgumentException](MergeSql.parse(head + clause))
    }
    intercept[IllegalArgumentException](
      GraftSql.execute(spark, null, "UPDATE t SET v = WHERE id = 1"))
  }
}
