package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.orchestrate.Task

/** The customer pipeline (SURVEY.md §3 E2, customer shape) built entirely
  * through the user-facing GraftSession facade: pipe → stage + stream →
  * SQL merge into raw → gated DAG → monitoring SELECTs. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("customer pipeline via the session facade") {
    val root = Files.createTempDirectory("graft_session")
    val landing = Files.createDirectory(root.resolve("landing"))
    val g = GraftSession(spark, root.resolve("wh").toString, numBuckets = 2)

    val stage = StructType.fromDDL("customer_id STRING, first_name STRING, balance STRING")
    g.createTable("stg_customer", stage)
    g.sql("CREATE TABLE raw_customer (customer_id STRING, first_name STRING, balance STRING) KEYS (customer_id)")
    val stm = g.createStream("stg_customer", "stg_customer_stm")
    val pipe = g.createPipe("cust_pipe", landing.toString, "stg_customer", stage)

    g.tasks.createTask(Task("merge_customer",
      body = () => stm.consume { batch =>
        batch.drop("__action").createOrReplaceTempView("stg_customer_stream")
        g.sql("""MERGE INTO raw_customer AS t USING stg_customer_stream AS s
                |ON t.customer_id = s.customer_id
                |WHEN MATCHED THEN UPDATE SET t.first_name = s.first_name, t.balance = s.balance
                |WHEN NOT MATCHED THEN INSERT (customer_id, first_name, balance)
                |VALUES (s.customer_id, s.first_name, s.balance)""".stripMargin)
        ()
      },
      when = () => stm.hasData))
    g.tasks.resume("merge_customer")

    Files.writeString(landing.resolve("c1.csv"),
      "CUSTOMER_ID,FIRST_NAME,BALANCE\n1,Ann,10.00\n2,Bob,20.00\n")
    pipe.runOnce()
    assert(g.tasks.runCycle("merge_customer")("merge_customer") == "SUCCEEDED")
    assert(g.table("raw_customer").count() == 2)

    Files.writeString(landing.resolve("c2.csv"),
      "CUSTOMER_ID,FIRST_NAME,BALANCE\n2,Bobby,22.00\n3,Cat,30.00\n")
    pipe.runOnce()
    assert(g.tasks.runCycle("merge_customer")("merge_customer") == "SUCCEEDED")

    val rows = g.sql("SELECT customer_id, first_name FROM raw_customer ORDER BY customer_id")
      .get.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("1", "Ann"), ("2", "Bobby"), ("3", "Cat")))

    // idle cycle: gate skips
    assert(g.tasks.runCycle("merge_customer")("merge_customer") == "SKIPPED")
    assert(g.listTables().toSet == Set("raw_customer", "stg_customer", "task_history"))
  }

  test("stream, pipe, view and stage names match in any case") {
    val root = Files.createTempDirectory("graft_case")
    val landing = Files.createDirectory(root.resolve("landing"))
    val g = GraftSession(spark, root.resolve("wh").toString, numBuckets = 2)
    g.sqlScript(
      s"""CREATE TABLE ct (id BIGINT, v STRING) KEYS (id);
         |CREATE STAGE cst URL = '$landing';
         |CREATE STREAM cs ON TABLE ct;
         |CREATE PIPE cp AS COPY INTO ct FROM @cst FILE_FORMAT = (TYPE = 'CSV');
         |CREATE VIEW cv AS SELECT id FROM ct""".stripMargin)
    Files.writeString(landing.resolve("a.csv"), "1,a\n")
    // each statement names an object in another case than it was created
    // with, and must act on that object
    val cases = Seq[(String, () => Boolean)](
      "CREATE OR REPLACE STREAM CS ON TABLE ct" -> (() => g.listStreams().map(_._1) == Seq("cs")),
      "LIST @CST" -> (() => true),
      "ALTER PIPE CP REFRESH" -> (() => g.table("ct").count() == 1),
      "SELECT SYSTEM$STREAM_HAS_DATA('CS')" -> (() => g.stream("Cs").hasData),
      "DROP STREAM CS" -> (() => g.listStreams().isEmpty && g.streamOpt("cs").isEmpty),
      "DROP PIPE CP" -> (() => g.listPipes().isEmpty),
      "DROP VIEW CV" -> (() => g.listViews().isEmpty))
    val failed = cases.filterNot { case (stmt, holds) =>
      scala.util.Try(g.sql(stmt)).isSuccess && scala.util.Try(holds()).getOrElse(false)
    }.map(_._1)
    assert(failed.isEmpty, s"acted on nothing: ${failed.mkString("; ")}")
  }
}
