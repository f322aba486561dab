package graft.ingest

import java.nio.file.{Files, Path}

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.ChangeStream
import graft.store.TableStore

/** CSV quirk handling (SURVEY.md §1 data quirks / FIXTURES.md §A) and the
  * Pipe's exactly-once landing-file ingestion (S3/ST1/ST6). */
class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("a", StringType), StructField("b", StringType),
    StructField("c", StringType)))

  private def tmpFile(content: String): String = {
    val p = Files.createTempFile("graft_csv", ".csv")
    Files.writeString(p, content)
    p.toString
  }

  test("skip_header skips physical lines even on headerless files") {
    // Snowflake skip_header=1 eats the first PHYSICAL line — here a blank
    // line, so no data row is lost (customer_delta_1.csv shape)
    val f = tmpFile("\n1,x,y\n2,p,q\n")
    val out = CsvIngest.read(spark, Seq(f), schema).orderBy("a").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("1", "2"))
  }

  test("short rows are null-padded (error_on_column_count_mismatch=false)") {
    val f = tmpFile("A,B,C\n1,x\n2,p,q\n")
    val out = CsvIngest.read(spark, Seq(f), schema).orderBy("a").collect()
    assert(out(0).getString(1) == "x" && out(0).isNullAt(2))
    assert(out(1).getString(2) == "q")
  }

  test("quoted fields and \\N nulls parse per the reference file format") {
    val f = tmpFile("A,B,C\n1,\"x, y\",\\N\n")
    val r = CsvIngest.read(spark, Seq(f), schema).head()
    assert(r.getString(1) == "x, y")
    assert(r.isNullAt(2))
  }

  test("pipe continuous mode ingests landed files until paused") {
    val landing = Files.createTempDirectory("graft_landing_c")
    val storeDir = Files.createTempDirectory("graft_pipe_store_c")
    val store = new TableStore(spark, storeDir.toString, numBuckets = 2)
    store.createTable("stg_c", schema)
    val pipe = new Pipe(spark, "pc", landing.toString, "stg_c", schema, store)
    pipe.start(intervalMs = 200L)
    try {
      assert(pipe.isRunning && pipe.status.startsWith("RUNNING"))
      Files.writeString(landing.resolve("a.csv"), "A,B,C\n1,x,y\n")
      val deadline = System.currentTimeMillis() + 30000
      while (store.read("stg_c").count() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(store.read("stg_c").count() == 1, "continuous pipe must ingest the landed file")
    } finally pipe.pause()
    assert(!pipe.isRunning && pipe.status == "PAUSED")
    // resume picks up files landed while paused (checkpoint preserved)
    Files.writeString(landing.resolve("b.csv"), "A,B,C\n2,p,q\n")
    pipe.resume(intervalMs = 200L)
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (store.read("stg_c").count() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(store.read("stg_c").count() == 2)
    } finally pipe.pause()
  }

  test("jsonl pipe parses one object per line with schema projection") {
    val landing = Files.createTempDirectory("graft_landing_j")
    val storeDir = Files.createTempDirectory("graft_pipe_store_j")
    val store = new TableStore(spark, storeDir.toString, numBuckets = 2)
    store.createTable("stg_j", schema)
    val pipe = new Pipe(spark, "pj", landing.toString, "stg_j", schema, store,
      format = "jsonl")
    Files.writeString(landing.resolve("f1.jsonl"),
      """{"a":"1","b":"x","c":"y"}
        |{"a":"2","b":"p"}
        |""".stripMargin)
    pipe.runOnce()
    val rows = store.read("stg_j").orderBy("a").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(2) == "y")
    assert(rows(1).isNullAt(2)) // missing field -> null (permissive)
  }

  test("pipe runOnce ingests each landed file exactly once into the stage table") {
    val landing = Files.createTempDirectory("graft_landing")
    val storeDir = Files.createTempDirectory("graft_pipe_store")
    val store = new TableStore(spark, storeDir.toString, numBuckets = 2)
    store.createTable("stg", schema)
    val stm = ChangeStream.create(store, "stg", "stg_stm")
    val pipe = new Pipe(spark, "p1", landing.toString, "stg", schema, store)

    Files.writeString(landing.resolve("f1.csv"), "A,B,C\n1,x,y\n2,p,q\n")
    pipe.runOnce()
    assert(store.read("stg").count() == 2)
    assert(stm.hasData) // stage stream saw the append

    // rerun with no new files: nothing double-ingested (file-source log)
    pipe.runOnce()
    assert(store.read("stg").count() == 2)

    Files.writeString(landing.resolve("f2.csv"), "A,B,C\n3,m,n\n")
    pipe.runOnce()
    assert(store.read("stg").count() == 3)
    assert(pipe.status == "PAUSED")
  }
}
