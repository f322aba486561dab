package graft.ingest

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}
import graft.store.TableStore

/** The pipe's load ledger ([[TableStore.loadedFiles]]): committed with
  * the rows it loaded, so each landed file's rows land exactly once —
  * across pipe re-creation, sessions, stage-table maintenance, a lost
  * commit race and a writer that dies on either side of the publish. */
class PipeLedgerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("a", StringType), StructField("b", StringType), StructField("c", StringType)))
  private val ddl = "(a STRING, b STRING, c STRING)"

  /** Land a CSV with a header line and one row per id. */
  private def land(dir: JPath, name: String, ids: Int*): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), ids.map(i => s"$i,x,y").mkString("A,B,C\n", "\n", "\n"))
  }

  private def ids(g: GraftSession, table: String): Seq[Int] =
    g.table(table).select("a").as[String].collect().map(_.toInt).toSeq.sorted

  test("the ledger outlives CREATE OR REPLACE PIPE and a session that creates its pipes in the other order") {
    val root = Files.createTempDirectory("graft_ledger")
    val landing = root.resolve("landing")
    def pipes(g: GraftSession, order: Seq[String]): Unit = {
      g.sql(s"CREATE OR REPLACE STAGE land URL = '$landing'")
      order.foreach(p => g.sql(
        s"CREATE OR REPLACE PIPE p_$p AS COPY INTO stg_$p FROM @land/$p FILE_FORMAT = (TYPE = CSV, SKIP_HEADER = 1)"))
    }
    val g1 = GraftSession(spark, root.resolve("wh").toString, 2)
    g1.sqlScript(s"CREATE TABLE stg_a $ddl; CREATE TABLE stg_b $ddl")
    pipes(g1, Seq("a", "b"))
    land(landing.resolve("a"), "f1.csv", 1, 2)
    land(landing.resolve("b"), "f1.csv", 10)
    g1.sql("ALTER PIPE p_a REFRESH"); g1.sql("ALTER PIPE p_b REFRESH")
    assert(ids(g1, "stg_a") == Seq(1, 2) && ids(g1, "stg_b") == Seq(10))

    pipes(g1, Seq("a"))
    g1.sql("ALTER PIPE p_a REFRESH")
    assert(ids(g1, "stg_a") == Seq(1, 2), "a replaced pipe reloaded the files its table has")
    land(landing.resolve("a"), "f2.csv", 3)
    g1.sql("ALTER PIPE p_a REFRESH")
    assert(ids(g1, "stg_a") == Seq(1, 2, 3))

    val g2 = GraftSession(spark, root.resolve("wh").toString, 2)
    pipes(g2, Seq("b", "a"))
    g2.sql("ALTER PIPE p_b REFRESH"); g2.sql("ALTER PIPE p_a REFRESH")
    assert(ids(g2, "stg_a") == Seq(1, 2, 3) && ids(g2, "stg_b") == Seq(10),
      "another session's pipes reloaded files their tables have")
    land(landing.resolve("b"), "f2.csv", 11)
    g2.sql("ALTER PIPE p_b REFRESH")
    assert(ids(g2, "stg_b") == Seq(10, 11))
    assert(g2.store.loadedFiles("stg_b").map(f => new Path(f.path).getName) == Seq("f1.csv", "f2.csv"))
  }

  test("the ledger outlives TRUNCATE and auto-compaction; a recreated stage table starts a new one") {
    val root = Files.createTempDirectory("graft_ledger_maint")
    val landing = root.resolve("landing")
    val g = GraftSession(spark, root.resolve("wh").toString, 2)
    g.sql(s"CREATE TABLE stg $ddl")
    val pipe = g.createPipe("p", landing.toString, "stg", schema)
    land(landing, "f1.csv", 1, 2)
    pipe.refresh()
    assert(ids(g, "stg") == Seq(1, 2))

    g.sql("TRUNCATE TABLE stg")
    pipe.refresh()
    assert(ids(g, "stg").isEmpty, "a truncated stage table reloaded its files")
    land(landing, "f2.csv", 3)
    pipe.refresh()
    assert(ids(g, "stg") == Seq(3))

    g.sql("ALTER TABLE stg SET AUTO_COMPACT = 2")
    land(landing, "f3.csv", 4)
    val before = g.store.currentVersion("stg")
    pipe.refresh() // the append, then the compaction it triggers
    assert(g.store.currentVersion("stg") == before + 2 && g.store.batchCount("stg") == 1)
    pipe.refresh()
    land(landing, "f4.csv", 5)
    pipe.refresh()
    assert(ids(g, "stg") == Seq(3, 4, 5), "a compacted stage table reloaded its files")

    // a new table has no load history: every landed file loads again
    g.sqlScript(s"DROP TABLE stg; CREATE TABLE stg $ddl")
    pipe.refresh()
    assert(ids(g, "stg") == Seq(1, 2, 3, 4, 5))
  }

  test("two sessions refreshing the same landed files load each once; the loser leaves no batch") {
    val root = Files.createTempDirectory("graft_ledger_race")
    val landing = root.resolve("landing")
    val wh = root.resolve("wh")
    val g1 = GraftSession(spark, wh.toString, 2)
    g1.sql(s"CREATE TABLE stg $ddl")
    val g2 = GraftSession(spark, wh.toString, 2)
    val p1 = g1.createPipe("p", landing.toString, "stg", schema)
    val p2 = g2.createPipe("p", landing.toString, "stg", schema)
    val rounds = 4
    val errs = new ConcurrentLinkedQueue[Throwable]
    (1 to rounds).foreach { r =>
      land(landing, s"r${r}a.csv", 10 * r + 1, 10 * r + 2)
      land(landing, s"r${r}b.csv", 10 * r + 3)
      val go = new CountDownLatch(1)
      val threads = Seq(p1, p2).map { p =>
        val t = new Thread(() => {
          go.await()
          try p.refresh() catch { case e: Throwable => errs.add(e); () }
        })
        t.start(); t
      }
      go.countDown()
      threads.foreach(_.join(300000))
    }
    assert(errs.isEmpty, s"refresh failed: ${Option(errs.peek())}")
    assert(ids(g1, "stg") == (1 to rounds).flatMap(r => Seq(10 * r + 1, 10 * r + 2, 10 * r + 3)))
    assert(g1.store.loadedFiles("stg").map(_.path).distinct.size == 2 * rounds)

    // every batch dir is committed in some version: a losing refresh
    // deleted the batch it wrote
    val st = g1.store
    val committed = (0L to st.currentVersion("stg"))
      .flatMap(v => st.readManifest("stg", v).map(e => new Path(e._2).getParent.getName)).toSet
    val written = Files.list(wh.resolve("stg").resolve("data")).toArray.toSeq
      .map(_.asInstanceOf[JPath].getFileName.toString)
    assert(written.nonEmpty && written.forall(committed), s"uncommitted batch dirs: ${written.filterNot(committed)}")

    // REFRESH on a pipe whose poll runs refreshes, serialized with the poll
    p1.start(intervalMs = 50L)
    try {
      land(landing, "late.csv", 99)
      g1.sql("ALTER PIPE p REFRESH")
      assert(ids(g1, "stg").count(_ == 99) == 1)
    } finally p1.pause()
    assert(ids(g1, "stg").count(_ == 99) == 1)
  }

  test("a refresh that dies before or after its manifest publish leaves each file's rows once") {
    CrashFs.register(spark.sparkContext.hadoopConfiguration)
    val points = Seq[(String, Path => Boolean)](
      "after the data files, before the publish" -> (_.getParent.getName == "_versions"),
      "right after the publish" -> (_.getName.startsWith("_latest.tmp")))
    points.foreach { case (point, at) =>
      val local = Files.createTempDirectory("graft_ledger_crash")
      val landing = local.resolve("landing")
      val root = s"crashfs://${local.resolve("wh")}"
      new TableStore(spark, root, numBuckets = 2).createTable("stg", schema)
      land(landing, "f1.csv", 1, 2)
      land(landing, "f2.csv", 3)
      val dying = new Pipe(spark, "p", landing.toString, "stg", schema,
        new TableStore(spark, root, numBuckets = 2))
      CrashFs.arm(at)
      intercept[CrashFs.Crash](dying.refresh())

      // a restarted writer: a new store and pipe over the same root
      val store = new TableStore(spark, root, numBuckets = 2)
      val pipe = new Pipe(spark, "p", landing.toString, "stg", schema, store)
      pipe.refresh()
      pipe.refresh()
      val got = store.read("stg").select("a").as[String].collect().map(_.toInt).toSeq.sorted
      assert(got == Seq(1, 2, 3), s"crash $point: rows $got")
    }
  }
}
