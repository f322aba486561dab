package graft.orchestrate

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.ChangeStream
import graft.ops.{DedupLatest, Merge}
import graft.store.TableStore

/** Concurrent multi-entity DAG proof (round-6 advice #7): the reference
  * runs its THREE pipelines — customer, item, order — as independent
  * 1-minute-scheduled task DAGs against ONE warehouse. This spec replays
  * that shape: three entity DAGs (stage → latest-wins raw MERGE → typed
  * dim MERGE → stage truncate), each on its own thread, all against one
  * shared [[TableStore]] and ONE shared task-history run log, cycles
  * interleaving freely.
  *
  * What it proves:
  *  - no deadlock/starvation in the store's single-lock commit path or
  *    the stream offset files when three DAGs commit concurrently
  *    (barrier-synchronized start, liveness timeout on join);
  *  - per-entity correctness is unaffected by interleaving — every dim
  *    row carries the LAST cycle's value, surrogate offsets intact, all
  *    streams fully drained;
  *  - the shared run log loses no appends (manifest pointer swaps are
  *    atomic under contention): exactly entities × cycles × tasks rows.
  *
  * Per-tick latencies at sf1 volumes are recorded in SCALE.md
  * ("Concurrent 3-entity DAG proof at sf1"); this spec keeps volumes
  * test-sized and asserts the 1-minute tick bound holds.
  */
class ConcurrentDagSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val cycles = 3
  private val entities = Seq(("customer", 2000), ("item", 1200), ("order", 3000))

  private def stageSchema = StructType(Seq(
    StructField("id", StringType),
    StructField("attr", StringType),
    StructField("val", StringType),
    StructField("seq", StringType)))

  private def dimSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("attr", StringType),
    StructField("val", DecimalType(9, 2)),
    StructField("seq", LongType)))

  test("three entity DAGs run concurrently against one store without loss or deadlock") {
    val root = java.nio.file.Files.createTempDirectory("graft_conc")
    val store = new TableStore(spark, root.resolve("store").toString, numBuckets = 8)

    // DDL phase is sequential (as in the reference scripts); the
    // CONCURRENT part is the scheduled ticks below.
    case class Entity(name: String, n: Int, orch: Orchestrator,
        stg: ChangeStream, raw: ChangeStream)
    val built = entities.map { case (name, n) =>
      store.createTable(s"stg_$name", stageSchema)
      store.createTable(s"raw_$name", stageSchema, keys = Seq("id"))
      store.createTable(s"dim_$name", dimSchema, keys = Seq("id"))
      val stg = ChangeStream.create(store, s"stg_$name", s"stg_${name}_stm")
      val raw = ChangeStream.create(store, s"raw_$name", s"raw_${name}_stm")
      val orch = new Orchestrator(spark, store) // shared task_history table
      val cycle = new java.util.concurrent.atomic.AtomicInteger(0)
      orch.createTask(Task(s"land_$name", () => {
        val c = cycle.incrementAndGet()
        // cycle c re-lands the full id space with val = c: the final dim
        // must show every row at val = last cycle, whatever the interleaving
        store.append(s"stg_$name",
          spark.range(n).select(
            col("id").cast("string"),
            concat(lit(s"$name-"), col("id")).as("attr"),
            lit(s"$c.50").as("val"),
            lit(c.toString).as("seq")))
      }))
      orch.createTask(Task(s"raw_${name}_tsk",
        body = () => stg.consume { batch =>
          store.merge(s"raw_$name", DedupLatest(batch.drop("__action"),
            Seq("id"), Seq(col("seq").cast("long").desc)))
        },
        after = Seq(s"land_$name"),
        when = () => stg.hasData))
      orch.createTask(Task(s"dim_${name}_tsk",
        body = () => raw.consume { batch =>
          val typed = DedupLatest(batch.drop("__action"),
              Seq("id"), Seq(col("seq").cast("long").desc))
            .select(col("id").cast(LongType).as("id"), col("attr"),
              col("val").cast(DecimalType(9, 2)).as("val"),
              col("seq").cast(LongType).as("seq"))
          store.merge(s"dim_$name", typed)
        },
        after = Seq(s"raw_${name}_tsk"),
        when = () => raw.hasData))
      orch.createTask(Task(s"trunc_$name",
        body = () => store.truncate(s"stg_$name"),
        after = Seq(s"dim_${name}_tsk")))
      Seq(s"land_$name", s"raw_${name}_tsk", s"dim_${name}_tsk", s"trunc_$name")
        .foreach(orch.resume)
      Entity(name, n, orch, stg, raw)
    }

    val start = new CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val states = new java.util.concurrent.ConcurrentLinkedQueue[(String, Map[String, String])]()
    val tickMs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val threads = built.map { e =>
      val t = new Thread(() => {
        try {
          start.await()
          (1 to cycles).foreach { _ =>
            val t0 = System.currentTimeMillis()
            states.add(e.name -> e.orch.runCycle(s"land_${e.name}"))
            tickMs.add(e.name -> (System.currentTimeMillis() - t0))
          }
        } catch { case ex: Throwable => errors.add(ex) }
      }, s"dag-${e.name}")
      t.start(); t
    }
    start.countDown()
    // liveness: a deadlocked store lock / offset write shows up here
    threads.foreach(_.join(TimeUnit.MINUTES.toMillis(5)))
    assert(threads.forall(!_.isAlive), "a DAG thread is stuck — deadlock or starvation")
    assert(errors.isEmpty, s"DAG thread failed: ${Option(errors.peek()).map(_.toString)}")

    // every task of every cycle ran (data lands each cycle → no skips)
    import scala.jdk.CollectionConverters._
    val allStates = states.asScala.toSeq
    assert(allStates.size == entities.size * cycles)
    allStates.foreach { case (name, st) =>
      assert(st.values.forall(_ == "SUCCEEDED"), s"$name cycle had non-success: $st")
    }

    // per-entity correctness unaffected by interleaving
    built.foreach { e =>
      val dim = store.read(s"dim_${e.name}").collect()
      assert(dim.length == e.n, s"${e.name}: dim rows ${dim.length} != ${e.n}")
      assert(dim.forall(_.getAs[Long]("seq") == cycles.toLong),
        s"${e.name}: a dim row missed the last cycle's update")
      assert(dim.forall(r => r.getAs[java.math.BigDecimal]("val").doubleValue() == cycles + 0.5))
      assert(!e.stg.hasData && !e.raw.hasData, s"${e.name}: stream not drained")
      assert(store.read(s"stg_${e.name}").count() == 0, s"${e.name}: stage not truncated")
    }

    // the SHARED run log lost nothing under concurrent appends:
    // 3 entities × 3 cycles × 4 tasks, all logged
    val hist = store.read("task_history")
    assert(hist.count() == entities.size.toLong * cycles * 4,
      "shared task_history lost appends under concurrency")
    assert(hist.filter(col("state") =!= "SUCCEEDED").count() == 0)

    // the reference's schedule contract: every tick fits the 1-minute slot
    val ticks = tickMs.asScala.toSeq
    assert(ticks.nonEmpty && ticks.forall(_._2 < 60000L),
      s"a tick exceeded the 1-minute schedule: ${ticks.filter(_._2 >= 60000L)}")
  }
}
