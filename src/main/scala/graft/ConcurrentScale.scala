package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.functions._

import graft.cdc.ChangeStream
import graft.ops.DedupLatest
import graft.orchestrate.{Orchestrator, Task}
import graft.store.TableStore

/** Concurrent 3-entity DAG scale proof (SCALE.md): the reference schedules
  * its customer, item (≈ part), and order pipelines as independent
  * 1-minute task DAGs against one warehouse. This main runs all three
  * concurrently against ONE [[TableStore]] at sf1 volumes and prints the
  * per-entity per-tick wall times, proving the 1-minute tick contract
  * holds when the DAGs contend for the store's commit lock.
  *
  * Each tick lands 1/cycles of the entity's table into its stage
  * (customer 50k / part 67k / orders 500k rows per tick at sf1), then
  * stream-consumes stage → latest-wins MERGE into the keyed raw table →
  * MERGE into the keyed serving table → truncate stage — the same DAG
  * shape ConcurrentDagSpec proves correct at test size.
  *
  * Usage: runMain graft.ConcurrentScale [sfDir] [cycles] [buckets]
  */
object ConcurrentScale {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/tmp/graft_sf1"
    val cycles = if (args.length > 1) args(1).toInt else 3
    val buckets = if (args.length > 2) args(2).toInt else 64
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.sparkSession(cpus)

    val root = java.nio.file.Files.createTempDirectory("graft_conc_scale")
    val store = new TableStore(spark, root.resolve("store").toString, numBuckets = buckets)

    // (entity, source table, key column) — the reference's three pipelines
    val entities = Seq(
      ("customer", "customer", "c_custkey"),
      ("item", "part", "p_partkey"),
      ("order", "orders", "o_orderkey"))

    case class Built(name: String, orch: Orchestrator)
    val built = entities.map { case (name, src, key) =>
      val source = Tables.load(spark, sfDir, src)
      val schema = source.schema
      store.createTable(s"stg_$name", schema)
      store.createTable(s"raw_$name", schema, keys = Seq(key))
      store.createTable(s"srv_$name", schema, keys = Seq(key))
      val stg = ChangeStream.create(store, s"stg_$name", s"stg_${name}_stm")
      val raw = ChangeStream.create(store, s"raw_$name", s"raw_${name}_stm")
      val orch = new Orchestrator(spark, store)
      val cycle = new java.util.concurrent.atomic.AtomicInteger(0)
      orch.createTask(Task(s"land_$name", () => {
        val c = cycle.incrementAndGet()
        store.append(s"stg_$name", source.filter(pmod(col(key), lit(cycles)) === (c - 1)))
      }))
      orch.createTask(Task(s"raw_${name}_tsk",
        body = () => stg.consume { batch =>
          store.merge(s"raw_$name",
            DedupLatest(batch.drop("__action"), Seq(key), Seq(col(key).desc)))
        },
        after = Seq(s"land_$name"), when = () => stg.hasData))
      orch.createTask(Task(s"srv_${name}_tsk",
        body = () => raw.consume { batch =>
          store.merge(s"srv_$name",
            DedupLatest(batch.drop("__action"), Seq(key), Seq(col(key).desc)))
        },
        after = Seq(s"raw_${name}_tsk"), when = () => raw.hasData))
      orch.createTask(Task(s"trunc_$name",
        body = () => store.truncate(s"stg_$name"),
        after = Seq(s"srv_${name}_tsk")))
      Seq(s"land_$name", s"raw_${name}_tsk", s"srv_${name}_tsk", s"trunc_$name")
        .foreach(orch.resume)
      Built(name, orch)
    }

    val start = new CountDownLatch(1)
    val ticks = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = built.map { b =>
      val t = new Thread(() => {
        try {
          start.await()
          (1 to cycles).foreach { c =>
            val t0 = System.currentTimeMillis()
            val st = b.orch.runCycle(s"land_${b.name}")
            require(st.values.forall(_ == "SUCCEEDED"), s"${b.name} cycle $c: $st")
            ticks.add((b.name, c, System.currentTimeMillis() - t0))
          }
        } catch { case e: Throwable => errors.add(e) }
      }, s"dag-${b.name}")
      t.start(); t
    }
    val t0 = System.currentTimeMillis()
    start.countDown()
    threads.foreach(_.join(30 * 60 * 1000L))
    val wall = (System.currentTimeMillis() - t0) / 1000.0
    require(threads.forall(!_.isAlive), "DAG thread stuck: deadlock/starvation")
    if (!errors.isEmpty) throw errors.peek()

    import scala.jdk.CollectionConverters._
    val byEntity = ticks.asScala.toSeq.groupBy(_._1)
    // final-state audit: every serving table holds exactly its source rows
    val counts = built.map { b =>
      val srv = store.read(s"srv_${b.name}").count()
      b.name -> srv
    }.toMap
    val hist = store.read("task_history").count()
    def jq(s: String) = "\"" + s + "\""
    val tickJson = byEntity.toSeq.sortBy(_._1).map { case (n, ts) =>
      jq(n) + ":[" + ts.sortBy(_._2).map(t => t._3 / 1000.0).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val maxTick = ticks.asScala.map(_._3).max / 1000.0
    println(s"""{"metric":"concurrent_dag_ticks","sf":"$sfDir","cycles":$cycles,""" +
      s""""wall_sec":$wall,"max_tick_sec":$maxTick,"ticks_sec":$tickJson,""" +
      s""""served_rows":{${counts.toSeq.sortBy(_._1).map { case (k, v) => jq(k) + ":" + v }.mkString(",")}},""" +
      s""""task_history_rows":$hist,"tick_under_60s":${maxTick < 60.0}}""")
    spark.stop()
  }
}
