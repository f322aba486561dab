package graft.orchestrate

import java.sql.Timestamp
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.store.TableStore

/** Task-DAG orchestration — the reference's scheduled root task + `AFTER`
  * chains with per-task `WHEN` gates (SURVEY.md §2.9 ST4/ST5, §3 E2;
  * reference: customer-end-to-end-pipeline-script.sql:62-179,
  * order-...sql:95-229, item-...sql:55-166; DAG rules README.md:60-68).
  *
  * Semantics matched to Snowflake tasks:
  *  - a DAG has ONE root; children declare `after` edges (README.md:66
  *    "a child task can have only one parent" is relaxed: we accept
  *    multiple `after` parents, all must have run this cycle).
  *  - each task may carry a gate (`when system$stream_has_data(...)`,
  *    including the negated gate of order-...sql:226-227). A false gate
  *    SKIPS the task but still runs its children (Snowflake behavior:
  *    WHEN is evaluated per task; reference relies on this — the truncate
  *    task has no gate and runs even when the merge was skipped).
  *  - tasks must be `resume`d before the runner executes them
  *    (`alter task ... resume`, customer-...sql:182-195; "start child
  *    before parent" ordering is the caller's concern, as in the
  *    reference item-...sql:214).
  *  - every attempt is recorded in the run-log table (the
  *    `information_schema.task_history()` analogue, F6) with state
  *    SUCCEEDED / FAILED / SKIPPED and its own scheduled and completed
  *    times. A cycle buffers its rows and commits them with ONE append
  *    when it ends, so they become visible together at cycle end — also
  *    when a task throws past the cycle — and the run log advances by one
  *    version per cycle. A gate that throws fails its task (recorded with
  *    the error) like a body that throws.
  *
  * Scale: the orchestrator is a driver-side control loop — all data work
  * happens inside task bodies as Spark jobs; the DAG walk itself is O(n)
  * bookkeeping. One cycle = one pass over the topo order (the reference's
  * 1-minute schedule tick).
  */
final case class Task(
    name: String,
    body: () => Unit,
    after: Seq[String] = Nil,
    when: () => Boolean = () => true,
    enabled: Boolean = false)

class Orchestrator(spark: SparkSession, store: TableStore, runLogTable: String = "task_history") {

  private val tasks = mutable.LinkedHashMap.empty[String, Task]

  /** Run-log schema (F6 — information_schema.task_history analogue). */
  val runLogSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("state", StringType),
    StructField("error", StringType),
    StructField("scheduled_time", TimestampType),
    StructField("completed_time", TimestampType),
    StructField("run_id", LongType)))

  if (!store.exists(runLogTable)) store.createTable(runLogTable, runLogSchema)

  private var runId = 0L

  /** CREATE TASK ... (created suspended, as in Snowflake). */
  def createTask(t: Task): Unit = {
    require(!tasks.contains(t.name), s"task ${t.name} already exists")
    require(t.after.forall(tasks.contains), s"unknown parent in ${t.after}")
    tasks += t.name -> t
  }

  /** CREATE OR REPLACE TASK: replacement keeps the suspended state of a
    * fresh create (Snowflake: replaced tasks come back suspended). */
  def createOrReplaceTask(t: Task): Unit = {
    require(t.after.forall(tasks.contains), s"unknown parent in ${t.after}")
    tasks += t.name -> t
  }

  /** Register a (suspended, like every fresh task) maintenance node
    * that auto-compacts `table` once its manifest accretes `minBatches`
    * batch dirs — the reference's task-DAG idiom applied to warehouse
    * upkeep: continuous pipes commit one batch per micro-batch, and
    * this node bounds the table's file count at the scheduler's cadence.
    * The WHEN gate skips the cycle (costing one manifest read, no data
    * IO) until the threshold is crossed; [[graft.store.TableStore
    * .autoCompact]] re-checks under its own lock, so a racing writer
    * can't make the task compact an already-compacted table twice. */
  def createCompactionTask(table: String, minBatches: Int = 16,
      name: String = null, after: Seq[String] = Nil): String = {
    val tn = Option(name).getOrElse(s"compact_$table")
    createTask(Task(tn,
      body = () => { store.autoCompact(table, minBatches); () },
      after = after,
      when = () => store.exists(table) && store.batchCount(table) >= minBatches))
    tn
  }

  /** SHOW TASKS (F7): name, started/suspended, AFTER parents. */
  def listTasks(): Seq[(String, String, String)] =
    tasks.values.toSeq.map { t =>
      (t.name, if (t.enabled) "started" else "suspended", t.after.mkString(","))
    }

  /** alter task <name> resume / suspend (ST5). */
  def resume(name: String): Unit = tasks += name -> tasks(name).copy(enabled = true)
  def suspend(name: String): Unit = tasks += name -> tasks(name).copy(enabled = false)

  def isEnabled(name: String): Boolean = tasks(name).enabled

  /** One scheduler tick: walk the DAG from `root` in dependency order.
    * A task runs iff it is enabled, all its `after` parents ran (or were
    * skipped by their gate) this cycle, and its gate passes. Returns the
    * per-task states of this cycle; its run-log rows are committed in one
    * append when the walk ends, however it ends. */
  def runCycle(root: String): Map[String, String] = {
    require(tasks.contains(root), s"unknown root task $root")
    runId += 1
    val states = mutable.Map.empty[String, String]
    val logRows = mutable.ArrayBuffer.empty[Row]
    try topoFrom(root).foreach { name =>
      val t = tasks(name)
      val parentsOk = name == root ||
        t.after.nonEmpty && t.after.forall(p => states.get(p).exists(_ != "FAILED"))
      if (!t.enabled || !parentsOk) states(name) = "NOT_RUN"
      else {
        val scheduled = now()
        val (state, error) =
          try {
            if (!t.when()) ("SKIPPED", null)
            else { t.body(); ("SUCCEEDED", null) }
          } catch { case e: Exception => ("FAILED", e.toString.take(500)) }
        states(name) = state
        logRows += Row(t.name, state, error, scheduled, now(), runId)
      }
    } finally {
      if (logRows.nonEmpty) {
        import scala.jdk.CollectionConverters._
        store.append(runLogTable, spark.createDataFrame(logRows.asJava, runLogSchema))
      }
    }
    states.toMap
  }

  /** The reference's `schedule = '1 minute'` root-task loop (ST4): run
    * `cycles` scheduler ticks `intervalMs` apart (next tick waits for the
    * previous cycle to finish, as Snowflake skips overlapping runs).
    * Returns the per-cycle states. */
  def runLoop(root: String, intervalMs: Long, cycles: Int): Seq[Map[String, String]] =
    (1 to cycles).map { i =>
      val t0 = System.currentTimeMillis()
      val states = runCycle(root)
      val elapsed = System.currentTimeMillis() - t0
      if (i < cycles && elapsed < intervalMs) Thread.sleep(intervalMs - elapsed)
      states
    }

  /** Children-of-`root` subgraph in topological (creation-refined) order. */
  private def topoFrom(root: String): Seq[String] = {
    val reach = mutable.LinkedHashSet(root)
    var grew = true
    while (grew) {
      grew = false
      tasks.values.foreach { t =>
        if (!reach(t.name) && t.after.exists(reach)) { reach += t.name; grew = true }
      }
    }
    reach.toSeq
  }

  private def now() = new Timestamp(System.currentTimeMillis())

  /** The reference's task-history monitoring query (F6;
    * customer-...sql:198-201): latest runs of the given tasks. */
  def taskHistory(names: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    store.read(runLogTable)
      .filter(col("name").isin(names: _*))
      .orderBy(col("scheduled_time").desc)
  }
}
