package graft.orchestrate

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.store.TableStore

/** The run log of a scheduler cycle: one commit per cycle carrying every
  * task that ran, each row with its own times; a gate that throws is a
  * FAILED task, not a lost cycle. */
class RunLogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fresh(): (TableStore, Orchestrator) = {
    val store = new TableStore(spark, Files.createTempDirectory("graft_runlog").toString, 2)
    (store, new Orchestrator(spark, store))
  }

  private def logged(store: TableStore): Map[String, (String, String)] =
    store.read("task_history").collect().map(r =>
      r.getString(0) -> (r.getString(1), r.getString(2))).toMap

  test("one cycle commits every task's row in one run-log version") {
    val (store, orch) = fresh()
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    orch.createTask(Task("root", () => { ran += "root"; Thread.sleep(5) }))
    orch.createTask(Task("a", () => { ran += "a"; Thread.sleep(5) }, after = Seq("root")))
    orch.createTask(Task("b", () => ran += "b", after = Seq("a"), when = () => false))
    orch.createTask(Task("c", () => ran += "c", after = Seq("root")))
    Seq("root", "a", "b", "c").foreach(orch.resume)

    val v0 = store.currentVersion("task_history")
    val states = orch.runCycle("root")
    assert(states == Map("root" -> "SUCCEEDED", "a" -> "SUCCEEDED", "b" -> "SKIPPED",
      "c" -> "SUCCEEDED"))
    assert(store.currentVersion("task_history") == v0 + 1)
    val rows = store.read("task_history").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("a", "b", "c", "root"))
    assert(rows.map(_.getLong(5)).toSet == Set(1L))
    // each row keeps its own times: tasks ran in topo order, one at a time
    val times = rows.map(r => r.getString(0) ->
      (r.getTimestamp(3).getTime, r.getTimestamp(4).getTime)).toMap
    assert(times.values.forall { case (s, c) => s <= c })
    assert(times("root")._2 <= times("a")._1)

    orch.runCycle("root")
    assert(store.currentVersion("task_history") == v0 + 2)
    assert(store.read("task_history").count() == 8)
  }

  test("a gate that throws fails its task, its children don't run, the cycle goes on") {
    val (store, orch) = fresh()
    orch.createTask(Task("root", () => ()))
    orch.createTask(Task("gated", () => (), after = Seq("root"),
      when = () => throw new IllegalStateException("gate probe broke")))
    orch.createTask(Task("child", () => (), after = Seq("gated")))
    orch.createTask(Task("sibling", () => (), after = Seq("root")))
    Seq("root", "gated", "child", "sibling").foreach(orch.resume)

    val states = orch.runCycle("root")
    assert(states == Map("root" -> "SUCCEEDED", "gated" -> "FAILED", "child" -> "NOT_RUN",
      "sibling" -> "SUCCEEDED"))
    val log = logged(store)
    assert(log.keySet == Set("root", "gated", "sibling"))
    assert(log("gated")._1 == "FAILED")
    assert(log("gated")._2.contains("gate probe broke"))
  }

  test("rows of tasks that already ran are flushed when a task throws past the cycle") {
    val (store, orch) = fresh()
    orch.createTask(Task("root", () => ()))
    // an Error is not a task failure the cycle absorbs: it escapes runCycle
    orch.createTask(Task("fatal", () => throw new AssertionError("boom"), after = Seq("root")))
    orch.resume("root"); orch.resume("fatal")
    val v0 = store.currentVersion("task_history")
    intercept[AssertionError](orch.runCycle("root"))
    assert(store.currentVersion("task_history") == v0 + 1)
    assert(logged(store).map { case (n, (s, _)) => n -> s } == Map("root" -> "SUCCEEDED"))
  }
}
