package graftbench

import java.nio.file.{Files, Path}
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `op` groups the spans of one
  * benchmark operation (a query, an entity tick, a statement). */
final case class Span(id: Long, name: String, layer: String, startNs: Long, endNs: Long,
    parent: Long, op: Long)

/** In-memory span recorder. The benchmark calls it around every call
  * into a layer's public functions; nothing inside the engine is
  * instrumented. Spans are only kept while [[on]] is set, so a traced run
  * can alternate traced and untraced operations and measure its own
  * overhead. Driver-thread only. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  var on = false
  var op = 0L

  // epoch anchor, so spans can be written with wall-clock timestamps
  private val anchorNs = System.nanoTime()
  private val anchorEpochMs = System.currentTimeMillis()
  def epochMsToNs(ms: Long): Long = anchorNs + (ms - anchorEpochMs) * 1000000L

  def span[A](name: String, layer: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, layer, t0, System.nanoTime(), parent, op)
      }
    }

  /** Record an interval measured elsewhere (planner phases, run-log rows)
    * as a child of the innermost open span, or of `parent`. */
  def add(name: String, layer: String, startNs: Long, endNs: Long,
      parent: Long = -1L, opId: Long = -1L): Long =
    if (!on && parent < 0) 0L
    else {
      val id = nextId
      nextId += 1
      spans += Span(id, name, layer, startNs, math.max(startNs, endNs),
        if (parent >= 0) parent else stack.headOption.getOrElse(0L),
        if (opId >= 0) opId else op)
      id
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time per (op, layer): each span's duration minus the part of
    * it that its children cover. */
  def selfTimes: Map[(Long, String), Double] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.Map.empty[(Long, String), Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      covered.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      out((s.op, s.layer)) += ((s.endNs - s.startNs) - total) / 1e9
    }
    out.toMap
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ns" -> (s.startNs - anchorNs).toString, "end_ns" -> (s.endNs - anchorNs).toString,
        "parent" -> s.parent.toString, "op" -> s.op.toString)))
      w.write("\n")
    } finally w.close()
  }
}

/** Executor-side work attributed to one tag (an operation phase). */
final class TagStats {
  var jobs = 0
  var schemaJobs = 0
  var stages = 0
  var taskRunMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
  var bytesWritten = 0L
  var maxTaskSkew = 0.0
}

/** Spark's public listener surfaces, read from outside the engine:
  * a [[SparkListener]] for jobs/stages/tasks, attributed to the tag the
  * driver thread set as a local property before the call, and a
  * [[QueryExecutionListener]] for the planner phases of the noop writes
  * that end each query. */
final class SparkProbe(spark: SparkSession) {
  val TagKey = "graftbench.tag"
  private val lock = new Object
  private val byTag = mutable.HashMap.empty[String, TagStats]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val markersSeen = mutable.Set.empty[String]
  private val writeTags = mutable.Queue.empty[String]
  private val phasesByTag = mutable.HashMap.empty[String, Map[String, (Long, Long)]]
  private var markerSeq = 0

  private def schemaSite(p: Properties, infos: Seq[StageInfo]): String =
    Option(p).flatMap(x => Option(x.getProperty("callSite.short")))
      .orElse(infos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val tag = Option(js.properties).flatMap(p => Option(p.getProperty(TagKey))).orNull
      if (tag != null && !tag.startsWith("__")) lock.synchronized {
        val st = byTag.getOrElseUpdate(tag, new TagStats)
        st.jobs += 1
        if (schemaSite(js.properties, js.stageInfos).contains("Tables.scala")) st.schemaJobs += 1
        js.stageIds.foreach(id => stageTag(id) = tag)
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageTag.get(te.stageId).foreach { tag =>
        val st = byTag(tag)
        val m = te.taskMetrics
        if (m != null) {
          st.taskRunMs += m.executorRunTime
          st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          st.peakExecMemBytes = math.max(st.peakExecMemBytes, m.peakExecutionMemory)
          st.bytesWritten += m.outputMetrics.bytesWritten
        }
        if (te.taskInfo != null)
          stageTaskMs.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) += te.taskInfo.duration
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = lock.synchronized {
      val id = sc.stageInfo.stageId
      stageTag.get(id).foreach { tag =>
        val st = byTag(tag)
        st.stages += 1
        stageTaskMs.remove(id).foreach { ds =>
          if (ds.length >= 2) {
            val med = Stats.median(ds.map(_.toDouble).toSeq)
            if (med > 0) st.maxTaskSkew = math.max(st.maxTaskSkew, ds.max / med)
          }
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def isNoopWrite(qe: QueryExecution): Boolean = qe.logical match {
      case w: V2WriteCommand => w.table match {
        case r: DataSourceV2Relation => r.table.getClass.getName.contains("Noop")
        case _ => false
      }
      case _ => false
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (isNoopWrite(qe)) lock.synchronized {
        if (writeTags.nonEmpty) {
          val tag = writeTags.dequeue()
          if (tag != null) phasesByTag(tag) = qe.tracker.phases.map { case (k, v) =>
            k -> (v.startTimeMs, v.endTimeMs) }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (isNoopWrite(qe)) lock.synchronized { if (writeTags.nonEmpty) writeTags.dequeue() }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def tag(t: String): Unit = spark.sparkContext.setLocalProperty(TagKey, t)
  def untag(): Unit = spark.sparkContext.setLocalProperty(TagKey, null)

  /** Announce the next noop write; its planner phases land under `tag`
    * (null: an untraced write, phases dropped). */
  def expectWrite(tag: String): Unit = lock.synchronized { writeTags.enqueue(tag) }

  /** Wait until every event posted so far has been delivered: run a
    * one-task marker job and wait for its end on the listener thread
    * (events are delivered in order). */
  def drain(timeoutMs: Long = 20000): Unit = {
    markerSeq += 1
    val m = s"__marker_$markerSeq"
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(TagKey) == m))
          lock.synchronized { markersSeen += m }
    }
    spark.sparkContext.addSparkListener(l)
    val prev = spark.sparkContext.getLocalProperty(TagKey)
    tag(m)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.setLocalProperty(TagKey, prev)
    // the marker job's start event was queued after every earlier event;
    // the task-end events of the marker itself follow it, so also wait a
    // moment for the queue to settle
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!lock.synchronized(markersSeen(m)) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    spark.sparkContext.removeSparkListener(l)
    // the QueryExecutionListener queue is separate from the job queue:
    // wait for outstanding noop-write callbacks too
    while (lock.synchronized(writeTags.nonEmpty) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  def stats(tag: String): TagStats = lock.synchronized(byTag.getOrElse(tag, new TagStats))

  /** Planner phases of the noop write announced under `tag`:
    * name → (startEpochMs, endEpochMs). */
  def phases(tag: String): Map[String, (Long, Long)] =
    lock.synchronized(phasesByTag.getOrElse(tag, Map.empty))
}

object Phases {
  val Analysis: String = QueryPlanningTracker.ANALYSIS
  val Optimization: String = QueryPlanningTracker.OPTIMIZATION
  val Planning: String = QueryPlanningTracker.PLANNING

  def seconds(ph: Map[String, (Long, Long)], name: String): Double =
    ph.get(name).map { case (a, b) => (b - a) / 1000.0 }.getOrElse(0.0)
}
