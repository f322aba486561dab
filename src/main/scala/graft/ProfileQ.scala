package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerTaskEnd}

/** Round-20 measurement harness (optimization guide §1): run named
  * queries with warm artifacts and report, per query, the per-stage
  * breakdown — wall time, summed task time, input / shuffle-read /
  * shuffle-write bytes, task count and max-task skew — from a
  * SparkListener. This is the local stand-in for the Spark UI's stage
  * page (the UI is disabled in the bench JVM): it answers "which stage,
  * and is it compute, shuffle or skew" before any change is made.
  *
  * Usage: sbt "runMain graft.ProfileQ <query> [query ...]"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  *      SPARK_GRAFT_PROF_ITERS (default 2; stages reported for the LAST
  *      iteration only, so codegen/artifact warm-up is excluded).
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_PROF_ITERS", "2").toInt.max(1)
    val spark = GraftSession.sparkSession(cpus)

    case class StageRow(id: Int, name: String, wallMs: Long, taskMs: Long,
        tasks: Int, maxTaskMs: Long, inputMB: Double, srMB: Double, swMB: Double)
    // r21 (ADVICE): listener state is mutated on the listener-bus thread
    // and read on the main thread — guard every access with one lock and
    // mark the collection flag volatile; max task time is accumulated from
    // onTaskEnd (it was previously hardcoded 0 while the doc promised it).
    val lock = new Object
    val stages = scala.collection.mutable.ArrayBuffer[StageRow]()
    val jobs = scala.collection.mutable.ArrayBuffer[(Int, Long, String)]() // id, wallMs, site
    val jobStart = scala.collection.mutable.HashMap[Int, (Long, String)]()
    val maxTask = scala.collection.mutable.HashMap[Int, Long]() // stageId → ms
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (collecting && te.taskInfo != null) lock.synchronized {
          val d = te.taskInfo.duration
          if (d > maxTask.getOrElse(te.stageId, 0L)) maxTask(te.stageId) = d
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collecting) lock.synchronized {
          val si = sc.stageInfo
          val tm = si.taskMetrics
          val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(0L)
          stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(90),
            wall, tm.executorRunTime, si.numTasks,
            maxTask.getOrElse(si.stageId, 0L),
            tm.inputMetrics.bytesRead / 1e6,
            tm.shuffleReadMetrics.remoteBytesRead / 1e6 + tm.shuffleReadMetrics.localBytesRead / 1e6,
            tm.shuffleWriteMetrics.bytesWritten / 1e6)
        }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (collecting) lock.synchronized {
          val site = js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n').take(60))
            .orElse(Option(js.properties)
              .flatMap(p => Option(p.getProperty("callSite.short")))).getOrElse("?")
          jobStart(js.jobId) = (js.time, site)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (collecting) lock.synchronized {
          jobStart.remove(je.jobId).foreach { case (t0, site) =>
            jobs += ((je.jobId, je.time - t0, site)) }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // JVM / file-listing warm-up
    try noop(SparkEntry.queries("p2_select_star")(spark, sfDir)) catch { case _: Throwable => () }

    for (q <- args) {
      val fn = SparkEntry.queries.getOrElse(q,
        sys.error(s"unknown query $q"))
      // warm iterations: artifact builds + codegen happen here
      var lastWall = 0.0
      (1 until iters).foreach { _ => noop(fn(spark, sfDir)) }
      lock.synchronized { stages.clear(); jobs.clear(); maxTask.clear() }
      collecting = true
      val t0 = System.nanoTime()
      noop(fn(spark, sfDir))
      lastWall = (System.nanoTime() - t0) / 1e9
      // stage-completed events are posted asynchronously; poll until the
      // buffers go quiet (bounded) instead of one fixed sleep — a busy bus
      // could otherwise drop late events from the report
      var (seen, quiet, waited) = (-1, 0, 0)
      while (quiet < 2 && waited < 3000) {
        Thread.sleep(100); waited += 100
        val n = lock.synchronized(stages.size + jobs.size)
        if (n == seen) quiet += 1 else { seen = n; quiet = 0 }
      }
      collecting = false
      lock.synchronized {
        println(f"\n===== $q  wall=${lastWall}%.2fs  jobs=${jobs.size}  stages=${stages.size} =====")
        println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"tasks"}%6s ${"maxt_ms"}%8s ${"in_MB"}%8s ${"sr_MB"}%8s ${"sw_MB"}%8s  name")
        stages.sortBy(-_.wallMs).take(18).foreach { s =>
          println(f"${s.id}%6d ${s.wallMs}%8d ${s.taskMs}%8d ${s.tasks}%6d ${s.maxTaskMs}%8d ${s.inputMB}%8.1f ${s.srMB}%8.1f ${s.swMB}%8.1f  ${s.name}")
        }
        // per-callsite job rollup: where the DRIVER round-trips go —
        // count × mean wall per submission site (diagnoses job-count
        // pathologies the stage table can't show)
        jobs.groupBy(_._3).toSeq
          .map { case (site, js) => (site, js.size, js.map(_._2).sum) }
          .sortBy(-_._3).take(12).foreach { case (site, n, w) =>
            println(f"  jobs $n%4d  wall ${w}%6dms  $site")
          }
        val totWall = stages.map(_.wallMs).sum
        val totTask = stages.map(_.taskMs).sum
        println(f"TOTAL stage-wall=${totWall}ms  task-time=${totTask}ms  wall=${lastWall * 1000}%.0fms  jobWall=${jobs.map(_._2).sum}ms")
      }
    }
    spark.stop()
  }
}
