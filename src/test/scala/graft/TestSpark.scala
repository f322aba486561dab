package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one per suite via lazy
  * val; sharing across suites is fine since config is identical), built
  * by the same factory as every main. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.sparkSession(4)

  /** `body`'s result and `metric` of every task that ended while it ran,
    * folded by `fold` from 0 (a sum by default). */
  def taskMetricDuring[A](metric: TaskMetrics => Long, fold: (Long, Long) => Long = _ + _)(
      body: => A): (A, Long) =
    during(n => new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) n.accumulateAndGet(metric(te.taskMetrics), (a, b) => fold(a, b))
    })(body)

  /** `body`'s result and the number of Spark jobs started while it ran. */
  def jobsDuring[A](body: => A): (A, Long) =
    during(n => new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    })(body)

  /** Runs `body` under the listener `listen` builds over a counter.
    * Listener events are async: the counter is read once it has held
    * still for three 100 ms polls. */
  private def during[A](listen: AtomicLong => SparkListener)(body: => A): (A, Long) = {
    val n = new AtomicLong
    val listener = listen(n)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      var last = -1L
      var same = 0
      while (same < 3) {
        Thread.sleep(100)
        val cur = n.get
        if (cur == last) same += 1 else { same = 0; last = cur }
      }
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
