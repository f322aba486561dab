package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    workDir: Path,
    dataDir: Option[Path],
    t0EpochMs: Long,
    selftest: Boolean,
    resultFile: Path,
    fingerprints: Option[Path],
    dumpDir: Option[Path],
    spec: Path,
    layers: Path,
    sf: String) {
  def cpus: Int = Runtime.getRuntime.availableProcessors
}

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      workload = req("workload"),
      seed = req("seed").toLong,
      seconds = req("seconds").toDouble,
      trace = req("trace") == "1",
      workDir = Paths.get(req("work-dir")).toAbsolutePath,
      dataDir = m.get("data-dir").map(Paths.get(_).toAbsolutePath),
      t0EpochMs = req("t0-ms").toLong,
      selftest = m.get("selftest").contains("1"),
      resultFile = Paths.get(req("result-file")).toAbsolutePath,
      fingerprints = m.get("fingerprints").map(Paths.get(_).toAbsolutePath),
      dumpDir = m.get("dump-dir").map(Paths.get(_).toAbsolutePath),
      spec = Paths.get(req("spec")).toAbsolutePath,
      layers = Paths.get(req("layers")).toAbsolutePath,
      sf = req("sf"))
  }
}

/** A metric value with its unit, as printed in the result line. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back to [[Main]]. `e2e` holds the end-to-end
  * figures every workload reports under the shared names; `detail` holds
  * the workload's own named end-to-end figures; `layers` the per-layer
  * figures of a traced run. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    checksRun: Seq[String],
    firstTimedOpEpochMs: Long,
    e2e: Map[String, Metric],
    detail: Map[String, Metric],
    layers: Map[String, Metric],
    notes: Map[String, String])

/** One timed operation: its kind (a query, an entity), its wall seconds,
  * and the CPU seconds of the whole process and of the Java threads. */
final case class OpTime(kind: String, wallS: Double, cpuS: Double, threadCpuS: Double)

/** The end-to-end figures every workload reports. A round is one
  * operation of every kind; its cost is the sum over kinds of each kind's
  * median, so it does not jump with the kind a run-wide median lands on. */
object Rounds {
  def e2e(ops: Seq[OpTime]): Map[String, Metric] = {
    val byKind = ops.groupBy(_.kind).values
    def round(f: OpTime => Double) = Stats.sum(byKind.map(os => Stats.median(os.map(f))))
    Map("round_s" -> Metric(round(_.wallS), "s"), "round_proc_cpu_s" -> Metric(round(_.cpuS), "s"),
      "round_cpu_s" -> Metric(round(_.threadCpuS), "s"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (numpy's default method). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def sum(xs: Iterable[Double]): Double = xs.foldLeft(0.0)(_ + _)
}

object Sys {
  /** Start-to-end loadavg bracket of a run; a run whose load exceeds the
    * core count shared the machine and is flagged in its capture. */
  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def oldGen(name: String) = name.contains("Old Gen") || name.contains("Tenured")

  /** Largest old-generation occupancy any collection left behind since
    * [[watchOldGen]] was called: every collection's after-GC usage is
    * read from its notification. */
  @volatile private var oldGenPeak = 0L

  def watchOldGen(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if oldGen(pool) => u.getUsed }.sum
            synchronized { oldGenPeak = math.max(oldGenPeak, used) }
          }, null, null)
      case _ => ()
    }

  /** The peak so far, after one more full collection. */
  def oldGenPeakAfterGc(): Long = {
    System.gc()
    val now = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => oldGen(p.getName))
      .flatMap(p => Option(p.getCollectionUsage).map(_.getUsed)).sum
    synchronized(math.max(oldGenPeak, now))
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (driver, executor threads, GC, JIT) in
    * seconds. */
  def processCpuS: Double = os.getProcessCpuTime / 1e9

  private val threads = ManagementFactory.getThreadMXBean

  /** Per-thread CPU nanoseconds of every live Java thread: the driver,
    * Spark's executor task threads and its service threads, but not the
    * JVM's own GC and JIT compiler threads, whose spinning and background
    * compilation make process CPU time swing from run to run. Thread CPU
    * time does not count what the hypervisor steals from the guest. */
  def javaThreadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** Java-thread CPU seconds spent since `before`. A thread that ended in
    * between loses what it spent after `before`. */
  def javaThreadCpuSince(before: Map[Long, Long]): Double =
    javaThreadCpu().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

object Session {
  /** The engine's session shape: local[nproc], shuffle partitions = nproc,
    * UTC, AQE on, graft's Catalyst extensions. Every scratch location
    * (spill, warehouse, artifact store) lives under the run's work dir. */
  def create(a: Args): SparkSession = {
    val cpus = a.cpus
    val local = a.workDir.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.workDir.resolve("warehouse").toString)
      .config("spark.graft.artifactDir", a.workDir.resolve("artifacts").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Minimal JSON rendering for the result line and the capture files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def metrics(ms: Map[String, Metric]): String =
    obj(ms.toSeq.sortBy(_._1).map { case (k, m) =>
      k -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))
    })
}
