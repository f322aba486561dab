package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.GraftSession

/** point_ops: one keyed store table with search optimization on a
  * non-key column, driven by a single SQL session through
  * `GraftSession.sql` with a seeded mix of point SELECTs by key, lookups
  * on the search-optimized column, single-key UPDATEs and ~100-row MERGEs.
  * Every lookup must return exactly the row last written for its key. */
object PointOps {

  /** Row values are pure functions of (key, seed) until a write changes
    * them, so the generator and the model agree without shipping data. */
  final case class Row4(k: Long, email: String, v1: Long, v2: String)

  def emailOf(k: Long, seed: Long): String =
    s"u${java.lang.Math.floorMod(k * 2654435761L + seed, 4294967296L)}@x.io"
  def initial(k: Long, seed: Long): Row4 =
    Row4(k, emailOf(k, seed), java.lang.Math.floorMod(k * 7919L + seed * 31L, 1000003L),
      s"v${java.lang.Math.floorMod(k * 104729L + seed, 99991L)}")

  private final case class Op(kind: String, wall: Double, cpuS: Double, threadCpuS: Double, traced: Boolean, sqlS: Double,
      analyzeS: Double, optimizeS: Double, planS: Double, execS: Double,
      filesScanned: Double, filesTotal: Double, rowsScannedPerRow: Double, tag: String)

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  def run(a: Args, spark: SparkSession, tr: Tracer, probe: Option[SparkProbe]): Outcome = {
    val n = if (a.selftest) 6000L else 600000L
    val seed = a.seed
    val g = GraftSession(spark, a.workDir.resolve("store").toString)
    val rnd = new java.util.SplittableRandom(seed * 7 + 1)
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]

    // ---- set-up: table, search optimization, seeded bulk load ------------
    g.sql("create or replace table kv (k bigint, email varchar, v1 bigint, v2 varchar) KEYS (k)")
    g.sql("alter table kv add search optimization on equality(email)")
    g.sql(s"""insert into kv select id as k,
      |  concat('u', cast(pmod(id * 2654435761 + $seed, 4294967296) as string), '@x.io'),
      |  pmod(id * 7919 + ${seed * 31}, 1000003),
      |  concat('v', cast(pmod(id * 104729 + $seed, 99991) as string))
      |from range($n)""".stripMargin)
    val model = mutable.HashMap.empty[Long, Row4]
    def expected(k: Long): Row4 = model.getOrElse(k, initial(k, seed))
    var nextKey = n
    val recent = mutable.ArrayBuffer.empty[Long]
    def pickKey(): Long =
      if (recent.nonEmpty && rnd.nextInt(2) == 0) recent(rnd.nextInt(recent.length))
      else rnd.nextLong(nextKey)
    def remember(k: Long): Unit = {
      recent += k
      if (recent.length > 512) recent.remove(0)
    }

    def check(kind: String, key: String, got: Array[org.apache.spark.sql.Row], want: Row4): Unit = {
      val rows = got.map(r => Row4(r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq
      if (rows != Seq(want)) {
        failed += 1
        problems += s"$kind $key: got ${rows.take(3)}, expected $want"
      }
    }

    // ---- timed closed loop -------------------------------------------------
    val ops = mutable.ArrayBuffer.empty[Op]
    val firstOp = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    val minOps = if (a.selftest) 24 else 0
    var i = 0
    while (i < minOps || System.nanoTime() < deadline) {
      val traced = a.trace && i % 2 == 0
      tr.on = traced
      tr.op = i.toLong
      val tag = s"op$i"
      probe.foreach(_.tag(if (traced) tag else null))
      val dice = rnd.nextInt(100)
      val kind = if (dice < 75) "lookup" else if (dice < 85) "search" else if (dice < 95) "update" else "merge"
      attempted += 1
      var sqlS, analyzeS, optimizeS, planS, execS = 0.0
      var filesScanned, filesTotal, rowsPerRow = 0.0
      val cpu0 = Sys.processCpuS
      val j0 = Sys.javaThreadCpu()
      val s0 = System.nanoTime()
      try tr.span(kind, "bench") {
        kind match {
          case "lookup" | "search" =>
            val k = pickKey()
            val want = expected(k)
            val stmt =
              if (kind == "lookup") s"select k, email, v1, v2 from kv where k = $k"
              else s"select k, email, v1, v2 from kv where email = '${want.email}'"
            val q0 = System.nanoTime()
            val df: DataFrame = tr.span("sql", "sql") { g.sql(stmt).get }
            sqlS = (System.nanoTime() - q0) / 1e9
            val c0 = System.nanoTime()
            val got = tr.span("collect", "ops") { df.collect() }
            val collectS = (System.nanoTime() - c0) / 1e9
            check(kind, s"k=$k", got, want)
            if (traced) {
              val ph = df.queryExecution.tracker.phases
              def sec(name: String) = ph.get(name).map(_.durationMs / 1000.0).getOrElse(0.0)
              analyzeS = sec(Phases.Analysis)
              optimizeS = sec(Phases.Optimization)
              planS = sec(Phases.Planning)
              execS = collectS - optimizeS - planS
              val ss = scans(df.queryExecution.executedPlan)
              filesScanned = ss.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum.toDouble
              val scanned = ss.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
              rowsPerRow = scanned.toDouble / math.max(1, got.length)
              filesTotal = g.table("kv").inputFiles.length.toDouble
            }
          case "update" =>
            val k = pickKey()
            val v1 = rnd.nextLong(1000003L)
            val v2 = s"w${rnd.nextInt(1000000)}"
            val q0 = System.nanoTime()
            tr.span("sql", "sql") { g.sql(s"update kv set v1 = $v1, v2 = '$v2' where k = $k") }
            sqlS = (System.nanoTime() - q0) / 1e9
            model(k) = expected(k).copy(v1 = v1, v2 = v2)
            remember(k)
          case "merge" =>
            val keys = mutable.LinkedHashSet.empty[Long]
            while (keys.size < 90) keys += rnd.nextLong(nextKey)
            (0 until 10).foreach { _ => keys += nextKey; nextKey += 1 }
            val rows = keys.toSeq.map { k =>
              val base = expected(k)
              base.copy(v1 = rnd.nextLong(1000003L), v2 = s"m${rnd.nextInt(1000000)}")
            }
            val values = rows.map(r => s"(${r.k}, '${r.email}', ${r.v1}, '${r.v2}')").mkString(", ")
            val q0 = System.nanoTime()
            tr.span("sql", "sql") {
              g.sql(s"""merge into kv using (select * from values $values as s(k, email, v1, v2)) s
                |on kv.k = s.k
                |when matched then update set kv.v1 = s.v1, kv.v2 = s.v2
                |when not matched then insert (k, email, v1, v2) values (s.k, s.email, s.v1, s.v2)
                |""".stripMargin)
            }
            sqlS = (System.nanoTime() - q0) / 1e9
            rows.foreach { r => model(r.k) = r; remember(r.k) }
        }
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"$kind (op $i): ${e.toString.take(300)}"
      } finally probe.foreach(_.untag())
      ops += Op(kind, (System.nanoTime() - s0) / 1e9, Sys.processCpuS - cpu0, Sys.javaThreadCpuSince(j0), traced, sqlS, analyzeS, optimizeS, planS,
        execS, filesScanned, filesTotal, rowsPerRow, tag)
      i += 1
    }
    tr.on = false
    val timedWall = (System.nanoTime() - t0) / 1e9

    val walls = ops.map(_.wall).toSeq
    val tailP = Tail.percentile(walls.length)
    val reads = ops.filter(o => o.kind == "lookup" || o.kind == "search").map(_.wall).toSeq
    val writes = ops.filter(o => o.kind == "update" || o.kind == "merge").map(_.wall).toSeq
    val e2e = Rounds.e2e(ops.map(o => OpTime(o.kind, o.wall, o.cpuS, o.threadCpuS)).toSeq)
    val detail = Map(
      "lookup_p50_s" -> Metric(Stats.median(reads), "s"),
      "lookup_tail_s" -> Metric(Stats.percentile(reads, Tail.percentile(reads.length)), "s"),
      "write_p50_s" -> Metric(Stats.median(writes), "s"),
      "write_tail_s" -> Metric(Stats.percentile(writes, Tail.percentile(writes.length)), "s"),
      "point_ops_per_s" -> Metric(ops.length / timedWall, "1/s"))

    val layers = probe match {
      case None => Map.empty[String, Metric]
      case Some(p) =>
        p.drain()
        layerMetrics(ops.toSeq, p, tr)
    }
    Outcome(attempted, failed,
      checksRun = Seq(s"read_your_writes:${reads.length}"),
      firstTimedOpEpochMs = firstOp, e2e = e2e, detail = detail, layers = layers,
      notes = Map(
        "ops" -> ops.length.toString,
        "mix" -> ops.groupBy(_.kind).map { case (k, v) => s"$k=${v.length}" }.toSeq.sorted.mkString(","),
        "tail_percentile" -> f"$tailP%.1f",
        "rows" -> nextKey.toString,
        "problems" -> problems.take(20).mkString(" | ")))
  }

  private def layerMetrics(ops: Seq[Op], p: SparkProbe, tr: Tracer): Map[String, Metric] = {
    val traced = ops.filter(_.traced)
    def med(xs: Seq[Op], f: Op => Double): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.map(f))
    def of(kinds: String*) = traced.filter(o => kinds.contains(o.kind))
    val reads = of("lookup", "search")
    val lookups = of("lookup")
    val writes = of("update", "merge")
    val self = tr.selfTimes
    val idx = ops.zipWithIndex.filter(_._1.traced).map(_._2.toLong)
    def selfMed(layer: String): Double = Stats.median(idx.map(i => self.getOrElse((i, layer), 0.0)))
    val ratios = ops.groupBy(_.kind).values.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.nonEmpty && u.nonEmpty) Some(Stats.median(t.map(_.wall)) / Stats.median(u.map(_.wall)))
      else None
    }.toSeq
    Map(
      "sql.stmt_s.lookup" -> Metric(med(of("lookup"), _.sqlS), "s"),
      "sql.stmt_s.search" -> Metric(med(of("search"), _.sqlS), "s"),
      "sql.stmt_s.update" -> Metric(med(of("update"), _.sqlS), "s"),
      "sql.stmt_s.merge" -> Metric(med(of("merge"), _.sqlS), "s"),
      "spark.analyze_s" -> Metric(med(lookups, _.analyzeS), "s"),
      "spark.optimize_s" -> Metric(med(lookups, _.optimizeS), "s"),
      "spark.plan_s" -> Metric(med(lookups, _.planS), "s"),
      "ops.exec_s" -> Metric(med(lookups, _.execS), "s"),
      "ops.jobs" -> Metric(med(traced, o => p.stats(o.tag).jobs), "count"),
      "ops.jobs.lookup" -> Metric(med(reads, o => p.stats(o.tag).jobs), "count"),
      "ops.jobs.write" -> Metric(med(writes, o => p.stats(o.tag).jobs), "count"),
      "ops.task_s" -> Metric(med(traced, o => p.stats(o.tag).taskRunMs / 1000.0), "s"),
      "ops.shuffle_write_bytes" -> Metric(med(traced, o => p.stats(o.tag).shuffleWriteBytes), "bytes"),
      "ops.bytes_written" -> Metric(med(writes, o => p.stats(o.tag).bytesWritten), "bytes"),
      "store.files_scanned" -> Metric(med(lookups, _.filesScanned), "count"),
      "store.files_scanned.search" -> Metric(med(of("search"), _.filesScanned), "count"),
      "store.files_total" -> Metric(med(reads, _.filesTotal), "count"),
      "store.rows_scanned_per_row" -> Metric(med(reads, _.rowsScannedPerRow), "ratio"),
      "sql.self_s" -> Metric(selfMed("sql"), "s"),
      "ops.self_s" -> Metric(selfMed("ops"), "s"),
      "trace.overhead_frac" -> Metric(if (ratios.isEmpty) 0.0 else Stats.median(ratios) - 1, "ratio"))
  }
}
