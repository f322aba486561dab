package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StructType}

import graft.SparkEntry
import graft.queries.ReferenceQueries
import graft.store.Artifacts

/** query_suite: registered queries over the generated sf0.01 tables, run
  * pass-major from one driver thread. Each query is timed as build
  * (`fn(spark, dir)`) then the final noop write. A warm pass in set-up
  * builds the artifacts and checks every query's result fingerprint. */
object QuerySuite {

  /** The timed subset, fixed and seed-independent (the seed only
    * permutes each pass's order): one query of every family, with an
    * artifact consumer for the reference, vector, graph and retrieval
    * families. Left out to keep a run inside the benchmark's time budget
    * on a 4-core box: the analytics consumer a15_source_overlap (~5 s a
    * pass) and the text consumer e43b_line_dedup_artifact (~2 s); the
    * cheap dedup consumers' DuckDB oracles (recursive CTEs) do not finish
    * in useful time, so their fingerprints cannot be established. */
  val Subset: Seq[String] = Seq(
    "s11_point_lookup",         // reference (artifact consumer)
    "j9_full_outer",            // relational
    "a4_rollup",                // analytics
    "e9_explode",               // text
    "d1_exact_dedup",           // dedup
    "n12_knn_graph",            // vector (consumer)
    "g6_knn_triangles",         // graph (consumer)
    "r1_bm25_topk",             // retrieval (consumer)
    "st4b_funnel_windowed")     // events

  def family(q: String): String =
    if (ReferenceQueries.queries.contains(q)) "reference"
    else {
      val p = q.takeWhile(_.isLetter)
      p match {
        case "st" => "events"
        case "j" | "s" | "w" => "relational"
        case "a" | "x" | "m" => "analytics"
        case "c" | "e" => "text"
        case "d" => "dedup"
        case "n" => "vector"
        case "g" => "graph"
        case "r" => "retrieval"
        case _ => "reference"
      }
    }

  val Families: Seq[String] = Seq("reference", "relational", "analytics", "text", "dedup",
    "vector", "graph", "retrieval", "events")

  /** Order-insensitive result fingerprint: row count plus the wrapping
    * sum of a 64-bit hash of each row, columns taken in name order. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = order.toSeq.map { i =>
      d.schema(i).dataType match {
        case _: MapType => to_json(col(s"c$i"))
        case s: StructType if s.exists(_.dataType.isInstanceOf[MapType]) => to_json(col(s"c$i"))
        case _ => col(s"c$i")
      }
    }
    val hashed = if (cols.isEmpty) d.select(lit(0L)) else d.select(xxhash64(cols: _*))
    hashed.rdd.map(r => (1L, r.getLong(0)))
      .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  private final case class Exec(pass: Int, q: String, buildS: Double, writeS: Double,
      cpuS: Double, threadCpuS: Double, traced: Boolean, tag: String) {
    def wall: Double = buildS + writeS
  }

  def run(a: Args, spark: SparkSession, tr: Tracer, probe: Option[SparkProbe]): Outcome = {
    val dir = a.dataDir.getOrElse(sys.error("query_suite needs --data-dir")).toString
    val queries = SparkEntry.queries
    val subset = Subset
    subset.foreach(q => require(queries.contains(q), s"unknown query $q"))
    val expected = a.fingerprints.filter(Files.exists(_)).map(Fingerprints.load).getOrElse(Map.empty)
    val scaleKey = a.sf
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]

    // ---- set-up: warm pass, fingerprint-checked ---------------------------
    val got = mutable.LinkedHashMap.empty[String, (Long, Long)]
    val warmS = mutable.LinkedHashMap.empty[String, Double]
    var matched = 0
    subset.foreach { q =>
      attempted += 1
      val w0 = System.nanoTime()
      try {
        val df = queries(q)(spark, dir)
        a.dumpDir.foreach(dd => df.write.mode("overwrite").parquet(dd.resolve(q).toString))
        val fp = fingerprint(df)
        got(q) = fp
        expected.get(s"$scaleKey/$q") match {
          case Some(e) if e == fp => matched += 1
          case Some(e) =>
            failed += 1
            problems += s"$q: fingerprint $fp != recorded $e"
          case None if a.dumpDir.isEmpty =>
            failed += 1
            problems += s"$q: no recorded fingerprint at sf$scaleKey"
          case None => ()
        }
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"$q (warm pass): ${e.toString.take(300)}"
      }
      warmS(q) = (System.nanoTime() - w0) / 1e9
    }
    a.dumpDir.foreach(dd => Fingerprints.dump(dd, scaleKey, got.toMap,
      SparkEntry.oracleSql.filter { case (k, _) => subset.contains(k) }))
    val artifactsBefore = Artifacts.listing(spark).count()

    // ---- timed passes -----------------------------------------------------
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val firstOp = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    // a traced run needs two passes so each query is traced once and
    // untraced once (the overhead estimate pairs them)
    val minPasses = if (a.trace) 2 else 1
    var pass = 0
    while (pass < minPasses || System.nanoTime() < deadline) {
      val order = new scala.util.Random(a.seed * 1000003L + pass).shuffle(subset)
      var passWall = 0.0
      order.foreach { q =>
        // each query alternates traced / untraced from pass to pass
        val traced = a.trace && (subset.indexOf(q) + pass) % 2 == 0
        val tag = s"p$pass/$q"
        tr.on = traced
        tr.op = execs.length.toLong
        attempted += 1
        val c0 = Sys.processCpuS
        val j0 = Sys.javaThreadCpu()
        val tb = System.nanoTime()
        var tw = tb
        try tr.span(q, "bench") {
          probe.foreach(_.tag(if (traced) s"$tag/build" else null))
          val df = tr.span("build", "queries") { queries(q)(spark, dir) }
          tw = System.nanoTime()
          probe.foreach { p => p.tag(if (traced) s"$tag/write" else null); p.expectWrite(if (traced) tag else null) }
          tr.span("write", "ops") { df.write.format("noop").mode("overwrite").save() }
        } catch {
          case e: Exception =>
            failed += 1
            problems += s"$q (pass $pass): ${e.toString.take(300)}"
        } finally probe.foreach(_.untag())
        val te = System.nanoTime()
        execs += Exec(pass, q, (tw - tb) / 1e9, (te - tw) / 1e9, Sys.processCpuS - c0,
          Sys.javaThreadCpuSince(j0), traced, tag)
        passWall += (te - tb) / 1e9
      }
      passWalls += passWall
      pass += 1
    }
    tr.on = false
    val timedWall = (System.nanoTime() - t0) / 1e9
    val artifactsAfter = Artifacts.listing(spark).count()

    val walls = execs.map(_.wall).toSeq
    val tailP = Tail.percentile(walls.length)
    val e2e = Rounds.e2e(execs.map(e => OpTime(e.q, e.wall, e.cpuS, e.threadCpuS)).toSeq)
    val detail = Map(
      "suite_s" -> Metric(Stats.median(passWalls.toSeq), "s"),
      "query_p50_s" -> Metric(Stats.median(walls), "s"),
      "query_tail_s" -> Metric(Stats.percentile(walls, tailP), "s"),
      "queries_per_s" -> Metric(execs.length / timedWall, "1/s"))

    // ---- per-layer figures (traced run) ------------------------------------
    val layers: Map[String, Metric] = probe match {
      case None => Map.empty
      case Some(p) =>
        p.drain()
        layerMetrics(execs.toSeq, p, tr, artifactsAfter - artifactsBefore)
    }
    Outcome(attempted, failed,
      checksRun = Seq(s"fingerprints_matched:$matched/${subset.size}"),
      firstTimedOpEpochMs = firstOp, e2e = e2e, detail = detail, layers = layers,
      notes = Map(
        "passes" -> pass.toString,
        "queries" -> subset.mkString(","),
        "tail_percentile" -> f"$tailP%.1f",
        "samples" -> walls.length.toString,
        "warm_pass_s" -> warmS.map { case (q, t) => f"$q=$t%.3f" }.mkString(","),
        "problems" -> problems.take(20).mkString(" | "),
        "per_query_median_s" -> execs.groupBy(_.q).toSeq.sortBy(_._1).map { case (q, es) =>
          f"$q=${Stats.median(es.map(_.wall).toSeq)}%.4f" }.mkString(","),
        "per_query_median_cpu_s" -> execs.groupBy(_.q).toSeq.sortBy(_._1).map { case (q, es) =>
          f"$q=${Stats.median(es.map(_.threadCpuS).toSeq)}%.4f" }.mkString(",")))
  }

  private def layerMetrics(execs: Seq[Exec], p: SparkProbe, tr: Tracer,
      artifactsBuilt: Long): Map[String, Metric] = {
    // per query: median over its traced executions, then summed over the
    // subset = one pass's worth of each figure
    val traced = execs.filter(_.traced).groupBy(_.q)
    def perPass(f: Exec => Double): Double =
      Stats.sum(traced.values.map(es => Stats.median(es.map(f))))
    def st(e: Exec, ph: String) = p.stats(s"${e.tag}/$ph")
    def phases(e: Exec) = p.phases(e.tag)
    val buildS = perPass(_.buildS)
    val writeS = perPass(_.writeS)
    val analyze = perPass(e => Phases.seconds(phases(e), Phases.Analysis))
    val optimize = perPass(e => Phases.seconds(phases(e), Phases.Optimization))
    val plan = perPass(e => Phases.seconds(phases(e), Phases.Planning))
    val execS = writeS - analyze - optimize - plan
    val taskS = perPass(e => st(e, "write").taskRunMs / 1000.0)
    val cpus = Runtime.getRuntime.availableProcessors
    val schemaOnly = traced.count { case (_, es) =>
      val b = st(es.head, "build")
      b.jobs > 0 && b.jobs == b.schemaJobs
    }
    // self time per layer from the spans: the write's planner phases
    // become spark-layer children of its span, so ops self time is the
    // execution that remains
    val tracedOps = execs.zipWithIndex.filter(_._1.traced)
    val writeSpans = tr.all.filter(_.name == "write").map(s => s.op -> s).toMap
    tracedOps.foreach { case (e, i) =>
      writeSpans.get(i.toLong).foreach { ws =>
        phases(e).foreach { case (name, (s0, s1)) =>
          tr.add(name, "spark", tr.epochMsToNs(s0), tr.epochMsToNs(s1), parent = ws.id, opId = i)
        }
      }
    }
    val self = tr.selfTimes
    def selfPerPass(layer: String): Double =
      Stats.sum(tracedOps.groupBy(_._1.q).values.map(xs =>
        Stats.median(xs.map { case (_, i) => self.getOrElse((i.toLong, layer), 0.0) }.toSeq)))
    // trace overhead: each query ran traced once and untraced once per
    // pair of passes; compare the medians of the two groups per query
    val ratios = execs.groupBy(_.q).values.flatMap { es =>
      val (t, u) = es.partition(_.traced)
      if (t.nonEmpty && u.nonEmpty) Some(Stats.median(t.map(_.wall)) / Stats.median(u.map(_.wall)))
      else None
    }.toSeq
    val fam = Families.map { f =>
      s"family.${f}_s" -> Metric(
        Stats.median(execs.groupBy(_.pass).values.map(es =>
          Stats.sum(es.filter(e => family(e.q) == f).map(_.wall))).toSeq), "s")
    }
    Map(
      "queries.build_s" -> Metric(buildS, "s"),
      "queries.build_share" -> Metric(buildS / (buildS + writeS), "ratio"),
      "queries.build_jobs" -> Metric(perPass(e => st(e, "build").jobs), "count"),
      "queries.schema_jobs" -> Metric(perPass(e => st(e, "build").schemaJobs), "count"),
      "queries.schema_only_queries" -> Metric(schemaOnly, "count"),
      "spark.analyze_s" -> Metric(analyze, "s"),
      "spark.optimize_s" -> Metric(optimize, "s"),
      "spark.plan_s" -> Metric(plan, "s"),
      "ops.exec_s" -> Metric(execS, "s"),
      "ops.jobs" -> Metric(perPass(e => st(e, "write").jobs), "count"),
      "ops.stages" -> Metric(perPass(e => st(e, "write").stages), "count"),
      "ops.task_s" -> Metric(taskS, "s"),
      "ops.core_util" -> Metric(if (execS > 0) taskS / (execS * cpus) else 0.0, "ratio"),
      "ops.shuffle_read_bytes" -> Metric(perPass(e => st(e, "write").shuffleReadBytes), "bytes"),
      "ops.shuffle_write_bytes" -> Metric(perPass(e => st(e, "write").shuffleWriteBytes), "bytes"),
      "ops.spill_bytes" -> Metric(perPass(e => st(e, "write").spillBytes), "bytes"),
      "ops.peak_exec_mem_bytes" -> Metric(
        traced.values.flatten.map(e => st(e, "write").peakExecMemBytes.toDouble).maxOption.getOrElse(0.0),
        "bytes"),
      "ops.max_task_skew" -> Metric(
        traced.values.flatten.map(e => st(e, "write").maxTaskSkew).maxOption.getOrElse(0.0), "ratio"),
      "store.artifacts_built" -> Metric(artifactsBuilt.toDouble, "count"),
      "queries.self_s" -> Metric(selfPerPass("queries"), "s"),
      "spark.self_s" -> Metric(selfPerPass("spark"), "s"),
      "ops.self_s" -> Metric(selfPerPass("ops"), "s"),
      "trace.overhead_frac" -> Metric(if (ratios.isEmpty) 0.0 else Stats.median(ratios) - 1, "ratio")
    ) ++ fam
  }
}

/** Tail percentile: p90, or, once a run has 100 or more samples, the
  * highest percentile that still has at least ten samples beyond it. A
  * run of the benchmark's length yields 10–30 samples, so p90 is what the
  * result lines report; the capture records the sample count. */
object Tail {
  def percentile(n: Int): Double = if (n < 100) 90.0 else math.min(99.0, 100.0 * (n - 10) / n)
}

/** Recorded query fingerprints, keyed "<sf>/<query>" → (rows, hash). */
object Fingerprints {
  def load(p: Path): Map[String, (Long, Long)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    val out = mutable.Map.empty[String, (Long, Long)]
    node.fields().forEachRemaining { sf =>
      sf.getValue.fields().forEachRemaining { q =>
        out(s"${sf.getKey}/${q.getKey}") =
          (q.getValue.get("rows").asLong(), java.lang.Long.parseUnsignedLong(q.getValue.get("hash").asText(), 16))
      }
    }
    out.toMap
  }

  def dump(dir: Path, sf: String, fps: Map[String, (Long, Long)], oracles: Map[String, String]): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("fingerprints.json"), Json.obj(Seq(sf -> Json.obj(
      fps.toSeq.sortBy(_._1).map { case (q, (n, h)) =>
        q -> Json.obj(Seq("rows" -> n.toString, "hash" -> Json.str(java.lang.Long.toHexString(h))))
      }))) + "\n")
    Files.writeString(dir.resolve("oracle_sql.json"),
      Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }) + "\n")
  }
}
