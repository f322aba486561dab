package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Metric names and units declared in BENCHMARK.json, and which per-layer
  * metrics each workload owns (layers.json: "query_suite", "etl_ticks" or
  * "both"; a `<table>` in a name stands for any table). */
final case class Spec(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)],
    owners: Seq[(scala.util.matching.Regex, String)]) {
  def owns(workload: String, metric: String): Boolean =
    owners.exists { case (re, w) => (w == workload || w == "both") && re.matches(metric) }
}

object Spec {
  def load(bench: Path, layers: Path): Spec = {
    val node = new ObjectMapper().readTree(bench.toFile)
    def list(k: String): Seq[(String, String)] =
      node.get(k).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    val owners = new ObjectMapper().readTree(layers.toFile).get("per_layer").fields().asScala.map { f =>
      val re = f.getKey.split("<table>", -1).map(java.util.regex.Pattern.quote).mkString("[a-z_]+").r
      re -> f.getValue.get("workload").asText()
    }.toSeq
    Spec(list("end_to_end"), list("per_layer"), owners)
  }
}

/** Benchmark entry point (launched by perfbench/run.py).
  *
  * Runs one workload closed-loop from one driver thread, then writes the
  * result line (`correct`, `attempted`, `failed`, `metrics`) to
  * --result-file. With --trace 0 the metrics are the end-to-end set; with
  * --trace 1 the per-layer set of a traced run. A capture with every
  * figure, the loadavg bracket and the run's notes is written next to it
  * under a name that carries workload, seed, cores, scale and time, so
  * captures never overwrite one another. */
object Main {
  val Workloads: Seq[String] = Seq("query_suite", "etl_ticks", "point_ops")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    Files.createDirectories(a.workDir)
    val loadBefore = Sys.loadAvg
    Sys.watchOldGen()
    val spark = Session.create(a)
    val sessionS = (System.currentTimeMillis() - a.t0EpochMs) / 1000.0
    val tr = new Tracer
    val probe = if (a.trace) Some(new SparkProbe(spark)) else None
    val out = a.workload match {
      case "query_suite" => QuerySuite.run(a, spark, tr, probe)
      case "etl_ticks" => EtlTicks.run(a, spark, tr, probe)
      case "point_ops" => PointOps.run(a, spark, tr, probe)
    }
    val heap = Sys.oldGenPeakAfterGc().toDouble
    val loadAfter = Sys.loadAvg
    val setupS = (out.firstTimedOpEpochMs - a.t0EpochMs) / 1000.0
    val e2eAll = out.e2e ++ Map(
      "setup_s" -> Metric(setupS, "s"),
      "heap_peak_bytes" -> Metric(heap, "bytes"))
    val layersAll = out.layers ++ Map("heap.old_gen_after_gc_bytes" -> Metric(heap, "bytes"))
    // the result line carries exactly the metrics BENCHMARK.json names. A
    // per-layer metric of a layer only the other workload exercises reads
    // 0; a metric this workload should produce but did not reads null and
    // fails the run
    val spec = Spec.load(a.spec, a.layers)
    val (names, got) = if (a.trace) (spec.perLayer, layersAll) else (spec.endToEnd, e2eAll)
    val notEmitted = names.map(_._1).filter(n =>
      !got.contains(n) && (!a.trace || spec.owns(a.workload, n)))
    val reported = names.map { case (n, u) =>
      n -> got.getOrElse(n, Metric(if (notEmitted.contains(n)) Double.NaN else 0.0, u)) }.toMap
    val failed = out.failed + notEmitted.size
    val correct = failed == 0
    val result = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.metrics(reported)))

    // the capture first, so a failed check below keeps its payload
    val cpus = a.cpus
    val sf = a.sf
    val stamp = s"${System.currentTimeMillis()}-${ProcessHandle.current().pid()}"
    val capDir = a.workDir.getParent.resolve("captures")
    Files.createDirectories(capDir)
    val capName = s"${a.workload}-sf$sf-c$cpus-s${a.seed}-t${if (a.trace) 1 else 0}-$stamp"
    val contended = math.max(loadBefore, loadAfter) > cpus
    Files.writeString(capDir.resolve(s"$capName.json"), Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "cpus" -> cpus.toString,
      "sf" -> Json.str(sf), "seconds" -> Json.num(a.seconds), "trace" -> a.trace.toString,
      "loadavg_before" -> Json.num(loadBefore), "loadavg_after" -> Json.num(loadAfter),
      "contended" -> contended.toString,
      "correct" -> correct.toString, "attempted" -> out.attempted.toString,
      "failed" -> failed.toString,
      "failed_frac" -> Json.num(failed.toDouble / math.max(1L, out.attempted)),
      "not_emitted" -> notEmitted.map(Json.str).mkString("[", ", ", "]"),
      "checks" -> out.checksRun.map(Json.str).mkString("[", ", ", "]"),
      "end_to_end" -> Json.metrics(e2eAll),
      "detail" -> Json.metrics(out.detail),
      "per_layer" -> Json.metrics(layersAll),
      "notes" -> Json.obj((out.notes + ("session_s" -> f"$sessionS%.3f")).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))) + "\n")
    if (a.trace) tr.write(capDir.resolve(s"$capName.spans.jsonl"))
    Files.writeString(a.resultFile, result + "\n")
    println(s"capture: ${capDir.resolve(s"$capName.json")}")
    println(s"detail: ${Json.metrics(out.detail + ("failed_frac" ->
      Metric(failed.toDouble / math.max(1L, out.attempted), "ratio")) ++ e2eAll)}")
    println(f"loadavg: before=$loadBefore%.2f after=$loadAfter%.2f cpus=$cpus" +
      (if (contended) " CONTENDED (loadavg above core count)" else ""))
    println(s"checks: ${out.checksRun.mkString(", ")}")
    out.notes.get("problems").filter(_.nonEmpty).foreach(p => println(s"problems: $p"))
    if (notEmitted.nonEmpty) println(s"not emitted: ${notEmitted.mkString(", ")}")
    spark.stop()
  }
}
