package graft.spark

import org.apache.spark.sql.{GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.internal.StaticSQLConf

/** The session extension every graft session loads
  * (`.config("spark.sql.extensions", "graft.spark.GraftExtensions")`;
  * [[graft.GraftSession.sparkSession]] sets it). It has two duties.
  *
  * Catalyst injections: graft's native SQL functions (`graft_phash`,
  * `graft_dot`, …), its parser ([[GraftParser]]), its name-resolution
  * rule ([[ResolveGraftNames]]) and its optimizer rules.
  *
  * The codegen cache default: `spark.sql.codegen.cache.maxEntries` is
  * raised from Spark's 100 to [[GraftExtensions.CodegenCacheEntries]]
  * unless the SparkContext's conf already sets it. Spark keys its JVM-wide
  * cache of compiled classes on (thread context classloader, source), so
  * in local mode each stage takes two entries, one for the driver and
  * one for the executor threads. A graft pass or tick overflows 100
  * entries and then recompiles every stage on every run. `getOrCreate`
  * applies extensions after the SparkContext exists and before the
  * session's shared state copies its conf, so the value set here on the
  * context's conf reaches the session. It is a static conf: Spark's
  * `CodeGenerator` reads it once per JVM, at the first code generation,
  * so a JVM where a non-graft session generated code first keeps 100. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftColumnBridge.setConfIfMissing(
      StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, GraftExtensions.CodegenCacheEntries.toString)
    ext.injectFunction((
      new FunctionIdentifier("graft_phash"),
      new ExpressionInfo(classOf[PortableHash].getName, "graft_phash"),
      (children: Seq[Expression]) => PortableHash(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => BloomContains(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_topk_min"),
      new ExpressionInfo(classOf[TopKMinAgg].getName, "graft_topk_min"),
      (children: Seq[Expression]) => TopKMinAgg(children(0), children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[L2Squared].getName, "graft_l2sq"),
      (children: Seq[Expression]) => L2Squared(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_pbits"),
      new ExpressionInfo(classOf[ProductBits].getName, "graft_pbits"),
      (children: Seq[Expression]) => ProductBits(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_vecsum"),
      new ExpressionInfo(classOf[VecSum].getName, "graft_vecsum"),
      (children: Seq[Expression]) => VecSum(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_fence"),
      new ExpressionInfo(classOf[Fence].getName, "graft_fence"),
      (children: Seq[Expression]) => Fence(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_bpe_apply"),
      new ExpressionInfo(classOf[BpeApplyMerges].getName, "graft_bpe_apply"),
      (children: Seq[Expression]) => BpeApplyMerges(children(0), children(1))))
    // TABLE(graft_*(…)) and task_history() parse to plan nodes, and store
    // tables (at any version), streams and graft views resolve by name, in
    // any SQL
    ext.injectParser((_, parser) => new GraftParser(parser))
    ext.injectResolutionRule(ResolveGraftNames)
    // NTZ clustering keys prune through their derived day column
    ext.injectOptimizerRule(_ => NtzDayPrune)
    // passthrough-column predicates commute with a graft_fence Project
    // (the fence's non-determinism is a marker, not rand()) — restores
    // scan pruning that the fence would otherwise block suite-wide
    ext.injectOptimizerRule(_ => PushFilterThroughFence)
    // filtered store scans prune to the _graft_stats file inventory
    // transparently — scanWhere's metadata tier as default behavior
    ext.injectOptimizerRule(_ => graft.store.SidecarPrune)
    // star joins over store scans prune fact FILES from the build side's
    // distinct keys — dynamic partition pruning at sidecar granularity
    ext.injectOptimizerRule(_ => graft.store.JoinKeyPrune)
  }
}

object GraftExtensions {
  /** The codegen cache size a graft session defaults to: about nine
    * times the 231 classes a whole 20-s perfbench query_suite run
    * compiles with it. */
  val CodegenCacheEntries = 2048
}
