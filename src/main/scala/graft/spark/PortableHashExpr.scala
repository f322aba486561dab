package graft.spark

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the portable polynomial hash
  * (`(h*31 + byte) mod 1e9+7`, left fold over the UTF-8 bytes — equal to
  * the per-character fold of [[graft.functions.TextAnalytics.phash]] for
  * ASCII input, which is the portable-hash contract).
  *
  * Why an Expression and not the array-HOF fold: higher-order functions
  * are interpreted (no whole-stage codegen) and re-evaluate per lambda
  * step — the HOF phash costs ~2µs/char; this compiles to a tight byte
  * loop inside the generated code (~1ns/char), a ~1000× hot-path win on
  * hash-heavy operators (dedup, fingerprinting, LSH shingling).
  *
  * Registered as SQL functions `graft_phash` (string|binary → bigint) via
  * [[GraftExtensions]] (`spark.sql.extensions=graft.spark.GraftExtensions`).
  */
object PortableHash {
  final val P = 1000000007L

  /** Static hot loop, called from generated code. */
  def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * 31L + (bytes(i) & 0xffL)) % P
      i += 1
    }
    h
  }

  def hashUtf8(s: UTF8String): Long = hashBytes(s.getBytes)
}

case class PortableHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_phash requires string or binary input, got ${other.catalogString}")
    }
  override def prettyName: String = "graft_phash"

  override protected def nullSafeEval(input: Any): Any = child.dataType match {
    case StringType => PortableHash.hashUtf8(input.asInstanceOf[UTF8String])
    case BinaryType => PortableHash.hashBytes(input.asInstanceOf[Array[Byte]])
    case other => throw new IllegalStateException(s"unsupported type $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = child.dataType match {
      case StringType => "hashUtf8"
      case _          => "hashBytes"
    }
    defineCodeGen(ctx, ev, c => s"graft.spark.PortableHash$$.MODULE$$.$fn($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): PortableHash =
    copy(child = newChild)
}

/** Session extension registering graft's native SQL functions, its
  * parser ([[GraftParser]]), its name-resolution rule
  * ([[ResolveGraftNames]]) and its optimizer rules.
  * Activate with `.config("spark.sql.extensions", "graft.spark.GraftExtensions")`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
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
