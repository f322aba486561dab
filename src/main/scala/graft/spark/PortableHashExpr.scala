package graft.spark

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
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
