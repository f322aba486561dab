package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column → Catalyst Expression conversion
  * (Spark 4 moved Column onto ColumnNode; `classic.ExpressionUtils` is the
  * sanctioned converter but is sql-private). Used by the table store's
  * predicate analysis ([[graft.store.TableStore]] bucket derivation) —
  * read-only inspection of user predicates, no plan mutation — and to
  * the other spark-private hooks graft uses (`Dataset.ofRows`,
  * `asNullable`, the SparkContext's own conf).
  */
object GraftColumnBridge {
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a Catalyst expression as a user-facing Column (the converter's
    * inverse, also sql-private) — lets internal write paths compose
    * native codegen'd expressions (e.g. the ZORDER interleave, whose
    * per-batch cut-point tables can't pass through a SQL-registered
    * function signature) without a UDF. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Eagerly convert the Column's node tree to a Catalyst expression
    * (the same converter the classic Dataset API applies): operators
    * come back as real `GreaterThanOrEqual`/`EqualTo`/… nodes instead
    * of the lazy ColumnNodeExpression wrapper, so predicate ANALYSIS
    * (stats pruning, bucket derivation) can pattern-match them. */
  def converted(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Materialize an analyzed logical plan as a DataFrame (the sql-private
    * `Dataset.ofRows`) — lets optimizer rules that must evaluate a small
    * sub-plan driver-side (the join-key file-pruning rule's build-side
    * distinct keys) run it through the normal execution path. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `schema` with every field nullable (the spark-private
    * `StructType.asNullable`): the schema Spark gives a file relation
    * read under a user schema, which [[graft.store.StoreFileIndex]]
    * reads match. */
  def nullable(schema: types.StructType): types.StructType = schema.asNullable

  /** Set `key` to `value` on the active SparkContext's own conf (the
    * spark-private `SparkContext.getActive` and `conf`; the public
    * `getConf` is a copy) unless it is set there already. A session
    * created after this copies the value; see
    * [[graft.spark.GraftExtensions]]. */
  def setConfIfMissing(key: String, value: String): Unit =
    org.apache.spark.SparkContext.getActive.foreach(_.conf.setIfMissing(key, value))
}
