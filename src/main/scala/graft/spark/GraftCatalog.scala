package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedFunction, UnresolvedLeafNode,
  UnresolvedRelation, UnresolvedTableOrView, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{DescribeRelation, LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{COMMAND, RELATION_TIME_TRAVEL, TreePattern,
  UNRESOLVED_RELATION, UNRESOLVED_TABLE_VALUED_FUNCTION, UNRESOLVED_WITH}
import org.apache.spark.sql.execution.command.DescribeQueryCommand

/** The names graft adds to Spark SQL: store tables, streams and graft
  * views. Each [[graft.store.TableStore]] and [[graft.GraftSession]]
  * attaches itself, held weakly, to its `SparkSession`, and
  * [[ResolveGraftNames]] asks the attached objects, latest first, for a
  * name that is neither a temp view nor a Spark catalog table. There is
  * no snapshot memo: a statement reads only the names it uses, at the
  * versions committed when it is analyzed. */
object GraftCatalog {

  trait Names {
    def spark: SparkSession
    /** What `name` denotes now (matched case-insensitively), if known. */
    def relation(name: String): Option[DataFrame]
    /** The table store behind these names. */
    def store: graft.store.TableStore
  }

  private val attached = new java.util.WeakHashMap[SparkSession, List[java.lang.ref.WeakReference[Names]]]()

  /** Attach `names` in front of the others on its session (again: move it). */
  def attach(names: Names): Unit = attached.synchronized {
    val rest = Option(attached.get(names.spark)).getOrElse(Nil)
      .filter(r => r.get != null && !(r.get eq names))
    attached.put(names.spark, new java.lang.ref.WeakReference(names) :: rest)
  }

  /** The objects attached to `spark`, latest first. */
  def attachedTo(spark: SparkSession): Iterator[Names] =
    attached.synchronized(Option(attached.get(spark)).getOrElse(Nil)).iterator.flatMap(r => Option(r.get))

  /** The first attached object that knows `name`, else an artifact table
    * ([[graft.store.Artifacts.relation]]). */
  def relation(spark: SparkSession, name: String): Option[DataFrame] =
    attachedTo(spark).flatMap(_.relation(name)).nextOption()
      .orElse(graft.store.Artifacts.relation(spark, name))

  private[spark] def plan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed
}

/** A `TABLE(graft_*(…))` call as parsed: the function name (lowercase)
  * and its argument expressions, table names as `UnresolvedAttribute`s
  * and constants as `Literal`s. [[ResolveGraftNames]] evaluates it. */
final case class GraftTableCall(fn: String, args: Seq[Expression]) extends UnresolvedLeafNode {
  final override val nodePatterns: Seq[TreePattern] = Seq(UNRESOLVED_TABLE_VALUED_FUNCTION)
}

/** Spark's parser, with the two table functions Spark cannot resolve
  * replaced in every plan it returns (subqueries and CTE bodies
  * included): `TABLE(graft_*(…))` becomes a [[GraftTableCall]], and the
  * reference's `table(information_schema.task_history())` becomes the run
  * log's name. Statements, view bodies and MERGE sources all parse here,
  * so each of them reads the same dialect. Plans without a table-valued
  * function come back as parsed. */
final class GraftParser(delegate: ParserInterface) extends ParserInterface {
  private def graftCalls(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsAnyPattern(UNRESOLVED_TABLE_VALUED_FUNCTION, UNRESOLVED_WITH)) plan
    else plan.transformUpWithSubqueries {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, q, d) =>
          (n, graftCalls(q).asInstanceOf[SubqueryAlias], d) })
      case tvf @ UnresolvedTableValuedFunction(Seq(t), Seq(f: UnresolvedFunction), false)
          if t.equalsIgnoreCase("table") => f.nameParts.map(_.toLowerCase) match {
        case Seq(fn) if fn.startsWith("graft_") => GraftTableCall(fn, f.arguments)
        case Seq("information_schema", "task_history") if f.arguments.isEmpty =>
          UnresolvedRelation(Seq("task_history"))
        case _ => tvf
      }
    }

  override def parsePlan(sqlText: String): LogicalPlan = graftCalls(delegate.parsePlan(sqlText))
  override def parsePlanWithParameters(sqlText: String, ctx: ParameterContext): LogicalPlan =
    graftCalls(delegate.parsePlanWithParameters(sqlText, ctx))
  override def parseQuery(sqlText: String): LogicalPlan = graftCalls(delegate.parseQuery(sqlText))
  override def parseExpression(sqlText: String) = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) = delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) = delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) = delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String) = delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String) = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) = delegate.parseDataType(sqlText)
}

/** [[GraftCatalog]]'s analyzer rule; it runs after `ResolveRelations`:
  *  - a single-part name → what the first attached object says it is now;
  *  - `name VERSION AS OF v` over a store table → that table at version
  *    v (the time-travel node holds its relation as a field, not a
  *    child, so it is matched whole);
  *  - a [[GraftTableCall]] → the operator's plan
  *    ([[graft.sql.TableFunctions]]), evaluated at each analysis, so a
  *    view over a call sees later commits;
  *  - `DESCRIBE name` of a graft name → the schema of what it denotes. */
final case class ResolveGraftNames(spark: SparkSession) extends Rule[LogicalPlan] {
  private def alias(name: String)(df: DataFrame) = SubqueryAlias(name, GraftCatalog.plan(df))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUpWithPruning(
      _.containsAnyPattern(UNRESOLVED_RELATION, RELATION_TIME_TRAVEL, UNRESOLVED_TABLE_VALUED_FUNCTION,
        COMMAND)) {
      case u @ UnresolvedRelation(Seq(name), _, false) =>
        GraftCatalog.relation(spark, name).map(alias(name)).getOrElse(u)
      case t @ RelationTimeTravel(UnresolvedRelation(Seq(name), _, false), None, Some(v)) =>
        v.toLongOption.flatMap(n => GraftCatalog.attachedTo(spark)
          .flatMap(_.store.relationAt(name, Some(n))).nextOption()).map(alias(name)).getOrElse(t)
      case GraftTableCall(fn, args) =>
        alias(fn)(graft.sql.TableFunctions.eval(spark, fn, args))
      case d @ DescribeRelation(UnresolvedTableOrView(Seq(name), _, _), _, _, _) =>
        GraftCatalog.relation(spark, name).map(df => DescribeQueryCommand(name, GraftCatalog.plan(df)))
          .getOrElse(d)
    }
}
