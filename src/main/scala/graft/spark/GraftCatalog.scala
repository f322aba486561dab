package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.UNRESOLVED_RELATION

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
  }

  private val attached = new java.util.WeakHashMap[SparkSession, List[java.lang.ref.WeakReference[Names]]]()

  /** Attach `names` in front of the others on its session (again: move it). */
  def attach(names: Names): Unit = attached.synchronized {
    val rest = Option(attached.get(names.spark)).getOrElse(Nil)
      .filter(r => r.get != null && !(r.get eq names))
    attached.put(names.spark, new java.lang.ref.WeakReference(names) :: rest)
  }

  /** The first attached object that knows `name`, else an artifact table
    * ([[graft.store.Artifacts.relation]]). */
  def relation(spark: SparkSession, name: String): Option[DataFrame] =
    attached.synchronized(Option(attached.get(spark)).getOrElse(Nil)).iterator
      .flatMap(r => Option(r.get)).flatMap(_.relation(name)).nextOption()
      .orElse(graft.store.Artifacts.relation(spark, name))
}

/** [[GraftCatalog]]'s analyzer rule; it runs after `ResolveRelations`. */
final case class ResolveGraftNames(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUpWithPruning(_.containsPattern(UNRESOLVED_RELATION)) {
      case u @ UnresolvedRelation(Seq(name), _, false) =>
        GraftCatalog.relation(spark, name).map(df => SubqueryAlias(name,
          df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed)).getOrElse(u)
    }
}
