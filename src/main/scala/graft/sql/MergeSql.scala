package graft.sql

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction,
  LogicalPlan, MergeIntoTable, SubqueryAlias, UnresolvedWith, UpdateAction}
import org.apache.spark.sql.functions.{col, expr}

import graft.ops.Merge
import graft.spark.GraftCatalog
import graft.store.TableStore

/** SQL surface for the reference's MERGE INTO dialect (SURVEY.md §7
  * optional stretch; reference: customer-end-to-end-pipeline-script
  * .sql:77-114 etc.) so reference-shaped statements run verbatim against
  * a [[TableStore]]:
  *
  * {{{
  *   MERGE INTO raw_item AS t USING stg_item_stream AS s
  *   ON t.item_id = s.item_id [AND t.k2 = s.k2 ...]
  *   WHEN MATCHED [AND cond] THEN DELETE
  *   WHEN MATCHED THEN UPDATE SET t.c = <expr>, ...
  *   WHEN NOT MATCHED THEN INSERT (c1, c2, ...) VALUES (<expr>, ...)
  * }}}
  *
  * The statement is read by Spark's own parser (the session's
  * `sqlParser`), and graft reads the `MergeIntoTable` plan it returns.
  * Two Snowflake-only steps run first, on the [[SqlScanner]] tokens:
  *  - a `USING (subquery)` source is cut out as text (it may use QUALIFY,
  *    which Spark does not parse) and replaced by a placeholder name;
  *  - the WHEN clauses are regrouped stably, MATCHED before NOT MATCHED:
  *    Spark's grammar requires that order, Snowflake takes any, and the
  *    two groups act on disjoint rows, so the meaning is unchanged.
  *
  * The ON clause must be a conjunction of equalities that join the same
  * column on both sides (the only shape the reference uses — its
  * composite-key merge is four AND'ed equalities). SET, VALUES and DELETE
  * conditions are the parsed Catalyst expressions, with the target and
  * source qualifiers (an alias, else the table name's last segment)
  * rewritten to the merge-internal aliases, so any Spark SQL scalar
  * expression works. A conditional UPDATE, `UPDATE SET *`, `INSERT *`, a
  * conditional INSERT and `NOT MATCHED BY SOURCE` are rejected with
  * `IllegalArgumentException`, as is text Spark cannot parse.
  *
  * Execution delegates to [[Merge.upsert]] (full-outer join rewrite) and
  * the store's bucket-pruned atomic commit ([[TableStore.merge]] handles
  * storage when the target is a store table).
  */
object MergeSql {

  final case class ParsedMerge(
      target: String, source: String,
      keys: Seq[String],
      matchedSet: Map[String, Column],          // empty: matched rows keep their values
      insert: Option[Map[String, Column]],      // None: no WHEN NOT MATCHED
      matchedDelete: Option[Column] = None,     // lit(true) when bare
      sourceQuery: Option[String] = None)       // USING (subquery) text

  /** Placeholder source name substituted for a `USING (subquery)`. */
  val SubquerySource = "__merge_subquery_src"

  /** Parse with the session's SQL parser; text it rejects is an
    * `IllegalArgumentException`, like every other unsupported shape. */
  private[sql] def parsePlan(sql: String): LogicalPlan =
    try SparkSession.active.sessionState.sqlParser.parsePlan(sql)
    catch { case e: ParseException => throw new IllegalArgumentException(e.getMessage, e) }

  /** Flat name of a parsed table reference, and its qualifier in
    * expressions (the alias, else the name's last segment). */
  private[sql] def tableRef(plan: LogicalPlan): (String, String) = plan match {
    case a @ SubqueryAlias(_, r: UnresolvedRelation) => (r.multipartIdentifier.mkString("."), a.alias)
    case r: UnresolvedRelation => (r.multipartIdentifier.mkString("."), r.multipartIdentifier.last)
    case other => throw new IllegalArgumentException(s"expected a table name, got:\n$other")
  }

  def parse(sql: String): ParsedMerge = {
    val (text, subquery) = extractUsingSubquery(sql.trim.stripSuffix(";"))
    val m = parsePlan(regroupWhenClauses(text)) match {
      case m: MergeIntoTable => m
      case _ => throw new IllegalArgumentException(s"not a MERGE statement:\n$sql")
    }
    val (target, tAlias) = tableRef(m.targetTable)
    val (source, sAlias) = tableRef(m.sourceTable)
    def column(a: UnresolvedAttribute): String = a.nameParts match {
      case Seq(q, c) if q.equalsIgnoreCase(tAlias) || q.equalsIgnoreCase(sAlias) => c
      case parts => parts.mkString(".")
    }
    def value(e: Expression): Column = GraftColumnBridge.column(e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length > 1 =>
        val q = a.nameParts.head
        if (q.equalsIgnoreCase(tAlias)) UnresolvedAttribute(Merge.T +: a.nameParts.tail)
        else if (q.equalsIgnoreCase(sAlias)) UnresolvedAttribute(Merge.S +: a.nameParts.tail)
        else a
    })
    def assignments(as: Seq[Assignment]): Map[String, Column] = as.map {
      case Assignment(k: UnresolvedAttribute, v) => column(k) -> value(v)
      case other => throw new IllegalArgumentException(s"bad assignment: $other")
    }.toMap
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
        require(column(l) == column(r),
          s"ON equality must join the same column name on both sides, got ${l.name} = ${r.name}")
        column(l)
      case other => throw new IllegalArgumentException(s"ON clause must be equalities: $other")
    }
    val deletes = m.matchedActions.collect { case DeleteAction(c) => c.getOrElse(Literal.TrueLiteral) }
    val updates = m.matchedActions.collect { case UpdateAction(None, as, false) => as }
    val inserts = m.notMatchedActions.collect { case InsertAction(None, as) => as }
    require(deletes.length <= 1 && deletes.length + updates.length == m.matchedActions.length &&
      inserts.length == m.notMatchedActions.length && inserts.length <= 1 &&
      m.notMatchedBySourceActions.isEmpty,
      "unsupported MERGE shape: graft takes one WHEN MATCHED [AND cond] THEN DELETE, one " +
        "unconditional UPDATE SET list and one unconditional INSERT (cols) VALUES, and no " +
        s"NOT MATCHED BY SOURCE:\n$sql")
    ParsedMerge(target, source, keys,
      updates.headOption.map(assignments).getOrElse(Map.empty), inserts.headOption.map(assignments),
      deletes.headOption.map(value), subquery)
  }

  /** Replace `USING ( … )` with the placeholder source name; returns the
    * rewritten sql and the extracted subquery text. */
  private def extractUsingSubquery(sql: String): (String, Option[String]) = {
    val toks = SqlScanner.tokens(sql)
    def opensParen(i: Int) = toks.lift(SqlScanner.next(toks, i)).exists(_.is('('))
    toks.indices.find(i => toks(i).depth == 0 && toks(i).is("using") && opensParen(i)) match {
      case None => (sql, None)
      case Some(i) =>
        val open = SqlScanner.next(toks, i)
        val close = SqlScanner.closing(toks, open)
        require(close >= 0, s"unbalanced parens in USING subquery:\n$sql")
        (sql.substring(0, toks(open).start) + s" $SubquerySource " + sql.substring(toks(close).end),
          Some(sql.substring(toks(open).end, toks(close).start).trim))
    }
  }

  /** Reorder the WHEN clauses MATCHED, NOT MATCHED [BY TARGET], NOT
    * MATCHED BY SOURCE, keeping their order within each group. A clause
    * starts at a top-level `WHEN [NOT] MATCHED` outside any CASE. */
  private def regroupWhenClauses(sql: String): String = {
    val toks = SqlScanner.tokens(sql).filter(t => t.kind == SqlScanner.Word && t.depth == 0)
    def word(i: Int) = toks.lift(i).map(_.text.toLowerCase).getOrElse("")
    var caseDepth = 0
    val starts = toks.indices.flatMap { i =>
      if (toks(i).is("case")) caseDepth += 1
      if (toks(i).is("end")) caseDepth -= 1
      if (caseDepth != 0 || !toks(i).is("when")) None
      else (word(i + 1), word(i + 2), word(i + 3), word(i + 4)) match {
        case ("matched", _, _, _) => Some(toks(i).start -> 0)
        case ("not", "matched", "by", "source") => Some(toks(i).start -> 2)
        case ("not", "matched", _, _) => Some(toks(i).start -> 1)
        case _ => None
      }
    }
    if (starts.isEmpty) sql
    else {
      val bounds = starts.map(_._1) :+ sql.length
      val clauses = starts.indices.map(k => starts(k)._2 -> sql.substring(bounds(k), bounds(k + 1)).trim)
      sql.substring(0, bounds.head) + clauses.sortBy(_._1).map(_._2).mkString("\n")
    }
  }

  /** Every table or view a query reads, including those read by its
    * subquery expressions and CTE definitions (QUALIFY is rewritten
    * first, so any query [[GraftSql]] runs can be read). */
  private[sql] def relations(query: String): Seq[String] = {
    def of(plan: LogicalPlan): Seq[String] = plan.collectWithSubqueries {
      case r: UnresolvedRelation => Seq(r.multipartIdentifier.mkString("."))
      case w: UnresolvedWith => w.cteRelations.flatMap(c => of(c._2))
    }.flatten
    of(parsePlan(GraftSql.rewriteQualify(query)(identity)))
  }

  /** Execute against DataFrames (target/source resolved by caller).
    * Returns the post-merge target contents. Snowflake branch semantics:
    * a missing WHEN MATCHED leaves matched target rows unchanged; a
    * missing WHEN NOT MATCHED drops source-only rows. */
  def execute(target: DataFrame, source: DataFrame, pm: ParsedMerge,
      insertFallback: Map[String, Column] = Map.empty): DataFrame =
    Merge.upsert(target, insertable(pm, source, target), pm.keys, Some(pm.matchedSet), pm.insert,
      pm.matchedDelete, insertFallback)

  /** Without a WHEN NOT MATCHED branch, source-only rows are dropped up
    * front (they never reach the merge; the target scan is pruned to the
    * key columns). */
  private def insertable(pm: ParsedMerge, source: DataFrame, target: DataFrame): DataFrame =
    if (pm.insert.isDefined) source
    else source.join(target.select(pm.keys.map(col): _*).distinct(), pm.keys, "left_semi")

  /** Execute a MERGE INTO statement against store tables: target must be
    * a store table; source is any name or query Spark SQL resolves, the
    * store's own tables included ([[graft.spark.GraftCatalog]]). Commits
    * atomically.
    *
    * When the ON keys are exactly the target's declared bucket keys (the
    * reference's invariant — every MERGE joins on the table's key), the
    * statement routes through [[TableStore.merge]]: only the hash buckets
    * containing source keys are rewritten, untouched buckets carry over at
    * manifest level (O(tableSize·k/B) IO, not a full rewrite — this is what
    * keeps SQL MERGE viable at 100 TB). Falls back to full
    * compute-and-overwrite only when the ON keys differ from the declared
    * keys (a shape the reference never produces). */
  def run(spark: SparkSession, store: TableStore, sql: String): Unit = {
    val pm = parse(sql)
    GraftCatalog.attach(store)
    runWith(spark, store, pm, pm.sourceQuery.map(spark.sql).getOrElse(spark.table(pm.source)))
  }

  /** As [[run]] but with a caller-resolved source (the stream-consume
    * path, where the source is the stream's pending-changes slice). */
  def runWith(spark: SparkSession, store: TableStore, pm: ParsedMerge,
      source: DataFrame): Unit = {
    val storeKeys = if (store.exists(pm.target)) store.keysOf(pm.target) else Nil
    if (storeKeys.nonEmpty && storeKeys.toSet == pm.keys.toSet) {
      store.merge(pm.target, insertable(pm, source, store.read(pm.target)), Some(pm.matchedSet),
        pm.insert, alignSource = false, whenMatchedDelete = pm.matchedDelete)
    } else {
      // keyless target: full compute-and-overwrite; column DEFAULTs still
      // apply to the insert branch (autoinc is filled by the store write)
      val defaults = store.defaultsOf(pm.target).map { case (c, e) => c -> expr(e) }
      val merged = execute(store.read(pm.target), source, pm, defaults)
      store.overwrite(pm.target, merged)
    }
  }
}
