package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join-based MERGE INTO (upsert) — the reference's workhorse operator
  * (SURVEY.md §2.4 A-MERGE; reference: customer-end-to-end-pipeline-script
  * .sql:77-114, 124-165; item-...sql:71-105, 117-151; composite-key variant
  * order-...sql:111-168).
  *
  * Plain Spark parquet tables have no MERGE, so this computes the
  * post-merge contents declaratively:
  *
  * {{{
  *   target FULL OUTER JOIN source ON keys
  *     matched        -> target row overwritten by `whenMatchedSet`
  *     source-only    -> row built from `whenNotMatchedInsert`
  *     target-only    -> target row unchanged
  * }}}
  *
  * Scale: one shuffle of each side on `keys` (Catalyst picks sort-merge;
  * AQE converts to broadcast when the source micro-batch is small — the
  * common CDC case). No driver-side materialization, no collect. The
  * rewrite is a single select over the join, so it stays inside
  * whole-stage codegen.
  *
  * Snowflake semantics notes:
  *  - a source with duplicate keys is nondeterministic in Snowflake; the
  *    reference dedups first (item-...sql:72-75). Callers should apply
  *    [[DedupLatest]] — we follow the same contract.
  *  - `whenMatchedDelete` implements WHEN MATCHED [AND cond] THEN DELETE
  *    (Snowflake semantics the reference's acceptance note names,
  *    item-...sql:220 — the reference's own MERGEs never use it).
  */
object Merge {

  /** Alias used for the target side in `whenMatched*` expressions. */
  val T = "__merge_t"
  /** Alias used for the source side in expressions. */
  val S = "__merge_s"

  /** Hidden column [[upsert]] appends when asked to label its rows:
    * `update` for matched keys a SET applies to, `insert` for source-only
    * keys, null for rows the merge carries unchanged. */
  val ActionCol = "__graft_action"

  /** Reference a target column inside whenMatchedSet. */
  def tgt(c: String): Column = col(s"$T.$c")
  /** Reference a source column inside whenMatchedSet / insert exprs. */
  def src(c: String): Column = col(s"$S.$c")

  /** General MERGE. Output schema == target schema.
    *
    * @param whenMatchedSet    per-column update expression for matched rows
    *                          (default: every non-key target column that also
    *                          exists in source is taken from the source —
    *                          the reference's "update all columns" pattern).
    * @param whenNotMatchedInsert per-column expression for source-only rows
    *                          (default: keys + shared columns from source,
    *                          null for the rest).
    * @param whenMatchedDelete matched rows where this condition holds are
    *                          DROPPED (WHEN MATCHED AND cond THEN DELETE);
    *                          remaining matched rows take the UPDATE branch.
    * @param insertFallback    per-column value for inserted rows when the
    *                          insert branch doesn't set the column (column
    *                          DEFAULT exprs / autoincrement placeholders);
    *                          without an entry the fallback stays null.
    * @param emitAction        append [[ActionCol]], the action the join
    *                          already decided for each output row — the
    *                          store's MERGE writes it into the batch files
    *                          so its change batch needs no second join.
    */
  def upsert(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      whenMatchedSet: Option[Map[String, Column]] = None,
      whenNotMatchedInsert: Option[Map[String, Column]] = None,
      whenMatchedDelete: Option[Column] = None,
      insertFallback: Map[String, Column] = Map.empty,
      emitAction: Boolean = false): DataFrame = {

    val srcCols = source.columns.toSet
    val t = target.withColumn("__t_exists", lit(true)).as(T)
    val s = source.withColumn("__s_exists", lit(true)).as(S)

    val cond = keys.map(k => tgt(k) === src(k)).reduce(_ && _)
    val joined0 = t.join(s, cond, "full_outer")

    val matched = col(s"$T.__t_exists").isNotNull && col(s"$S.__s_exists").isNotNull
    // the DELETE branch is a plain filter over the same join — no extra
    // shuffle; null-valued conditions don't delete (SQL three-valued logic)
    val joined = whenMatchedDelete match {
      case Some(d) => joined0.filter(!(matched && coalesce(d, lit(false))))
      case None => joined0
    }
    val insertOnly = col(s"$T.__t_exists").isNull

    val matchedSet: Map[String, Column] = whenMatchedSet.getOrElse {
      target.columns.filter(c => !keys.contains(c) && srcCols(c))
        .map(c => c -> src(c)).toMap
    }
    val insertSet: Map[String, Column] = whenNotMatchedInsert.getOrElse {
      target.columns.filter(srcCols).map(c => c -> src(c)).toMap
    }

    val out = target.schema.fields.map { f =>
      val c = f.name
      val keep = tgt(c)
      val onMatch = matchedSet.getOrElse(c, keep)
      val onInsert = insertSet.getOrElse(c, insertFallback.getOrElse(c, lit(null))).cast(f.dataType)
      when(matched, onMatch.cast(f.dataType))
        .when(insertOnly, onInsert)
        .otherwise(keep)
        .as(c)
    }
    val action =
      if (!emitAction) Nil
      else Seq(when(matched && lit(matchedSet.nonEmpty), lit("update"))
        .when(insertOnly, lit("insert")).as(ActionCol))
    joined.select((out.toIndexedSeq ++ action): _*)
  }
}
