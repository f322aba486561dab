package graft.store

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** TRANSPARENT micro-partition pruning: any `Filter` sitting over a
  * store read (a plain `store.read(t).filter(...)`, SQL naming a store
  * table, [[TableStore.scanWhere]], a join arm — anything that optimizes
  * to Filter-over-[[StoreFileIndex]]) is rewritten to read only the data
  * FILES whose `_graft_stats` sidecar intervals can hold matching rows.
  * This is how the reference's warehouse behaves: its monitoring scripts
  * never ask for pruning (e.g. the filtered reads at
  * reference etl_script/order-end-to-end-pipeline-script.sql:257-261) —
  * they assume the metadata service serves every filtered scan.
  *
  * Mechanics: a store read's relation serves a [[StoreFileIndex]], which
  * already holds each file's statistics from the committed manifest's
  * batch inventories. The rule compiles the filter's provable conjuncts
  * with [[StatsPruning]] and swaps in [[StoreFileIndex.prune]]'s narrowed
  * index. The `Filter` node itself is untouched — the full predicate
  * still runs on every surviving row, so results can never depend on
  * pruning; pruning soundness rests on the one [[StatsPruning]]
  * implementation (±0.0/NaN normalization, unsigned-UTF-8 string order,
  * conservative unknowns — all spec-pinned once). Parquet read outside
  * the store has no [[StoreFileIndex]] and passes through untouched.
  *
  * Scale: at 100 TB the sidecar tier prunes for the cost of metadata the
  * driver already holds, while parquet row-group pruning still costs a
  * footer GET per file. The narrowed index's `sizeInBytes` is the kept
  * bytes, so join planning sees the PRUNED size — a filtered dimension
  * that prunes under the broadcast threshold broadcasts without a hint.
  *
  * Fixpoint: [[StoreFileIndex.prune]] returns None unless the file set
  * strictly shrinks, so a second pass over a pruned relation leaves it
  * as it is. */
object SidecarPrune extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, l: LogicalRelation) =>
      prune(cond, l).map(nl => Filter(cond, nl)).getOrElse(f)
    // post-ColumnPruning shape: the filter was pushed below the project,
    // or sits above an attribute-only project over the scan
    case f @ Filter(cond, Project(list, l: LogicalRelation))
        if list.forall(_.isInstanceOf[AttributeReference]) =>
      prune(cond, l).map(nl => Filter(cond, Project(list, nl))).getOrElse(f)
  }

  private def prune(cond: Expression, l: LogicalRelation): Option[LogicalRelation] =
    StoreFileIndex.of(l).flatMap { case (hfs, idx) =>
      idx.prune(StatsPruning.compile(cond, hfs.schema)).map { kept =>
        logInfo(s"SidecarPrune(${idx.table}): kept ${kept.files.size} of ${idx.files.size} files")
        StoreFileIndex.serving(l, kept)
      }
    }
}
