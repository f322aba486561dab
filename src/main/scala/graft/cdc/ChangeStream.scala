package graft.cdc

import org.apache.spark.sql.DataFrame

import graft.store.TableStore

/** CDC stream over a store table — the reference's `CREATE STREAM ... ON
  * TABLE ...` (SURVEY.md §2.9 ST2/ST3; reference: customer-end-to-end-
  * pipeline-script.sql:48-49, item-...sql:40-41, order-...sql:66-67).
  *
  * A stream is (table, last-consumed version). `read` returns the rows
  * changed in versions past the offset, with a `__action` column
  * (insert/update) — the analogue of METADATA$ACTION. Consumption is
  * transactional the way Snowflake's is: the offset only advances when the
  * consuming body completes (SURVEY.md §7 hard parts — a failed merge must
  * not consume the stream).
  *
  * Scale: hasData short-circuits on the version counter (pure pointer
  * read); only when versions are pending does it look at the pending
  * change batches, and then only at their parquet footers' row counts,
  * read without a Spark job (a gate runs every scheduler tick). A
  * footer it cannot read falls back to a limit-1 Spark probe (isEmpty ⇒
  * take(1), not a full scan). read unions only the pending change
  * batches, never the base table.
  */
class ChangeStream(store: TableStore, val table: String, val name: String) {

  /** Current consumed-through version. */
  def offset: Long = store.readOffset(table, name)

  /** system$stream_has_data (F4): non-consuming emptiness check, answered
    * from the pending change batches' footers (see the class notes). */
  def hasData: Boolean = {
    val cur = store.currentVersion(table)
    val off = offset
    cur > off && store.changeRowCount(table, off, cur).map(_ > 0).getOrElse(!read.isEmpty)
  }

  /** Non-consuming read of pending changes (base columns + __action). */
  def read: DataFrame = store.readChanges(table, offset, store.currentVersion(table))

  /** Register the pending slice as temp view `name`, rebuilt only when
    * the offset or the table's committed version changed (the store's
    * view memo, [[TableStore.viewKey]]). */
  def registerView(): Unit =
    store.memoView(name, s"$offset\u0000${store.viewKey(table)}")(read)

  /** Consume: run `body` on the pending slice; advance the offset only if
    * it succeeds. Returns body's result. */
  def consume[A](body: DataFrame => A): A = {
    val upTo = store.currentVersion(table)
    val slice = store.readChanges(table, offset, upTo)
    val result = body(slice) // throws => offset untouched
    store.writeOffset(table, name, upTo)
    result
  }

  /** Advance without reading (used when a gate-only stream must be marked
    * consumed, e.g. the fact-rebuild gate — SURVEY.md §7 "fact-gate
    * subtlety"). */
  def markConsumed(): Unit =
    store.writeOffset(table, name, store.currentVersion(table))
}

object ChangeStream {
  /** CREATE STREAM st ON TABLE t. Multiple independent streams per table
    * are supported (each has its own offset), as in Snowflake. */
  def create(store: TableStore, table: String, name: String): ChangeStream = {
    val s = new ChangeStream(store, table, name)
    store.writeOffset(table, name, store.currentVersion(table))
    s
  }
}
