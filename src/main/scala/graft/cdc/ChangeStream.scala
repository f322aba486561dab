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
  * not consume the stream). SQL reads a session's stream by name
  * ([[relation]]) unless a temp view or catalog table has that name.
  *
  * A version's change rows live where its commit wrote them once
  * ([[TableStore.changeSourcesOf]]): an APPEND, UPDATE, MERGE or INSERT
  * OVERWRITE marks the rows of its own data batch; only a DELETE and a
  * MERGE's deleted rows write a `_changes` batch.
  *
  * Scale: hasData short-circuits on the version counter (pure pointer
  * read); only when versions are pending does it look at their change
  * sources, and then only at parquet footers — row counts, minus the
  * marker's null count in a marked batch — read without a Spark job (a
  * gate runs every scheduler tick). A footer it cannot read falls back
  * to a limit-1 Spark probe (isEmpty ⇒ take(1), not a full scan). read
  * scans only the pending versions' change sources, never the base
  * table's other batches.
  */
class ChangeStream(store: TableStore, val table: String, val name: String) {

  /** Current consumed-through version. */
  def offset: Long = store.readOffset(table, name)

  /** system$stream_has_data (F4): non-consuming emptiness check, answered
    * from the pending change sources' footers (see the class notes). */
  def hasData: Boolean = {
    val cur = store.currentVersion(table)
    val off = offset
    cur > off && store.changeRowCount(table, off, cur).map(_ > 0).getOrElse(!read.isEmpty)
  }

  /** Non-consuming read of pending changes (base columns + __action). */
  def read: DataFrame = store.readChanges(table, offset, store.currentVersion(table))

  private val consuming = new ThreadLocal[DataFrame]

  /** What SQL reads under the stream's name: inside [[consume]], the
    * slice being consumed; elsewhere the pending changes. */
  def relation: DataFrame = Option(consuming.get).getOrElse(read)

  /** Consume: run `body` on the pending slice; advance the offset only if
    * it succeeds. Returns body's result. */
  def consume[A](body: DataFrame => A): A = {
    val upTo = store.currentVersion(table)
    val slice = store.readChanges(table, offset, upTo)
    consuming.set(slice)
    val result = try body(slice) finally consuming.remove() // throws => offset untouched
    store.writeOffset(table, name, upTo)
    result
  }

  /** Advance without reading (used when a gate-only stream must be marked
    * consumed, e.g. the fact-rebuild gate — SURVEY.md §7 "fact-gate
    * subtlety"). */
  def markConsumed(): Unit =
    store.writeOffset(table, name, store.currentVersion(table))

  /** DROP STREAM: delete the offset, so the table's change sources are no
    * longer retained for this stream. */
  def drop(): Unit = store.dropOffset(table, name)
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
