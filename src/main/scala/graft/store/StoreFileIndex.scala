package graft.store

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation,
  LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** One committed data file of a store read: its path, length and mtime
  * (the identity the index compares on) and its `_graft_stats` column
  * statistics (empty = unknown, never pruned). */
private[store] final case class StoreFile(path: String, length: Long, mtime: Long)(
    val stats: StatsPruning.FileStats)

/** The files a store read serves, taken from the committed manifest and
  * each batch's `_graft_stats` inventory ([[TableStore.readVersion]]), so
  * a read lists no directory, checks no path and infers no schema. The
  * index is value-equal on `(table, files)`: two reads of the same
  * version are the same relation to Spark's plan comparison.
  *
  * [[prune]] is the one metadata-pruning walk. [[SidecarPrune]] calls it
  * with a `Filter`'s provable conjuncts and [[JoinKeyPrune]] with a
  * join's build-side keys; both recognize a store read by this type. */
private[store] final case class StoreFileIndex(table: String, files: Seq[StoreFile])
    extends FileIndex {

  /** The files some row satisfying every test may be in; None unless
    * that drops at least one file (so optimizer iteration terminates).
    * The narrowed index's [[sizeInBytes]] is the kept bytes, so join
    * planning sees the pruned scan. */
  def prune(tests: Seq[StatsPruning.FileStats => Boolean]): Option[StoreFileIndex] =
    if (tests.isEmpty) None
    else {
      val kept = files.filter(f => tests.forall(_(f.stats)))
      if (kept.size == files.size) None else Some(copy(files = kept))
    }

  override def rootPaths: Seq[Path] = files.map(f => new Path(f.path).getParent).distinct

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.map(f => FileStatusWithMetadata(
      new FileStatus(f.length, false, 1, 0L, f.mtime, new Path(f.path))))))

  override def inputFiles: Array[String] = files.map(_.path).toArray

  override def refresh(): Unit = () // committed batches are immutable

  override def sizeInBytes: Long = files.map(_.length).sum

  override def partitionSchema: StructType = new StructType()

  override def toString: String = s"StoreFileIndex($table, ${files.size} files)"

  /** This index's files read as parquet under `schema`. */
  def read(spark: SparkSession, schema: StructType): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark, LogicalRelation(
      HadoopFsRelation(this, new StructType(),
        org.apache.spark.sql.GraftColumnBridge.nullable(schema), None,
        new ParquetFileFormat, Map.empty)(spark), isStreaming = false))
}

private[store] object StoreFileIndex {

  /** The store read `l` is, with its relation. */
  def of(l: LogicalRelation): Option[(HadoopFsRelation, StoreFileIndex)] = l.relation match {
    case hfs @ HadoopFsRelation(idx: StoreFileIndex, _, _, _, _, _) => Some((hfs, idx))
    case _ => None
  }

  /** `l`, a store read, serving `idx`'s files instead. */
  def serving(l: LogicalRelation, idx: StoreFileIndex): LogicalRelation = {
    val hfs = l.relation.asInstanceOf[HadoopFsRelation]
    l.copy(relation = hfs.copy(location = idx)(hfs.sparkSession))
  }
}
