package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** TRANSPARENT micro-partition pruning — the optimizer rule that makes
  * [[TableStore.scanWhere]]'s metadata tier the engine's DEFAULT
  * behavior, not an opt-in: any `Filter` sitting over a store-table scan
  * (a plain `store.read(t).filter(...)`, SQL naming a store table, a
  * join arm — anything that optimizes to Filter-over-parquet-scan of
  * store files) is rewritten to read only the data FILES whose
  * `_graft_stats` sidecar intervals can hold matching rows. This is how
  * the reference's warehouse behaves: its monitoring scripts never ask
  * for pruning (e.g. the filtered reads at
  * reference etl_script/order-end-to-end-pipeline-script.sql:257-261) —
  * they assume the metadata service serves every filtered scan.
  *
  * Mechanics: the rule recognizes a store scan STRUCTURALLY — the
  * relation's files live under `…/<batch>/__bucket=N/part-*.parquet`
  * with a `_graft_stats` inventory beside the buckets (only the store's
  * write path produces that layout) — so it needs no handle to the
  * [[TableStore]] that wrote the table and works across sessions and
  * JVMs. It compiles the filter's provable conjuncts with the SAME
  * [[StatsPruning]] compiler `scanWhere` uses, evaluates them
  * driver-side against the sidecar intervals, and swaps the relation's
  * [[FileIndex]] for a wrapper serving only the surviving files. The
  * `Filter` node itself is untouched — the full predicate still runs on
  * every surviving row, so results can never depend on pruning; pruning
  * soundness rests on the one [[StatsPruning]] implementation (±0.0/NaN
  * normalization, unsigned-UTF-8 string order, conservative unknowns —
  * all spec-pinned once, shared by both paths).
  *
  * Scale: the win is the same as `scanWhere`'s — at 100 TB the sidecar
  * tier prunes for the cost of metadata the driver already holds, while
  * parquet row-group pruning still costs a footer GET per file. The
  * rewrite also shrinks the relation's `sizeInBytes` to the kept bytes,
  * so join planning sees the PRUNED size — a filtered dimension that
  * prunes under the broadcast threshold now broadcasts without a hint.
  * Sidecar parses are memoized per (path, mtime, length), batches being
  * immutable after commit; repeat optimizations of the same table cost
  * one `getFileStatus` per batch.
  *
  * Fixpoint: a relation whose index is already a
  * [[SidecarPrunedFileIndex]] is left untouched, so the rule is a fixed
  * point under the optimizer's iteration; when nothing prunes, the
  * original node is returned unchanged. */
object SidecarPrune extends Rule[LogicalPlan] {

  /** Escape hatch (default on): `spark.graft.sidecarPrune.enabled=false`
    * restores un-pruned filtered reads — for A/B measurement
    * ([[graft.ClusterScale]] uses it to time the true baseline) and as
    * the operational kill switch any transparent rewrite owes its
    * operators. */
  val EnabledConf = "spark.graft.sidecarPrune.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(EnabledConf, "true").toBoolean) plan
    else applyEnabled(plan)

  private def applyEnabled(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, l: LogicalRelation) =>
      prune(cond, l).map(nl => Filter(cond, nl)).getOrElse(f)
    // post-ColumnPruning shape: the filter was pushed below the project,
    // or sits above an attribute-only project over the scan
    case f @ Filter(cond, Project(list, l: LogicalRelation))
        if list.forall(_.isInstanceOf[AttributeReference]) =>
      prune(cond, l).map(nl => Filter(cond, Project(list, nl))).getOrElse(f)
  }

  private def prune(cond: Expression,
      l: LogicalRelation): Option[LogicalRelation] = l.relation match {
    case hfs: HadoopFsRelation
        if !hfs.location.isInstanceOf[SidecarPrunedFileIndex] &&
          looksLikeStoreScan(hfs) =>
      val tests = StatsPruning.compile(cond, hfs.schema)
      if (tests.isEmpty) None
      else pruneWithTests(l, hfs, tests, tag = "SidecarPrune")
    case _ => None
  }

  /** The shared sidecar file walk: evaluate compiled keep tests against
    * every file the relation's index serves and, when anything prunes,
    * swap in a [[SidecarPrunedFileIndex]] over the survivors. Also the
    * back half of [[JoinKeyPrune]] (which compiles its tests from a
    * JOIN's build side rather than a literal filter) — one soundness
    * surface, one sidecar parse memo. Wrapping an ALREADY-pruned index
    * is allowed (the keep sets intersect through delegation); `None`
    * unless the served file set strictly shrinks, so optimizer
    * iteration terminates. */
  private[store] def pruneWithTests(l: LogicalRelation, hfs: HadoopFsRelation,
      tests: Seq[StatsPruning.FileStats => Boolean],
      tag: String): Option[LogicalRelation] = {
    val dirs = hfs.location.listFiles(Nil, Nil)
    val hconf = hfs.sparkSession.sessionState.newHadoopConf()
    var total, prunedN = 0
    var keptBytes = 0L
    val keep = Set.newBuilder[String]
    dirs.foreach(_.files.foreach { st =>
      total += 1
      val p = st.getPath
      val batchDir = p.getParent.getParent
      val rel = s"${p.getParent.getName}/${p.getName}"
      val stats = sidecarFor(batchDir, hconf)
      // absent sidecar (legacy batch) or absent file entry → keep
      val mayMatch = stats.get(rel) match {
        case Some(colStats) => tests.forall(t => t(colStats))
        case None => true
      }
      if (mayMatch) { keep += p.toUri.getPath; keptBytes += st.getLen }
      else prunedN += 1
    })
    if (prunedN == 0) None
    else {
      logInfo(s"$tag: pruned $prunedN of $total files " +
        s"under ${hfs.location.rootPaths.headOption.getOrElse("?")}")
      val idx = new SidecarPrunedFileIndex(hfs.location, keep.result(),
        keptBytes)
      Some(l.copy(relation = hfs.copy(location = idx)(hfs.sparkSession)))
    }
  }

  /** Structural store-layout check on driver-held metadata only: every
    * root path of a store scan is either a `__bucket=N` directory
    * (plain [[TableStore.read]] passes the manifest's bucket dirs) or a
    * data file inside one ([[TableStore.scanWhere]] passes exact file
    * lists). Anything else — directory reads, external parquet,
    * testdata — bails here before any fs round-trip. */
  private[store] def looksLikeStoreScan(hfs: HadoopFsRelation): Boolean = {
    val roots = hfs.location.rootPaths
    roots.nonEmpty && roots.forall { p =>
      val parent = p.getParent
      p.getName.startsWith("__bucket=") ||
        (parent != null && parent.getName.startsWith("__bucket="))
    }
  }

  // sidecar parse memo — batches are immutable after commit, so the
  // (path, mtime, length) key only ever changes when a spec (or an
  // out-of-band writer) rewrites the file in place, which then
  // re-parses. Bounded as a size-capped LRU: under sustained load cold
  // entries evict one at a time instead of dumping the whole cache
  // (a full clear() caused periodic re-parse storms of every HOT
  // sidecar on the next optimization pass).
  private val MemoCap = 4096
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long),
        Map[String, StatsPruning.FileStats]](64, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long),
            Map[String, StatsPruning.FileStats]]): Boolean = size() > MemoCap
    })

  private def sidecarFor(batchDir: Path,
      hconf: org.apache.hadoop.conf.Configuration)
      : Map[String, StatsPruning.FileStats] =
    try {
      val fs = batchDir.getFileSystem(hconf)
      val p = new Path(batchDir, "_graft_stats")
      val st = fs.getFileStatus(p) // throws FNF → legacy, keep all
      val key = (p.toString, st.getModificationTime, st.getLen)
      val hit = memo.get(key)
      if (hit != null) hit
      else {
        // headerless legacy sidecars are STATS-ONLY by contract
        // ([[TableStore.Sidecar]]); this consumer takes its inventory
        // from the FileIndex listing and treats absent entries as keep,
        // so using .files directly is already the stats-only behavior
        val parsed = TableStore.readStatsSidecar(fs, batchDir).files
        memo.put(key, parsed)
        parsed
      }
    } catch { case _: java.io.IOException => Map.empty }
}

/** A [[FileIndex]] serving the subset of `underlying`'s files that
  * [[SidecarPrune]] kept. Purely a filter — listing, partition schema,
  * and refresh delegate; `sizeInBytes` reports the KEPT bytes so join
  * planning (broadcast thresholds, AQE) sees the pruned scan size.
  * `keep` holds URI PATH components only (`Path.toUri.getPath`) — the
  * one spelling `FileStatus.getPath.toString` (`file:/…`) and
  * `inputFiles` (`file:///…`) agree on. */
private[store] final class SidecarPrunedFileIndex(
    val underlying: FileIndex, val keep: Set[String],
    keptBytes: Long) extends FileIndex {

  override def rootPaths: Seq[Path] = underlying.rootPaths

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    underlying.listFiles(partitionFilters, dataFilters)
      .map(pd => pd.copy(files = pd.files.filter(f =>
        keep.contains(f.getPath.toUri.getPath))))
      .filter(_.files.nonEmpty)

  override def inputFiles: Array[String] =
    underlying.inputFiles.filter(s => keep.contains(new Path(s).toUri.getPath))

  override def refresh(): Unit = underlying.refresh()

  override def sizeInBytes: Long = keptBytes

  override def partitionSchema: StructType = underlying.partitionSchema

  override def metadataOpsTimeNs: Option[Long] = underlying.metadataOpsTimeNs

  override def equals(other: Any): Boolean = other match {
    case o: SidecarPrunedFileIndex =>
      underlying == o.underlying && keep == o.keep
    case _ => false
  }

  override def hashCode(): Int = keep.hashCode()
}
