package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}

import graft.ops.Merge
import graft.spark.GraftCatalog

/** Versioned, hash-bucketed parquet table store — the mutable-table
  * substrate the reference gets from Snowflake (SURVEY.md §7 hard parts:
  * update-in-place / truncate on immutable storage, stream-consumption
  * transactionality). SQL reads a table by name at its committed version
  * unless a temp view or catalog table has that name ([[GraftCatalog]]).
  *
  * Layout per table (all paths via Hadoop FileSystem, so the same code
  * runs on file://, hdfs:// or s3a://):
  * {{{
  *   <root>/<table>/_schema.json                   table schema
  *   <root>/<table>/data/b<version>/__bucket=N/    parquet data, hash-bucketed on the
  *                                                 table's merge keys (or round-robin)
  *   <root>/<table>/data/b<version>/_graft_stats   the batch's file inventory and per-file
  *                                                 stats: what a read serves ([[StoreFileIndex]])
  *   <root>/<table>/_versions/v<version>           manifest: one "bucket\tpath" per line, plus
  *                                                 the load ledger ([[loadedFiles]])
  *   <root>/<table>/_latest                        pointer file, atomically replaced
  *   <root>/<table>/_changes/c_<token>/            CDC batch (rows + __action) of a version
  *                                                 whose change rows are not in its data
  *                                                 batch: UPDATE, DELETE, MERGE's deleted
  *                                                 rows (legacy: _changes/v<version>)
  *   <root>/<table>/_streams/<name>.offset         per-stream consumed version
  * }}}
  *
  * Scale design:
  *  - APPEND writes only the new batch and a new manifest — no data copy.
  *  - an APPEND, MERGE or INSERT OVERWRITE writes its rows once: the batch
  *    files carry each row's action (`__graft_action`, null on carried rows)
  *    and the manifest names the batch as the version's change source
  *    ([[changeSourcesOf]]), so no `_changes` copy is written for them.
  *  - MERGE rewrites only the hash buckets the source batch touches;
  *    untouched buckets carry over at manifest level. With B buckets and a
  *    source hitting k of them, a merge costs O(tableSize · k/B) IO instead
  *    of a full rewrite — the same partition-pruning idea a cluster-scale
  *    engine uses (Delta/Iceberg file pruning, Snowflake micro-partitions).
  *  - the commit point is an OPTIMISTIC CROSS-JVM protocol on the versioned
  *    manifest (Delta/Iceberg-style): the writer creates
  *    `_versions/v<base+1>` with create-if-absent, a `#commit <token>`
  *    header and an `#end <token>` trailer, then re-reads the file —
  *    winning iff its own token survives verbatim. Exactly one writer can
  *    own a version: create-if-absent is atomic on HDFS (and a conditional
  *    PUT on object stores); on local FS the read-back verification closes
  *    the check-then-create window. A loser REBASES — re-reads the new
  *    current version and recomputes (appends reuse their already-written
  *    batch; merges/updates recompute against the winner's output, i.e.
  *    serializable last-writer-rebases) — so two JVMs appending to the same
  *    table both land and neither batch is silently orphaned. Batch dirs
  *    and change batches carry a per-attempt random token in their names,
  *    so concurrent attempts never collide on data paths either.
  *  - `_latest` remains as a monotone CACHE of the committed version (two
  *    winners can race its swap out of order); [[currentVersion]] probes
  *    forward from it through committed manifests, so a stale or regressed
  *    pointer only ever costs an extra metadata read, never correctness.
  *    A writer that dies mid-commit leaves an UNCOMMITTED manifest (no
  *    verified trailer); waiters break it after
  *    `spark.graft.store.commitTimeoutMs` (default 60 s) of mtime quiet —
  *    the same freshness-gated staleness rule the artifact store uses.
  *    Failed jobs leave orphan batch dirs, never a corrupt table.
  *  - readers of version N are unaffected by concurrent commits (MVCC-ish:
  *    old files are never mutated).
  */
class TableStore private (val spark: SparkSession, val root: String, val numBuckets: Int,
    val compression: String, val parquetBlockSize: Long, attach: Boolean)
    extends GraftCatalog.Names {

  def this(spark: SparkSession, root: String, numBuckets: Int = 16,
      compression: String = "zstd",
      // parquet row-group size: the pruning granularity for CLUSTER BY
      // tables (smaller groups = tighter min/max spans = more skipping,
      // at more footer overhead). Default = parquet's 128 MiB.
      parquetBlockSize: Long = 128L * 1024 * 1024) =
    this(spark, root, numBuckets, compression, parquetBlockSize, attach = true)

  private val hconf = spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = new Path(root).getFileSystem(hconf)

  if (attach) GraftCatalog.attach(this)

  private def tdir(t: String) = new Path(root, t)
  private def latestPtr(t: String) = new Path(tdir(t), "_latest")
  private def manifestPath(t: String, v: Long) = new Path(new Path(tdir(t), "_versions"), f"v$v%08d")
  private def changesRoot(t: String) = new Path(tdir(t), "_changes")
  private def changesDir(t: String, v: Long) = new Path(changesRoot(t), f"v$v%08d")

  // ---- small-file helpers -------------------------------------------------

  /** 8 hex chars of thread-local randomness — the per-attempt uniqueness
    * that keeps concurrent writers' batch dirs, change batches, and tmp
    * files from ever colliding on a path. */
  private def newToken(): String =
    f"${java.util.concurrent.ThreadLocalRandom.current().nextLong() & 0xffffffffL}%08x"

  private def writeFile(p: Path, content: String): Unit = {
    // unique tmp name: two JVMs refreshing the same small file (e.g. the
    // `_latest` cache) must not interleave writes into a shared tmp
    val tmp = new Path(p.getParent, p.getName + ".tmp" + newToken())
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
  }

  private def readFile(p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  // ---- catalog ------------------------------------------------------------

  def exists(table: String): Boolean = fs.exists(latestPtr(table))

  /** [[GraftCatalog.Names]]: the table store behind a bare store's names is itself. */
  def store: TableStore = this

  /** SQL name resolution ([[GraftCatalog]]): table `name`, in any case, now. */
  def relation(name: String): Option[DataFrame] = relationAt(name, None)

  /** Table `name`, in any case, at `version` (SQL time travel), else now. */
  def relationAt(name: String, version: Option[Long]): Option[DataFrame] =
    (if (exists(name)) Some(name) else listTables().find(_.equalsIgnoreCase(name)))
      .map(t => readVersion(t, version.getOrElse(currentVersion(t))))

  def listTables(): Seq[String] =
    if (!fs.exists(new Path(root))) Nil
    else fs.listStatus(new Path(root)).toIndexedSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(t => fs.exists(latestPtr(t))).sorted

  /** CREATE TABLE (SURVEY.md §2.1 S8). `keys` drive merge bucketing.
    *
    * @param defaults per-column DEFAULT expressions (Spark SQL text),
    *                 applied when a write omits the column (reference:
    *                 `added_timestamp timestamp default current_timestamp()`,
    *                 customer-...sql:41-42)
    * @param autoInc  autoincrement columns (must be BIGINT): null values
    *                 are filled continuing past the table-wide max on
    *                 every write (reference: `customer_dim_key number
    *                 autoincrement`, customer-...sql:32) */
  def createTable(table: String, schema: StructType, keys: Seq[String] = Nil,
      defaults: Map[String, String] = Map.empty, autoInc: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil, zorder: Boolean = false,
      lookup: Seq[String] = Nil): Unit = {
    require(!exists(table), s"table $table already exists")
    if (zorder) requireZOrderable(schema, clusterBy)
    fs.mkdirs(tdir(table))
    writeFile(new Path(tdir(table), "_schema.json"), schema.json)
    writeFile(new Path(tdir(table), "_keys"), keys.mkString(","))
    if (lookup.nonEmpty) writeLookup(table, schema, lookup)
    if (clusterBy.nonEmpty) {
      warnNtzClusterKeys(schema, clusterBy)
      writeFile(new Path(tdir(table), "_cluster"), clusterBy.mkString(","))
      if (zorder) writeFile(new Path(tdir(table), "_zorder"), "1")
    }
    if (defaults.nonEmpty || autoInc.nonEmpty) {
      val lines =
        autoInc.map(c => s"$c\tautoincrement\t") ++
        defaults.map { case (c, e) => s"$c\tdefault\t$e" }
      writeFile(new Path(tdir(table), "_defaults"), lines.mkString("\n"))
    }
    writeFile(new Path(tdir(table), "_buckets"), numBuckets.toString)
    writeFile(manifestPath(table, 0L), manifestText(numBuckets, Nil, newToken()))
    writeFile(latestPtr(table), "0")
  }

  private def trashPath(table: String) = new Path(new Path(root, "_trash"), table)

  /** Dropped-but-undroppable tables sitting in `_trash` (their manifests
    * may still reference OTHER tables' data files — a dropped clone). */
  private def trashedTables(): Seq[String] = {
    val tr = new Path(root, "_trash")
    if (!fs.exists(tr)) Nil
    else fs.listStatus(tr).toIndexedSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(t => fs.exists(new Path(trashPath(t), "_latest"))).sorted
  }

  private def trashedManifestEntries(t: String): Seq[(Int, String)] = {
    val v = readFile(new Path(trashPath(t), "_latest")).trim.toLong
    val mp = new Path(new Path(trashPath(t), "_versions"), f"v$v%08d")
    if (!fs.exists(mp)) Nil
    else readFile(mp).split("\n").toIndexedSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
        val Array(b, p) = line.split("\t", 2)
        (b.toInt, p)
      }
  }

  /** DROP TABLE. By default the table dir moves to `<root>/_trash/<name>`
    * (a metadata rename, zero data IO at any scale) so [[undropTable]] can
    * restore it — Snowflake's drop-with-retention. `purge = true` deletes
    * outright. Refused while another table's current manifest references
    * this table's data files (it is a clone source): materialize the
    * clone with [[compact]] or drop it first — a production engine would
    * refcount the shared files instead (Snowflake micro-partition clones). */
  def dropTable(table: String, purge: Boolean = false): Unit = synchronized {
    if (exists(table)) {
      val dataPrefix = fs.makeQualified(new Path(tdir(table), "data")).toString + "/"
      // both live tables AND dropped-to-_trash clones count as references:
      // a trashed clone's manifest still points into this table's data dir,
      // and an UNDROP must restore it to a readable state
      val refs = listTables().filter(_ != table).filter { t =>
        // a table dropped concurrently (another writer reclaiming its own
        // temp build) vanishes between the listing and the manifest read —
        // a vanished table references nothing
        try readManifest(t, currentVersion(t)).exists(_._2.startsWith(dataPrefix))
        catch { case _: java.io.FileNotFoundException => false }
      } ++ trashedTables().filter { t =>
        trashedManifestEntries(t).exists(_._2.startsWith(dataPrefix))
      }.map(t => s"_trash/$t")
      require(refs.isEmpty,
        s"cannot drop $table: its data files are referenced by clone(s) ${refs.mkString(", ")} " +
          "(compact or drop the clones first)")
    }
    if (purge || !fs.exists(tdir(table))) { fs.delete(tdir(table), true); () }
    else {
      fs.mkdirs(new Path(root, "_trash"))
      if (fs.exists(trashPath(table))) fs.delete(trashPath(table), true)
      fs.rename(tdir(table), trashPath(table))
      ()
    }
  }

  /** UNDROP TABLE: restore the most recently dropped table of this name
    * (a rename back out of `_trash` — metadata-only, like Snowflake's). */
  def undropTable(table: String): Unit = synchronized {
    require(!exists(table), s"table $table already exists (rename it before undropping)")
    require(fs.exists(trashPath(table)), s"no dropped table $table to undrop")
    if (fs.exists(tdir(table))) fs.delete(tdir(table), true) // stale metadata-less dir
    fs.rename(trashPath(table), tdir(table))
    ()
  }

  /** CREATE TABLE dst CLONE src (Snowflake zero-copy clone): dst's first
    * manifest points at src's current — or time-traveled — data files; NO
    * data is copied or rewritten, so cloning a 100 TB table is a metadata
    * write. Later writes to either table diverge naturally (manifests are
    * immutable and data files are never mutated in place). [[vacuum]] on
    * the source keeps any dirs another table's current manifest still
    * references, and [[dropTable]] on the source is refused while a clone
    * points into it. */
  def cloneTable(src: String, dst: String, version: Option[Long] = None): Unit = synchronized {
    require(exists(src), s"table $src does not exist")
    require(!exists(dst), s"table $dst already exists")
    val entries = readManifest(src, version.getOrElse(currentVersion(src)))
    fs.mkdirs(tdir(dst))
    writeFile(new Path(tdir(dst), "_schema.json"), schemaOf(src).json)
    writeFile(new Path(tdir(dst), "_keys"), keysOf(src).mkString(","))
    val defSrc = new Path(tdir(src), "_defaults")
    if (fs.exists(defSrc)) writeFile(new Path(tdir(dst), "_defaults"), readFile(defSrc))
    val lkSrc = new Path(tdir(src), "_lookup")
    if (fs.exists(lkSrc)) writeFile(new Path(tdir(dst), "_lookup"), readFile(lkSrc))
    // table properties travel with the clone (Snowflake clone semantics):
    // clustering keys shape the clone's FUTURE writes (shared files are
    // already laid out), and the auto-compaction policy follows the data
    Seq("_cluster", "_zorder", "_auto_compact").foreach { m =>
      val p = new Path(tdir(src), m)
      if (fs.exists(p)) writeFile(new Path(tdir(dst), m), readFile(p))
    }
    // the clone's manifest points at data bucketed with the CLONED VERSION's
    // count (not the source's current one — an AT-clone across a rebucket
    // boundary must keep pruning against the old hashing)
    val srcBuckets = bucketsOfVersion(src, version.getOrElse(currentVersion(src)))
    writeFile(new Path(tdir(dst), "_buckets"), srcBuckets.toString)
    writeFile(manifestPath(dst, 0L), manifestText(srcBuckets, entries, newToken()))
    writeFile(latestPtr(dst), "0")
  }

  /** ALTER TABLE ADD COLUMN: metadata-only — existing files simply lack
    * the column and read back as null (Spark fills absent parquet columns
    * for an explicit read schema); a DEFAULT applies to subsequent writes
    * that omit the column. Zero data IO at any table size. */
  def addColumn(table: String, name: String, dataType: DataType,
      default: Option[String] = None): Unit = synchronized {
    val schema = schemaOf(table)
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column $name already exists on $table")
    writeFile(new Path(tdir(table), "_schema.json"),
      StructType(schema.fields :+ org.apache.spark.sql.types.StructField(name, dataType)).json)
    default.foreach { e =>
      val lines = defaultLines(table).map { case (c, k, x) => s"$c\t$k\t$x" } :+ s"$name\tdefault\t$e"
      writeFile(new Path(tdir(table), "_defaults"), lines.mkString("\n"))
    }
  }

  /** ALTER TABLE DROP COLUMN: metadata-only — the column stays in old
    * parquet files but the read schema no longer selects it (column
    * pruning means it is never even decoded). Key columns cannot be
    * dropped (they drive bucketing). */
  def dropColumn(table: String, name: String): Unit = synchronized {
    val schema = schemaOf(table)
    require(schema.fieldNames.exists(_.equalsIgnoreCase(name)), s"no column $name on $table")
    require(!keysOf(table).exists(_.equalsIgnoreCase(name)),
      s"cannot drop key column $name of $table")
    writeFile(new Path(tdir(table), "_schema.json"),
      StructType(schema.fields.filterNot(_.name.equalsIgnoreCase(name))).json)
    val remaining = defaultLines(table).filterNot(_._1.equalsIgnoreCase(name))
    if (fs.exists(new Path(tdir(table), "_defaults")))
      writeFile(new Path(tdir(table), "_defaults"),
        remaining.map { case (c, k, x) => s"$c\t$k\t$x" }.mkString("\n"))
  }

  /** ALTER TABLE RENAME COLUMN: rewrites the table once (read → rename →
    * new bucketed batch, committed as a new version with no change batch).
    * O(table) IO — a column-mapping layer (Iceberg field ids) would make
    * this metadata-only; documented trade-off, rename is rare. Change rows
    * a stream has pending are rewritten under the new name too. */
  def renameColumn(table: String, from: String, to: String): Unit = synchronized {
    val schema = schemaOf(table)
    require(schema.fieldNames.exists(_.equalsIgnoreCase(from)), s"no column $from on $table")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)), s"column $to already exists")
    val renamed = read(table).withColumnRenamed(from, to)
    writeFile(new Path(tdir(table), "_schema.json"),
      StructType(schema.fields.map(f =>
        if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f)).json)
    writeFile(new Path(tdir(table), "_keys"),
      keysOf(table).map(k => if (k.equalsIgnoreCase(from)) to else k).mkString(","))
    val defs = defaultLines(table).map { case (c, k, x) =>
      (if (c.equalsIgnoreCase(from)) to else c, k, x)
    }
    if (fs.exists(new Path(tdir(table), "_defaults")))
      writeFile(new Path(tdir(table), "_defaults"),
        defs.map { case (c, k, x) => s"$c\t$k\t$x" }.mkString("\n"))
    // the captured `renamed` plan (old schema) is reused across rebases:
    // rename is maintenance and replaces the whole table, so a write
    // landing mid-rename is superseded exactly as before the protocol
    val entries = writeBatch(table, currentVersion(table) + 1, renamed)
    commitLoop(table)(_ => Commit(entries))
    // rewrite pending change batches: [[readChanges]] selects by NAME
    // against the NEW schema, so an un-rewritten batch from before the
    // rename would silently surface null for the renamed column to any
    // stream that hasn't consumed it yet
    val chRoot = changesRoot(table)
    val batchName = "v\\d+|c_[0-9a-f]+|b\\d+_[0-9a-f]+"
    if (fs.exists(chRoot)) {
      // leftovers from a crashed earlier rewrite: restore the original
      // batch from .bak (a .tmp may be incomplete — never promote it) and
      // discard stale .tmp dirs; the loop below then redoes the rewrite
      fs.listStatus(chRoot).foreach { st =>
        val name = st.getPath.getName
        if (name.matches(s"($batchName)\\.bak")) {
          val orig = new Path(chRoot, name.stripSuffix(".bak"))
          if (fs.exists(orig)) fs.delete(st.getPath, true) else fs.rename(st.getPath, orig)
          ()
        } else if (name.matches(s"($batchName)\\.tmp")) { fs.delete(st.getPath, true); () }
      }
      fs.listStatus(chRoot).filter(_.getPath.getName.matches(batchName)).foreach { st =>
        val df = spark.read.parquet(st.getPath.toString)
        if (df.columns.exists(_.equalsIgnoreCase(from))) {
          // tmp → bak → swap: the original batch survives any crash point
          // (a crash between the two renames is healed by the sweep above)
          val tmp = new Path(st.getPath.getParent, st.getPath.getName + ".tmp")
          val bak = new Path(st.getPath.getParent, st.getPath.getName + ".bak")
          df.withColumnRenamed(from, to).write.mode("overwrite").parquet(tmp.toString)
          fs.rename(st.getPath, bak)
          fs.rename(tmp, st.getPath)
          fs.delete(bak, true)
          ()
        }
      }
    }
    // pending marked batches: their files keep the old name, so each one's
    // change rows become the plain batch `_changes/<batch dir name>` (which
    // [[changeSourcesOf]] then prefers), written as .tmp and renamed in
    minStreamOffset(table).foreach { off =>
      (off + 1 to currentVersion(table)).map(v => changeSourcesOf(table, v).marked)
        .filter(_.nonEmpty).foreach { marked =>
          val dst = new Path(chRoot, marked.head.getParent.getName)
          val tmp = new Path(chRoot, dst.getName + ".tmp")
          markedRows(table, schema, marked).withColumnRenamed(from, to)
            .write.mode("overwrite").parquet(tmp.toString)
          fs.rename(tmp, dst)
        }
    }
  }

  def schemaOf(table: String): StructType =
    DataType.fromJson(readFile(new Path(tdir(table), "_schema.json"))).asInstanceOf[StructType]

  def keysOf(table: String): Seq[String] = {
    val s = readFile(new Path(tdir(table), "_keys")).trim
    if (s.isEmpty) Nil else s.split(",").toIndexedSeq
  }

  /** Clustering keys (Snowflake CLUSTER BY): every batch write sorts
    * rows by these columns WITHIN each bucket, so parquet row-group
    * min/max statistics become selective and filtered scans skip whole
    * row groups — the micro-partition pruning lever at 100 TB.
    * Measured caveat: this Spark build pushes TIMESTAMP_NTZ predicates
    * to the scan but does NOT stat-prune row groups on them (integer,
    * date, and string keys all prune). NTZ clustering keys therefore
    * work through a DERIVED column: clustered writes add
    * `__graft_day_<col>` (epoch day, INT32 — a type parquet prunes),
    * reads include it in the scan schema (hidden from the returned
    * frame), and the [[graft.spark.NtzDayPrune]] optimizer rule
    * rewrites NTZ range predicates into redundant day-column conjuncts
    * at scan time — so the user's `CLUSTER BY (ntz_ts)` DDL prunes as
    * intended. Pre-derivation files read the day column as null; the
    * rewritten predicate keeps null days, so old and new batches
    * coexist (old files simply don't prune until compacted). */
  def clusterByOf(table: String): Seq[String] = {
    val p = new Path(tdir(table), "_cluster")
    if (!fs.exists(p)) Nil
    else readFile(p).trim.split(",").toIndexedSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** SEARCH-OPTIMIZATION columns (Snowflake `ADD SEARCH OPTIMIZATION ON
    * EQUALITY(col)` analogue): every batch write records a per-FILE
    * BLOOM FILTER over each declared column's values in the
    * `_graft_stats` sidecar, so point lookups (`col = X`, `col IN …`)
    * on HIGH-CARDINALITY UNCLUSTERED keys prune files the min/max
    * intervals never can — a uniform id column spans nearly the full
    * range in every file, so interval pruning keeps 100% of them, while
    * the bloom keeps ~1 file + the false-positive tail. Both pruning
    * rules ([[SidecarPrune]], which serves [[scanWhere]] too, and
    * [[JoinKeyPrune]]) inherit it through the shared [[StatsPruning]]
    * compiler.
    * Declared cost: one column-pruned read-back pass per batch write
    * plus the bloom bytes in the sidecar — opt-in per table. */
  def lookupOf(table: String): Seq[String] = {
    val p = new Path(tdir(table), "_lookup")
    if (!fs.exists(p)) Nil
    else readFile(p).trim.split(",").toIndexedSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Declare (or replace) the table's search-optimization columns.
    * Applies to batches written FROM NOW ON; run [[compact]] to backfill
    * blooms for existing files (pre-declaration files simply don't
    * bloom-prune, exactly like legacy stats batches). */
  def declareLookup(table: String, cols: Seq[String]): Unit = synchronized {
    writeLookup(table, schemaOf(table), cols)
  }

  private def writeLookup(table: String, schema: StructType,
      cols: Seq[String]): Unit = {
    val canonical = cols.map { c =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(c))
      require(f.isDefined, s"unknown lookup column $c on $table")
      require(TableStore.statKind(f.get.dataType).isDefined,
        s"lookup column $c: type ${f.get.dataType.simpleString} keeps no stats")
      f.get.name
    }
    writeFile(new Path(tdir(table), "_lookup"), canonical.mkString(","))
  }

  private def defaultLines(table: String): Seq[(String, String, String)] = {
    val p = new Path(tdir(table), "_defaults")
    if (!fs.exists(p)) Nil
    else readFile(p).split("\n").toIndexedSeq.filter(_.nonEmpty).map { l =>
      val Array(c, kind, e) = l.split("\t", 3)
      (c, kind, e)
    }
  }

  /** Column DEFAULT expressions (Spark SQL text), by column. */
  def defaultsOf(table: String): Map[String, String] =
    defaultLines(table).collect { case (c, "default", e) => c -> e }.toMap

  /** Autoincrement columns. */
  def autoIncOf(table: String): Seq[String] =
    defaultLines(table).collect { case (c, "autoincrement", _) => c }

  /** The latest COMMITTED version. `_latest` is a best-effort monotone
    * cache under concurrent cross-JVM commits (two winners can race its
    * swap out of order), so the versioned manifests are the truth: probe
    * forward from the cached value through committed manifests. In the
    * steady state the probe costs one metadata miss (v+1 absent). The
    * pointer read retries briefly through the HDFS delete-then-rename
    * refresh window (local-FS renames overwrite atomically, no window). */
  def currentVersion(table: String): Long = {
    var cached = -1L
    var tries = 0
    while (cached < 0) {
      try cached = readFile(latestPtr(table)).trim.toLong
      catch {
        case e: java.io.FileNotFoundException =>
          if (tries >= 50) throw e
          tries += 1; Thread.sleep(10L)
      }
    }
    var v = cached
    while (manifestCommitted(table, v + 1)) v += 1
    if (v > cached) advanceLatest(table, v) // heal a stale/regressed cache
    v
  }

  /** The table's CURRENT bucket count = the current version's count.
    * Per-version (manifest header), NOT the store constructor: a 100 TB
    * fact table needs thousands of buckets while a dim keeps a handful,
    * the count must travel with the table so a store opened with a
    * different default still hashes consistently, and it must travel with
    * the VERSION so time-traveled reads/clones across a [[rebucket]]
    * boundary prune against the hashing their files were written with. */
  def bucketsOf(table: String): Int = bucketsOfVersion(table, currentVersion(table))

  /** Bucket count of a specific committed version. Falls back to the
    * `_buckets` table file (pre-header tables) then the store default. */
  def bucketsOfVersion(table: String, v: Long): Int =
    manifestBuckets(table, v).getOrElse {
      val p = new Path(tdir(table), "_buckets")
      if (fs.exists(p)) readFile(p).trim.toInt else numBuckets
    }

  /** Change a table's bucket count and rewrite it once (a [[compact]]
    * variant — O(table) IO, done as maintenance, never per-query). With
    * `n <= 0` the target is sized from current data (~256 MB per bucket,
    * clamped to [1, 4096]) — the knob that keeps per-bucket rewrite cost
    * bounded as a table grows from MBs to TBs. The count flip is ATOMIC
    * with the rewrite commit (both live in the new version's manifest): a
    * crash mid-rewrite leaves the old version + old count fully intact. */
  def rebucket(table: String, n: Int = 0): Unit = synchronized {
    var lastBatch: Seq[(Int, String)] = null
    var target = 0
    commitLoop(table) { base =>
      if (lastBatch != null) dropBatchDirs(lastBatch) // rebased attempt
      target =
        if (n > 0) n
        else {
          val bytes = readManifest(table, base).map { case (_, p) =>
            val dir = new Path(p)
            if (fs.exists(dir)) fs.getContentSummary(dir).getLength else 0L
          }.sum
          math.max(1, math.min(4096, math.ceil(bytes / (256.0 * 1024 * 1024)).toInt))
        }
      lastBatch = writeBatch(table, base + 1, readVersion(table, base), target)
      Commit(lastBatch, buckets = target)
    }
    // best-effort hint for pre-header readers; authoritative copy is the
    // manifest header committed above
    writeFile(new Path(tdir(table), "_buckets"), target.toString)
  }

  // ---- manifests ----------------------------------------------------------

  /** Manifest text: `#commit\t<token>` header, `#buckets\tN` (the bucket
    * count as per-version metadata, committed atomically with the file
    * list it describes), an optional `#changes\t<dir>` pointer to the
    * version's CDC batch (token-named — see [[commitLoop]]), an optional
    * `#marked\t<batch dir>` naming the version's own data batch as a
    * change source (see [[changeSourcesOf]]), one `#loaded\t<path>\t<length>
    * \t<mtime>` line per file in the load ledger ([[loadedFiles]]), one
    * `bucket\tpath` line per data dir, and an `#end\t<token>` trailer.
    * The token pair is the cross-JVM commit sentinel: a manifest is
    * COMMITTED only when its trailer token matches its header token
    * (see [[manifestCommitted]]) — a partially-written file from a
    * writer that died mid-commit never enters the version chain. */
  private def manifestText(buckets: Int, entries: Seq[(Int, String)],
      token: String, changesName: Option[String] = None,
      markedDir: Option[String] = None, loaded: Seq[TableStore.LoadedFile] = Nil): String =
    ((s"#commit\t$token" +: s"#buckets\t$buckets" +:
      (changesName.map(c => s"#changes\t$c").toSeq ++ markedDir.map(d => s"#marked\t$d"))) ++
      loaded.map(f => s"#loaded\t${f.path}\t${f.length}\t${f.mtime}") ++
      entries.map { case (b, p) => s"$b\t$p" } :+ s"#end\t$token")
      .mkString("\n")

  /** Whether version v's manifest exists and is COMMITTED: a protocol
    * manifest (leading `#commit` header) needs its matching `#end`
    * trailer; a legacy pre-protocol manifest (no `#commit`) was written
    * via atomic tmp+rename and is committed by existence. On a
    * checksummed filesystem the checksum file must still be there after
    * the read: `ChecksumFileSystem.delete` drops it before the data, so
    * a read between the two gets a torn corpse's bytes unverified. */
  private def manifestCommitted(table: String, v: Long): Boolean = {
    val p = manifestPath(table, v)
    try manifestTextCommitted(readFile(p)) && (fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.exists(c.getChecksumFile(p))
      case _ => true
    })
    catch { case _: java.io.IOException => false }
  }

  private def manifestTextCommitted(txt: String): Boolean = {
    val lines = txt.split("\n")
    if (lines.isEmpty || lines.head.isEmpty) false
    else if (!lines.head.startsWith("#commit\t")) true // legacy
    else lines.last == "#end\t" + lines.head.stripPrefix("#commit\t")
  }

  private[graft] def readManifest(table: String, v: Long): Seq[(Int, String)] =
    manifestEntries(readFile(manifestPath(table, v)))

  private def manifestEntries(txt: String): Seq[(Int, String)] =
    txt.split("\n").toIndexedSeq.filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
      val Array(b, p) = line.split("\t", 2)
      (b.toInt, p)
    }

  /** The value of manifest header line `#<key>\t<value>`, if present. */
  private def manifestHeader(txt: String, key: String): Option[String] =
    txt.split("\n").find(_.startsWith(s"#$key\t")).map(_.stripPrefix(s"#$key\t").trim)

  /** The load ledger of version v: the landed files committed into the
    * table so far, one `#loaded` line each (path, length, mtime; the path
    * may hold tabs, so the numbers are read from the right). */
  private def loadedAt(table: String, v: Long): Seq[TableStore.LoadedFile] =
    manifestTextOf(table, v).toSeq.flatMap(_.split("\n").iterator
      .filter(_.startsWith("#loaded\t")).map { line =>
        val rest = line.stripPrefix("#loaded\t")
        val mtimeAt = rest.lastIndexOf('\t')
        val lengthAt = rest.lastIndexOf('\t', mtimeAt - 1)
        TableStore.LoadedFile(rest.substring(0, lengthAt),
          rest.substring(lengthAt + 1, mtimeAt).toLong, rest.substring(mtimeAt + 1).toLong)
      })

  /** The table's load ledger: every landed file a [[graft.ingest.Pipe]]
    * has committed into it, in load order. It lives in the manifest, so
    * it is committed atomically with the rows it loaded, and every later
    * version carries it forward (TRUNCATE, compaction, MERGE and
    * OVERWRITE included). A clone starts with an empty ledger (Snowflake
    * clones do not inherit load history); dropping and recreating the
    * table starts a new one. */
  def loadedFiles(table: String): Seq[TableStore.LoadedFile] =
    loadedAt(table, currentVersion(table))

  /** Version v's manifest text; None when it is missing or unreadable. */
  private def manifestTextOf(table: String, v: Long): Option[String] =
    try Some(readFile(manifestPath(table, v)))
    catch { case _: java.io.IOException => None }

  /** The `#buckets` header of version v's manifest, if present (manifests
    * written before the header existed have none). */
  private def manifestBuckets(table: String, v: Long): Option[Int] = {
    val p = manifestPath(table, v)
    if (!fs.exists(p)) None
    else readFile(p).split("\n").toIndexedSeq
      .find(_.startsWith("#buckets\t")).map(_.stripPrefix("#buckets\t").trim.toInt)
  }

  // ---- optimistic cross-JVM commit ----------------------------------------

  /** What one commit attempt publishes as version base+1: its manifest
    * `entries`; the rows to write as its `_changes` batch; `marked`, the
    * entries of a data batch the body wrote whose rows with a non-null
    * [[Merge.ActionCol]] are change rows too (recorded as the manifest's
    * `#marked` header); the bucket count (`-1` = carry base's
    * forward); and the landed files it loads, added to the ledger. */
  private case class Commit(entries: Seq[(Int, String)], changes: Option[DataFrame] = None,
      marked: Seq[(Int, String)] = Nil, buckets: Int = -1,
      loaded: Seq[TableStore.LoadedFile] = Nil)

  /** How long an UNCOMMITTED manifest (a competing writer's in-flight
    * commit claim) may sit mtime-quiet before waiters break it as a dead
    * writer's leftover. Mirrors the artifact store's claim timeout. */
  private def commitTimeoutMs: Long =
    spark.conf.getOption("spark.graft.store.commitTimeoutMs")
      .map(_.toLong).getOrElse(60000L)

  /** Optimistic cross-JVM commit driver: run `body(base)` to produce the
    * next version's [[Commit]], then race to publish it as `base+1`. On a
    * lost race the loop REBASES — waits out (or breaks) the competing
    * writer, re-reads the new committed version, and recomputes `body`
    * against it — so no writer's batch is ever silently orphaned by a
    * concurrent `_latest`-style swap. Bodies that can reuse work across
    * rebases (append's already-written batch files) memoize internally.
    * Every version carries its base's load ledger forward, plus the
    * commit's `loaded` files. A commit whose `loaded` files the base's
    * ledger already names is not published: a rebase onto a winner that
    * loaded them commits nothing twice. Returns whether it committed.
    *
    * The change batch is written BEFORE the manifest attempt under a
    * token-unique name recorded in the manifest's `#changes` header, so
    * a committed manifest always implies its CDC batch is fully present
    * (stream consumers can never see a committed version whose changes
    * are still being written), and concurrent attempts never clobber
    * each other's batches. A losing attempt deletes its own. A marked
    * data batch needs no second write: the manifest's `#marked` header
    * names the batch the body already wrote. */
  private def commitLoop(table: String)(body: Long => Commit): Boolean = {
    var attempts = 0
    var base = currentVersion(table)
    while (true) {
      val c = body(base)
      val ledger = loadedAt(table, base)
      val seen = ledger.iterator.map(_.path).toSet
      if (c.loaded.exists(f => seen(f.path))) return false
      val n = if (c.buckets > 0) c.buckets else bucketsOfVersion(table, base)
      val chName = c.changes.map { ch =>
        val name = s"c_${newToken()}"
        ch.write.mode("overwrite").parquet(new Path(changesRoot(table), name).toString)
        name
      }
      val markedDir = c.marked.headOption.map(e => new Path(e._2).getParent.toString)
      if (tryCommit(table, base + 1, n, c.entries, chName, markedDir, ledger ++ c.loaded)) return true
      chName.foreach(nm => fs.delete(new Path(changesRoot(table), nm), true))
      attempts += 1
      require(attempts <= 20,
        s"table $table: lost $attempts commit races in a row — giving up " +
          "(pathological contention; stagger the writers)")
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"commit($table): lost the race for v${base + 1}, rebasing (attempt $attempts)")
      base = awaitBaseAdvance(table, base)
    }
    false // unreachable
  }

  /** One commit attempt: [[CommitPoint.publish]] the token'd manifest
    * text at `_versions/v<v>` — atomically create-if-absent, then READ
    * IT BACK, winning iff the content survives verbatim. See
    * [[CommitPoint]] for the per-store atomicity guarantees (HDFS:
    * atomic create; object stores: read-back-bounded, conditional-PUT
    * to close fully) and for the non-atomic-create spec that proves
    * this protocol never yields two winners for one version. A
    * zero-winner attempt leaves an mtime-quiet corpse that
    * [[awaitBaseAdvance]] breaks. */
  private def tryCommit(table: String, v: Long, buckets: Int, entries: Seq[(Int, String)],
      changesName: Option[String], markedDir: Option[String],
      loaded: Seq[TableStore.LoadedFile]): Boolean = {
    val token = newToken()
    val text = manifestText(buckets, entries, token, changesName, markedDir, loaded)
    val won = CommitPoint.publish(fs, manifestPath(table, v), text)
    if (won) advanceLatest(table, v)
    won
  }

  /** Advance the `_latest` cache monotonically (never regress it — a
    * slower winner of an OLDER version must not roll the pointer back
    * under a faster winner of a newer one; [[currentVersion]]'s forward
    * probe heals any interleaving this best-effort check still loses).
    * A missing pointer is left missing: the table may have been dropped
    * since the caller read it, and writing would bring its dir back. */
  private def advanceLatest(table: String, v: Long): Unit =
    try {
      if (readFile(latestPtr(table)).trim.toLong < v)
        writeFile(latestPtr(table), v.toString)
    } catch {
      case _: java.io.FileNotFoundException =>
      case _: java.io.IOException => writeFile(latestPtr(table), v.toString)
    }

  /** After a lost race for `base+1`: wait for the competing writer to
    * finish (returning the new base to rebase onto) or break its corpse
    * (an uncommitted manifest mtime-quiet for a full
    * [[commitTimeoutMs]] — a writer that died between create and close,
    * or two local-FS creators whose interleaved writes both failed
    * verification) and retry the SAME base. Never waits more than two
    * timeouts before falling back to whatever is committed. */
  private def awaitBaseAdvance(table: String, base: Long): Long = {
    val timeout = commitTimeoutMs
    val deadline = System.currentTimeMillis() + 2 * timeout
    while (System.currentTimeMillis() < deadline) {
      val cur = currentVersion(table)
      if (cur > base) return cur
      val p = manifestPath(table, base + 1)
      val st =
        try Some(fs.getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None }
      st match {
        case None => return base // competing attempt vanished — retry as-is
        case Some(s)
            if System.currentTimeMillis() - s.getModificationTime > timeout =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"commit($table): breaking a dead writer's uncommitted manifest v${base + 1}")
          // renamed aside first: a checksummed rename moves the data
          // before its checksum, so readers of `p` never see it half gone
          val aside = new Path(tdir(table), s"_broken_${p.getName}_${newToken()}")
          val moved = try fs.rename(p, aside)
            catch { case _: java.io.FileNotFoundException => false } // another waiter broke it
          if (moved) fs.delete(aside, false)
          return base
        case _ => Thread.sleep(25L)
      }
    }
    currentVersion(table)
  }

  /** Delete a failed/rebased attempt's batch dirs (orphans otherwise
    * swept only by a graced [[vacuum]]). */
  private def dropBatchDirs(entries: Seq[(Int, String)]): Unit =
    entries.map(e => new Path(e._2).getParent).distinct
      .foreach(d => fs.delete(d, true))

  /** The committed changes dir of version v: the manifest's `#changes`
    * header (token-named, optimistic-commit era) or the legacy
    * `_changes/v<v>` naming. None = no change batch for v. */
  private[store] def changesDirOf(table: String, v: Long): Option[Path] =
    changesDirIn(table, v, manifestTextOf(table, v))

  private def changesDirIn(table: String, v: Long, manifest: Option[String]): Option[Path] =
    manifest.flatMap(manifestHeader(_, "changes")).map(nm => new Path(changesRoot(table), nm))
      // only a pre-protocol manifest (or a vacuumed one) can have a legacy batch
      .orElse(Some(changesDir(table, v)).filter(_ => manifest.forall(!_.startsWith("#commit\t"))))
      .filter(fs.exists(_))

  /** Where version v's change rows live. `plain`: batches whose every row
    * is a change row with its `__action` — the version's `_changes` batch
    * ([[changesDirOf]]) and, once [[renameColumn]] has materialized it, its
    * marked batch as `_changes/<batch dir name>`. `marked`: the bucket dirs
    * of the data batch the manifest's `#marked` header names (APPEND,
    * MERGE, INSERT OVERWRITE), whose rows with a non-null
    * [[Merge.ActionCol]] are change rows. */
  private[store] case class ChangeSources(plain: Seq[Path], marked: Seq[Path])

  private[store] def changeSourcesOf(table: String, v: Long): ChangeSources = {
    val manifest = manifestTextOf(table, v)
    val plain = changesDirIn(table, v, manifest).toSeq
    manifest.flatMap(m => manifestHeader(m, "marked").map(m -> _)) match {
      case None => ChangeSources(plain, Nil)
      case Some((m, dir)) =>
        val materialized = new Path(changesRoot(table), new Path(dir).getName)
        if (fs.exists(materialized)) ChangeSources(plain :+ materialized, Nil)
        else ChangeSources(plain, manifestEntries(m).map(e => new Path(e._2))
          .filter(_.getParent.toString == dir))
    }
  }

  /** Offset of the stream that has consumed the least of `table`; None
    * without streams. Versions past it are pending for some stream. */
  private def minStreamOffset(table: String): Option[Long] = {
    val streamsRoot = new Path(tdir(table), "_streams")
    if (!fs.exists(streamsRoot)) None
    else fs.listStatus(streamsRoot).toIndexedSeq
      .filter(_.getPath.getName.endsWith(".offset"))
      .map(st => readFile(st.getPath).trim.toLong)
      .minOption
  }

  // ---- read ---------------------------------------------------------------

  /** Read the latest table contents (optionally only the given buckets). */
  def read(table: String, buckets: Option[Set[Int]] = None): DataFrame =
    readVersion(table, currentVersion(table), buckets)

  /** Time travel: read the table as of version `v` (manifests are never
    * mutated, so any retained version is reconstructable). NTZ-clustered
    * tables scan their derived day columns too (so [[graft.spark
    * .NtzDayPrune]]'s rewritten predicates can reach parquet stats) but
    * project them away — callers see exactly the declared schema. */
  def readVersion(table: String, v: Long, buckets: Option[Set[Int]] = None): DataFrame = {
    val entries0 = readManifest(table, v)
    val entries = buckets.map(bs => entries0.filter(e => bs(e._1))).getOrElse(entries0)
    readPaths(table, entries.map(_._2))
  }

  /** Read bucket dirs of `table` under its declared schema, with the NTZ
    * day-companion handling of [[readVersion]]. */
  private def readPaths(table: String, dirs: Seq[String]): DataFrame = {
    val declared = schemaOf(table)
    val dayFields = ntzClusterKeys(declared, clusterByOf(table)).map(c =>
      org.apache.spark.sql.types.StructField(dayColName(c),
        org.apache.spark.sql.types.IntegerType))
    val df = fileIndex(table, dirs).read(spark, StructType(declared.fields ++ dayFields))
    if (dayFields.isEmpty) df else df.select(declared.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** The data files of bucket dirs `dirs`, from each batch's trusted
    * `_graft_stats` inventory (written from the exact post-write listing;
    * batches are immutable after commit), with their statistics. The
    * manifest may name only SOME of a batch's buckets (an update or merge
    * rewrote the others into newer batches), so the inventory is filtered
    * to the named dirs. A batch whose sidecar is missing, headerless or
    * fails its integrity check is listed instead, and whatever stats its
    * sidecar does hold still prune. */
  private def fileIndex(table: String, dirs: Seq[String]): StoreFileIndex =
    StoreFileIndex(table, dirs.map(new Path(_)).groupBy(_.getParent).toSeq.sortBy(_._1.toString).flatMap {
      case (batchDir, bucketDirs) =>
        val sc = readStatsSidecar(batchDir)
        def file(rel: String, length: Long, mtime: Long) =
          StoreFile(new Path(batchDir, rel).toString, length, mtime)(sc.files.getOrElse(rel, Map.empty))
        if (sc.inventoryTrusted) {
          val wanted = bucketDirs.map(_.getName).toSet
          sc.sizes.toSeq.sortBy(_._1).collect {
            case (rel, (length, mtime)) if wanted(rel.takeWhile(_ != '/')) => file(rel, length, mtime)
          }
        } else bucketDirs.sortBy(_.getName).flatMap { bd =>
          fs.listStatus(bd).toSeq.filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
            .sortBy(_.getPath.getName)
            .map(st => file(s"${bd.getName}/${st.getPath.getName}", st.getLen, st.getModificationTime))
        }
    })

  /** Filtered read with MICRO-PARTITION PRUNING (the metadata tier
    * Snowflake's optimizer serves from its metadata service): every
    * batch write records per-FILE min/max/null statistics for all
    * supported columns in a `_graft_stats` sidecar next to the data
    * ([[writeBatch]]); [[SidecarPrune]] evaluates `cond`'s provable
    * conjuncts against those intervals DRIVER-SIDE and the read opens
    * only the files that can hold matching rows. Parquet row-group
    * stats then prune further WITHIN each surviving file — but at
    * 100 TB the sidecar tier is the one that matters: row-group pruning
    * still costs a footer read per file (millions of GETs before the
    * first data byte), while manifest
    * stats cut the candidate set for the cost of reading metadata the
    * driver already holds.
    *
    * Correctness never depends on pruning: [[StatsPruning]] keeps any
    * file it cannot PROVE empty of matches (unsupported shapes, absent
    * stats, legacy pre-stats batches), and the full predicate is
    * re-applied to the surviving rows. Time-correlated ingest (the
    * normal 100 TB arrival order) makes append batches range-disjoint
    * on event time, so date/timestamp range scans touch only the
    * matching batches — clustering keys sharpen the same effect within
    * a batch.
    *
    * This is `readVersion(table, version).filter(cond)`: the same prune
    * fires on any `Filter` over a plain [[read]] (and on SQL over store
    * names). `Dataset.inputFiles` collects from the optimized plan, so it
    * lists the pruned files of either form. */
  def scanWhere(table: String, cond: org.apache.spark.sql.Column,
      version: Long = -1L): DataFrame =
    readVersion(table, if (version >= 0) version else currentVersion(table)).filter(cond)

  /** Compaction (OPTIMIZE analogue): rewrite the current contents as one
    * fresh bucketed batch — after many small appends/merges a table
    * accumulates many small files per bucket; compaction restores one
    * file set per bucket without changing contents. Commits as a new
    * version with NO change batch (streams see no phantom changes). */
  def compact(table: String): Unit = synchronized {
    var lastBatch: Seq[(Int, String)] = null
    commitLoop(table) { base =>
      if (lastBatch != null) dropBatchDirs(lastBatch) // rebased attempt
      lastBatch = writeBatch(table, base + 1, readVersion(table, base))
      Commit(lastBatch)
    }
  }

  /** Distinct batch dirs the CURRENT manifest references — the
    * small-file accretion metric auto-compaction watches: continuous
    * pipe ingestion commits one batch per micro-batch, and both the
    * sidecar keep-set walk and the scan file count grow with it. */
  def batchCount(table: String): Int =
    readManifest(table, currentVersion(table))
      .map(e => new Path(e._2).getParent.toString).distinct.size

  /** OPTIMIZE-if-accreted: [[compact]] iff the current manifest
    * references at least `minBatches` distinct batch dirs; no-op (and
    * no version bump) otherwise. The write-time policy hook: [[append]]
    * invokes it when `spark.graft.store.autoCompactBatches` is set
    * (> 0), so a long-running ingest pipe keeps its file count bounded
    * at O(minBatches × buckets) without an operator remembering to run
    * maintenance; [[graft.orchestrate.Orchestrator.createCompactionTask]]
    * registers the same policy as a scheduled task-DAG maintenance node
    * (the reference's own idiom for warehouse upkeep). Compaction
    * commits with NO change batch, so CDC streams see nothing, and old
    * versions stay readable until [[vacuum]]. Returns true iff it
    * compacted. */
  def autoCompact(table: String, minBatches: Int = 16): Boolean = synchronized {
    require(minBatches >= 2, s"minBatches must be >= 2, got $minBatches")
    if (batchCount(table) < minBatches) false
    else { compact(table); true }
  }

  /** ALTER TABLE … SET AUTO_COMPACT: persist the write-time
    * auto-compaction policy ON THE TABLE (a `_auto_compact` sentinel,
    * like `_cluster`/`_lookup`), so every writer JVM applies it — the
    * session conf `spark.graft.store.autoCompactBatches` only governs
    * writers that happen to set it. Some(n≥2) = compact when the
    * manifest references ≥ n batch dirs; Some(0) = explicitly OFF,
    * overriding any session conf; None (UNSET) = defer to the session
    * conf again. */
  def setAutoCompact(table: String, minBatches: Option[Int]): Unit = {
    require(exists(table), s"table $table does not exist")
    val p = new Path(tdir(table), "_auto_compact")
    minBatches match {
      case Some(n) =>
        require(n == 0 || n >= 2, s"AUTO_COMPACT takes OFF (0) or n >= 2, got $n")
        writeFile(p, n.toString)
      case None => fs.delete(p, false)
    }
  }

  /** The table's persisted AUTO_COMPACT policy: Some(0) = explicitly
    * off, Some(n) = compact at n batches, None = table defers to the
    * session conf. */
  def autoCompactOf(table: String): Option[Int] = {
    val p = new Path(tdir(table), "_auto_compact")
    if (!fs.exists(p)) None else Some(readFile(p).trim.toInt)
  }

  /** ALTER TABLE … CLUSTER BY: declare (or change) the clustering keys
    * and RECLUSTER the current contents in place — one compaction pass
    * through the clustered write path, committed with no change batch
    * (contents are unchanged; only layout moves). Future batch writes
    * sort by the new keys automatically. `zorder = true` interleaves the
    * keys on a Z-curve instead of sorting lexicographically (see
    * [[zorderOf]]). */
  def recluster(table: String, cols: Seq[String],
      zorder: Boolean = false): Unit = synchronized {
    require(cols.nonEmpty, "recluster needs at least one column")
    val fields = schemaOf(table).fieldNames.toSet
    val missing = cols.filterNot(fields)
    require(missing.isEmpty, s"unknown clustering column(s): ${missing.mkString(",")}")
    if (zorder) requireZOrderable(schemaOf(table), cols)
    warnNtzClusterKeys(schemaOf(table), cols)
    writeFile(new Path(tdir(table), "_cluster"), cols.mkString(","))
    val zp = new Path(tdir(table), "_zorder")
    if (zorder) writeFile(zp, "1")
    else if (fs.exists(zp)) fs.delete(zp, false)
    compact(table)
  }

  /** Whether the table's clustering keys interleave on a Z-curve
    * (multi-dimensional clustering — Snowflake's multi-column clustering
    * keys, Delta's OPTIMIZE ZORDER BY): a lexicographic sort on (a, b)
    * gives the SECOND key no locality at all (b's values scatter across
    * the whole range within every distinct a), so only lead-key filters
    * prune. Z-ordering maps each key to a quantile rank (256 buckets
    * from one `approxQuantile` pass over the batch — rank-based, so
    * skewed distributions still split evenly) and bit-interleaves the
    * ranks MSB-first: every contiguous run of the sort order constrains
    * the HIGH bits of every dimension, so row-group min/max stats are
    * selective on each key independently and filters on ANY clustered
    * column prune. The declared trade: the lead key prunes somewhat less
    * tightly than a pure sort — the standard Z-order bargain. */
  def zorderOf(table: String): Boolean =
    fs.exists(new Path(tdir(table), "_zorder"))

  private def requireZOrderable(schema: StructType, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "ZORDER needs at least one clustering column")
    require(cols.size <= 8, s"ZORDER supports at most 8 columns, got ${cols.size}")
    import org.apache.spark.sql.types._
    cols.foreach { c =>
      val bad = schema.fields.find(_.name == c).exists(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | DateType | TimestampType | TimestampNTZType => false
        case _: DecimalType => false
        case _ => true
      })
      require(!bad, s"ZORDER clustering supports numeric, date and timestamp " +
        s"keys; $c is not (use linear CLUSTER BY for string keys)")
    }
  }

  /** Monotone double image of a z-orderable column (layout-only — never
    * read back, so lossy f64 narrowing of longs/decimals is fine). */
  private def zDouble(c: String, dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    dt match {
      case DateType => unix_date(col(c)).cast("double")
      case TimestampType => unix_micros(col(c)).cast("double")
      case TimestampNTZType =>
        unix_micros(col(c).cast("timestamp")).cast("double")
      case _ => col(c).cast("double")
    }
  }

  /** The Z-value column for one batch: per-column 255 quantile cut
    * points (one `approxQuantile` pass over the batch), each value →
    * 8-bit rank, ranks bit-interleaved MSB-first into a long by the
    * native codegen'd [[graft.spark.ZValue]] expression (the cut-point
    * tables ride into generated code as a driver-held `double[][]` —
    * no UDF, no per-row boxing). Nulls rank 0 (sort first, like NULLS
    * FIRST). Costs one extra pass over the batch at write time — the
    * same analysis pass Delta's OPTIMIZE ZORDER runs, and the declared
    * price of multi-dim clustering. */
  private[store] def zValueColumn(df: DataFrame,
      cols: Seq[String]): org.apache.spark.sql.Column = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val proj = cols.zipWithIndex.map { case (c, i) =>
      zDouble(c, types(c)).as(s"__zq_$i")
    }
    val num = df.select(proj: _*)
    val probs = (1 until 256).map(_ / 256.0).toArray
    val bounds: Array[Array[Double]] = num.stat.approxQuantile(
      cols.indices.map(i => s"__zq_$i").toArray, probs, 0.001)
    val values = array(cols.map(c => zDouble(c, types(c))): _*)
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.spark.ZValue(
        org.apache.spark.sql.GraftColumnBridge.expression(values),
        bounds.map(_.toIndexedSeq).toIndexedSeq))
  }

  /** TIMESTAMP_NTZ clustering keys, in clustering order — the ones that
    * prune through their derived `__graft_day_<col>` companion. */
  private[store] def ntzClusterKeys(schema: StructType, cols: Seq[String]): Seq[String] =
    cols.filter(c => schema.fields.exists(f => f.name == c &&
      f.dataType == org.apache.spark.sql.types.TimestampNTZType))

  private[graft] def dayColName(c: String): String = s"__graft_day_$c"

  private def warnNtzClusterKeys(schema: StructType, cols: Seq[String]): Unit = {
    val ntz = ntzClusterKeys(schema, cols)
    if (ntz.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"clustering key(s) ${ntz.mkString(",")} are TIMESTAMP_NTZ: writes will " +
          "maintain a derived epoch-day column per key so range scans prune row " +
          "groups (this Spark build does not stat-prune NTZ statistics directly); " +
          "batches written before the key was declared prune only after a compact()")
  }

  /** ALTER TABLE … DROP CLUSTERING KEY: future writes stop sorting;
    * existing files keep their (harmless) order — no rewrite. */
  def dropClusteringKey(table: String): Unit = synchronized {
    val p = new Path(tdir(table), "_cluster")
    if (fs.exists(p)) fs.delete(p, false)
    val z = new Path(tdir(table), "_zorder")
    if (fs.exists(z)) fs.delete(z, false)
  }

  /** Clustering audit (`system$clustering_information` analogue): one
    * row per parquet ROW GROUP of the current version, with the lead
    * clustering key's min/max decoded from the file FOOTER — no data
    * pages are read, so the audit costs one footer fetch per file
    * (driver-side, bounded by file count, the same budget a manifest
    * read already spends). On a well-clustered table the row groups of
    * each file cover disjoint key ranges (the write sorts per bucket);
    * wide overlap across row groups means filters can't prune and the
    * table wants an `ALTER TABLE … CLUSTER BY` recluster.
    * @return (bucket, file, row_group, n_rows, min_ck, max_ck) — the
    *   bounds as parquet's readable strings, ordered. */
  def clusteringInfo(table: String): DataFrame = {
    val cols = clusterByOf(table)
    require(cols.nonEmpty, s"table $table has no clustering key")
    val ckName = cols.head
    import scala.jdk.CollectionConverters._
    val rows = readManifest(table, currentVersion(table)).flatMap {
      case (bucket, dirPath) =>
        val dir = new Path(dirPath)
        fs.listStatus(dir).toIndexedSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .flatMap { st =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(st.getPath, hconf)
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              reader.getFooter.getBlocks.asScala.toIndexedSeq.zipWithIndex.map {
                case (bg, i) =>
                  val stats = bg.getColumns.asScala
                    .find(_.getPath.toDotString == ckName).map(_.getStatistics)
                  (bucket, st.getPath.getName, i, bg.getRowCount,
                    stats.map(_.minAsString).orNull,
                    stats.map(_.maxAsString).orNull)
              }
            } finally reader.close()
          }
    }
    import spark.implicits._
    rows.toDF("bucket", "file", "row_group", "n_rows", "min_ck", "max_ck")
      .orderBy("bucket", "file", "row_group")
  }

  /** Garbage-collect: drop manifests, change batches, and data-batch dirs
    * not referenced by the `keepVersions` most recent versions. Readers
    * of retained versions are unaffected (their files are untouched).
    * Change sources outlive that window while a stream has their version
    * pending — a marked data batch ([[changeSourcesOf]]) included. */
  def vacuum(table: String, keepVersions: Int = 1): Unit = synchronized {
    require(keepVersions >= 1)
    val cur = currentVersion(table)
    val keepFrom = math.max(0L, cur - keepVersions + 1)
    // also keep dirs any OTHER table's current manifest references — a
    // zero-copy clone shares this table's files ([[cloneTable]]), and a
    // clone dropped to _trash still does (UNDROP must find them); the scan
    // is manifest metadata only, no data IO
    val externallyReferenced: Set[String] = (listTables().filter(_ != table)
      .flatMap(t => readManifest(t, currentVersion(t)).map(e => new Path(e._2).getParent.toString)) ++
      trashedTables() // incl. same-named: a trashed manifest's paths live under the ORIGINAL root
        .flatMap(t => trashedManifestEntries(t).map(e => new Path(e._2).getParent.toString)))
      .toSet
    // change sources are retained while ANY stream still has them pending
    // (offset < v means version v is unconsumed by that stream); their
    // MANIFESTS are retained just as long — the `#changes` and `#marked`
    // headers are the only pointers to them
    val minConsumed = minStreamOffset(table).getOrElse(cur)
    val keptDirs: Set[String] = (keepFrom to cur)
      .flatMap(v => readManifest(table, v).map(e => new Path(e._2).getParent.toString))
      .toSet ++ (minConsumed + 1 until keepFrom)
        .flatMap(v => changeSourcesOf(table, v).marked.map(_.getParent.toString)) ++
      externallyReferenced
    // freshness grace: an unreferenced batch dir can be a CONCURRENT
    // writer's in-flight attempt (written before its manifest commits) —
    // only dirs mtime-quiet past the grace are orphans (losing rebases,
    // dead writers) and safe to reap
    val grace = 3L * commitTimeoutMs
    def quietPast(p: Path): Boolean = {
      val now = System.currentTimeMillis()
      def old(s: org.apache.hadoop.fs.FileStatus) =
        now - s.getModificationTime > grace
      try old(fs.getFileStatus(p)) && fs.listStatus(p).forall(old)
      catch { case _: java.io.IOException => false } // vanished → skip
    }
    val dataRoot = new Path(tdir(table), "data")
    if (fs.exists(dataRoot))
      fs.listStatus(dataRoot).foreach { st =>
        if (!keptDirs.contains(st.getPath.toString) && quietPast(st.getPath))
          fs.delete(st.getPath, true)
      }
    val verRoot = new Path(tdir(table), "_versions")
    if (fs.exists(verRoot))
      fs.listStatus(verRoot).foreach { st =>
        val v = st.getPath.getName.stripPrefix("v").toLong
        if (v < keepFrom && v <= minConsumed) {
          // resolve the change batches BEFORE dropping their manifest pointer
          changeSourcesOf(table, v).plain.foreach(d => fs.delete(d, true))
          fs.delete(st.getPath, false)
        }
      }
    val chRoot = new Path(tdir(table), "_changes")
    if (fs.exists(chRoot)) {
      // token-named batches (and materialized marked batches) still
      // referenced by a surviving manifest
      val referenced: Set[String] =
        if (!fs.exists(verRoot)) Set.empty
        else fs.listStatus(verRoot).toIndexedSeq.flatMap { st =>
          val m = try Some(readFile(st.getPath)) catch { case _: java.io.IOException => None }
          m.toSeq.flatMap(t => manifestHeader(t, "changes").toSeq ++
            manifestHeader(t, "marked").map(d => new Path(d).getName))
        }.toSet
      fs.listStatus(chRoot).foreach { st =>
        val name = st.getPath.getName
        if (name.matches("v\\d+")) {
          // legacy version-named batch whose manifest may already be gone
          val v = name.stripPrefix("v").toLong
          if (v < keepFrom && v <= minConsumed) fs.delete(st.getPath, true)
        } else if (name.matches("c_[0-9a-f]+|b\\d+_[0-9a-f]+") && !referenced(name) &&
            quietPast(st.getPath)) {
          fs.delete(st.getPath, true) // losing writer's orphaned attempt
        }
      }
    }
  }

  // ---- write paths --------------------------------------------------------

  private def bucketCol(keys: Seq[String], n: Int): org.apache.spark.sql.Column =
    if (keys.isEmpty) pmod(spark_partition_id(), lit(n))
    else pmod(xxhash64(keys.map(col): _*), lit(n)).cast("int")

  /** Write df as a bucketed batch dir at the given bucket count (defaults
    * to the table's current count); returns manifest entries. */
  private def writeBatch(table: String, v: Long, df: DataFrame,
      buckets: Int = -1): Seq[(Int, String)] = {
    val n = if (buckets > 0) buckets else bucketsOf(table)
    val keys = keysOf(table)
    val cluster = clusterByOf(table)
    // token suffix: concurrent writers racing toward the same version
    // must never collide on a data path (the manifest records full paths,
    // so the name is otherwise cosmetic; v aids debugging)
    val dir = new Path(new Path(tdir(table), "data"), f"b$v%08d_${newToken()}")
    // NTZ clustering keys get a derived epoch-day INT32 companion in the
    // files (parquet stat-prunes ints, not NTZ) — hidden on read, and
    // free to derive here since the batch is already flowing
    val withDay = ntzClusterKeys(schemaOf(table), cluster).foldLeft(df)((d, c) =>
      d.withColumn(dayColName(c), unix_date(col(c).cast("date"))))
    val bucketed = withDay.withColumn("__bucket", bucketCol(keys, n))
    // CLUSTER BY: co-locate each bucket in one task and sort its rows by
    // the clustering keys — each parquet file comes out ordered, so its
    // row-group min/max stats are tight and filtered scans prune whole
    // groups. The extra exchange is the declared price of clustering
    // (exactly Snowflake's reclustering cost); unclustered tables keep
    // the zero-shuffle write path. The sort leads with __bucket so the
    // dynamic-partition writer sees its required ordering and does not
    // re-sort (which would keep, not break, the cluster order anyway).
    val shaped =
      if (cluster.isEmpty) bucketed
      else if (zorderOf(table)) {
        // Z-ORDER: sort each bucket by the interleaved quantile-rank
        // curve instead of lexicographically — filters on ANY clustered
        // key prune, not just the lead one. The __graft_z column rides
        // along in the files (hidden from the declared read schema) so
        // the layout is auditable.
        val withZ = bucketed.withColumn("__graft_z",
          zValueColumn(withDay, cluster))
        withZ.repartition(n, col("__bucket"))
          .sortWithinPartitions(col("__bucket"), col("__graft_z"))
      } else bucketed.repartition(n, col("__bucket"))
        .sortWithinPartitions(col("__bucket") +: cluster.map(col): _*)
    shaped
      .write.partitionBy("__bucket").mode("overwrite")
      .option("compression", compression) // zstd: ~2× smaller cold data at 100 TB
      .option("parquet.block.size", parquetBlockSize.toString)
      .parquet(dir.toString)
    if (!fs.exists(dir)) Nil
    else {
      val out = fs.listStatus(dir).toIndexedSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("__bucket="))
        .map { st =>
          val b = st.getPath.getName.stripPrefix("__bucket=").toInt
          (b, st.getPath.toString)
        }
      // no rows, no entries: nothing will reference the dir
      if (out.isEmpty) fs.delete(dir, true) else writeStatsSidecar(table, dir, out.map(_._2))
      out
    }
  }

  // ---- per-file column statistics (micro-partition metadata) --------------
  //
  // Every batch write records each data FILE's length and mtime, and
  // min/max/null-presence for every supported column, in
  // `<batchDir>/_graft_stats` — the exact metadata Snowflake keeps per
  // micro-partition. The inventory is the read path's file list
  // ([[fileIndex]]) and the stats prune it ([[SidecarPrune]]) without
  // touching parquet footers; the underscore prefix keeps Spark's file
  // listing from ever treating it as data.

  /** One sidecar line per file, `rel\t\tf\t\t<length>\t<mtime>`, and one
    * per (file, column): `rel\tcol\tkind\tnulls\tmin\tmax` — string
    * bounds base64'd (TSV-safe), numeric bounds in plain text, "" =
    * unbounded on that side. Written for every batch, also when no
    * column keeps stats.
    *
    * INTEGRITY SENTINEL: the first line is `#graft_stats files=<n>`
    * (distinct data files inventoried) and the last line is `#end`.
    * Every store read takes the sidecar as the batch's authoritative
    * file inventory, so a sidecar that is present and parseable but
    * INCOMPLETE (a non-atomic writer that flushed a prefix, truncation
    * exactly on a line boundary) would silently drop committed files
    * from every scan. [[readStatsSidecar]] verifies both markers, the
    * file count and each file's length line before trusting the
    * inventory; any mismatch degrades to the conservative
    * directory-listing path. */
  private def writeStatsSidecar(table: String, batchDir: Path,
      bucketDirs: Seq[String]): Unit = {
    val schema = schemaOf(table)
    val statFields = schema.fields.toIndexedSeq
      .flatMap(f => TableStore.statKind(f.dataType).map(k => (f.name, k)))
    val lookups = lookupOf(table)
      .filter(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
    val b64 = java.util.Base64.getEncoder
    def enc(kind: String, v: Option[Any]): String = v match {
      case None => ""
      case Some(x) if kind == "s" =>
        b64.encodeToString(x.asInstanceOf[String].getBytes("UTF-8"))
      case Some(x) => x.toString
    }
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    var nFiles = 0
    var maxRows = 0L
    bucketDirs.foreach { bd =>
      val bdPath = new Path(bd)
      fs.listStatus(bdPath).foreach { st =>
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
          nFiles += 1
          val rel = s"${bdPath.getName}/${st.getPath.getName}"
          // lookup columns are stat columns, so no stat field = no footer to read
          val (perCol, rows) =
            if (statFields.isEmpty) (Nil, 0L)
            else TableStore.fileColumnStats(st.getPath, hconf, statFields)
          maxRows = math.max(maxRows, rows)
          lines += s"$rel\t\tf\t\t${st.getLen}\t${st.getModificationTime}"
          perCol.foreach { case (col, cs) =>
            val n = cs.hasNulls.map(h => if (h) "1" else "0").getOrElse("?")
            lines += s"$rel\t$col\t${cs.kind}\t$n\t${enc(cs.kind, cs.min)}\t${enc(cs.kind, cs.max)}"
          }
        }
      }
    }
    if (lookups.nonEmpty && nFiles > 0)
      lines ++= bloomLines(schema, bucketDirs, lookups, maxRows)
    writeFile(new Path(batchDir, "_graft_stats"),
      (s"#graft_stats files=$nFiles" +: lines :+ "#end").mkString("\n"))
  }

  /** Per-(file, lookup-column) bloom sidecar lines
    * (`rel\tcol\tb\t?\t<base64 spark-sketch bloom>\t`): ONE distributed
    * pass over the freshly-written batch — column-pruned to the lookup
    * columns — grouping `xxhash64(col)` per file into Spark's native
    * [[org.apache.spark.sql.catalyst.expressions.aggregate
    * .BloomFilterAggregate]] (the same sketch runtime join filtering
    * uses; codegen'd hash, no UDF). Probe side hashes its literal with
    * the identical expression ([[StatsPruning]]). Sizing: bits for a 1%
    * false-positive rate at the batch's largest file's row count, capped
    * at 2^22 bits (512 KiB per file-column). */
  private def bloomLines(schema: StructType, bucketDirs: Seq[String],
      lookups: Seq[String], maxRowsPerFile: Long): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val fpp = 0.01
    val maxBits = 1L << 22
    val est = math.min(4000000L, math.max(1024L, maxRowsPerFile))
    val ln2sq = math.log(2) * math.log(2)
    val numBits = math.max(64L,
      math.min(maxBits, math.ceil(est * math.log(1 / fpp) / ln2sq).toLong))
    val fields = StructType(schema.fields
      .filter(f => lookups.exists(_.equalsIgnoreCase(f.name))))
    def bloomAgg(c: String): org.apache.spark.sql.Column =
      org.apache.spark.sql.GraftColumnBridge.column(
        new BloomFilterAggregate(
          org.apache.spark.sql.GraftColumnBridge.expression(xxhash64(col(c))),
          Literal(est), Literal(numBits)).toAggregateExpression()).as(c)
    val names = fields.fieldNames.toIndexedSeq
    val rows = spark.read.schema(fields).parquet(bucketDirs: _*)
      .groupBy(input_file_name().as("__file"))
      .agg(bloomAgg(names.head), names.tail.map(bloomAgg): _*)
      .collect()
    val b64 = java.util.Base64.getEncoder
    rows.toIndexedSeq.flatMap { r =>
      val p = new Path(r.getString(0))
      val rel = s"${p.getParent.getName}/${p.getName}"
      names.map { c =>
        s"$rel\t$c\tb\t?\t${b64.encodeToString(r.getAs[Array[Byte]](c))}\t"
      }
    }
  }

  /** See [[TableStore.readStatsSidecar]] (static form) for semantics,
    * including the integrity-sentinel fallback contract. */
  private def readStatsSidecar(batchDir: Path): TableStore.Sidecar =
    TableStore.readStatsSidecar(fs, batchDir)

  private def withAction(df: DataFrame, action: String): DataFrame =
    df.withColumn("__action", lit(action))

  /** INSERT append (S5): writes only the new batch; old files carry over.
    * The batch is its own change source, like [[overwrite]]'s: every row
    * carries [[Merge.ActionCol]] `= 'insert'`, written in the data job.
    * Cross-JVM safe: a rebase after a lost commit race only re-reads the
    * carried-over manifest (the batch files are state-free and reused) —
    * unless the table declares autoincrement columns, whose values derive
    * from the base version's max and must be recomputed against the
    * winner's output.
    *
    * `loaded` names the landed files `df` was parsed from; the commit
    * adds them to the table's load ledger ([[loadedFiles]]). If the ledger
    * of the version it would commit onto already names one of them (a
    * concurrent pipe won the race with the same files), nothing is
    * committed, the batch is deleted, and the result is false. */
  def append(table: String, df: DataFrame,
      loaded: Seq[TableStore.LoadedFile] = Nil): Boolean = synchronized {
    require(!loaded.exists(_.path.exists(c => c == '\n' || c == '\r')),
      "a loaded file's path must fit on one manifest line")
    val stateFree = autoIncOf(table).isEmpty
    var batch: Seq[(Int, String)] = null
    val committed = commitLoop(table) { base =>
      if (batch == null || !stateFree) {
        if (batch != null) dropBatchDirs(batch) // rebased autoinc attempt
        batch = writeBatch(table, base + 1, fillAutoInc(table, align(table, df), base)
          .withColumn(Merge.ActionCol, lit("insert")))
      }
      Commit(readManifest(table, base) ++ batch, marked = batch, loaded = loaded)
    }
    // a batch that was not committed is deleted; after a commit,
    // write-time auto-compaction (opt-in) bounds small-file accretion
    // from continuous micro-batch appends. The TABLE property (ALTER
    // TABLE … SET AUTO_COMPACT) wins over the session conf — including
    // an explicit OFF (0), which silences a conf-set session.
    if (!committed) dropBatchDirs(batch)
    else autoCompactOf(table) match {
      case Some(0) => // table says OFF
      case Some(n) => autoCompact(table, n)
      case None =>
        spark.conf.getOption("spark.graft.store.autoCompactBatches")
          .map(_.toInt).filter(_ > 0).foreach(n => autoCompact(table, n))
    }
    committed
  }

  /** INSERT OVERWRITE (S6): full replace; the change rows are the new
    * contents, labeled `insert`. The batch is their change source: every
    * row carries [[Merge.ActionCol]] `= 'insert'`, written in the same job
    * as the data, so the commit writes the rows once. The batch is reused
    * across rebases — a full replace is insensitive to what the lost-race
    * winner committed. */
  def overwrite(table: String, df: DataFrame): Unit = synchronized {
    var batch: Seq[(Int, String)] = null
    commitLoop(table) { base =>
      if (batch == null)
        batch = writeBatch(table, base + 1, fillAutoInc(table, align(table, df), base)
          .withColumn(Merge.ActionCol, lit("insert")))
      Commit(batch, marked = batch)
    }
  }

  /** Full replace committed with NO change rows — the write shape for
    * derived ARTIFACT tables ([[Artifacts]]): a per-corpus-version
    * artifact is a pure function of its inputs, so CDC consumers have
    * nothing to see (no phantom changes) and the files carry no action
    * marker. */
  def overwriteSnapshot(table: String, df: DataFrame): Unit = synchronized {
    var batch: Seq[(Int, String)] = null
    commitLoop(table) { base =>
      if (batch == null)
        batch = writeBatch(table, base + 1, fillAutoInc(table, align(table, df), base))
      Commit(batch)
    }
  }

  /** TRUNCATE (S7): empty manifest, no data IO at all. */
  def truncate(table: String): Unit = synchronized {
    commitLoop(table)(_ => Commit(Nil))
    ()
  }

  /** UPDATE ... SET ... WHERE (P7): bucket-pruned rewrite. Touched buckets
    * are discovered from the rows matching `pred` (a column-pruned scan of
    * only the predicate + key columns — no predicate analysis needed, and
    * correct for ANY predicate since unmatched rows never change); only
    * those buckets are rewritten, the rest carry over at manifest level.
    * At 100 TB a key-bound UPDATE costs O(tableSize·k/B) IO, same as MERGE. */
  def update(table: String, pred: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Unit = synchronized {
    var lastBatch: Seq[(Int, String)] = null
    commitLoop(table) { base =>
      if (lastBatch != null) dropBatchDirs(lastBatch) // recompute vs winner
      val touchedBuckets = matchingBuckets(table, pred, base)
      val updated = graft.ops.TableOps.update(
        readVersion(table, base, touchedBuckets), pred, set)
      lastBatch = writeBatch(table, base + 1, updated)
      val untouched = touchedBuckets
        .map(bs => readManifest(table, base).filterNot(e => bs(e._1)))
        .getOrElse(Nil)
      val changed = graft.ops.TableOps.update(
        readVersion(table, base, touchedBuckets).filter(pred), pred, set)
      Commit(untouched ++ lastBatch, Some(withAction(changed, "update")))
    }
  }

  /** DELETE FROM ... WHERE: bucket-pruned like [[update]]. The change
    * batch carries the deleted rows with `__action='delete'` (Snowflake
    * METADATA$ACTION='DELETE' analogue — the reference's item acceptance
    * note names delete propagation, item-...sql:220). */
  def delete(table: String, pred: org.apache.spark.sql.Column): Unit = synchronized {
    var lastBatch: Seq[(Int, String)] = null
    commitLoop(table) { base =>
      if (lastBatch != null) dropBatchDirs(lastBatch) // recompute vs winner
      val touchedBuckets = matchingBuckets(table, pred, base)
      // NULL-pred rows are kept (SQL DELETE removes only TRUE rows)
      val kept = readVersion(table, base, touchedBuckets)
        .filter(!coalesce(pred, lit(false)))
      lastBatch = writeBatch(table, base + 1, kept)
      val untouched = touchedBuckets
        .map(bs => readManifest(table, base).filterNot(e => bs(e._1)))
        .getOrElse(Nil)
      val deleted = readVersion(table, base, touchedBuckets).filter(pred)
      Commit(untouched ++ lastBatch, Some(withAction(deleted, "delete")))
    }
  }

  /** Buckets touched by `pred`. Resolution order:
    *  1. [[bucketsFromLiterals]] — for key-binding predicates (`key = lit`
    *     / `key IN (lits)` conjuncts covering every declared key, the
    *     reference's own UPDATE shapes) the buckets are computed from the
    *     literals on the driver, ZERO table IO;
    *  2. a column-pruned discovery scan for arbitrary predicates;
    *  3. None (= all buckets, full rewrite) for keyless tables whose
    *     bucket assignment is write-time round-robin and not re-derivable
    *     from rows. */
  private def matchingBuckets(table: String,
      pred: org.apache.spark.sql.Column, base: Long): Option[Set[Int]] = {
    val keys = keysOf(table)
    if (keys.isEmpty) None
    else bucketsFromLiterals(table, pred, base).orElse(
      Some(readVersion(table, base).filter(pred)
        .select(bucketCol(keys, bucketsOfVersion(table, base)).as("b")).distinct()
        .collect().map(_.getInt(0)).toSet))
  }

  /** Derive touched buckets from a key-binding predicate WITHOUT any scan:
    * if every declared key is bound by an `=` or `IN (literal, ...)`
    * conjunct, the touched buckets are the bucket hashes of the literal
    * key combinations — evaluated driver-side with the SAME Catalyst
    * expressions the write path uses (xxhash64 seed 42, pmod), so the ids
    * are bit-identical to [[bucketCol]]'s. At 100 TB this turns a point
    * UPDATE/DELETE from one full-table metadata scan + k-bucket rewrite
    * into a pure k-bucket rewrite. Conservative: literals whose cast to
    * the key type could lose precision (string → numeric), > 1024 combos,
    * or any unbound key fall back (None → caller scans). */
  private def bucketsFromLiterals(table: String,
      pred: org.apache.spark.sql.Column, base: Long): Option[Set[Int]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast,
      EqualTo, Expression, In, Literal, XxHash64}
    val keys = keysOf(table)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last.toLowerCase)
      case a: AttributeReference  => Some(a.name.toLowerCase)
      case _ => None
    }
    val bound = scala.collection.mutable.Map.empty[String, Seq[Literal]]
    // converted + normalize: the Spark 4 Column API surfaces operators as
    // UnresolvedFunction nodes that no typed pattern below would match —
    // without the rewrite every Column-built predicate silently fell back
    // to the discovery scan
    conjuncts(StatsPruning.normalize(
        org.apache.spark.sql.GraftColumnBridge.converted(pred))).foreach {
      case EqualTo(a, l: Literal) => attrName(a).foreach(n => bound.getOrElseUpdate(n, Seq(l)))
      case EqualTo(l: Literal, a) => attrName(a).foreach(n => bound.getOrElseUpdate(n, Seq(l)))
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        attrName(a).foreach(n => bound.getOrElseUpdate(n, vs.map(_.asInstanceOf[Literal])))
      case _ =>
    }
    val fieldType = schemaOf(table).fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val perKey: Seq[Seq[Any]] = keys.map { k =>
      val dt = fieldType(k.toLowerCase)
      bound.get(k.toLowerCase) match {
        case None => return None // key not bound by a literal conjunct
        case Some(lits) =>
          if (!lits.forall(l => l.dataType == dt || Cast.canUpCast(l.dataType, dt)))
            return None // lossy coercion (e.g. string vs numeric) — scan instead
          // a literal whose cast is null can never equal a key value: it
          // contributes no combos (possibly an empty bucket set = no-op)
          lits.map(l => Cast(l, dt, Some(zone)).eval(null)).filter(_ != null)
      }
    }
    if (perKey.map(_.size.toLong).product > 1024) return None
    val n = bucketsOfVersion(table, base)
    val keyTypes = keys.map(k => fieldType(k.toLowerCase))
    val combos = perKey.foldLeft(Seq(Seq.empty[Any]))((acc, vs) =>
      acc.flatMap(pre => vs.map(v => pre :+ v)))
    Some(combos.map { vals =>
      val h = new XxHash64(vals.zip(keyTypes).map { case (v, dt) => Literal(v, dt) })
        .eval(null).asInstanceOf[Long]
      (((h % n) + n) % n).toInt
    }.toSet)
  }

  /** MERGE INTO (A-MERGE): bucket-pruned upsert. Only buckets containing
    * source keys are rewritten; the rest of the table carries over at
    * manifest level.
    *
    * Change rows = the committed rows of the keys the MERGE touched,
    * labeled `update` (matched, when the MERGE sets a column) or `insert`
    * (source-only), written once:
    * [[Merge.upsert]] emits the action its join already decided as the
    * hidden [[Merge.ActionCol]] column, the batch files carry it (like
    * `__graft_z` and the `__graft_day_*` companions; carried rows hold
    * null), and the manifest names the batch as the version's change
    * source, so [[readChanges]] serves the marked rows straight from the
    * data files. Every store read uses the declared schema, so the marker
    * never surfaces in [[read]], [[readVersion]], views or copies. The
    * change rows are the written files, not a re-evaluated merge plan, so
    * they show exactly the committed values (custom SET expressions,
    * autoincrement keys, `current_timestamp()` defaults). Rows removed by
    * a `WHEN MATCHED … DELETE` branch are not in the new files: they come
    * from a null-safe anti-join of the touched buckets against the
    * written keys (a NULL key is never matched, so never deleted), with
    * their pre-merge values and `__action = 'delete'`, as the version's
    * `_changes` batch.
    *
    * `alignSource = false` keeps extra (non-target-schema) source columns
    * visible to custom `whenMatchedSet` / `whenNotMatchedInsert`
    * expressions (the SQL MERGE path, where value exprs may reference any
    * source column); key columns are still cast to the target types so the
    * bucket hash matches the table's bucketing. Without `whenMatchedSet`,
    * matched rows take the non-key columns the caller's source has;
    * columns the alignment pads in (autoincrement keys, DEFAULTs) keep
    * their target values and fill only inserted rows. */
  def merge(table: String, source: DataFrame,
      whenMatchedSet: Option[Map[String, org.apache.spark.sql.Column]] = None,
      whenNotMatchedInsert: Option[Map[String, org.apache.spark.sql.Column]] = None,
      alignSource: Boolean = true,
      whenMatchedDelete: Option[org.apache.spark.sql.Column] = None): Unit = synchronized {
    val keys = keysOf(table)
    require(keys.nonEmpty, s"merge into $table requires declared keys")

    val alignedSrc =
      if (alignSource) align(table, source, padMissing = true)
      else {
        val keyTypes = schemaOf(table).fields
          .filter(f => keys.contains(f.name)).map(f => f.name -> f.dataType).toMap
        keyTypes.foldLeft(source) { case (df, (k, dt)) => df.withColumn(k, col(k).cast(dt)) }
      }
    val given = source.columns.toSet
    val matchedSet = whenMatchedSet.orElse(Some(schemaOf(table).fieldNames
      .filter(c => given(c) && !keys.contains(c)).map(c => c -> Merge.src(c)).toMap))
    // a lost commit race recomputes the WHOLE merge against the winner's
    // output (the upsert read the base version's bucket contents, which
    // the winner may have changed) — serializable, last writer rebases
    var lastBatch: Seq[(Int, String)] = null
    commitLoop(table) { base =>
    if (lastBatch != null) dropBatchDirs(lastBatch)
    val srcBuckets = alignedSrc
      .select(bucketCol(keys, bucketsOfVersion(table, base)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val touched = readVersion(table, base, Some(srcBuckets))
    // column DEFAULTs act as the insert-branch fallback (autoinc cols stay
    // null through the merge and are filled below, past the global max)
    val insertDefaults = defaultsOf(table).map { case (c, e) => c -> expr(e) }
    val merged = fillAutoInc(table, Merge.upsert(touched, alignedSrc, keys, matchedSet,
      whenNotMatchedInsert, whenMatchedDelete, insertDefaults, emitAction = true), base)

    val newEntries = writeBatch(table, base + 1, merged)
    lastBatch = newEntries
    val untouched = readManifest(table, base).filterNot(e => srcBuckets(e._1))

    val deletes = whenMatchedDelete.map { _ =>
      val survivors = readPaths(table, newEntries.map(_._2)).select(keys.map(col): _*)
      val survives = keys.map(k => touched(k) <=> survivors(k)).reduce(_ && _)
      withAction(align(table, touched.join(survivors, survives, "left_anti")), "delete")
    }
    Commit(untouched ++ newEntries, deletes, marked = newEntries)
    } // commitLoop
    ()
  }

  // ---- helpers ------------------------------------------------------------

  /** Align df to the table schema by name with casts (the permissive,
    * schema-on-write landing behavior: missing cols → their declared
    * DEFAULT expression, else null; autoincrement cols are filled by
    * [[fillAutoInc]] at the write sites). */
  private def align(table: String, df: DataFrame, padMissing: Boolean = true): DataFrame = {
    val present = df.columns.toSet
    val defaults = defaultsOf(table)
    val cols = schemaOf(table).fields.map { f =>
      if (present(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else {
        require(padMissing, s"column ${f.name} missing for table $table")
        defaults.get(f.name).map(expr).getOrElse(lit(null)).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Fill null autoincrement columns continuing past the table-wide max
    * of version `base` (only on tables that declare one — zero cost
    * otherwise). The max comes from the batches' stats sidecars when they
    * cover it ([[sidecarMax]]), else from a column-pruned max() scan. */
  private def fillAutoInc(table: String, df: DataFrame, base: Long): DataFrame =
    autoIncOf(table).foldLeft(df) { (d, c) =>
      val globalMax: Long = sidecarMax(table, base, c).getOrElse {
        readVersion(table, base).agg(max(col(c))).head() match {
          case r if r.isNullAt(0) => 0L
          case r                  => r.getLong(0)
        }
      }
      graft.ops.SurrogateKey.assignFrom(d, c, globalMax)
    }

  /** Max of LONG column `c` over version `base`, read without a Spark job
    * from the `_graft_stats` sidecars of the batches its manifest references
    * (0 for an empty version). None — the caller scans — unless every
    * batch's sidecar has a trusted inventory and every data file the
    * manifest references carries a max for `c` (a legacy batch has no
    * sidecar; an all-null file has no max). Files of a batch's buckets
    * that a later merge rewrote are not referenced, so they don't count. */
  private[store] def sidecarMax(table: String, base: Long, c: String): Option[Long] = {
    val maxes = readManifest(table, base).groupBy(e => new Path(e._2).getParent).toSeq.flatMap {
      case (batchDir, bucketDirs) =>
        val sc = readStatsSidecar(batchDir)
        if (!sc.inventoryTrusted) return None
        val wanted = bucketDirs.map(bd => new Path(bd._2).getName).toSet
        sc.files.toSeq.collect {
          case (rel, stats) if wanted(rel.takeWhile(_ != '/')) =>
            stats.get(c).flatMap(_.max) match {
              case Some(m: Long) => m
              case _ => return None
            }
        }
    }
    Some(if (maxes.isEmpty) 0L else maxes.max)
  }

  // ---- CDC ----------------------------------------------------------------

  private[store] def offsetPath(table: String, stream: String) =
    new Path(new Path(tdir(table), "_streams"), s"$stream.offset")

  /** The change rows of versions (fromExclusive, toInclusive] (see
    * [[changeSourcesOf]]): one scan of the plain change batches, one of
    * the marked data batches keeping rows whose marker is set (surfaced
    * as `__action`), unioned when both exist. */
  private[graft] def readChanges(table: String, fromExclusive: Long, toInclusive: Long): DataFrame = {
    val sources = (fromExclusive + 1 to toInclusive).map(v => changeSourcesOf(table, v))
    val schema = schemaOf(table)
    val plain = sources.flatMap(_.plain).map(_.toString)
    val marked = sources.flatMap(_.marked)
    val scans =
      (if (plain.isEmpty) Nil
       else Seq(spark.read.schema(schema.add("__action", StringType)).parquet(plain: _*))) ++
      (if (marked.isEmpty) Nil else Seq(markedRows(table, schema, marked)))
    scans.reduceOption(_ unionByName _).getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema.add("__action", StringType)))
  }

  /** The change rows of marked bucket dirs read under `schema`: the rows
    * whose [[Merge.ActionCol]] is set, the marker surfaced as `__action`. */
  private def markedRows(table: String, schema: StructType, dirs: Seq[Path]): DataFrame =
    fileIndex(table, dirs.map(_.toString)).read(spark, schema.add(Merge.ActionCol, StringType))
      .filter(col(Merge.ActionCol).isNotNull).withColumnRenamed(Merge.ActionCol, "__action")

  /** Row count of the change rows of versions (fromExclusive,
    * toInclusive], summed from parquet footers without a Spark job: every
    * row of a plain change batch, and the rows of a marked batch minus
    * its marker column's null count. None when a file's footer can't be
    * read (truncated, corrupt) or lacks the marker's null count: the
    * caller then asks Spark. */
  private[graft] def changeRowCount(table: String, fromExclusive: Long,
      toInclusive: Long): Option[Long] = {
    import scala.jdk.CollectionConverters._
    def dataFiles(dir: Path) = fs.listStatus(dir).toIndexedSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    def footerCount(file: org.apache.hadoop.fs.FileStatus, marked: Boolean): Long = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, hconf))
      try reader.getFooter.getBlocks.asScala.map { bg =>
        if (!marked) bg.getRowCount
        else bg.getColumns.asScala.find(_.getPath.toDotString == Merge.ActionCol).map { cm =>
          val stats = cm.getStatistics
          require(stats != null && stats.isNumNullsSet, s"no null count for ${Merge.ActionCol}")
          bg.getRowCount - stats.getNumNulls
        }.getOrElse(0L) // no marker column: every row reads back unmarked
      }.sum
      finally reader.close()
    }
    val sources = (fromExclusive + 1 to toInclusive).map(v => changeSourcesOf(table, v))
    val counts = sources.flatMap(s => s.plain.map(_ -> false) ++ s.marked.map(_ -> true))
      .map { case (dir, marked) =>
        scala.util.Try(dataFiles(dir).map(footerCount(_, marked)).sum)
      }
    if (counts.exists(_.isFailure)) None else Some(counts.map(_.get).sum)
  }

  private[graft] def readOffset(table: String, stream: String): Long = {
    val p = offsetPath(table, stream)
    if (fs.exists(p)) readFile(p).trim.toLong else 0L
  }

  private[graft] def writeOffset(table: String, stream: String, v: Long): Unit =
    writeFile(offsetPath(table, stream), v.toString)

  /** Forget a dropped stream's offset, so [[vacuum]] no longer keeps the
    * table's change sources for it. */
  private[graft] def dropOffset(table: String, stream: String): Unit = {
    fs.delete(offsetPath(table, stream), false)
    ()
  }
}

/** Statistics-kind mapping, parquet footer decoding and the sidecar
  * parser for the store's micro-partition metadata ([[StoreFileIndex]]).
  * Domains must match [[StatsPruning]]'s comparisons. */
object TableStore {

  /** A landed file in a table's load ledger ([[TableStore.loadedFiles]]):
    * its qualified path, and its length and mtime when it was loaded. */
  final case class LoadedFile(path: String, length: Long, mtime: Long)

  /** A store that stays out of [[GraftCatalog]]'s name resolution: the
    * per-call handles [[Artifacts]] builds, which resolve by prefix. */
  private[store] def unattached(spark: SparkSession, root: String, numBuckets: Int): TableStore =
    new TableStore(spark, root, numBuckets, "zstd", 128L * 1024 * 1024, attach = false)

  /** The stats value domain for a column type, if statistics are kept:
    * `l` long (integral / date-days / timestamp-micros), `d` double,
    * `s` string (UTF-8 unsigned order), `c<scale>` unscaled decimal.
    * Decimals over precision 18 (binary-encoded in parquet), intervals,
    * binary, and nested types keep no stats (their files never prune). */
  private[store] def statKind(dt: DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => Some("l")
      case DateType => Some("l")
      case TimestampType | TimestampNTZType => Some("l")
      case FloatType | DoubleType => Some("d")
      case StringType => Some("s")
      case d: DecimalType if d.precision <= 18 => Some("c" + d.scale)
      case _ => None
    }
  }

  /** A parsed batch sidecar: relative file path → (column → interval),
    * and → (length, mtime) in `sizes`. `inventoryTrusted` says whether
    * `sizes`' KEY SET is the batch's complete data-file inventory: only
    * sidecars carrying the integrity sentinel (`#graft_stats files=<n>`
    * header + `#end` trailer, both verified) and a length line for every
    * file earn it. Headerless sidecars from pre-sentinel writers are
    * STATS-ONLY — that writer also omitted files whose parquet footers
    * yielded no usable column stats, so trusting its key set as the
    * inventory would silently drop those files from every read;
    * consumers must take the inventory from a directory listing and use
    * `files` only to prune entries that are present. */
  private[store] final case class Sidecar(files: Map[String, StatsPruning.FileStats],
      sizes: Map[String, (Long, Long)], inventoryTrusted: Boolean)

  private val NoSidecar = Sidecar(Map.empty, Map.empty, inventoryTrusted = false)

  // sidecar parse memo — batches are immutable after commit, so the
  // (path, mtime, length) key only ever changes when a spec (or an
  // out-of-band writer) rewrites the file in place, which then
  // re-parses. A size-capped LRU: under sustained load cold entries
  // evict one at a time instead of dumping the whole cache.
  private val SidecarMemoCap = 4096
  private val sidecars = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long), Sidecar](64, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(String, Long, Long), Sidecar]): Boolean =
        size() > SidecarMemoCap
    })

  /** Parse a batch dir's stats sidecar (see [[Sidecar]]), memoized per
    * (path, mtime, length). Empty+untrusted when the sidecar is absent
    * (legacy batch), unreadable, or FAILS ITS INTEGRITY SENTINEL (header
    * `#graft_stats files=<n>` present but the `#end` trailer or the
    * declared file count doesn't match — a partially-flushed or
    * truncated sidecar) — callers then keep every file via the
    * conservative directory-listing path instead of silently scanning
    * an incomplete inventory. Headerless sidecars from pre-sentinel
    * writers still parse, but stats-only (untrusted inventory). */
  private[store] def readStatsSidecar(fs: FileSystem, batchDir: Path): Sidecar = {
    val p = new Path(batchDir, "_graft_stats")
    val st = try fs.getFileStatus(p) catch { case _: java.io.FileNotFoundException => return NoSidecar }
    val key = (p.toString, st.getModificationTime, st.getLen)
    Option(sidecars.get(key)).getOrElse {
      val parsed = parseStatsSidecar(fs, p)
      sidecars.put(key, parsed)
      parsed
    }
  }

  private def parseStatsSidecar(fs: FileSystem, p: Path): Sidecar = {
    val b64 = java.util.Base64.getDecoder
    def dec(kind: String, s: String): Option[Any] =
      if (s.isEmpty) None
      else kind match {
        case "s" => Some(new String(b64.decode(s), "UTF-8"))
        case "d" => Some(s.toDouble)
        case _ => Some(s.toLong)
      }
    scala.util.Try {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val all = raw.split("\n").toIndexedSeq.filter(_.nonEmpty)
      val (body, declared) = all.headOption match {
        case Some(h) if h.startsWith("#graft_stats") =>
          val n = h.split("files=", 2) match {
            case Array(_, c) => c.trim.toInt
            case _ => sys.error(s"malformed sidecar header: $h")
          }
          require(all.last == "#end",
            s"sidecar missing #end trailer (truncated write): $p")
          (all.slice(1, all.length - 1), Some(n))
        case _ => (all.filterNot(_.startsWith("#")), None) // legacy
      }
      val split = body.map(_.split("\t", -1))
      split.foreach(f => require(f.length == 6, s"malformed sidecar line in $p"))
      val parsed = split.groupBy(_.head).map { case (rel, rows) =>
        val intervals = rows.collect {
          case Array(_, colName, kind, nulls, mn, mx)
              if colName.nonEmpty && kind != "b" =>
            val hasNulls = nulls match {
              case "1" => Some(true); case "0" => Some(false); case _ => None
            }
            colName -> StatsPruning.ColStat(kind, hasNulls,
              dec(kind, mn), dec(kind, mx))
        }.toMap
        // lookup blooms attach to the column's interval stat (or stand
        // alone when the footer yielded none); an unparseable bloom is
        // simply dropped — absent bloom = conservative keep
        val blooms = rows.collect {
          case Array(_, colName, "b", _, payload, _) if colName.nonEmpty =>
            colName -> scala.util.Try(org.apache.spark.util.sketch.BloomFilter
              .readFrom(b64.decode(payload))).toOption
        }.collect { case (c, Some(bf)) => c -> bf }
        rel -> blooms.foldLeft(intervals) { case (m, (c, bf)) =>
          m.updated(c, m.getOrElse(c,
            StatsPruning.ColStat("b", None, None, None)).copy(bloom = Some(bf)))
        }
      }
      val sizes = split.collect {
        case Array(rel, "", "f", _, length, mtime) => rel -> ((length.toLong, mtime.toLong))
      }.toMap
      declared.foreach(n => require(parsed.size == n,
        s"sidecar inventories ${parsed.size} files but declares $n: $p"))
      Sidecar(parsed, sizes, inventoryTrusted = declared.isDefined && parsed.keySet == sizes.keySet)
    }.getOrElse(NoSidecar)
  }

  // string bounds above this length are truncated: a truncated MIN is
  // still a valid lower bound; a truncated MAX is NOT (dropping bytes
  // lowers it), so long maxima become unbounded instead — conservative
  private val MaxStatString = 256

  /** Decode one parquet generic statistics value into its kind domain.
    * `isMax` drives the conservative string-truncation rule. None =
    * undecodable (e.g. INT96 timestamps, NaN floats) → unbounded. */
  private def decodeStat(kind: String, v: AnyRef, isMax: Boolean): Option[Any] =
    (kind, v) match {
      case ("l", i: java.lang.Integer) => Some(i.longValue)
      case ("l", l: java.lang.Long) => Some(l.longValue)
      case ("d", f: java.lang.Float) =>
        Some(f.doubleValue).filterNot(_.isNaN)
      case ("d", d: java.lang.Double) =>
        Some(d.doubleValue).filterNot(_.isNaN)
      case ("s", b: org.apache.parquet.io.api.Binary) =>
        val s = b.toStringUsingUTF8
        if (s.length <= MaxStatString) Some(s)
        else if (isMax) None
        else Some(s.substring(0, MaxStatString))
      case (c, i: java.lang.Integer) if c.startsWith("c") => Some(i.longValue)
      case (c, l: java.lang.Long) if c.startsWith("c") => Some(l.longValue)
      case _ => None
    }

  /** Per-column (kind, hasNulls, min, max) of one parquet file, merged
    * across its row groups from the footer, plus the file's ROW COUNT
    * (sizes the lookup blooms) — one footer read per file, paid ONCE at
    * write time and amortized over every pruned scan. */
  private[store] def fileColumnStats(file: Path,
      hconf: org.apache.hadoop.conf.Configuration,
      statFields: Seq[(String, String)])
      : (Seq[(String, StatsPruning.ColStat)], Long) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, hconf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toIndexedSeq
      val nRows = blocks.map(_.getRowCount).sum
      val stats = statFields.map { case (name, kind) =>
        var mins = List.empty[Any]
        var maxs = List.empty[Any]
        // a bound is only usable when EVERY value-bearing row group
        // contributed to it — one opaque group could hide the true extreme
        var minOk = true
        var maxOk = true
        var nulls: Option[Boolean] = Some(false)
        blocks.foreach { bg =>
          bg.getColumns.asScala.find(_.getPath.toDotString == name) match {
            case None => minOk = false; maxOk = false; nulls = None
            case Some(cm) =>
              val st = cm.getStatistics
              if (st == null) { minOk = false; maxOk = false; nulls = None }
              else {
                if (st.isNumNullsSet)
                  nulls = nulls.map(_ || st.getNumNulls > 0)
                else nulls = None
                if (st.hasNonNullValue) {
                  decodeStat(kind, st.genericGetMin.asInstanceOf[AnyRef],
                      isMax = false) match {
                    case Some(mn) => mins ::= mn
                    case None => minOk = false
                  }
                  decodeStat(kind, st.genericGetMax.asInstanceOf[AnyRef],
                      isMax = true) match {
                    case Some(mx) => maxs ::= mx
                    case None => maxOk = false // e.g. truncated long string
                  }
                } else if (!st.isNumNullsSet || st.getNumNulls < bg.getRowCount) {
                  // no usable bounds AND not provably all-null: either the
                  // null count is unknown, or value-bearing rows exist with
                  // suppressed statistics — parquet-mr omits float/double
                  // min/max for any row group containing NaN (the recorded
                  // numNulls stays 0), and those NaN rows order LARGEST
                  // under Spark comparison, so sibling groups' bounds must
                  // not be trusted to cap the file
                  minOk = false; maxOk = false
                }
                // else: provably all-null group (numNulls == rowCount) —
                // contributes no bounds
              }
          }
        }
        def fold(ok: Boolean, vs: List[Any], takeMin: Boolean): Option[Any] =
          if (!ok || vs.isEmpty) None
          else Some(vs.reduce { (a, b) =>
            val c = StatsPruning.ordCompare(kind, a, b)
            if ((c <= 0) == takeMin) a else b
          })
        name -> StatsPruning.ColStat(kind, nulls,
          fold(minOk, mins, takeMin = true), fold(maxOk, maxs, takeMin = false))
      }
      (stats, nRows)
    } finally reader.close()
  }
}
