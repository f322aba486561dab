package graft.store

import java.security.MessageDigest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable, versioned store for DERIVED per-corpus artifacts — the
  * materialized intermediates an operating 100 TB pipeline computes once
  * per corpus version and every consumer joins: the shingle signature
  * table, LSH dup-cluster labels, exact-kNN truth lists, BM25 postings,
  * kmeans / product-quantization codebooks.
  *
  * Round 12 held these in session-lifetime `localCheckpoint` memos; that
  * is bench-fast but cluster-dishonest twice over: `localCheckpoint`
  * blocks live on executors (losing ONE executor makes every downstream
  * consumer unrecomputable — lineage is truncated), and the artifact dies
  * with the session even though its scaladoc contract is "compute once
  * per corpus version". This object instead writes each artifact ONCE
  * through the versioned [[TableStore]] (zstd parquet, bucketed by the
  * artifact's join key, manifest-committed) and serves every subsequent
  * consumer — in this session or any later one pointed at the same root —
  * a plain bucketed-parquet scan: fault-tolerant (recomputable from
  * files), durable, and queryable from SQL like any other store table.
  *
  * Root resolution, in priority order:
  *   1. session conf `spark.graft.artifactDir`
  *   2. env `SPARK_GRAFT_ARTIFACT_DIR`
  *   3. a per-JVM temp directory (fresh each run — the safe default:
  *      correctness runs never read artifacts a code change obsoleted,
  *      while builds are still shared across every session in the JVM).
  *
  * Staleness safety: the table NAME embeds a hash of (format version,
  * full parameter key). A durable root survives code changes because any
  * builder-logic change bumps [[Artifacts.FMT]], which re-keys every
  * artifact — old tables are simply never read again ([[vacuum]]
  * reclaims them). Callers whose key embeds a corpus DIRECTORY should
  * also fold [[dataFingerprint]] into it: the fingerprint hashes the
  * source files' (path, length, mtime) listing, so regenerating data in
  * the same directory re-keys the artifact instead of silently serving
  * stale rows across sessions.
  *
  * Multi-writer safety (the 100 TB operating mode — many jobs pointed at
  * one durable root): a builder never writes the published table name
  * directly. It builds a COMPLETE table under a unique temp name, then
  * commits by claim-and-rename: create `<root>/_claims/<table>.claim`
  * with overwrite=false (atomic create-if-absent on HDFS-like stores;
  * best-effort on raw local FS, same caveat as the store's pointer swap —
  * on S3 use a conditional PUT), and only the claim winner renames its
  * temp directory to the published name (`_latest` travels inside the
  * rename, which IS the commit point). A race loser drops its build and
  * reads the winner — both readers see one committed, bit-identical
  * version. A claimer that dies between claim and rename leaves a stale
  * claim; waiters time out (`spark.graft.artifactClaimTimeoutMs`, default
  * 60 s — the wait only ever covers the winner's RENAME, builds happen
  * before claiming), break the claim, and re-race. Within one JVM a
  * striped lock additionally avoids duplicate concurrent builds of the
  * same table. [[appendDelta]] remains a single-writer maintenance
  * operation (same contract as any external-table writer).
  */
object Artifacts {

  /** Bump on ANY change to an artifact builder's output (schema or
    * values) or to the on-disk artifact layout: the key re-hash makes
    * every durable root self-invalidate. v2: sidecar `_artifact`
    * metadata (catalog + row-local marker) + claim-commit protocol. */
  private val FMT = 2

  private lazy val jvmTempRoot: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_artifacts_")
    d.toString
  }

  /** The artifact-store root this session resolves to. */
  def root(s: SparkSession): String =
    s.conf.getOption("spark.graft.artifactDir")
      .orElse(sys.env.get("SPARK_GRAFT_ARTIFACT_DIR"))
      .getOrElse(jvmTempRoot)

  // store handles are STATELESS (all table state is on disk), so they are
  // constructed per call instead of cached — the round-13 (session, root)
  // cache strongly retained every SparkSession ever used. Build/append
  // mutual exclusion comes from the striped locks below (bounded forever)
  // plus the cross-JVM claim protocol, not from handle identity.
  // 8 buckets, measured: raising to 32 to widen scan parallelism was
  // A/B'd at sf0.1 and LOST — per-file overhead on the many small
  // artifact reads cost more across the suite (+3.3 s) than the wider
  // signature-scan stage saved; at cluster scale the bucket count is a
  // per-root tuning knob, not a constant to inflate on a 32-core box.
  private def store(s: SparkSession): TableStore =
    TableStore.unattached(s, root(s), numBuckets = 8)

  /** SQL name resolution ([[graft.spark.GraftCatalog]]) of every committed
    * artifact, by prefix: the per-call stores here are not attached. */
  def relation(s: SparkSession, name: String): Option[DataFrame] =
    if (name.toLowerCase.startsWith("artifact_")) store(s).relation(name) else None

  // intra-JVM build/append serialization: a FIXED stripe array (never
  // grows, unlike a per-table lock map) — collisions just coarsen the
  // lock, correctness comes from the claim protocol anyway
  private val stripes = Array.fill(64)(new Object)
  private def stripe(key: String): Object =
    stripes(math.floorMod(key.hashCode, stripes.length))

  // artifact tables this JVM has built or read ("root|table") — the
  // liveness set [[vacuum]] keeps
  private val served = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[store] def resetServedForTesting(): Unit = served.clear()

  private def fsOf(s: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Deterministic table name: `artifact_<name>_<12-hex key hash>`. */
  private[store] def tableName(name: String, key: String): String = {
    val md = MessageDigest.getInstance("MD5")
    val h = md.digest(s"v$FMT|$key".getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    s"artifact_${name}_$h"
  }

  /** Cheap corpus-content fingerprint for artifact keys: a hash of the
    * recursive (path, length, mtime) file listing under `dir`. Callers
    * fold it into their artifact key so that REGENERATING data in the
    * same directory re-keys every derived artifact — without it a
    * durable root would serve stale shingles/labels/postings built from
    * the old bytes (FMT only invalidates on code changes, not data
    * changes). Driver-side metadata listing only — no data IO; at
    * cluster scale this is the same listing cost a parquet scan's file
    * index pays. */
  def dataFingerprint(s: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return "absent"
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      entries += s"${f.getPath}|${f.getLen}|${f.getModificationTime}"
    }
    val md = MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
    md.digest().take(6).map("%02x".format(_)).mkString
  }

  // ---- sidecar catalog metadata ------------------------------------------

  private[store] final case class Meta(name: String, key: String, fmt: Int,
      rowLocal: Boolean)

  private def metaPath(root: String, table: String) =
    new Path(new Path(root, table), "_artifact")

  private[store] def writeMeta(fs: FileSystem, root: String, table: String,
      m: Meta): Unit = {
    val txt = Seq(s"name\t${m.name}", s"key\t${m.key}", s"fmt\t${m.fmt}",
      s"row_local\t${m.rowLocal}").mkString("\n")
    val out = fs.create(metaPath(root, table), true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
  }

  private[store] def readMeta(fs: FileSystem, root: String,
      table: String): Option[Meta] = {
    val p = metaPath(root, table)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val kv = txt.split("\n").toIndexedSeq.filter(_.contains("\t")).map { l =>
      val Array(k, v) = l.split("\t", 2); k -> v
    }.toMap
    Some(Meta(kv.getOrElse("name", ""), kv.getOrElse("key", ""),
      kv.get("fmt").map(_.toInt).getOrElse(0),
      kv.get("row_local").contains("true")))
  }

  // ---- claim-and-rename commit -------------------------------------------

  private def claimPath(root: String, table: String) =
    new Path(new Path(root, "_claims"), s"$table.claim")

  /** Take the build lease: [[CommitPoint.publish]] a per-claimer token
    * at the claim path — create-if-absent + read-back, the same fenced
    * commit point as [[TableStore]]'s manifest protocol, so even under
    * a non-atomic create (object-store check-then-create) two racing
    * claimers can never BOTH hold the lease. Nothing else reads the
    * claim's content: breaking a claim stays "delete the file", and
    * the heartbeat refreshes only its mtime. */
  private[store] def tryClaim(fs: FileSystem, root: String, table: String): Boolean = {
    fs.mkdirs(new Path(root, "_claims"))
    CommitPoint.publish(fs, claimPath(root, table),
      java.util.UUID.randomUUID().toString)
  }

  private def claimTimeoutMs(s: SparkSession): Long =
    s.conf.getOption("spark.graft.artifactClaimTimeoutMs")
      .map(_.toLong).getOrElse(60000L)

  /** Commit-time HEARTBEAT: refresh the mtime of `paths` every
    * `periodMs` on a daemon thread until closed. While a writer's
    * rename+manifest-rewrite runs, this keeps (a) the claim file fresh —
    * so [[publish]]'s freshness-gated stale-claim break and vacuum's
    * claim age gate only ever fire on DEAD writers, never on a slow
    * object-store rename — and (b) a `_hb` marker inside the temp-build
    * tree fresh, so vacuum's recursive freshness probe sees an alive
    * build even after its last data file went quiet. A path deleted out
    * from under us (claim legitimately broken after we stopped beating)
    * is NOT re-created — resurrecting a broken claim would wedge the
    * breaker's re-race; the writer then loses the residual race exactly
    * as before. */
  private def heartbeat(fs: FileSystem, periodMs: Long,
      paths: Path*): AutoCloseable = {
    @volatile var live = true
    val t = new Thread(() => {
      while (live) {
        val now = System.currentTimeMillis()
        paths.foreach { p =>
          try if (fs.exists(p)) fs.setTimes(p, now, now)
          catch { case _: java.io.IOException => } // next beat retries
        }
        try Thread.sleep(periodMs)
        catch { case _: InterruptedException => live = false }
      }
    })
    t.setDaemon(true)
    t.setName("graft-artifact-commit-heartbeat")
    t.start()
    () => { live = false; t.interrupt(); t.join(2000L) }
  }

  private def awaitCommitted(fs: FileSystem, latest: Path,
      timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (fs.exists(latest)) return true
      Thread.sleep(50L)
    }
    fs.exists(latest)
  }

  /** Rewrite the temp table's manifests to the published paths, then
    * rename the whole directory — `_latest` travels inside the rename,
    * so the rename IS the atomic commit point (a crash before it leaves
    * no table; a crash after leaves a complete one).
    *
    * Returns whether OUR tree is the one now committed. The claim is
    * supposed to make this uncontended, but the claim's residual (a
    * live writer whose heartbeat is starved for a full timeout loses
    * its claim to a breaker) means a competing commit can land while
    * ours runs — so the commit point itself is fenced the same way the
    * table store's manifest protocol is: a committed table is NEVER
    * deleted (only latest-less debris is — a committed winner makes us
    * lose instead of clobbering it under concurrent readers), a failed
    * rename is a lost race rather than a crash, and a `_commit` token
    * read-back after the rename verifies that the tree serving the
    * published name is OURS (an HDFS-semantics rename onto a directory
    * that appeared mid-flight nests the source inside it — the
    * read-back detects that and sweeps the nested stray). */
  private def renameIntoPlace(fs: FileSystem, root: String, tmp: String,
      table: String, token: String): Boolean = {
    val tmpDir = new Path(root, tmp)
    val dstDir = new Path(root, table)
    val qTmp = fs.makeQualified(tmpDir).toString
    val qDst = fs.makeQualified(dstDir).toString
    val versions = new Path(tmpDir, "_versions")
    if (fs.exists(versions)) fs.listStatus(versions).foreach { vst =>
      val in = fs.open(vst.getPath)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val rewritten = txt.replace(qTmp + "/", qDst + "/")
        .replace(tmpDir.toString + "/", dstDir.toString + "/")
      if (rewritten != txt) {
        val out = fs.create(vst.getPath, true)
        try out.write(rewritten.getBytes("UTF-8")) finally out.close()
      }
    }
    if (fs.exists(dstDir)) {
      // a committed table (it has _latest) means a competing writer won
      // while we slept on a stolen claim — LOSE, never delete live data
      if (fs.exists(new Path(dstDir, "_latest"))) return false
      // debris without _latest (a claimer that died mid-createTable under
      // a pre-protocol layout) is not a committed table; we hold the claim
      fs.delete(dstDir, true)
    }
    if (!fs.rename(tmpDir, dstDir)) return false // dst reappeared — lost
    val committed =
      try {
        val in = fs.open(new Path(dstDir, "_commit"))
        val t = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        t == token
      } catch { case _: java.io.IOException => false }
    if (!committed) {
      // POSIX/HDFS rename onto an existing dir moves the source INSIDE
      // it: our whole tree may now sit nested in the winner's table dir
      val nested = new Path(dstDir, tmp)
      val nestedTok =
        try {
          val in = fs.open(new Path(nested, "_commit"))
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        } catch { case _: java.io.IOException => "" }
      if (nestedTok == token) fs.delete(nested, true)
    }
    committed
  }

  /** Commit the fully-written temp table `tmp` under the published name
    * `table`, racing any other writer (thread or JVM) on the same root:
    * exactly one build wins; losers drop their temp table and return
    * once the winner's commit is visible. */
  private[store] def publish(st: TableStore, tmp: String, table: String): Unit = {
    val r = st.root
    val fs = fsOf(st.spark, r)
    val latest = new Path(new Path(r, table), "_latest")
    val timeout = claimTimeoutMs(st.spark)
    var attempts = 0
    val waitStart = System.currentTimeMillis()
    while (true) {
      if (fs.exists(latest)) { // someone else committed — ours is redundant
        st.dropTable(tmp, purge = true)
        return
      }
      if (tryClaim(fs, r, table)) {
        if (!commitUnderClaim(st, tmp, table)) { // lost the TOCTOU race
          st.dropTable(tmp, purge = true)
        }
        return
      }
      // claim lost: the winner only has a rename left — wait it out
      if (awaitCommitted(fs, latest, timeout)) {
        st.dropTable(tmp, purge = true)
        return
      }
      // the winner's commit outlasted the wait — but a LIVE writer
      // heartbeats its claim while the rename runs, so break the claim
      // only once its mtime has gone quiet for a full timeout (claimer
      // died between claim and rename); a fresh claim is a held lock
      // and we simply wait another round, unbounded like any lock
      val cp = claimPath(r, table)
      val stale =
        try System.currentTimeMillis() - fs.getFileStatus(cp)
          .getModificationTime > timeout
        catch { case _: java.io.FileNotFoundException => true } // released
      if (stale) {
        fs.delete(cp, false)
        attempts += 1
        require(attempts <= 5,
          s"artifact $table: could not commit after $attempts claim rounds " +
            s"(stale claims at ${claimPath(r, table)})")
      } else {
        // a FRESH claim is a held lock and the wait is unbounded by
        // design — but an operator watching a hung pipeline must be able
        // to tell "waiting on a live writer" from "wedged": say so, with
        // the elapsed time and the claim path, once per wait round
        val waitedS = (System.currentTimeMillis() - waitStart) / 1000
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"artifact $table: waiting on a LIVE claim for ${waitedS}s " +
            s"(holder heartbeats $cp; breaks only if it goes quiet for ${timeout}ms)")
      }
    }
  }

  /** The commit step, entered ONLY with the claim held. Between the
    * caller's `fs.exists(latest)` probe and its claim win, a racing
    * writer can have fully committed AND released — renaming over that
    * table would delete a LIVE committed artifact out from under
    * concurrent readers (files vanishing mid-scan). No writer can commit
    * while we hold the claim, so one re-check here closes the window:
    * if a committed table is now visible we release the claim and lose
    * gracefully (return false — the caller drops its redundant build);
    * otherwise the rename is safe and IS the commit point.
    *
    * The guarantee is exactly as strong as claim exclusivity PLUS the
    * fenced commit point. The rename runs under a HEARTBEAT that
    * refreshes the claim's mtime (and a `_hb` marker inside the build
    * tree), and both [[publish]]'s stale-claim break and vacuum's age
    * gates are mtime-freshness checks — so an arbitrarily slow rename
    * presents as a live writer and is waited out, and only a DEAD
    * writer's claim (no beats for a full timeout) is ever broken. And
    * if claim exclusivity DOES fail (a live writer starved past the
    * timeout loses its claim to a breaker), [[renameIntoPlace]]'s
    * fencing turns the old silent-clobber outcome into a detected lost
    * race: a committed table is never deleted, and the `_commit` token
    * read-back decides the winner — the same conditional-PUT discipline
    * as [[TableStore]]'s manifest protocol. The residual is now wasted
    * duplicate build work, not corruption;
    * `spark.graft.artifactClaimTimeoutMs` sizes the margin. */
  private[store] def commitUnderClaim(st: TableStore, tmp: String,
      table: String, renameDelayMsForTest: Long = 0L): Boolean = {
    val r = st.root
    val fs = fsOf(st.spark, r)
    val latest = new Path(new Path(r, table), "_latest")
    if (fs.exists(latest)) {
      fs.delete(claimPath(r, table), false)
      false
    } else {
      // heartbeat the claim and the build tree for the duration of the
      // rename — a slow commit now presents as a LIVE writer to waiters
      // and to vacuum, instead of aging into a breakable stale claim
      val hb = new Path(new Path(r, tmp), "_hb")
      try fs.create(hb, true).close()
      catch { case _: java.io.IOException => } // tree beat degrades only
      // the commit fence: a per-attempt token that rides the rename into
      // the published dir — renameIntoPlace reads it back to decide who won
      val token = java.util.UUID.randomUUID().toString
      val tokPath = new Path(new Path(r, tmp), "_commit")
      val out = fs.create(tokPath, true)
      try out.write(token.getBytes("UTF-8")) finally out.close()
      val timeout = claimTimeoutMs(st.spark)
      val beat = heartbeat(fs, math.max(50L, timeout / 3),
        claimPath(r, table), hb)
      val won =
        try {
          if (renameDelayMsForTest > 0) Thread.sleep(renameDelayMsForTest)
          renameIntoPlace(fs, r, tmp, table, token)
        } finally beat.close()
      if (won) {
        // the markers rode the rename into the committed dir; drop them
        fs.delete(new Path(new Path(r, table), "_hb"), false)
        fs.delete(new Path(new Path(r, table), "_commit"), false)
      }
      fs.delete(claimPath(r, table), false)
      won
    }
  }

  /** Get-or-build: if the keyed artifact table exists in this session's
    * store root, read it (a bucketed parquet scan — the build is NOT
    * re-run); otherwise run `build`, write it under a temp name, and
    * commit via claim-and-rename (multi-writer safe, see the object
    * scaladoc). `keys` bucket the table by the artifact's downstream
    * join key so consumers co-locate. The returned frame is always the
    * STORE read — never the in-flight build plan — so every consumer
    * shares one physical source and executor loss only ever re-scans
    * files.
    *
    * @param rowLocal mark the artifact as ROW-LOCAL: every output row
    *   derives from exactly one input doc (shingles, postings,
    *   winnowing fingerprints), so artifact(corpus ∪ Δ) =
    *   artifact(corpus) ∪ build(Δ) and [[appendDelta]] is valid.
    *   Corpus-global artifacts (kNN truth, cluster labels, codebooks)
    *   keep the default false and re-key per corpus version. */
  def table(s: SparkSession, name: String, key: String,
      keys: Seq[String] = Nil, rowLocal: Boolean = false,
      lookup: Seq[String] = Nil)(
      build: => DataFrame): DataFrame = {
    val r = root(s)
    val st = store(s)
    val t = tableName(name, key)
    stripe(s"$r/$t").synchronized {
      if (!st.exists(t)) {
        val df = build
        val tmp = s"${t}_b_${java.util.UUID.randomUUID().toString.take(8)}"
        st.createTable(tmp, df.schema, keys, lookup = lookup)
        st.overwriteSnapshot(tmp, df)
        writeMeta(fsOf(s, r), r, tmp, Meta(name, key, FMT, rowLocal))
        publish(st, tmp, t)
      }
    }
    served.add(s"$r|$t")
    st.read(t)
  }

  /** Extend an existing artifact with a delta batch — the operational
    * maintenance path when the corpus GROWS by an ingest batch: for
    * row-local builders (shingles, postings, winnowing fingerprints —
    * anything where each output row derives from one input doc),
    * artifact(corpus ∪ Δ) = artifact(corpus) ∪ build(Δ), so appending
    * the delta's rows is bit-identical to a full rebuild at a fraction
    * of the cost. REFUSED unless the artifact was built with
    * `rowLocal = true` — appending a delta to a corpus-global artifact
    * (kNN truth, cluster labels, codebooks) would silently corrupt it;
    * those re-key per corpus version instead. The append commits a new
    * store version (time travel keeps the pre-batch artifact readable);
    * SQL naming the table reads it. Single-writer (one maintainer job per
    * artifact), like any external-table writer. */
  def appendDelta(s: SparkSession, name: String, key: String,
      delta: DataFrame): Unit = {
    val r = root(s)
    val st = store(s)
    val t = tableName(name, key)
    stripe(s"$r/$t").synchronized {
      require(st.exists(t),
        s"artifact $name (key $key) does not exist — build it with table() first")
      val meta = readMeta(fsOf(s, r), r, t)
      require(meta.exists(_.rowLocal),
        s"artifact $name (key $key) is not row-local: appendDelta is only " +
          "valid where artifact(corpus ∪ Δ) = artifact(corpus) ∪ build(Δ) " +
          "(shingles, postings, fingerprints); corpus-global artifacts " +
          "(kNN truth, cluster labels, codebooks) must re-key per corpus " +
          "version instead")
      st.append(t, delta)
    }
    served.add(s"$r|$t")
  }

  /** Catalog of this session's artifact-store root — the SQL surface
    * exposes it as `TABLE(graft_artifacts())`: one row per COMMITTED
    * artifact table (in-flight `_b_` temp builds are excluded) with its
    * sidecar metadata (logical name, full parameter key, format version,
    * row-local marker) and committed store version. Each listed table is
    * itself queryable by name in SQL ([[relation]]). */
  def listing(s: SparkSession): DataFrame = {
    val st = store(s)
    val r = root(s)
    val fs = fsOf(s, r)
    val sp = s
    import sp.implicits._
    st.listTables()
      .filter(t => t.startsWith("artifact_") && !isTempBuild(t)).sorted
      .map { t =>
        val m = readMeta(fs, r, t)
        (t, m.map(_.name).getOrElse(""), m.map(_.key).getOrElse(""),
          m.map(_.fmt).getOrElse(0), m.exists(_.rowLocal),
          st.currentVersion(t))
      }
      .toDF("artifact_table", "name", "key", "fmt", "row_local", "version")
  }

  private def isTempBuild(t: String): Boolean = t.matches(".*_b_[0-9a-f]{8}$")

  /** Garbage-collect the artifact root: drop every artifact table this
    * JVM has NOT built or read (superseded keys from parameter changes /
    * data regeneration, stale-FMT leftovers from code upgrades, and
    * orphaned `_b_` temp builds from crashed writers), plus claim files
    * whose table never committed. Safe to run alongside live writers
    * WITHIN the protocol's timing assumption: in-flight `_b_` temp
    * builds and claim files are only reclaimed once NOTHING under them
    * has been written for 3× the claim timeout
    * (`spark.graft.artifactClaimTimeoutMs`) — the margin covers a loser
    * that sits idle for one full `awaitCommitted` timeout before
    * re-racing (age gate == timeout would reclaim it mid-protocol with
    * zero slack). A publish mid-rename stays protected however long the
    * rename takes: [[commitUnderClaim]]'s heartbeat refreshes both the
    * claim's mtime and a `_hb` marker inside the build tree, so these
    * age gates only ever fire on writers whose JVM died (the residual
    * is a live JVM whose heartbeat thread is starved for the full
    * margin — local FS has no conditional delete to close that).
    * Committed tables other JVMs are reading are still only protected
    * by this JVM's served set — run table-level reclamation quiesced
    * across the fleet. Returns the dropped names. */
  def vacuum(s: SparkSession): Seq[String] = {
    val st = store(s)
    val r = root(s)
    val fs = fsOf(s, r)
    val minAge = 3L * claimTimeoutMs(s)
    val now = System.currentTimeMillis()
    // is ANY write under p within minAge? (dir mtimes only change when
    // DIRECT entries churn, so a long parquet job keeps its deepest files
    // fresh while the build root goes quiet — probe files recursively).
    // Short-circuits on the FIRST fresh file: a large in-flight build is
    // by definition fresh, so the walk stops after a handful of entries
    // instead of listing the entire tree (an object-store GET storm when
    // many vacuums race a many-thousand-file parquet build). Only a
    // genuinely stale tree — about to be reclaimed once, then gone —
    // pays the full walk. A vanished path counts as fresh (another
    // vacuum or the owner just removed it; nothing left to reclaim) —
    // and so does ANY stat/list failure mid-walk: a tree being renamed
    // into place out from under the walk (a committing writer) surfaces
    // as arbitrary wrapped errors from the local-FS permission probe,
    // and "fresh" (don't reclaim this pass) is the conservative answer;
    // the next vacuum sees the settled state.
    def touchedWithin(p: Path, age: Long): Boolean =
      try {
        if (now - fs.getFileStatus(p).getModificationTime <= age) true
        else {
          val it = fs.listFiles(p, true)
          var fresh = false
          while (!fresh && it.hasNext)
            fresh = now - it.next().getModificationTime <= age
          fresh
        }
      } catch { case scala.util.control.NonFatal(_) => true }
    val dropped = st.listTables().filter(_.startsWith("artifact_")).filter { t =>
      val staleFmt = !readMeta(fs, r, t).exists(_.fmt == FMT)
      val unserved = staleFmt || !served.contains(s"$r|$t")
      if (isTempBuild(t))
        unserved && !touchedWithin(new Path(r, t), minAge)
      else unserved
    }
    dropped.foreach(t => st.dropTable(t, purge = true))
    val claims = new Path(r, "_claims")
    if (fs.exists(claims)) fs.listStatus(claims).foreach { c =>
      val t = c.getPath.getName.stripSuffix(".claim")
      if (!st.exists(t) && now - c.getModificationTime > minAge)
        fs.delete(c.getPath, false)
    }
    dropped
  }

  /** Driver-side codebook artifact (kmeans centroids): persisted as
    * (cluster, centroid) rows, returned as the cluster-ordered array the
    * assignment expressions broadcast. A few KB — the durability matters
    * (train once per corpus version), not the size. */
  def codebook(s: SparkSession, name: String, key: String)(
      build: => Array[Seq[Double]]): Array[Seq[Double]] = {
    val df = table(s, name, key, keys = Seq("cluster")) {
      val sp = s
      import sp.implicits._
      build.zipWithIndex.toSeq
        .map { case (c, i) => (i, c) }.toDF("cluster", "centroid")
    }
    df.orderBy("cluster").collect()
      .map(_.getSeq[Double](1))
  }

  /** Product-quantization codebook set: m per-subspace codebooks,
    * persisted as (sub, cluster, centroid) rows. */
  def pqCodebooks(s: SparkSession, name: String, key: String)(
      build: => IndexedSeq[Array[Seq[Double]]]): IndexedSeq[Array[Seq[Double]]] = {
    val df = table(s, name, key, keys = Seq("sub")) {
      val sp = s
      import sp.implicits._
      build.zipWithIndex.toSeq.flatMap { case (book, sub) =>
        book.zipWithIndex.map { case (c, i) => (sub, i, c) }
      }.toDF("sub", "cluster", "centroid")
    }
    df.orderBy("sub", "cluster").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](2)))
      .groupBy(_._1).toIndexedSeq.sortBy(_._1)
      .map(_._2.map(_._2).toArray)
  }
}
