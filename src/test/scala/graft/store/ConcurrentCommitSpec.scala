package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.ChangeStream

/** Cross-JVM optimistic commit protocol (TableStore.commitLoop /
  * tryCommit): two [[TableStore]] instances on the same root — the
  * in-process equivalent of two JVMs, since the per-instance
  * `synchronized` provides zero exclusion between them — race real
  * appends and merges. The invariant under test is the one the old
  * `_latest`-swap could not give: EVERY writer's batch lands (or
  * cleanly rebases onto the winner's output); no committed version,
  * row, or CDC change batch is ever silently lost. */
class ConcurrentCommitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def freshRoot() = Files.createTempDirectory("graft_ccommit").toString

  private def inThread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.start()
    t
  }

  test("two stores racing appends: all batches land, none orphaned, CDC complete") {
    val root = freshRoot()
    val a = new TableStore(spark, root, numBuckets = 4)
    val b = new TableStore(spark, root, numBuckets = 4)
    a.createTable("t", schema, keys = Seq("id"))
    val stream = ChangeStream.create(a, "t", "s1")

    val perWriter = 6
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def appender(st: TableStore, offset: Long) = () =>
      try (0 until perWriter).foreach { i =>
        val lo = offset + i * 100L
        st.append("t", (lo until lo + 10L).map(j => (j, s"w$offset-$i")).toDF("id", "v"))
      } catch { case e: Throwable => errs.add(e) }
    val t1 = inThread("writer-a")(appender(a, 0L)())
    val t2 = inThread("writer-b")(appender(b, 10000L)())
    t1.join(300000); t2.join(300000)
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")

    // every commit landed: 12 appends = versions 1..12, contiguous
    assert(a.currentVersion("t") == 2L * perWriter)
    assert(b.currentVersion("t") == 2L * perWriter)
    // no lost update: all 120 rows present exactly once
    val rows = a.read("t").count()
    assert(rows == 2L * perWriter * 10, s"lost an append batch: $rows rows")
    assert(a.read("t").select("id").distinct().count() == rows)
    // every intermediate version still reconstructs (manifest chain intact)
    (1L to 2L * perWriter).foreach { v =>
      assert(a.readVersion("t", v).count() > 0, s"version $v unreadable")
    }
    // CDC completeness: a committed version's change source is always
    // present (its own data batch, written before the manifest attempt and
    // named by its #marked header) — the stream must see every inserted row
    var changeRows = 0L
    stream.consume { ch => changeRows = ch.count() }
    assert(changeRows == rows, s"CDC lost changes: $changeRows of $rows")
  }

  test("two stores racing merges: disjoint keys both land; same key serializes") {
    val root = freshRoot()
    val a = new TableStore(spark, root, numBuckets = 4)
    val b = new TableStore(spark, root, numBuckets = 4)
    a.createTable("t", schema, keys = Seq("id"))
    a.append("t", (1L to 40L).map(i => (i, "seed")).toDF("id", "v"))
    val v0 = a.currentVersion("t")

    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t1 = inThread("merge-a")(
      try a.merge("t", (1L to 10L).map(i => (i, "A")).toDF("id", "v"))
      catch { case e: Throwable => errs.add(e) })
    val t2 = inThread("merge-b")(
      try b.merge("t", (31L to 45L).map(i => (i, "B")).toDF("id", "v"))
      catch { case e: Throwable => errs.add(e) })
    t1.join(300000); t2.join(300000)
    assert(errs.isEmpty, s"merge failed: ${Option(errs.peek()).map(_.toString)}")

    assert(a.currentVersion("t") == v0 + 2, "both merges must commit")
    val byV = a.read("t").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byV.size == 45, s"merge lost rows: ${byV.size}")
    assert((1L to 10L).forall(byV(_) == "A"), "writer A's update was lost")
    assert((31L to 45L).forall(byV(_) == "B"), "writer B's upsert was lost")
    assert((11L to 30L).forall(byV(_) == "seed"))

    // same-key conflict: serializable — the rebased loser re-merges
    // against the winner's output, so the final value is exactly one
    // writer's and the row is never duplicated or dropped
    val t3 = inThread("conflict-a")(
      try a.merge("t", Seq((7L, "CA")).toDF("id", "v"))
      catch { case e: Throwable => errs.add(e) })
    val t4 = inThread("conflict-b")(
      try b.merge("t", Seq((7L, "CB")).toDF("id", "v"))
      catch { case e: Throwable => errs.add(e) })
    t3.join(300000); t4.join(300000)
    assert(errs.isEmpty, s"conflicting merge failed: ${Option(errs.peek()).map(_.toString)}")
    val row7 = a.read("t").filter(col("id") === 7L).collect()
    assert(row7.length == 1, s"same-key race duplicated/dropped the row: ${row7.length}")
    assert(Set("CA", "CB")(row7.head.getString(1)))
    assert(a.currentVersion("t") == v0 + 4)
  }

  test("racing merges: a stream sees each committed merge's change rows exactly once") {
    val root = freshRoot()
    val a = new TableStore(spark, root, numBuckets = 4)
    val b = new TableStore(spark, root, numBuckets = 4)
    a.createTable("t", schema, keys = Seq("id"))
    a.append("t", (1L to 40L).map(i => (i, "seed")).toDF("id", "v"))
    val stream = ChangeStream.create(a, "t", "s1")
    val v0 = a.currentVersion("t")

    // per round the writers' keys are disjoint; across rounds they repeat,
    // so B's new keys are inserts in round 1 and updates after
    val rounds = 3
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to rounds).foreach { r =>
      val t1 = inThread(s"merge-a$r")(
        try a.merge("t", (1L to 10L).map(i => (i, s"A$r")).toDF("id", "v"))
        catch { case e: Throwable => errs.add(e) })
      val t2 = inThread(s"merge-b$r")(
        try b.merge("t", (35L to 45L).map(i => (i, s"B$r")).toDF("id", "v"))
        catch { case e: Throwable => errs.add(e) })
      t1.join(300000); t2.join(300000)
    }
    assert(errs.isEmpty, s"merge failed: ${Option(errs.peek()).map(_.toString)}")
    assert(a.currentVersion("t") == v0 + 2 * rounds, "every merge must commit")

    // each committed version's manifest names its own batch as the change
    // source, never a losing attempt's (rebased attempts drop theirs)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (v0 + 1 to v0 + 2 * rounds).foreach { v =>
      val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "t", "_versions", f"v$v%08d")), "UTF-8")
      val named = manifest.split("\n").find(_.startsWith("#marked\t")).map(_.stripPrefix("#marked\t"))
      assert(named.isDefined, s"v$v names no change source")
      val marked = a.changeSourcesOf("t", v).marked
      assert(marked.nonEmpty && marked.forall(_.getParent.toString == named.get),
        s"v$v names a batch its manifest does not hold")
      assert(marked.forall(fs.exists(_)), s"v$v's change source is gone")
    }

    val want = (1 to rounds).flatMap { r =>
      (1L to 10L).map(i => s"$i|A$r|update") ++
        (35L to 45L).map(i => s"$i|B$r|${if (r == 1 && i > 40) "insert" else "update"}")
    }.sorted
    val got = stream.consume(_.collect().map(row =>
      s"${row.getLong(0)}|${row.getString(1)}|${row.getString(2)}").toSeq.sorted)
    assert(got == want, "CDC lost or duplicated a racing merge's changes")
    assert(!stream.hasData)
  }

  test("a dead writer's uncommitted manifest is broken after the commit timeout") {
    val root = freshRoot()
    val st = new TableStore(spark, root, numBuckets = 2)
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", Seq((1L, "a")).toDF("id", "v"))
    val v = st.currentVersion("t")

    // simulate a writer that died between create and close: an
    // uncommitted manifest (#commit header, no verified #end) at v+1
    val corpse = java.nio.file.Paths.get(root, "t", "_versions", f"v${v + 1}%08d")
    java.nio.file.Files.write(corpse,
      "#commit\tdeadbeef\n#buckets\t2\n0\t/nowhere".getBytes("UTF-8"))

    // uncommitted ⇒ NOT part of the chain: reads and version probing
    // are unaffected
    assert(st.currentVersion("t") == v)
    assert(st.read("t").count() == 1)

    spark.conf.set("spark.graft.store.commitTimeoutMs", "400")
    try {
      // age the corpse past the timeout so the next writer breaks it
      java.nio.file.Files.setLastModifiedTime(corpse,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 5000L))
      st.append("t", Seq((2L, "b")).toDF("id", "v"))
      assert(st.currentVersion("t") == v + 1, "writer must claim the broken version")
      assert(st.read("t").count() == 2)
    } finally spark.conf.unset("spark.graft.store.commitTimeoutMs")
  }

  test("a torn corpse caught mid-delete (checksum gone, data left) is not a committed version") {
    val root = freshRoot()
    val st = new TableStore(spark, root, numBuckets = 2)
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", Seq((1L, "a")).toDF("id", "v"))
    val v = st.currentVersion("t")
    // two interleaved non-atomic creators can leave a corpse whose bytes
    // are one writer's whole manifest and whose checksum is the other's
    val corpse = new org.apache.hadoop.fs.Path(root, f"t/_versions/v${v + 1}%08d")
    val fs = corpse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(corpse, false)
    try out.write("#commit\tloser0\n#buckets\t2\n#end\tloser0".getBytes("UTF-8")) finally out.close()
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "t", "_versions", f"v${v + 1}%08d"),
      "#commit\tfeedf00d\n#buckets\t2\n0\t/nowhere\n#end\tfeedf00d".getBytes("UTF-8"))
    assert(st.currentVersion("t") == v, "a checksum mismatch is not a commit")
    // the corpse breaker's delete has dropped the checksum, not yet the data
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "t", "_versions", f".v${v + 1}%08d.crc"))
    assert(st.currentVersion("t") == v, "a manifest without its checksum is not a commit")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "t", "_latest")), "UTF-8").trim == v.toString)
    assert(st.read("t").count() == 1)
  }

  test("currentVersion probes committed manifests past a stale or regressed _latest") {
    val root = freshRoot()
    val st = new TableStore(spark, root, numBuckets = 2)
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", Seq((1L, "a")).toDF("id", "v"))
    st.append("t", Seq((2L, "b")).toDF("id", "v"))
    val v = st.currentVersion("t")
    assert(v == 2L)
    // a slower winner of an older version regressed the pointer cache
    // (drop the checksum sidecar too — this bypasses the Hadoop FS)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root, "t", "._latest.crc"))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "t", "_latest"),
      "0".getBytes("UTF-8"))
    assert(st.currentVersion("t") == v, "_latest is a cache; manifests are the truth")
    assert(st.read("t").count() == 2)
    // and the probe healed the cache for the next reader
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "t", "_latest")), "UTF-8").trim == v.toString)
  }

  test("vacuum spares fresh unreferenced batch dirs (in-flight writers), reaps quiet orphans") {
    val root = freshRoot()
    val st = new TableStore(spark, root, numBuckets = 2)
    st.createTable("t", schema, keys = Seq("id"))
    st.append("t", Seq((1L, "a")).toDF("id", "v"))
    st.overwrite("t", Seq((2L, "b")).toDF("id", "v")) // v1's batch now unreferenced by current

    // plant a fake in-flight batch dir (fresh mtime = a concurrent
    // writer mid-commit) — vacuum must not reap it
    val inflight = java.nio.file.Paths.get(root, "t", "data", "b00000099_ffffffff")
    java.nio.file.Files.createDirectories(inflight)
    spark.conf.set("spark.graft.store.commitTimeoutMs", "400")
    try {
      st.vacuum("t", keepVersions = 1)
      assert(java.nio.file.Files.exists(inflight),
        "vacuum reaped a fresh (possibly in-flight) batch dir")
      // ...but once mtime-quiet past the grace, it is an orphan and goes
      java.nio.file.Files.setLastModifiedTime(inflight,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 10000L))
      st.vacuum("t", keepVersions = 1)
      assert(!java.nio.file.Files.exists(inflight),
        "vacuum must reap a quiet orphaned batch dir")
    } finally spark.conf.unset("spark.graft.store.commitTimeoutMs")
    assert(st.read("t").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }
}
