package graft.store

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The durable-artifact contract: an artifact builds ONCE per (root,
  * name, key) and every later consumer — including a FRESH session
  * pointed at the same root — reads the committed store table instead of
  * re-running the build. */
class ArtifactsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("artifact builds once and re-reads from the store, across sessions") {
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val builds = new AtomicInteger(0)
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.artifactDir", root)
    def build(s: org.apache.spark.sql.SparkSession) = {
      val sp = s; import sp.implicits._
      builds.incrementAndGet()
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    }
    val first = Artifacts.table(s1, "spec_art", "corpus1|p=1", Seq("id"))(build(s1))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(builds.get() == 1)
    assert(first == Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // same session, same key: served from the store, build NOT re-run
    Artifacts.table(s1, "spec_art", "corpus1|p=1", Seq("id"))(build(s1)).count()
    assert(builds.get() == 1)

    // FRESH session on the same root: still served from the store
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.artifactDir", root)
    val again = Artifacts.table(s2, "spec_art", "corpus1|p=1", Seq("id"))(build(s2))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(builds.get() == 1, "a fresh session must read, not rebuild")
    assert(again == first)

    // a DIFFERENT key (new corpus version / new params) rebuilds
    Artifacts.table(s2, "spec_art", "corpus2|p=1", Seq("id"))(build(s2)).count()
    assert(builds.get() == 2)

    // the artifact is an ordinary store table: SQL-queryable by name
    val st = new TableStore(s2, root)
    val names = st.listTables()
    assert(names.exists(_.startsWith("artifact_spec_art_")), s"got $names")

    // the listing catalogs both keyed builds WITH their sidecar metadata
    // (logical name, full key, fmt, row-local marker, version); every
    // listed table is a registered temp view queryable with plain SQL
    val listed = Artifacts.listing(s2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getBoolean(4), r.getLong(5))).toSeq
    assert(listed.count(_._1.startsWith("artifact_spec_art_")) == 2, s"got $listed")
    val specRows = listed.filter(_._1.startsWith("artifact_spec_art_"))
    assert(specRows.forall(_._2 == "spec_art"), s"got $specRows")
    assert(specRows.map(_._3).toSet == Set("corpus1|p=1", "corpus2|p=1"))
    assert(specRows.forall(r => r._4 > 0 && !r._5 && r._6 == 1L), s"got $specRows")
    val viewName = listed.map(_._1).find(_.startsWith("artifact_spec_art_")).get
    assert(s2.sql(s"SELECT count(1) FROM $viewName").head().getLong(0) == 3L)
  }

  test("codebook artifact round-trips doubles exactly across sessions") {
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val builds = new AtomicInteger(0)
    val book: Array[Seq[Double]] = Array(
      Seq(0.1, -2.5e-17, 3.0), Seq(1.0 / 3.0, Double.MinPositiveValue, -0.0))
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.artifactDir", root)
    val got1 = Artifacts.codebook(s1, "spec_km", "c1|k=2") {
      builds.incrementAndGet(); book
    }
    assert(builds.get() == 1)
    assert(got1.length == 2 && got1(0) == book(0) && got1(1) == book(1))
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.artifactDir", root)
    val got2 = Artifacts.codebook(s2, "spec_km", "c1|k=2") {
      builds.incrementAndGet(); book
    }
    assert(builds.get() == 1, "codebook must be read back, not retrained")
    // parquet round-trip must be BIT-exact (the assignment argmin and the
    // oracle replay both depend on it)
    assert(got2(0) == book(0) && got2(1) == book(1))
    assert(java.lang.Double.doubleToRawLongBits(got2(1)(2)) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
  }

  test("empty artifacts round-trip with schema intact") {
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", root)
    val sp = s; import sp.implicits._
    val out = Artifacts.table(s, "spec_empty", "k", Seq("id")) {
      Seq.empty[(Long, String)].toDF("id", "v")
    }
    assert(out.count() == 0)
    assert(out.schema.fieldNames.toSeq == Seq("id", "v"))
    // and a fresh session still reads the committed empty table
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.artifactDir", root)
    assert(Artifacts.table(s2, "spec_empty", "k", Seq("id")) {
      fail("must not rebuild"); null
    }.count() == 0)
  }

  test("appendDelta maintenance equals a full rebuild for row-local builders") {
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", root)
    val sp = s; import sp.implicits._
    val v1 = Seq((1L, "the quick brown fox"), (2L, "jumps over the dog"),
      (3L, "spark engines at scale")).toDF("doc_id", "text")
    val delta = Seq((4L, "the quick red fox"), (5L, "entirely new content here"))
      .toDF("doc_id", "text")
    def shingles(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Dedup.shingleRows(df, "doc_id", "text", shingleN = 2)
    Artifacts.table(s, "spec_sh", "corpusA", Seq("id"),
      rowLocal = true)(shingles(v1))
    Artifacts.appendDelta(s, "spec_sh", "corpusA", shingles(delta))
    val maintained = Artifacts.table(s, "spec_sh", "corpusA", Seq("id"),
        rowLocal = true) {
      fail("must not rebuild"); null
    }.collect().map(_.toString).sorted.toSeq
    val rebuilt = shingles(v1.unionAll(delta))
      .collect().map(_.toString).sorted.toSeq
    assert(maintained == rebuilt,
      "incrementally-maintained artifact must equal the full rebuild")
    // appending to a never-built artifact fails fast
    val e = intercept[IllegalArgumentException] {
      Artifacts.appendDelta(s, "spec_sh", "nosuch", shingles(delta))
    }
    assert(e.getMessage.contains("does not exist"))
  }

  test("appendDelta refuses corpus-global artifacts (row-local marker)") {
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", root)
    val sp = s; import sp.implicits._
    // a corpus-global artifact (kNN-truth shape): built WITHOUT rowLocal
    Artifacts.table(s, "spec_knn", "corpusA|k=2", Seq("id")) {
      Seq((1L, 2L, 0.9), (2L, 1L, 0.9)).toDF("id", "nn", "score")
    }
    val e = intercept[IllegalArgumentException] {
      Artifacts.appendDelta(s, "spec_knn", "corpusA|k=2",
        Seq((3L, 1L, 0.5)).toDF("id", "nn", "score"))
    }
    assert(e.getMessage.contains("not row-local"), e.getMessage)
    // the refused append left the artifact untouched
    assert(Artifacts.table(s, "spec_knn", "corpusA|k=2", Seq("id")) {
      fail("must not rebuild"); null
    }.count() == 2)
  }

  test("dup-line table (e43b) builds once; served lineDedupAgainst equals inline lineDedup") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", root)
    val sp = s; import sp.implicits._
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c g h i"), (3L, "x y z q r s"),
      (4L, "a b c x y z")).toDF("doc_id", "text")
      .withColumn("__tk", graft.functions.TextAnalytics.tokens(col("text")))
      .withColumn("lines", graft.ops.WebCuration.tokenLines(col("__tk"), 3))
    val builds = new AtomicInteger(0)
    def dup = Artifacts.table(s, "dup_lines", "specCorpus|w=3|minDocs=2",
      keys = Seq("line")) {
      builds.incrementAndGet()
      graft.ops.WebCuration.dupLineTable(docs, "doc_id", "lines", minDocs = 2L)
    }
    val served = graft.ops.WebCuration
      .lineDedupAgainst(docs, "doc_id", "lines", dup)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val inline = graft.ops.WebCuration.lineDedup(docs, "doc_id", "lines", 2L)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(served == inline)
    // a second consumer (and a second query iteration) reads the
    // committed scan — the corpus is never re-counted
    graft.ops.WebCuration.lineDedupAgainst(docs, "doc_id", "lines", dup).count()
    assert(builds.get() == 1)
    // corpus-global by construction (a line's distinct-doc count
    // aggregates over every doc): the default rowLocal=false marker must
    // make appendDelta refuse, forcing a re-key per corpus version
    val e = intercept[IllegalArgumentException] {
      Artifacts.appendDelta(s, "dup_lines", "specCorpus|w=3|minDocs=2",
        Seq(("a b c", 9L)).toDF("line", "n_docs"))
    }
    assert(e.getMessage.contains("not row-local"), e.getMessage)
  }

  test("multi-writer commit: racing independent builders yield ONE version") {
    // two builders with INDEPENDENT store handles race publish() directly
    // (the striped JVM lock is bypassed — this is the separate-JVMs
    // protocol: build to a temp name, claim, rename; loser reads winner)
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", root)
    val sp = s; import sp.implicits._
    val t = Artifacts.tableName("spec_race", "corpusR|p=1")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val results = Await.result(Future.sequence((1 to 4).map { i =>
      Future {
        val st = new TableStore(s, root, numBuckets = 4) // independent handle
        val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        val tmp = s"${t}_b_${"%08x".format(i * 271828)}"
        st.createTable(tmp, df.schema, Seq("id"))
        st.overwriteSnapshot(tmp, df)
        Artifacts.writeMeta(fs, root, tmp,
          Artifacts.Meta("spec_race", "corpusR|p=1", 2, rowLocal = false))
        Artifacts.publish(st, tmp, t)
        new TableStore(s, root).read(t)
          .orderBy("id").collect().map(_.toString).toSeq
      }
    }), 120.seconds)
    val st = new TableStore(s, root)
    assert(st.exists(t), "the race must leave a committed table")
    assert(st.currentVersion(t) == 1L, "exactly one committed version")
    assert(results.toSet.size == 1, "all racers read bit-identical rows")
    assert(results.head.size == 3)
    // no leftover temp builds or claims
    assert(!st.listTables().exists(_.contains("_b_")),
      s"losers must drop their builds: ${st.listTables()}")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_claims/$t.claim")),
      "the winner must clear its claim")
  }

  test("a stale claim (dead writer) is broken and the build commits") {
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", root)
    s.conf.set("spark.graft.artifactClaimTimeoutMs", "300")
    val sp = s; import sp.implicits._
    val t = Artifacts.tableName("spec_stale", "k")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // simulate a claimer that died between claim and rename
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_claims"))
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_claims/$t.claim"), false).close()
    val out = Artifacts.table(s, "spec_stale", "k", Seq("id")) {
      Seq((1L, "a")).toDF("id", "v")
    }
    assert(out.count() == 1, "the stale claim must be broken, not fatal")
  }

  test("vacuum reclaims superseded keys and keeps what this run serves") {
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", root)
    val sp = s; import sp.implicits._
    // "previous run": builds under the old parameter key
    Artifacts.table(s, "spec_gc", "corpus|p=1", Seq("id")) {
      Seq((1L, "old")).toDF("id", "v")
    }
    val oldT = Artifacts.tableName("spec_gc", "corpus|p=1")
    // "new run" (fresh JVM simulated by clearing the served set): the
    // parameter bump re-keys the artifact; the old table is dead weight
    Artifacts.resetServedForTesting()
    Artifacts.table(s, "spec_gc", "corpus|p=2", Seq("id")) {
      Seq((1L, "new"), (2L, "newer")).toDF("id", "v")
    }
    val newT = Artifacts.tableName("spec_gc", "corpus|p=2")
    val st = new TableStore(s, root)
    assert(st.exists(oldT) && st.exists(newT))
    val dropped = Artifacts.vacuum(s)
    assert(dropped == Seq(oldT), s"vacuum must drop exactly the stale key: $dropped")
    assert(!st.exists(oldT), "superseded artifact must be gone")
    assert(st.exists(newT), "served artifact must survive")
    assert(Artifacts.table(s, "spec_gc", "corpus|p=2", Seq("id")) {
      fail("must not rebuild"); null
    }.count() == 2)
  }

  test("late claim winner must NOT clobber a committed table (publish TOCTOU)") {
    // the window: writer B probes _latest (absent), writer A commits AND
    // releases its claim, THEN B wins a fresh claim. Reproduced exactly:
    // commit A first, then take the claim as B would and drive B's
    // post-claim commit step directly — it must lose gracefully, not
    // rename over A's live table.
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", root)
    val sp = s; import sp.implicits._
    val t = Artifacts.tableName("spec_toctou", "k")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // writer A: full commit, claim released
    Artifacts.table(s, "spec_toctou", "k", Seq("id")) {
      Seq((1L, "committed")).toDF("id", "v")
    }
    val st = new TableStore(s, root, numBuckets = 4)
    assert(st.exists(t))
    // writer B: its build finished before A's commit became visible
    val tmp = s"${t}_b_deadbeef"
    st.createTable(tmp, Seq((9L, "late")).toDF("id", "v").schema, Seq("id"))
    st.overwriteSnapshot(tmp, Seq((9L, "late")).toDF("id", "v"))
    // B wins the (now free) claim — the exact interleaving of the race
    assert(Artifacts.tryClaim(fs, root, t), "claim must be free after A released")
    assert(!Artifacts.commitUnderClaim(st, tmp, t),
      "a commit that landed before our claim win must make us lose")
    // A's table is untouched, B's claim is released, B's build still ours to drop
    val rows = new TableStore(s, root).read(t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "committed")), s"committed table clobbered: $rows")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_claims/$t.claim")),
      "losing must release the claim")
    // the full publish() path on the same state: drops the redundant build
    st.createTable(s"${t}_b_cafef00d",
      Seq((8L, "later")).toDF("id", "v").schema, Seq("id"))
    st.overwriteSnapshot(s"${t}_b_cafef00d", Seq((8L, "later")).toDF("id", "v"))
    Artifacts.publish(st, s"${t}_b_cafef00d", t)
    assert(new TableStore(s, root).read(t).count() == 1)
    assert(!st.listTables().contains(s"${t}_b_cafef00d"),
      "publish must drop the redundant build")
    st.dropTable(tmp, purge = true)
  }

  test("vacuum spares a mid-protocol writer's fresh temp build and young claims") {
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", root)
    val sp = s; import sp.implicits._
    val t = Artifacts.tableName("spec_midflight", "k")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // an in-flight writer: temp build written, claim taken, rename pending
    val st = new TableStore(s, root, numBuckets = 4)
    val tmp = s"${t}_b_0badc0de"
    st.createTable(tmp, Seq((1L, "wip")).toDF("id", "v").schema, Seq("id"))
    st.overwriteSnapshot(tmp, Seq((1L, "wip")).toDF("id", "v"))
    assert(Artifacts.tryClaim(fs, root, t))
    Artifacts.resetServedForTesting() // vacuum sees a foreign writer's state
    // default timeout (60 s): everything is seconds-fresh — must survive
    assert(Artifacts.vacuum(s).isEmpty, "fresh mid-protocol state reclaimed")
    assert(st.exists(tmp), "in-flight temp build must survive vacuum")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/_claims/$t.claim")),
      "young claim must survive vacuum")
    // the writer completes against the post-vacuum state
    assert(Artifacts.commitUnderClaim(st, tmp, t))
    assert(new TableStore(s, root).read(t).count() == 1)
    // aged-out debris IS reclaimed: drop the table, leave a claim behind,
    // then shrink the timeout below its age
    st.dropTable(t, purge = true)
    Artifacts.tryClaim(fs, root, t)
    Thread.sleep(5L)
    s.conf.set("spark.graft.artifactClaimTimeoutMs", "1")
    Artifacts.vacuum(s)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_claims/$t.claim")),
      "aged-out orphan claim must be reclaimed")
  }

  test("a slow commit heartbeats its claim: waiters wait it out, vacuum spares it, dead claims still break") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", root)
    // 2 s: small enough to keep the test bounded, big enough that the
    // 666 ms heartbeat cadence and 6 s vacuum margin tolerate multi-
    // second scheduler stalls under full-suite + concurrent-bench load
    // (at 200 ms this spec flaked once in a loaded judge run — the
    // 66 ms cadence lost to a sub-second stall). Every ratio of the
    // scenario is unchanged: rename delay 7.5x the timeout, vacuum
    // fired past the 3x-timeout margin.
    s.conf.set("spark.graft.artifactClaimTimeoutMs", "2000")
    val sp = s; import sp.implicits._
    val t = Artifacts.tableName("spec_hb", "k")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = new TableStore(s, root, numBuckets = 4)
    val claim = new org.apache.hadoop.fs.Path(s"$root/_claims/$t.claim")

    // writer A: build fully written, then BACKDATED far past vacuum's
    // 3x-timeout margin — from here on only the commit heartbeat can
    // present the build as alive
    val tmp = s"${t}_b_510beef5"
    st.createTable(tmp, Seq((1L, "slow")).toDF("id", "v").schema, Seq("id"))
    st.overwriteSnapshot(tmp, Seq((1L, "slow")).toDF("id", "v"))
    val old = System.currentTimeMillis() - 60000L
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(root, tmp), true)
    while (it.hasNext) fs.setTimes(it.next().getPath, old, old)
    assert(Artifacts.tryClaim(fs, root, t))
    Artifacts.resetServedForTesting() // vacuum sees a foreign writer

    // A's rename takes 15 s — 7.5x the claim timeout
    val a = Future {
      Artifacts.commitUnderClaim(st, tmp, t, renameDelayMsForTest = 15000L)
    }
    // waiter B: a full publish racing the slow commit — it must WAIT
    // (fresh claim = held lock), not break mid-protocol and clobber
    val tmp2 = s"${t}_b_1a7e0001"
    st.createTable(tmp2, Seq((9L, "late")).toDF("id", "v").schema, Seq("id"))
    st.overwriteSnapshot(tmp2, Seq((9L, "late")).toDF("id", "v"))
    val b = Future { Artifacts.publish(st, tmp2, t) }

    // vacuum DURING the slow commit, after the build dir's own mtime
    // (touched when the _hb marker was created at commit start) has
    // aged past the 6 s margin: only the heartbeat keeps it alive
    Thread.sleep(7000L)
    Artifacts.vacuum(s)
    assert(st.exists(tmp) || st.exists(t),
      "mid-rename build vanished under vacuum despite the heartbeat")
    assert(fs.exists(claim) || st.exists(t),
      "heartbeating claim reclaimed by vacuum")

    assert(Await.result(a, 30.seconds), "the slow writer must still win")
    Await.result(b, 30.seconds)
    assert(new TableStore(s, root).read(t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "slow")), "waiter must lose gracefully to the slow winner")
    assert(!st.listTables().contains(tmp2), "loser build must be dropped")
    assert(!fs.exists(claim), "winner must release its claim")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$t/_hb")),
      "heartbeat marker must not survive into the committed table")

    // DEAD writer: a claim nobody beats still breaks after one quiet
    // timeout — publish must not wait forever on a corpse
    st.dropTable(t, purge = true)
    assert(Artifacts.tryClaim(fs, root, t))
    val tmp3 = s"${t}_b_1a7e0002"
    st.createTable(tmp3, Seq((7L, "next")).toDF("id", "v").schema, Seq("id"))
    st.overwriteSnapshot(tmp3, Seq((7L, "next")).toDF("id", "v"))
    Artifacts.publish(st, tmp3, t) // breaks the stale claim, commits
    assert(new TableStore(s, root).read(t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((7L, "next")), "stale dead claim must be broken and overtaken")
  }

  test("stolen-claim mid-rename race: the commit fence detects the loss, never clobbers the winner") {
    // the documented claim residual: writer A's heartbeat is starved for a
    // full timeout while its (slow) commit runs, a breaker steals the
    // claim and fully commits. Before the fence, A's rename step deleted
    // the winner's LIVE committed table out from under readers; now the
    // commit point itself decides — a committed table is never deleted,
    // and the _commit token read-back makes A lose detectably.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", root)
    val sp = s; import sp.implicits._
    val t = Artifacts.tableName("spec_fence", "k")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = new TableStore(s, root, numBuckets = 4)
    val claim = new org.apache.hadoop.fs.Path(s"$root/_claims/$t.claim")

    // both builds fully written BEFORE the race so the window is pure
    // metadata work
    val tmpA = s"${t}_b_a11c1a1a"
    st.createTable(tmpA, Seq((1L, "starved")).toDF("id", "v").schema, Seq("id"))
    st.overwriteSnapshot(tmpA, Seq((1L, "starved")).toDF("id", "v"))
    val tmpB = s"${t}_b_b4ea4e4e"
    st.createTable(tmpB, Seq((2L, "breaker")).toDF("id", "v").schema, Seq("id"))
    st.overwriteSnapshot(tmpB, Seq((2L, "breaker")).toDF("id", "v"))

    // writer A: claim held, rename stalls 1.5 s (the starved writer)
    assert(Artifacts.tryClaim(fs, root, t))
    val a = Future {
      Artifacts.commitUnderClaim(st, tmpA, t, renameDelayMsForTest = 1500L)
    }
    Thread.sleep(300L) // A is inside its stall, entry checks passed
    // the breaker: claim goes quiet (simulated starvation), B breaks it,
    // claims, and commits fast
    fs.delete(claim, false)
    assert(Artifacts.tryClaim(fs, root, t), "breaker must win the freed claim")
    assert(Artifacts.commitUnderClaim(st, tmpB, t), "breaker commit must land")
    assert(new TableStore(s, root).read(t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "breaker")))

    // A wakes up into a world where the winner is committed: it must LOSE
    // (detected), and the winner's table must be byte-for-byte untouched
    assert(!Await.result(a, 30.seconds),
      "the starved writer must lose the commit fence, not clobber the winner")
    val rows = new TableStore(s, root).read(t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((2L, "breaker")), s"winner's live table clobbered: $rows")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$t/_commit")),
      "commit token must not survive into the committed table")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$t/$tmpA")),
      "loser's tree must not nest inside the committed table")
    // the loser's build is still its own to drop — publish()'s contract
    assert(st.exists(tmpA), "loser keeps its temp build for the caller to drop")
    st.dropTable(tmpA, purge = true)
    // a later writer commits normally over the released state
    val tmpC = s"${t}_b_c0013ace"
    st.dropTable(t, purge = true)
    st.createTable(tmpC, Seq((3L, "next")).toDF("id", "v").schema, Seq("id"))
    st.overwriteSnapshot(tmpC, Seq((3L, "next")).toDF("id", "v"))
    Artifacts.publish(st, tmpC, t)
    assert(new TableStore(s, root).read(t).count() == 1)
  }

  test("concurrent consumers of one key build exactly once") {
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val builds = new AtomicInteger(0)
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", root)
    val sp = s; import sp.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val counts = Await.result(Future.sequence((1 to 6).map { _ =>
      Future {
        Artifacts.table(s, "spec_conc", "k|p=1", Seq("id")) {
          builds.incrementAndGet()
          Thread.sleep(50) // widen the race window
          Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        }.count()
      }
    }), 120.seconds)
    assert(builds.get() == 1, s"racing consumers built ${builds.get()} times")
    assert(counts.forall(_ == 2L))
  }

  test("pq codebooks preserve subspace and cluster order") {
    val root = Files.createTempDirectory("graft_artifacts_spec").toString
    val books: IndexedSeq[Array[Seq[Double]]] = IndexedSeq(
      Array(Seq(1.0, 2.0), Seq(3.0, 4.0), Seq(5.0, 6.0)),
      Array(Seq(-1.0, 0.5), Seq(7.25, -8.0), Seq(0.0, 9.0)))
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.artifactDir", root)
    Artifacts.pqCodebooks(s1, "spec_pq", "c1|m=2")(books)
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.artifactDir", root)
    val got = Artifacts.pqCodebooks(s2, "spec_pq", "c1|m=2") {
      fail("must not rebuild"); books
    }
    assert(got.length == 2)
    assert(got(0).toSeq == books(0).toSeq && got(1).toSeq == books(1).toSeq)
  }

  test("Artifacts' per-call stores do not attach to the session's graft names") {
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", Files.createTempDirectory("graft_artifacts_attach").toString)
    val before = graft.spark.GraftCatalog.attachedTo(s).toList
    Artifacts.listing(s)
    Artifacts.listing(s)
    val added = graft.spark.GraftCatalog.attachedTo(s).filterNot(n => before.exists(_ eq n)).toList
    assert(added.isEmpty, s"${added.size} artifact stores attached themselves")
  }
}
