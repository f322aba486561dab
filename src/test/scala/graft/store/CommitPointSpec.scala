package graft.store

import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, TimeUnit}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[CommitPoint]] is the one seam both cross-JVM protocols (versioned
  * manifest commit, artifact claim lease) reduce to. These specs inject
  * a DELIBERATELY non-atomic creator — the object-store
  * check-then-create failure mode, where two racers both pass the
  * existence check and both PUT — and prove the read-back fence still
  * never yields two winners: not at the raw seam, not for one manifest
  * version under racing appends, not for one claim lease. */
class CommitPointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fsOf(root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Non-atomic check-then-create: both racers complete the existence
    * probe before EITHER writes (first rendezvous), then both write
    * with overwrite=true (the sin: the second PUT silently replaces
    * the first), then rendezvous again so the content is settled
    * before publish()'s read-back runs. A solo caller (a rebasing
    * loser, retries) just pays the rendezvous timeout and proceeds —
    * the barrier only synchronizes when both racers are actually
    * inside the window. */
  private class NonAtomicCreator extends CommitPoint.Creator {
    private val probed = new CyclicBarrier(2)
    private val settled = new CyclicBarrier(2)
    private def rendezvous(b: CyclicBarrier): Unit =
      try b.await(700L, TimeUnit.MILLISECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException => b.reset()
        case _: java.util.concurrent.BrokenBarrierException =>
      }
    override def createIfAbsent(fs: FileSystem, p: Path,
        bytes: Array[Byte]): Boolean = {
      val absent = !fs.exists(p)
      rendezvous(probed)
      if (!absent) false
      else {
        val out = fs.create(p, true) // OVERWRITE: last write wins
        try out.write(bytes) finally out.close()
        rendezvous(settled)
        true
      }
    }
  }

  private def race[T](a: => T, b: => T): (T, T) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fa = Future(a); val fb = Future(b)
    (Await.result(fa, 90.seconds), Await.result(fb, 90.seconds))
  }

  test("raw seam: two interleaved non-atomic creators never yield two winners; a zero-winner corpse is recoverable") {
    val root = Files.createTempDirectory("graft_cp").toString
    val fs = fsOf(root)
    val p = new Path(root, "the_version")
    CommitPoint.withCreator(new NonAtomicCreator) {
      val (wa, wb) = race(
        CommitPoint.publish(fs, p, "writer-A"),
        CommitPoint.publish(fs, p, "writer-B"))
      assert(Seq(wa, wb).count(identity) <= 1,
        s"non-atomic interleaving must never produce two winners, got A=$wa B=$wb")
      if (wa || wb) {
        val served = {
          val in = fs.open(p)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        }
        assert(served == (if (wa) "writer-A" else "writer-B"),
          "the path must serve exactly the winner's content")
      } else {
        // TORN write (local ChecksumFileSystem: data from one racer,
        // crc sidecar from the other — both read-backs fail): the
        // protocols treat this as a dead writer's corpse and break it
        // by deletion (awaitBaseAdvance / the stale-claim break); a
        // post-break attempt must then win cleanly
        fs.delete(p, false)
        assert(CommitPoint.publish(fs, p, "writer-C"),
          "a broken corpse must be re-claimable")
      }
    }
  }

  test("manifest protocol: racing appends under non-atomic creates never yield two winners for one version — no batch lost") {
    val root = Files.createTempDirectory("graft_cp_store").toString
    // two INSTANCES on one root: append() is instance-synchronized, so
    // cross-instance is the cross-JVM shape (SCALE.md, round 18's
    // concurrent-writers arm at sf1)
    val stA = new TableStore(spark, root, numBuckets = 2)
    val stB = new TableStore(spark, root, numBuckets = 2)
    stA.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("who", StringType))),
      keys = Seq("id"))
    val base = stA.currentVersion("t")
    // a torn zero-winner attempt leaves a corpse manifest that
    // awaitBaseAdvance only breaks after commitTimeoutMs of quiet —
    // keep the test bounded if the interleaving lands that way
    spark.conf.set("spark.graft.store.commitTimeoutMs", "3000")
    try CommitPoint.withCreator(new NonAtomicCreator) {
      race(
        stA.append("t", (0L until 100L).map((_, "A")).toDF("id", "who")),
        stB.append("t", (100L until 200L).map((_, "B")).toDF("id", "who")))
    } finally spark.conf.unset("spark.graft.store.commitTimeoutMs")
    // two winners for one version would orphan the slower writer's
    // batch (it would return "committed" without rebasing): both
    // batches present exactly once == one winner per version
    assert(stA.currentVersion("t") == base + 2,
      "two appends must commit exactly two versions")
    val got = new TableStore(spark, root).read("t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.size == 200 && got.count(_._2 == "A") == 100 &&
      got.count(_._2 == "B") == 100,
      s"a batch was lost or duplicated under the non-atomic race: ${got.size} rows")
  }

  test("object-store residual: a blind PUT landing AFTER read-back yields two winners; conditional-PUT semantics close it") {
    val root = Files.createTempDirectory("graft_cp_resid").toString
    val fs = fsOf(root)

    // The exact residual the CommitPoint scaladoc scopes for
    // check-then-create stores: writer B's HEAD happened before A's PUT
    // landed (concurrent racers), but B's PUT reaches the store only
    // AFTER A's read-back verified. Modeled sequentially — publish(A)
    // completes (PUT + read-back), then B's blind PUT lands.
    class StaleHeadBlindPut extends CommitPoint.Creator {
      override def createIfAbsent(fs: FileSystem, p: Path,
          bytes: Array[Byte]): Boolean = {
        // HEAD (pre-race): absent. PUT: blind last-write-wins overwrite.
        val out = fs.create(p, true)
        try out.write(bytes) finally out.close()
        true
      }
    }
    val p = new Path(root, "v_blind")
    val wa = CommitPoint.withCreator(new StaleHeadBlindPut) {
      CommitPoint.publish(fs, p, "writer-A")
    }
    val wb = CommitPoint.withCreator(new StaleHeadBlindPut) {
      CommitPoint.publish(fs, p, "writer-B")
    }
    // TWO winners — the read-back fence cannot see a future overwrite.
    // (If this ever fails, the default creator grew a store-side fence
    // and the scaladoc's residual paragraph is stale.)
    assert(wa && wb,
      s"the documented residual must reproduce under a blind-PUT store: A=$wa B=$wb")

    // Conditional PUT (If-None-Match: *): the store itself rejects a PUT
    // when ANY object exists at PUT time — B's stale HEAD no longer
    // matters. Same interleaving, one winner, content intact.
    class ConditionalPut extends CommitPoint.Creator {
      override def createIfAbsent(fs: FileSystem, p: Path,
          bytes: Array[Byte]): Boolean = {
        if (fs.exists(p)) false // the store's at-PUT-time exclusivity
        else {
          val out = fs.create(p, true)
          try out.write(bytes) finally out.close()
          true
        }
      }
    }
    val p2 = new Path(root, "v_cond")
    val ca = CommitPoint.withCreator(new ConditionalPut) {
      CommitPoint.publish(fs, p2, "writer-A")
    }
    val cb = CommitPoint.withCreator(new ConditionalPut) {
      CommitPoint.publish(fs, p2, "writer-B")
    }
    assert(ca && !cb, s"conditional PUT must close the residual: A=$ca B=$cb")
    val served = {
      val in = fs.open(p2)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(served == "writer-A", "the loser's late PUT must never land")
  }

  test("ConditionalCreate: probes the FS option, falls back to the exclusive create, one winner under a race") {
    val root = Files.createTempDirectory("graft_cp_cond").toString
    val fs = fsOf(root)
    val p = new Path(root, "v_real")
    CommitPoint.withCreator(CommitPoint.ConditionalCreate) {
      // local FS: either the builder honors overwrite(false) (exclusive
      // create) or rejects the conditional option (fallback to
      // AtomicCreate) — both paths must yield exactly one winner
      assert(CommitPoint.publish(fs, p, "first"))
      assert(!CommitPoint.publish(fs, p, "second"),
        "a second publish at a taken path must lose")
      val served = {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      assert(served == "first")
      // The concurrent race on the local filesystem is the "racing
      // publishes through the real creator" test below (AtomicCreate's
      // O_EXCL claim). Store-side conditional-PUT atomicity is a
      // property of stores that honor the option (S3/GCS/ABFS), which
      // the injected ConditionalPut model pins.
    }
  }

  test("racing publishes through the real creator: exactly one winner per path") {
    val root = Files.createTempDirectory("graft_cp_race").toString
    val fs = fsOf(root)
    val racers = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(racers)
    try (0 until 200).foreach { round =>
      val p = new Path(root, f"race/v$round%05d")
      val start = new CyclicBarrier(racers)
      val wins = (0 until racers).map { w =>
        pool.submit(() => { start.await(); CommitPoint.publish(fs, p, s"writer-$w-${"x" * (w * 7)}") })
      }.map(_.get(60, TimeUnit.SECONDS)).count(identity)
      assert(wins == 1, s"round $round: $wins winners")
    } finally pool.shutdownNow()
  }

  test("claim lease: two interleaved non-atomic claimers never both hold the lease") {
    val root = Files.createTempDirectory("graft_cp_claim").toString
    val fs = fsOf(root)
    CommitPoint.withCreator(new NonAtomicCreator) {
      val (ca, cb) = race(
        Artifacts.tryClaim(fs, root, "artifact_x"),
        Artifacts.tryClaim(fs, root, "artifact_x"))
      assert(Seq(ca, cb).count(identity) <= 1,
        s"both claimers hold the lease: A=$ca B=$cb")
      if (!ca && !cb) {
        // torn claim file = a corpse lease nobody holds; publish()'s
        // stale-claim break deletes it after a quiet timeout — simulate
        // the break and prove the lease is then takeable
        val cp = new Path(new Path(root, "_claims"), "artifact_x.claim")
        assert(fs.exists(cp), "a zero-winner race must leave the corpse visible")
        fs.delete(cp, false)
        assert(Artifacts.tryClaim(fs, root, "artifact_x"),
          "a broken corpse lease must be re-claimable")
      }
    }
  }
}
