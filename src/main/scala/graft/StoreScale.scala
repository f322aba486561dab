package graft

import org.apache.spark.sql.functions._

import graft.store.TableStore

/** Scale proof for the versioned store's bucket-pruned MERGE: load a
  * large lineitem into a bucketed store table, merge a small delta, and
  * report how many bucket files the merge rewrote vs carried over at
  * manifest level, plus wall times for the full load vs the delta merge.
  *
  * This is the claim SCALE.md makes for 100 TB tables — per-tick merge
  * cost O(batch + touchedBuckets), independent of table size — executed
  * against real data instead of asserted from plan shape. Run:
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf5 sbt "runMain graft.StoreScale"
  */
object StoreScale {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf5")
    val root = sys.env.getOrElse("SPARK_GRAFT_STORE_DIR", "/tmp/graft_store_scale")
    val buckets = sys.env.getOrElse("SPARK_GRAFT_STORE_BUCKETS", "512").toInt
    val spark = GraftSession.sparkSession(32)

    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val store = new TableStore(spark, root, numBuckets = buckets)
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data
    // (~24% dupes), so key on a synthesized unique row id — merge
    // semantics need a true key, as the reference's own tables have
    val li = Tables.load(spark, dir, "lineitem")
      .withColumn("row_id", monotonically_increasing_id())
    val nRows = li.count()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    store.createTable("fact_lineitem", li.schema, keys = Seq("row_id"))
    val (_, tLoad) = timed(store.append("fact_lineitem", li))

    // manifest forensics after a merge: bucket files the new version
    // rewrote (live in this version's batch dir) vs carried over
    def mergeAndReport(label: String, delta: org.apache.spark.sql.DataFrame): Unit = {
      val nDelta = delta.count()
      val (_, tMerge) = timed(store.merge("fact_lineitem", delta))
      val v = store.currentVersion("fact_lineitem")
      val entries = store.readManifest("fact_lineitem", v)
      val rewritten = entries.count(_._2.contains(f"/b$v%08d_")) // token-suffixed batch dirs
      val nNow = store.read("fact_lineitem").count()
      require(nNow == nRows, s"merge of existing keys must not change row count: $nRows -> $nNow")
      println(f"STORESCALE $label rows=$nRows delta=$nDelta " +
        f"buckets=${entries.size} rewritten=$rewritten " +
        f"carried=${entries.size - rewritten} load_s=$tLoad%.1f merge_s=$tMerge%.1f")
    }

    val upd = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("l_comment", lit("updated-by-storescale"))
    // a CDC-tick-sized delta (tens of keys): cost ∝ touched buckets
    mergeAndReport("cdc_tick", upd(li.filter(col("l_orderkey") === 1L)
      .unionAll(li.filter(col("l_orderkey") === 1000L))
      .unionAll(li.filter(col("l_orderkey") === 2000L))))
    // a bulk backfill delta (50k rows): cost ∝ batch, still not table
    mergeAndReport("bulk", upd(li.filter(col("l_orderkey") % 599 === 0).limit(50000)))

    // rebucket maintenance: auto-size (~256 MB/bucket), atomic count flip
    // with the rewrite commit; row count must be invariant
    val (_, tRebucket) = timed(store.rebucket("fact_lineitem"))
    val vR = store.currentVersion("fact_lineitem")
    val bAfter = store.readManifest("fact_lineitem", vR).size
    val nAfter = store.read("fact_lineitem").count()
    require(nAfter == nRows, s"rebucket must preserve rows: $nRows -> $nAfter")
    println(f"STORESCALE rebucket buckets=$bAfter rows=$nAfter rebucket_s=$tRebucket%.1f")

    // cross-JVM optimistic commits at scale: two INDEPENDENT TableStore
    // instances (no shared lock — the two-JVM shape) race real appends
    // of lineitem chunks onto one table. Every batch must land: the
    // committed version count equals the append count and the row total
    // is exact — the lost-update the old pointer swap allowed is gone.
    val perWriter = 4
    val chunk = li.filter(col("row_id") % 8 === 0) // ~1/8 of lineitem
    val nChunk = chunk.count()
    val wa = new TableStore(spark, root, numBuckets = 64)
    val wb = new TableStore(spark, root, numBuckets = 64)
    wa.createTable("race_t", li.schema, keys = Seq("row_id"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def racer(st: TableStore) = new Thread(() =>
      try (0 until perWriter).foreach(_ => st.append("race_t", chunk))
      catch { case e: Throwable => errs.add(e) })
    val (_, tRace) = timed {
      val t1 = racer(wa); val t2 = racer(wb)
      t1.start(); t2.start(); t1.join(); t2.join()
    }
    require(errs.isEmpty, s"concurrent writer failed: ${errs.peek()}")
    val vRace = wa.currentVersion("race_t")
    val nRace = wa.read("race_t").count()
    require(vRace == 2L * perWriter,
      s"every racing append must commit its own version: $vRace of ${2 * perWriter}")
    require(nRace == 2L * perWriter * nChunk,
      s"lost update under concurrent appends: $nRace of ${2L * perWriter * nChunk}")
    println(f"STORESCALE concurrent_writers writers=2 appends_each=$perWriter " +
      f"chunk_rows=$nChunk versions=$vRace rows=$nRace wall_s=$tRace%.1f")

    // auto-compaction under a long pipe run: 24 micro-batch appends (the
    // continuous-ingest shape). Unmanaged accretion grows batch dirs and
    // file counts linearly with ticks; the write-time policy (threshold
    // 8) bounds both — and the sidecar keep-set walk with them.
    val pstore = new TableStore(spark, root, numBuckets = 16)
    val tick = li.filter(col("l_orderkey") % 1201 === 0)
    val nTick = tick.count()
    pstore.createTable("pipe_acc", li.schema, keys = Seq("row_id"))
    pstore.createTable("pipe_ac", li.schema, keys = Seq("row_id"))
    var maxBatches = 0
    val (_, tPipe) = timed {
      (0 until 24).foreach { _ =>
        pstore.append("pipe_acc", tick)
        pstore.append("pipe_ac", tick)
        pstore.autoCompact("pipe_ac", minBatches = 8)
        maxBatches = math.max(maxBatches, pstore.batchCount("pipe_ac"))
      }
    }
    val accFiles = pstore.read("pipe_acc").inputFiles.length
    val acFiles = pstore.read("pipe_ac").inputFiles.length
    require(pstore.read("pipe_ac").count() == 24L * nTick,
      "auto-compaction must preserve every ingested row")
    require(maxBatches < 9 && pstore.batchCount("pipe_acc") == 24,
      s"policy must bound accretion: maxBatches=$maxBatches")
    println(f"STORESCALE pipe_autocompact appends=24 tick_rows=$nTick " +
      f"accretedBatches=${pstore.batchCount("pipe_acc")}%d accretedFiles=$accFiles " +
      f"boundedBatches=${pstore.batchCount("pipe_ac")}%d boundedFiles=$acFiles " +
      f"maxBatchesSeen=$maxBatches wall_s=$tPipe%.1f")
    spark.stop()
  }
}
