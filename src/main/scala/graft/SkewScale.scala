package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bot-skew A/B for the per-user event operators (SCALE.md): a synthetic
  * log of `users` normal users (~20 events each) plus ONE bot emitting
  * `botEvents` funnel-typed events — the adversarial shape where any
  * "collect the user's history" aggregation funnels millions of rows
  * into a single task's buffer.
  *
  * Measures:
  *  - st6 topEventPaths: bounded-heap `graft_topk_min` (shipped) vs the
  *    collect_list+slice formulation it replaced (inlined here as the
  *    A/B reference);
  *  - st4 funnelSteps: exact (state = the user's own funnel events) vs
  *    `maxEventsPerUser`-capped (state O(cap) per user).
  *
  * Usage: graft.SkewScale [users] [botEvents]   (defaults 200000, 1000000)
  */
object SkewScale {
  def main(args: Array[String]): Unit = {
    val users = if (args.length > 0) args(0).toInt else 200000
    val botEvents = if (args.length > 1) args(1).toInt else 1000000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.sparkSession(cpus)

    val types = array(lit("signup"), lit("click"), lit("purchase"),
      lit("view"), lit("search"))
    // normal population: ~20 events per user, deterministic pseudo-times
    val normal = spark.range(users.toLong * 20)
      .select((col("id") % users).as("user_id"),
        element_at(types, (pmod(xxhash64(col("id")), lit(5)) + 1).cast("int")).as("event_type"),
        timestamp_micros(lit(1700000000000000L) +
          pmod(xxhash64(col("id"), lit(7)), lit(86400000000L * 30))).as("ts"))
    // the bot: user_id = users, a million funnel-typed events
    val bot = spark.range(botEvents.toLong)
      .select(lit(users.toLong).as("user_id"),
        element_at(types, (pmod(xxhash64(col("id")), lit(3)) + 1).cast("int")).as("event_type"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000L).as("ts"))
    val ev = normal.unionByName(bot)
      .repartition(cpus).localCheckpoint(true) // fix the input out of the timing
    println(s"[skew] events=${ev.count()} users=${users + 1} bot=$botEvents")

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[skew] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }

    // st6 A/B — identical results required, different state bounds
    def pathsCollectSlice(depth: Int, topN: Int): DataFrame = {
      val base = ev.select(col("user_id").as("u"), col("event_type").as("t"),
          unix_micros(col("ts")).as("ets"))
        .filter(col("ets").isNotNull && col("t").isNotNull)
      base.groupBy("u").agg(
        concat_ws(">", transform(
          slice(array_sort(collect_list(struct(col("ets"), col("t")))), 1, depth),
          e => e.getField("t"))).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(desc("n_users"), asc("path")).limit(topN)
    }
    val heap = graft.ops.EventAnalytics
      .topEventPaths(ev, "user_id", "event_type", "ts", depth = 4, topN = 20)
      .collect().map(_.toString).toSeq
    val full = pathsCollectSlice(4, 20).collect().map(_.toString).toSeq
    require(heap == full, s"A/B mismatch:\n$heap\nvs\n$full")
    time("st6 topk-heap (shipped)") {
      graft.ops.EventAnalytics.topEventPaths(ev, "user_id", "event_type",
        "ts", depth = 4, topN = 20).count()
    }
    time("st6 collect+slice (old)") { pathsCollectSlice(4, 20).count() }

    // st4 A/B — capped must agree here (the bot's funnel completes in
    // its earliest events by construction)
    val steps = Seq("signup", "click", "purchase")
    val exact = graft.ops.EventAnalytics
      .funnelSteps(ev, "user_id", "event_type", "ts", steps)
      .orderBy("step").collect().map(_.toString).toSeq
    val capped = graft.ops.EventAnalytics
      .funnelSteps(ev, "user_id", "event_type", "ts", steps,
        maxEventsPerUser = Some(1000))
      .orderBy("step").collect().map(_.toString).toSeq
    require(exact == capped, s"capped funnel diverged:\n$exact\nvs\n$capped")
    time("st4 funnel exact") {
      graft.ops.EventAnalytics.funnelSteps(ev, "user_id", "event_type",
        "ts", steps).count()
    }
    time("st4 funnel capped(1000)") {
      graft.ops.EventAnalytics.funnelSteps(ev, "user_id", "event_type",
        "ts", steps, maxEventsPerUser = Some(1000)).count()
    }

    // st4c/st4e A/B — transition stats share the fold; capped must agree
    // here for the same reason (the bot's chain realizes in its earliest
    // events by construction)
    val gapsExact = graft.ops.EventAnalytics
      .funnelTransitionStats(ev, "user_id", "event_type", "ts", steps)
      .orderBy("step_from").collect().map(_.toString).toSeq
    val gapsCapped = graft.ops.EventAnalytics
      .funnelTransitionStats(ev, "user_id", "event_type", "ts", steps,
        maxEventsPerUser = Some(1000))
      .orderBy("step_from").collect().map(_.toString).toSeq
    require(gapsExact == gapsCapped,
      s"capped gaps diverged:\n$gapsExact\nvs\n$gapsCapped")
    // capped timed FIRST: the exact run's single-task 10 M-element
    // collect_list leaves GC debt that a subsequent measurement in the
    // same JVM pays (measured 2 s → 48 s when timed after it)
    System.gc()
    time("st4e gaps capped(1000)") {
      graft.ops.EventAnalytics.funnelTransitionStats(ev, "user_id",
        "event_type", "ts", steps, maxEventsPerUser = Some(1000)).count()
    }
    time("st4c gaps exact") {
      graft.ops.EventAnalytics.funnelTransitionStats(ev, "user_id",
        "event_type", "ts", steps).count()
    }

    // st7 A/B — the window-lead pair formation (shipped) vs the
    // collect_list array form it replaced: identical matrix required;
    // the array form buffers the bot's whole history in one task
    def transitionsCollect(): DataFrame = {
      val base = ev.select(col("user_id").as("u"), col("event_type").as("t"),
          unix_micros(col("ts")).as("ets"))
        .filter(col("ets").isNotNull && col("t").isNotNull)
      val seqs = base.groupBy("u").agg(
        array_sort(collect_list(struct(col("ets"), col("t")))).as("seq"))
      val pairs = seqs.select(explode(
          transform(slice(col("seq"), lit(1), size(col("seq")) - 1),
            (x, i) => struct(x.getField("t").as("f"),
              element_at(col("seq"), i + 2).getField("t").as("o")))).as("pr"))
        .select(col("pr.f").as("from_type"), col("pr.o").as("to_type"))
      val counts = pairs.groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy("from_type").agg(sum(col("n")).as("n_from"))
      counts.join(broadcast(totals), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / col("n_from").cast("double")).as("p"))
        .orderBy("from_type", "to_type")
    }
    val winM = graft.ops.EventAnalytics
      .eventTransitionMatrix(ev, "user_id", "event_type", "ts")
      .collect().map(_.toString).toSeq
    val arrM = transitionsCollect().collect().map(_.toString).toSeq
    require(winM == arrM, s"st7 A/B mismatch:\n$winM\nvs\n$arrM")
    // chunked twin (st7b): the bot's single-task sort split into
    // parallel per-(user, time-chunk) sorts + boundary recovery —
    // identical matrix required. 10-minute chunks here: the bot's 10 M
    // events span ~2.8 h at 1 ms spacing, so day chunks (the registered
    // st7b's choice for the 30-day table) would not split it
    val botChunk = 600000000L
    val chunkM = graft.ops.EventAnalytics
      .eventTransitionMatrix(ev, "user_id", "event_type", "ts",
        chunkUs = Some(botChunk))
      .collect().map(_.toString).toSeq
    require(chunkM == winM, s"st7b A/B mismatch:\n$chunkM\nvs\n$winM")
    time("st7b chunked (bot-split)") {
      graft.ops.EventAnalytics
        .eventTransitionMatrix(ev, "user_id", "event_type", "ts",
          chunkUs = Some(botChunk)).count()
    }
    time("st7 window-lead (shipped)") {
      graft.ops.EventAnalytics
        .eventTransitionMatrix(ev, "user_id", "event_type", "ts").count()
    }
    time("st7 collect_list (old)") { transitionsCollect().count() }

    // e42 A/B — URL dedup on a MEGA-DUPLICATED canonical key (botEvents
    // copies of one parked-domain URL + `users` near-unique URLs): the
    // window form sorts every copy of the hot key in ONE task (a window
    // partition is indivisible — AQE skew splitting applies to joins,
    // not windows); the agg form partial-aggregates the hot key away
    // map-side and SALTS the join-back over saltFactor tasks. (Why not
    // AQE: this arm MEASURED that OptimizeSkewedJoin declines the
    // join-back — its pattern needs Sort directly over a shuffle stage
    // on both SMJ children, and the group table's final HashAggregate
    // sits in-stage between them; a plain control join in the same
    // session does get skew=true.) Identical output required (checksum
    // over all columns).
    val urls = spark.range(users.toLong + botEvents.toLong)
      .select(col("id").as("doc_id"),
        when(col("id") >= users.toLong,
            concat(lit("https://WWW.Parked.Example.NET/?sid="),
              col("id").cast("string")))
          .otherwise(concat(lit("http://host-"), (col("id") % 9973).cast("string"),
            lit(".example.org/p/"), col("id").cast("string"))).as("url"))
      .repartition(cpus).localCheckpoint(true)
    def urlChecksum(df: DataFrame): (Long, Long) = {
      // modular sum: 1.2 M rows × (hash mod 1e9+7) stays < 2^63 (a raw
      // sum(xxhash64) overflows LongType under ANSI)
      val r = df.select(
        sum(pmod(xxhash64(col("doc_id"), col("canon_url"), col("url_dups"),
          col("keep").cast("int")), lit(1000000007L))).as("cs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept")).collect().head
      (r.getLong(0), r.getLong(1))
    }
    val csWin = urlChecksum(
      graft.ops.WebCuration.canonicalizeUrls(urls, "doc_id", "url"))
    val csAgg = urlChecksum(
      graft.ops.WebCuration.canonicalizeUrlsAgg(urls, "doc_id", "url"))
    require(csWin == csAgg, s"e42 A/B mismatch: window=$csWin agg=$csAgg")
    // The money metric is MAX SHUFFLE-READ RECORDS IN ONE TASK, not wall
    // time (at 1.2 M rows a single-task sort of the hot key is cheap —
    // at 100 TB it is the task that dies). Scale AQE's skew thresholds
    // to the fixture (the defaults target 256 MB partitions) and track
    // per-task reads: the agg form's join partitions split (or the
    // collapsed group table broadcasts — either way no task sees the
    // whole hot key), while a WINDOW partition is indivisible by
    // definition and must read every copy in one task no matter how the
    // thresholds are set.
    val maxRead = new java.util.concurrent.atomic.AtomicLong(0)
    val readListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && m.shuffleReadMetrics != null) {
          val r = m.shuffleReadMetrics.recordsRead
          var cur = maxRead.get
          while (r > cur && !maxRead.compareAndSet(cur, r)) cur = maxRead.get
        }
      }
    }
    // noop-sink materialization: count() would let Catalyst PRUNE the
    // window/projection work (a count over canonicalizeUrls drops the
    // Window node entirely and reads 0 shuffles — measured), exactly the
    // trap Bench.scala documents; the noop sink forces every column
    val urlRows = users.toLong + botEvents.toLong
    def noop(df: DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); urlRows
    }
    def maxTaskRead(f: => Long): (Long, Long) = {
      maxRead.set(0)
      spark.sparkContext.addSparkListener(readListener)
      val n = try f finally {
        Thread.sleep(500) // listener bus drain
        spark.sparkContext.removeSparkListener(readListener)
      }
      (n, maxRead.get)
    }
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try {
      val (_, winMax) = maxTaskRead(
        noop(graft.ops.WebCuration.canonicalizeUrls(urls, "doc_id", "url")))
      val (_, aggMax) = maxTaskRead(
        noop(graft.ops.WebCuration.canonicalizeUrlsAgg(urls, "doc_id", "url")))
      println(s"[skew] e42 max task shuffle-read: window=$winMax agg=$aggMax " +
        s"(hot key $botEvents copies)")
      require(winMax >= botEvents.toLong,
        s"window form must funnel the hot key into one task: $winMax")
      require(aggMax <= botEvents.toLong / 2,
        s"agg form must never give one task the whole hot key: $aggMax")
      // wall A/B timed INSIDE the scaled-threshold regime: at default
      // 64 MB advisory this fixture's compressed shuffle (~8 MB total —
      // repeated URLs compress ~10:1) coalesces to 1-2 partitions and
      // the comparison degenerates to two single-task plans; the scaled
      // thresholds reproduce the many-partitions-per-task regime the
      // 100 TB argument is about (same confs both forms, GC-isolated
      // after st7's collect_list debt)
      System.gc()
      time("e42 url-dedup window (ref)") {
        noop(graft.ops.WebCuration.canonicalizeUrls(urls, "doc_id", "url"))
      }
      System.gc()
      time("e42b url-dedup agg (shipped)") {
        noop(graft.ops.WebCuration.canonicalizeUrlsAgg(urls, "doc_id", "url"))
      }
    } finally {
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    }
    spark.stop()
  }
}
