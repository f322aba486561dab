package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.EventStreams

/** Event-time streaming soak (SCALE.md) — the Structured-Streaming twin
  * of [[ConcurrentScale]]'s DAG proof: replay a ScaleGen-grown events
  * table (default 50× sf0.1 = 5 M events) through the library's two
  * state-store-backed stream operators as a sequence of AvailableNow
  * file-arrival ticks, and print per-tick wall time, throughput, and
  * state-store size, proving the watermark actually BOUNDS state across
  * a multi-tick run instead of accreting per event.
  *
  * Shape: the grown table is cut into `ticks` CONTIGUOUS event-time
  * ranges (a live stream arrives in time order — cutting by hash would
  * make every tick after the first entirely "late" and silently
  * dropped), each tick's files land in the watched directory, and one
  * Trigger.AvailableNow pass per tick drains them against a persistent
  * checkpoint — exactly the periodic-batch replay mode a 100 TB
  * backfill runs. Two queries per tick, each with its own checkpoint:
  *
  *  - [[EventStreams.windowedStats]] (1-minute tumbling windows,
  *    2-minute watermark, Append): state = open windows × event_type.
  *    With ~43k one-minute windows × 5 types across the 30-day table,
  *    unbounded state would reach ~216k rows; the watermark must hold
  *    the live set to roughly one tick's span (+ the horizon), and
  *    finalized windows emit exactly once.
  *  - [[EventStreams.dedupStream]] (dropDuplicatesWithinWatermark on
  *    event_id): each tick carries a deterministic 1% re-send of its
  *    own ids (the at-least-once delivery the operator exists to
  *    repair); survivors per tick must equal the tick's DISTINCT ids,
  *    and ids older than the watermark are evicted next tick.
  *
  * Scale: every per-tick cost is O(tick batch) — the windowed agg is a
  * partial+final HashAggregate into the state store, dedup is one
  * state-store lookup per row — nothing rescans prior ticks; at
  * 1000 executors the same plan shards by (window, type) / event_id.
  *
  * Usage: runMain graft.StreamScale [sfDir] [factor] [ticks]
  */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 50
    val ticks = if (args.length > 2) args(2).toInt else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.sparkSession(cpus)
    import spark.implicits._

    val root = Files.createTempDirectory("graft_stream_scale")
    val watch = Files.createDirectories(root.resolve("watch"))
    val ckpt = root.resolve("ckpt")

    // ScaleGen's fact treatment of events, inline: `factor` copies on
    // disjoint event_id/user_id strides, timestamps untouched (copies
    // overlay the same 30-day range, so windows get denser, not longer —
    // the harsher state test).
    // NTZ→LTZ cast up front (session TZ UTC): watermarks only accept
    // TIMESTAMP, and the staged files should carry the stream-ready type
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts").cast("timestamp").as("ts"))
    def stride(c: String): Long = {
      val mx = ev.agg(max(col(c))).head().getLong(0)
      var s = 10L; while (s <= mx) s *= 10; s
    }
    val (evS, usrS) = (stride("event_id"), stride("user_id"))
    val scaled = (0 until factor).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i * evS))
        .withColumn("user_id", col("user_id") + lit(i * usrS))
    }.reduce(_ unionByName _)

    // contiguous event-time tick ranges from the base table's ts
    // quantiles (copies share the range, so base quantiles cut all of
    // them); the last cut is +∞ so max-ts rows land in the final tick
    val tsSec = col("ts").cast("long")
    val cutsD = ev.select(tsSec.as("ts_sec"))
      .stat.approxQuantile("ts_sec",
        (1 until ticks).map(_.toDouble / ticks).toArray, 0.001)
    val cuts = cutsD.map(_.toLong) :+ Long.MaxValue

    val schema = scaled.schema
    def stageTick(t: Int): Long = {
      val lo = if (t == 0) Long.MinValue else cuts(t - 1)
      val chunk = scaled.filter(tsSec >= lit(lo) && tsSec < lit(cuts(t)))
      // deterministic 1% re-send: the at-least-once duplicates the
      // dedup query must repair (ids are unique post-stride, so every
      // re-sent row IS a duplicate and must not survive)
      val withDups = chunk.unionByName(chunk.filter(col("event_id") % 100 === 0))
      val tmp = root.resolve(s"tmp_$t")
      withDups.write.mode("overwrite").parquet(tmp.toString)
      var n = 0
      Files.list(tmp).forEach { f: Path =>
        if (f.getFileName.toString.endsWith(".parquet")) {
          Files.move(f, watch.resolve(s"t${t}_$n.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
          n += 1
        }
      }
      chunk.count()
    }

    /** One AvailableNow drain of `sink` over the watched dir; returns
      * (wall sec, rows emitted downstream, state rows, batches). */
    def drain(name: String, build: DataFrame => DataFrame,
        mode: OutputMode): (Double, Long, Long, Int) =
      drainFrom(name, () => build(
        spark.readStream.schema(schema).parquet(watch.toString)), mode)

    /** drain() for sinks that construct their own source(s) — the
      * stream-stream join reads the watched dir twice. `sink` consumes
      * each micro-batch and returns its contribution to the emitted
      * count (default: the batch size). */
    def drainFrom(name: String, build: () => DataFrame, mode: OutputMode,
        sink: DataFrame => Long = _.count()): (Double, Long, Long, Int) = {
      var emitted = 0L
      val q = build().writeStream
        .option("checkpointLocation", ckpt.resolve(name).toString)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) => emitted += sink(b) }
        .start()
      val t0 = System.nanoTime()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.filter(_.stateOperators.nonEmpty)
      val stateRows =
        if (progs.isEmpty) 0L else progs.last.stateOperators.map(_.numRowsTotal).sum
      (wall, emitted, stateRows, q.recentProgress.count(_.numInputRows > 0))
    }

    var totalIn = 0L
    var sessionsTotal = 0L
    var funnelTotal = 0L
    val dauLatest = scala.collection.mutable.Map.empty[String, Long]
    val skFinal = scala.collection.mutable
      .ArrayBuffer.empty[(java.sql.Date, Long, Array[Byte])]
    for (t <- 0 until ticks) {
      val staged = stageTick(t)
      totalIn += staged
      val (wWall, wEmit, wState, _) = drain("win",
        df => EventStreams.windowedStats(df), OutputMode.Append())
      val (dWall, dEmit, dState, _) = drain("dedup",
        df => EventStreams.dedupStream(df, Seq("event_id")), OutputMode.Append())
      require(dEmit == staged,
        s"tick $t: dedup must emit exactly the distinct ids ($staged), got $dEmit")
      // custom per-key state: 30-min-gap sessionization via
      // flatMapGroupsWithState — state is O(users with an open session),
      // evicted by event-time timeout, never O(events)
      val (sWall, sEmit, sState, _) = drain("sess",
        df => EventStreams.sessionize(
          df.as[EventStreams.Event](org.apache.spark.sql.Encoders.product),
          gapMs = 30L * 60 * 1000).toDF(),
        OutputMode.Append())
      sessionsTotal += sEmit
      // stream-stream interval join (the 4th state shape: buffered join
      // rows, evicted at lookback + watermark): clicks enriched with
      // same-user views from the preceding 10 minutes
      val (jWall, jEmit, jState, _) = drainFrom("join", () =>
        EventStreams.intervalJoin(
          spark.readStream.schema(schema).parquet(watch.toString)
            .filter(col("event_type") === "click"),
          spark.readStream.schema(schema).parquet(watch.toString)
            .filter(col("event_type") === "view"),
          lookback = "10 minutes"),
        OutputMode.Append())
      // streaming funnel (5th state shape: per-user chain scalars + a
      // watermark-bounded pending buffer; completed users evict) — state
      // is O(distinct users), never O(events), and that bound is HARD:
      // a user either completed (removed) or holds one state row
      val (fWall, fEmit, fState, _) = drain("funnel",
        df => EventStreams.streamingFunnel(
          df.as[EventStreams.Event](org.apache.spark.sql.Encoders.product),
          Seq("signup", "click", "purchase")).toDF(),
        OutputMode.Append())
      require(fState <= 15000L * factor,
        s"tick $t: funnel state ($fState) must stay bounded by distinct users")
      funnelTotal += fEmit
      // streaming DAU (6th state shape: per-(user, day) dedup rows inside
      // the watermark horizon + one aggregate row per day): update-mode
      // re-emission keeps each day's latest count; the 25 h watermark
      // covers any same-day duplicate arrival, so the final value per day
      // must equal the exact batch distinct — checked after the run
      val (uWall, _, uState, _) = drainFrom("dau", () =>
        EventStreams.streamingDau(
          spark.readStream.schema(schema).parquet(watch.toString),
          "user_id", "ts", watermark = "25 hours"),
        OutputMode.Update(),
        sink = { b =>
          val rows = b.collect()
          rows.foreach(r => dauLatest(r.getDate(0).toString) = r.getLong(1))
          rows.length.toLong
        })
      // streaming DAU + day-keyed HLL sketch (7th state shape: the DAU
      // dedup rows plus ONE (count, lgK-bounded sketch) row per open
      // window — the MAU-feeding state is kilobytes per day, watermark-
      // evicted): append mode emits each finalized day exactly once;
      // the read-time trailing-window union is checked after the run
      val (kWall, kEmit, kState, _) = drainFrom("dausk", () =>
        EventStreams.streamingDauSketches(
          spark.readStream.schema(schema).parquet(watch.toString),
          "user_id", "ts", watermark = "25 hours"),
        OutputMode.Append(),
        sink = { b =>
          val rows = b.collect()
          rows.foreach(r => skFinal +=
            ((r.getDate(0), r.getLong(1), r.getAs[Array[Byte]](2))))
          rows.length.toLong
        })
      println(f"""{"tick":$t,"rows":$staged,"win_wall_s":$wWall%.2f,""" +
        f""""dau_wall_s":$uWall%.2f,"dau_state_rows":$uState,""" +
        f""""dausk_wall_s":$kWall%.2f,"dausk_state_rows":$kState,""" +
        f""""dausk_days_finalized":$kEmit,""" +
        f""""win_emitted":$wEmit,"win_state_rows":$wState,""" +
        f""""dedup_wall_s":$dWall%.2f,"dedup_state_rows":$dState,""" +
        f""""sess_wall_s":$sWall%.2f,"sessions_closed":$sEmit,""" +
        f""""sess_state_rows":$sState,""" +
        f""""join_wall_s":$jWall%.2f,"join_matches":$jEmit,""" +
        f""""join_state_rows":$jState,""" +
        f""""funnel_wall_s":$fWall%.2f,"funnel_steps":$fEmit,""" +
        f""""funnel_state_rows":$fState,""" +
        f""""win_krows_s":${staged / 1000.0 / wWall}%.1f}""")
    }
    println(s"""{"metric":"stream_scale_sessions","value":$sessionsTotal}""")
    println(s"""{"metric":"stream_scale_total_rows","value":$totalIn,"ticks":$ticks,"factor":$factor}""")
    // streaming DAU ≡ exact batch distinct per day across the whole run
    // (the update-mode latest value per day is the day's final count)
    val exactDau = scaled
      .select(col("user_id").as("u"), to_date(col("ts")).as("day"))
      .filter(col("u").isNotNull && col("day").isNotNull)
      .distinct().groupBy("day").agg(count(lit(1)).as("dau"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    require(dauLatest == exactDau,
      s"streaming DAU diverged from batch: ${
        (exactDau.keySet ++ dauLatest.keySet).toSeq.sorted
          .filter(d => dauLatest.get(d) != exactDau.get(d))
          .map(d => s"$d stream=${dauLatest.get(d)} exact=${exactDau.get(d)}")
          .mkString("; ")}")
    println(s"""{"metric":"stream_scale_dau_days","value":${dauLatest.size}}""")
    // the sketch twin's finalized (day, dau, sk) rows: exact DAU rode
    // along bit-for-bit, and the read-time trailing-7-day union equals
    // the batch st8b twin EXACTLY on the finalized prefix (append-mode
    // emission is a time-prefix of days, so every source day a
    // finalized target day unions is itself finalized; identical input
    // sets → identical HLL registers → identical estimates).
    // Caveat pinned at the soak's committed params (sf0.1 × factor 50):
    // ~33k users/day puts the lgK=12 sketch in DENSE mode on both
    // sides, where the equality is structural. At toy fill (hundreds of
    // users/day, e.g. sf0.01 × factor 5) the streaming aggregate's
    // state-store roundtrip serializes the buffer out of sparse mode
    // while the batch sketch stays sparse-exact, and the two estimators
    // legitimately differ by <1% — a DataSketches mode artifact, not a
    // state-loss bug (the exact `dau` column, same deduped input rows,
    // still matches bit-for-bit there).
    val skDf = skFinal.toSeq.toDF("day", "dau", "sk")
    val twin = EventStreams.dauMauFromDailySketches(skDf, window = 7)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
    val st8b = graft.ops.EventAnalytics
      .dauMauApprox(scaled, "user_id", "ts", window = 7)
      .collect().map(r => r.getDate(0).toString -> r.getLong(2)).toMap
    val badTwin = twin.filter { case (d, dau, mauEst) =>
      !exactDau.get(d).contains(dau) || !st8b.get(d).contains(mauEst) }
    require(badTwin.isEmpty,
      s"sketch twin diverged on finalized days: $badTwin")
    println(s"""{"metric":"stream_scale_dau_sketch_days","value":${twin.size}}""")

    // ---- funnel RESTART-to-truth pin ------------------------------------
    // Every tick above was ALREADY a kill/restart: each drain starts a
    // fresh query against the persistent "funnel" checkpoint, so per-user
    // chain state round-tripped the state store `ticks` times mid-soak.
    // What the loop can't check is total emissions (the last watermark
    // horizon is still pending at end-of-soak) — two sentinel drains push
    // the watermark past the whole timeline and flush it, and the sum of
    // emissions ACROSS ALL RESTARTS must then equal the batch funnel on
    // the identical event log, exactly. The sentinel's own signup sits
    // 40 days out, beyond every later watermark, so it never emits.
    val maxTsMs = scaled.agg(max(col("ts"))).head().getTimestamp(0).getTime
    val sentUser = (factor + 1L) * usrS + 7L
    def stageSentinel(tag: String, offSec: Long): Unit = {
      val tmp = root.resolve(s"tmp_sent_$tag")
      Seq(EventStreams.Event((factor + 1L) * evS + offSec, sentUser, "signup",
          0.0, new java.sql.Timestamp(maxTsMs + 40L * 86400 * 1000 + offSec * 1000)))
        .toDF().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      var n = 0
      Files.list(tmp).forEach { f: Path =>
        if (f.getFileName.toString.endsWith(".parquet")) {
          Files.move(f, watch.resolve(s"sent_${tag}_$n.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
          n += 1
        }
      }
    }
    def drainFunnelTick(): Long = drain("funnel",
      df => EventStreams.streamingFunnel(
        df.as[EventStreams.Event](org.apache.spark.sql.Encoders.product),
        Seq("signup", "click", "purchase")).toDF(),
      OutputMode.Append())._2
    stageSentinel("a", 0L)
    funnelTotal += drainFunnelTick() // watermark jumps past the timeline
    stageSentinel("b", 10L)
    funnelTotal += drainFunnelTick() // event-time timeouts flush the tail
    val batchFunnelReach = graft.ops.EventAnalytics
      .funnelSteps(scaled, "user_id", "event_type", "ts",
        Seq("signup", "click", "purchase"))
      .agg(sum(col("n_users"))).head().getLong(0)
    require(funnelTotal == batchFunnelReach,
      s"funnel emissions across $ticks checkpoint restarts + final flush " +
        s"must equal the batch funnel: stream=$funnelTotal batch=$batchFunnelReach")
    println(s"""{"metric":"stream_scale_funnel_restart_pin","emitted":$funnelTotal,"ticks":$ticks}""")

    // ---- funnel BOT-CAP arm: one user emitting funnel-typed events
    // inside a single watermark horizon is the state bomb the batch caps
    // (st4d/st4e) defused; the streaming twin's pending buffer is only
    // watermark-bounded without the cap. Same data, two fresh drains:
    // maxEventsPerUser=None vs Some(8) — identical emissions (the bot's
    // events never finalize; normal users are under the cap), state
    // memory collapses from O(bot events) to O(cap).
    val botWatch = root.resolve("bot_watch")
    val botN = 200000
    val tsBase = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime
    def at(sec: Long) = new java.sql.Timestamp(tsBase + sec * 1000L)
    val normal = (1 to 100).flatMap { u =>
      Seq(EventStreams.Event(u * 10L, u, "signup", 0.0, at(u)),
        EventStreams.Event(u * 10L + 1, u, "click", 0.0, at(u + 3600)),
        EventStreams.Event(u * 10L + 2, u, "purchase", 0.0, at(u + 7200)))
    }
    // the bot burst rides the LAST watermark horizon of the timeline, so
    // its buffer is still live at end-of-stream and the final state
    // metrics expose it
    val bot = (0 until botN).map(i =>
      EventStreams.Event(1000000L + i, 777L, "signup", 0.0, at(8000L + i % 60)))
    (normal ++ bot).toDF().write.mode("overwrite").parquet(botWatch.toString)
    def drainFunnel(name: String, cap: Option[Int]): (Double, Long, Long, Long) = {
      var emitted = 0L
      val q = EventStreams.streamingFunnel(
          spark.readStream.schema(schema).parquet(botWatch.toString)
            .as[EventStreams.Event](org.apache.spark.sql.Encoders.product),
          Seq("signup", "click", "purchase"), maxEventsPerUser = cap).toDF()
        .writeStream
        .option("checkpointLocation", ckpt.resolve(name).toString)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) => emitted += b.count() }
        .start()
      val t0 = System.nanoTime(); q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.filter(_.stateOperators.nonEmpty)
      val rows = if (progs.isEmpty) 0L
        else progs.last.stateOperators.map(_.numRowsTotal).sum
      val mem = if (progs.isEmpty) 0L
        else progs.last.stateOperators.map(_.memoryUsedBytes).sum
      (wall, emitted, rows, mem)
    }
    val (uWall2, uEmit2, uRows2, uMem2) = drainFunnel("funnel_bot_exact", None)
    val (cWall2, cEmit2, cRows2, cMem2) = drainFunnel("funnel_bot_capped", Some(8))
    require(cEmit2 == uEmit2,
      s"cap must not change finalized emissions here: $cEmit2 vs $uEmit2")
    require(uEmit2 == 300L, s"normal users must emit 300 step hits, got $uEmit2")
    require(cMem2 * 5 < uMem2,
      s"capped pending buffer must collapse the bot's state: $cMem2 vs $uMem2 bytes")
    println(f"""{"metric":"stream_scale_funnel_botcap","bot_events":$botN,""" +
      f""""exact_state_bytes":$uMem2,"capped_state_bytes":$cMem2,""" +
      f""""exact_state_rows":$uRows2,"capped_state_rows":$cRows2,""" +
      f""""exact_wall_s":$uWall2%.2f,"capped_wall_s":$cWall2%.2f}""")

    // ---- URL-dedup arm: the stateful first stage of a continuous
    // crawl (streamingUrlDedup), under the exact hazard the batch agg
    // form (e42b) exists for — a MEGA-DUPLICATED canonical URL. Two
    // AvailableNow drains against one checkpoint (the second drain is a
    // kill/restart: tick-1 re-crawls are dropped only if tick-0's keys
    // round-tripped the state store). In the stream the hot key is ONE
    // state row — every duplicate is a lookup-and-drop, no per-key sort
    // at all — so the skew story here is even simpler than batch.
    val urlWatch = Files.createDirectories(root.resolve("url_watch"))
    val urlN = 200000L
    val uBase = java.sql.Timestamp.valueOf("2024-07-01 00:00:00").getTime
    val parked = lit("https://WWW.Parked.Example.NET/landing?sid=")
    def stageUrls(tag: String, df: DataFrame): Unit = {
      val tmp = root.resolve(s"tmp_url_$tag")
      df.write.mode("overwrite").parquet(tmp.toString)
      var n = 0
      Files.list(tmp).forEach { f: Path =>
        if (f.getFileName.toString.endsWith(".parquet")) {
          Files.move(f, urlWatch.resolve(s"u${tag}_$n.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
          n += 1
        }
      }
    }
    // tick 0: 100k copies of the parked canonical form + 100k distinct
    // pages; tick 1: 100k MORE parked copies, 50k re-crawls of tick-0
    // pages (cross-restart duplicates), 50k genuinely new pages
    val tick0 = spark.range(urlN).select(col("id").as("doc_id"),
      when(col("id") % 2 === 0, concat(parked, col("id").cast("string")))
        .otherwise(concat(lit("http://host.example.org/p/"),
          col("id").cast("string"))).as("url"),
      timestamp_millis(lit(uBase) + col("id") % 60000L).as("ts"))
    val tick1 = spark.range(urlN, 2 * urlN).select(col("id").as("doc_id"),
      when(col("id") % 2 === 0, concat(parked, col("id").cast("string")))
        .when(col("id") % 4 === 1, concat(lit("http://host.example.org/p/"),
          (col("id") - urlN).cast("string")))
        .otherwise(concat(lit("http://host.example.org/q/"),
          col("id").cast("string"))).as("url"),
      timestamp_millis(lit(uBase) + 120000L + col("id") % 60000L).as("ts"))
    val urlSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    def drainUrls(): (Double, Long, Long, Int) =
      drainFrom("url_dedup", () => EventStreams.streamingUrlDedup(
        spark.readStream.schema(urlSchema).parquet(urlWatch.toString)),
        OutputMode.Append())
    stageUrls("a", tick0)
    val (w0, e0, s0, _) = drainUrls()
    stageUrls("b", tick1)
    val (w1, e1, s1, _) = drainUrls()
    // tick 0 keeps: 1 parked + 100k distinct /p/ pages
    require(e0 == urlN / 2 + 1,
      s"tick-0 keep set must be ${urlN / 2 + 1}, got $e0")
    // tick 1 keeps ONLY the 50k new /q/ pages — the parked flood and the
    // /p/ re-crawls hit state written before the restart
    require(e1 == urlN / 4,
      s"post-restart keep set must be ${urlN / 4}, got $e1")
    // stream total == the batch twin's keep count on the union
    val batchKeep = EventStreams.streamingUrlDedup(
      tick0.unionByName(tick1)).count()
    require(e0 + e1 == batchKeep,
      s"stream keep total ${e0 + e1} != batch $batchKeep")
    // state is one row per distinct canonical form inside the horizon —
    // the 200k-copy hot key contributes exactly ONE row
    require(s1 <= urlN / 2 + 1 + urlN / 4 + 1,
      s"state must be bounded by distinct canonical forms, got $s1 rows")
    println(f"""{"metric":"stream_scale_url_dedup","rows":${4 * urlN / 2},""" +
      f""""hot_key_copies":$urlN,"kept":${e0 + e1},"batch_kept":$batchKeep,""" +
      f""""state_rows_t0":$s0,"state_rows_t1":$s1,""" +
      f""""wall_t0_s":$w0%.2f,"wall_t1_s":$w1%.2f}""")
    spark.stop()
  }
}
