package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.EventStreams.{Event, Session}

class EventStreamsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // offset from epoch: a row with ts == initial watermark (0) is 'late'
  private def ts(sec: Long) = new Timestamp((3600 + sec) * 1000L)

  test("windowedStats over a micro-batched stream honors windows and watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.windowedStats(mem.toDF(), "1 minute", "2 minutes")
      .writeStream.format("memory").queryName("win_stats")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(
        Event(1, 1, "click", 1.0, ts(10)), Event(2, 1, "click", 2.0, ts(30)),
        Event(3, 2, "view", 5.0, ts(70)))
      q.processAllAvailable()
      val rows = spark.table("win_stats").collect()
        .map(r => (r.getAs[Timestamp]("window_start").getTime / 1000 - 3600,
          r.getAs[String]("event_type"), r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
        .toSet
      assert(rows.contains((0L, "click", 2L, 3.0)))
      assert(rows.contains((60L, "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("mergeSink upserts micro-batches into the store; replayed batches are no-ops") {
    implicit val sc = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_mergesink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mergesink_ckpt").toString
    val store = new graft.store.TableStore(spark, root, numBuckets = 4)
    store.createTable("dim_user",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType))),
      keys = Seq("user_id"))
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.mergeSink(mem.toDF().toDF("user_id", "status"),
      store, "dim_user", ckpt)
    try {
      mem.addData((1L, "new"), (2L, "new"))
      q.processAllAvailable()
      mem.addData((1L, "active"), (3L, "new")) // update key 1, insert key 3
      q.processAllAvailable()
      val state = store.read("dim_user").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(state == Map(1L -> "active", 2L -> "new", 3L -> "new"))
      // replay safety = merge idempotence: merging batch 2 again changes nothing
      val vBefore = store.currentVersion("dim_user")
      store.merge("dim_user", Seq((1L, "active"), (3L, "new")).toDF("user_id", "status"))
      val replayed = store.read("dim_user").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(replayed == state, "replaying a committed batch must be a no-op on the data")
      assert(store.currentVersion("dim_user") > vBefore, "replay still commits a version (MVCC)")
    } finally q.stop()
  }

  test("slidingStats: an event lands in every window whose span covers it") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.slidingStats(mem.toDF(), "2 minutes", "1 minute", "2 minutes")
      .writeStream.format("memory").queryName("slide_stats")
      .outputMode(OutputMode.Update()).start()
    try {
      // a 2-minute window sliding by 1 minute: t=70s is covered by
      // exactly the [0,120) and [60,180) spans
      mem.addData(Event(1, 1, "click", 1.0, ts(70)))
      q.processAllAvailable()
      val starts = spark.table("slide_stats").collect()
        .map(r => r.getAs[Timestamp]("window_start").getTime / 1000 - 3600).toSet
      assert(starts == Set(0L, 60L),
        s"one event at t=70s must appear in exactly the [0,120) and [60,180) windows, got $starts")
    } finally q.stop()
  }

  test("windowedStats works identically on a batch DataFrame") {
    val batch = Seq(
      Event(1, 1, "click", 1.0, ts(10)), Event(2, 1, "click", 2.0, ts(30)),
      Event(3, 2, "view", 5.0, ts(70))).toDF()
    val rows = EventStreams.windowedStats(batch, "1 minute").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_events"))).toSet
    assert(rows == Set(("click", 2L), ("view", 1L)))
  }

  test("sessionize closes sessions on gap timeout and emits totals") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS(), gapMs = 30_000L, watermark = "10 seconds")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // session 1: events at 0s and 10s; then silence
      mem.addData(Event(1, 7, "click", 1.0, ts(0)), Event(2, 7, "click", 2.0, ts(10)))
      q.processAllAvailable()
      // advance the watermark far past the gap: event at 200s (other user)
      mem.addData(Event(3, 8, "view", 9.0, ts(200)))
      q.processAllAvailable()
      // one more batch so the timed-out state is flushed
      mem.addData(Event(4, 8, "view", 1.0, ts(210)))
      q.processAllAvailable()
      val sessions = spark.table("sessions").as[Session].collect()
      val s7 = sessions.filter(_.user_id == 7L)
      assert(s7.length == 1)
      assert(s7.head.n_events == 2 && s7.head.sum_value == 3.0)
      assert(s7.head.session_start == ts(0) && s7.head.session_end == ts(10))
    } finally q.stop()
  }

  test("dedupStream drops within-watermark duplicate event ids") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupStream(mem.toDF(), Seq("event_id"), "2 minutes")
      .writeStream.format("memory").queryName("dedup_ev")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Event(1, 1, "click", 1.0, ts(10)), Event(1, 1, "click", 1.0, ts(11)))
      q.processAllAvailable()
      mem.addData(Event(1, 1, "click", 1.0, ts(12)), Event(2, 1, "view", 2.0, ts(20)))
      q.processAllAvailable()
      val ids = spark.table("dedup_ev").collect().map(_.getAs[Long]("event_id")).toSeq
      assert(ids.sorted == Seq(1L, 2L), s"duplicate event 1 must appear once, got $ids")
    } finally q.stop()
  }

  test("streamingDau counts distinct event-time daily actives exactly once") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.streamingDau(mem.toDF(), "user_id", "ts", "2 minutes")
      .writeStream.format("memory").queryName("dau_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      // u1 twice same day (dedup), u2 once; u1 again in a later batch —
      // still the same (user, day), must not recount
      mem.addData(Event(1, 1, "click", 1.0, ts(10)), Event(2, 1, "click", 1.0, ts(20)),
        Event(3, 2, "view", 1.0, ts(30)))
      q.processAllAvailable()
      mem.addData(Event(4, 1, "click", 1.0, ts(40)), Event(5, 3, "view", 1.0, ts(50)))
      q.processAllAvailable()
      // update mode re-emits a day's row as it grows: latest value wins
      val byDay = spark.table("dau_stream").collect()
        .map(r => r.getDate(0).toString -> r.getLong(1))
        .groupBy(_._1).map { case (d, vs) => d -> vs.map(_._2).max }
      assert(byDay == Map("1970-01-01" -> 3L), s"got $byDay")
      // batch form of the same op = the exact dauMau DAU branch
      val batch = Seq((1L, ts(10)), (1L, ts(40)), (2L, ts(30)), (3L, ts(50)))
        .toDF("user_id", "ts")
      val b = EventStreams.streamingDau(batch, "user_id", "ts")
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      assert(b == Map("1970-01-01" -> 3L))
      // UTC-epoch-day semantics are session-timezone-independent: the
      // dedup key, the window and the day label are all epoch-derived
      // (a to_date key would bucket differently from the epoch-aligned
      // window in any non-UTC session)
      val tz = spark.conf.get("spark.sql.session.timeZone")
      try {
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        val la = EventStreams.streamingDau(batch, "user_id", "ts")
          .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
        assert(la == b, s"day bucketing moved with the session timezone: $la")
      } finally spark.conf.set("spark.sql.session.timeZone", tz)
    } finally q.stop()
  }

  test("streamingUrlDedup keeps the first arrival per canonical URL across micro-batches ≡ batch keep set") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val stream = mem.toDF().toDF("doc_id", "url", "ts")
    val q = EventStreams.streamingUrlDedup(stream, watermark = "10 minutes")
      .writeStream.format("memory").queryName("url_dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: the parked domain under www/case/query noise (docs 1,2
      // same canonical form — 2 dropped) plus a distinct page (doc 3)
      mem.addData(
        (1L, "https://WWW.Parked.Example.NET/?sid=1", ts(10)),
        (2L, "http://parked.example.net?sid=2", ts(20)),
        (3L, "https://site-a.example.org/p/1", ts(30)))
      q.processAllAvailable()
      // batch 2: re-crawls of BOTH canonical forms arrive in a later
      // micro-batch — state store must still drop them — plus one new
      mem.addData(
        (4L, "https://parked.example.net/#frag", ts(40)),
        (5L, "http://WWW.Site-A.Example.ORG/p/1/", ts(50)),
        (6L, "https://site-b.example.org/p/2?utm=x", ts(60)))
      q.processAllAvailable()
      val kept = spark.table("url_dedup_stream").collect()
        .map(r => (r.getLong(0), r.getString(2))).toSet
      assert(kept == Set(
        (1L, "parked.example.net"),
        (3L, "site-a.example.org/p/1"),
        (6L, "site-b.example.org/p/2")), s"got $kept")

      // ids were assigned in arrival order, so the stream's keep set ==
      // the batch twin's min-id keep set — one call site, both modes
      val all = Seq(
        (1L, "https://WWW.Parked.Example.NET/?sid=1", ts(10)),
        (2L, "http://parked.example.net?sid=2", ts(20)),
        (3L, "https://site-a.example.org/p/1", ts(30)),
        (4L, "https://parked.example.net/#frag", ts(40)),
        (5L, "http://WWW.Site-A.Example.ORG/p/1/", ts(50)),
        (6L, "https://site-b.example.org/p/2?utm=x", ts(60)))
        .toDF("doc_id", "url", "ts")
      val batch = EventStreams.streamingUrlDedup(all).collect()
        .map(r => (r.getLong(0), r.getString(2))).toSet
      assert(batch == kept, s"stream $kept != batch $batch")
      // and the batch twin agrees with canonicalizeUrlsAgg's keep flags
      val agg = graft.ops.WebCuration.canonicalizeUrlsAgg(all, "doc_id", "url")
        .filter(org.apache.spark.sql.functions.col("keep")).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("canon_url"))).toSet
      assert(agg == kept)
    } finally q.stop()
  }

  test("streamingDauSketches + read-time union ≡ the batch st8b twin on finalized days") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    // append mode: a (day, dau, sketch) row emits once, on finalization
    val q = EventStreams.streamingDauSketches(mem.toDF(), "user_id", "ts",
        watermark = "2 minutes")
      .writeStream.format("memory").queryName("dau_sk_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      val day = 86400L
      // three active days with overlapping user sets (u1 every day,
      // u2/u3 partial), duplicates included — dedup keeps dau exact and
      // HLL registers are insertion-idempotent
      mem.addData(
        Event(1, 1, "click", 1.0, ts(10)), Event(2, 1, "click", 1.0, ts(20)),
        Event(3, 2, "view", 1.0, ts(30)),
        Event(4, 1, "click", 1.0, ts(day + 10)), Event(5, 3, "view", 1.0, ts(day + 20)),
        Event(6, 1, "view", 1.0, ts(2 * day + 10)), Event(7, 2, "view", 1.0, ts(2 * day + 20)),
        Event(8, 3, "click", 1.0, ts(2 * day + 30)))
      q.processAllAvailable()
      // sentinel far in the future: advances the watermark so all three
      // real days finalize; its own window stays open and never emits
      mem.addData(Event(99, 999, "click", 1.0, ts(30 * day)))
      q.processAllAvailable()
      val finalized = spark.table("dau_sk_stream")
      assert(finalized.count() == 3, "three finalized days expected")
      // exact DAU rode along with the sketches
      val dau = finalized.collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      assert(dau == Map("1970-01-01" -> 2L, "1970-01-02" -> 2L, "1970-01-03" -> 3L), s"got $dau")

      // read-time trailing-2-day union over the finalized sketch table
      // must equal the batch st8b form over the same (sentinel-free)
      // events — identical sketches → identical estimates, bit for bit
      val got = EventStreams.dauMauFromDailySketches(finalized, window = 2)
        .collect().map(r => (r.getDate(0).toString, r.getLong(1),
          r.getLong(2), r.getDouble(3))).toSeq
      val batchEvents = Seq(
        (1L, ts(10)), (1L, ts(20)), (2L, ts(30)),
        (1L, ts(day + 10)), (3L, ts(day + 20)),
        (1L, ts(2 * day + 10)), (2L, ts(2 * day + 20)), (3L, ts(2 * day + 30)))
        .toDF("user_id", "ts")
      val want = graft.ops.EventAnalytics
        .dauMauApprox(batchEvents, "user_id", "ts", window = 2)
        .collect().map(r => (r.getDate(0).toString, r.getLong(2), r.getDouble(3))).toSeq
      assert(got.map(g => (g._1, g._3)) == want.map(w => (w._1, w._2)),
        s"stream-side MAU union diverged from st8b: $got vs $want")
      // the streaming twin's dau column is EXACT (st8b estimates it)
      assert(got.map(g => (g._1, g._2)) ==
        Seq(("1970-01-01", 2L), ("1970-01-02", 2L), ("1970-01-03", 3L)))
      // tiny distinct sets: the HLL estimates are exact here, so
      // stickiness_est = dau / mau_est is checkable directly
      assert(got.map(_._4) == Seq(2.0 / 2.0, 2.0 / 3.0, 3.0 / 3.0), s"got $got")
    } finally q.stop()
  }

  test("intervalJoin pairs right events within the lookback window") {
    implicit val sc = spark.sqlContext
    val impressions = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = EventStreams.intervalJoin(clicks.toDF(), impressions.toDF(), "30 seconds")
      .writeStream.format("memory").queryName("joined_ev")
      .outputMode(OutputMode.Append()).start()
    try {
      impressions.addData(Event(10, 1, "imp", 0.0, ts(0)), Event(11, 1, "imp", 0.0, ts(100)))
      clicks.addData(Event(20, 1, "click", 1.0, ts(20)))
      q.processAllAvailable()
      val rows = spark.table("joined_ev").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("matched_id"))).toSet
      // click at 20s matches the impression at 0s (within 30s lookback),
      // NOT the one at 100s (in the future relative to the click)
      assert(rows == Set((20L, 10L)))
    } finally q.stop()
  }

  test("gap within session keeps one session; gap beyond splits") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS(), gapMs = 30_000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions2")
      .outputMode(OutputMode.Append()).start()
    try {
      // same user: 0s, 20s (within gap), 100s (beyond gap → split)
      mem.addData(Event(1, 9, "a", 1.0, ts(0)), Event(2, 9, "a", 1.0, ts(20)),
        Event(3, 9, "a", 1.0, ts(100)))
      q.processAllAvailable()
      val sessions = spark.table("sessions2").as[Session].collect().filter(_.user_id == 9L)
      assert(sessions.length == 1) // first session closed inline on the gap
      assert(sessions.head.n_events == 2)
      assert(sessions.head.session_end == ts(20))
    } finally q.stop()
  }

  test("streaming corpus gate: normalize → quality filter → dedup → store merge") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextAnalytics => TA}
    implicit val sc = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_gate").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_gate_ckpt").toString
    val store = new graft.store.TableStore(spark, root, numBuckets = 4)
    store.createTable("corpus",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("content_hash", org.apache.spark.sql.types.LongType))),
      keys = Seq("doc_id"))
    val mem = MemoryStream[(Long, String)]
    // the same per-row operators the batch pipeline uses, applied inline
    // on the stream: normalization-keyed exact dedup is STATEFUL across
    // micro-batches (dropDuplicates state), quality gates are stateless
    val gated = mem.toDF().toDF("doc_id", "text")
      .withColumn("content_hash", TA.phash(TA.normalizeText(col("text"))))
      .filter(TA.qualityScore(col("text")) > lit(0.4))
      .dropDuplicates("content_hash")
    val q = EventStreams.mergeSink(gated, store, "corpus", ckpt)
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "a stream of fresh tokens flows into the corpus nightly"),
        (3L, "!!! ??? !!!"), // gibberish: fails the quality gate
        (4L, "The quick brown fox -- jumps over the lazy dog!")) // normalizes to doc 1
      q.processAllAvailable()
      val ids1 = store.read("corpus").collect().map(_.getLong(0)).toSet
      assert(ids1 == Set(1L, 2L), s"gate must keep 1,2 only: $ids1")
      // cross-batch dedup state: another copy of doc 1 arrives later
      mem.addData(
        (5L, "entirely new material keeps the training mix growing daily"),
        (6L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"))
      q.processAllAvailable()
      val ids2 = store.read("corpus").collect().map(_.getLong(0)).toSet
      assert(ids2 == Set(1L, 2L, 5L), s"cross-batch duplicate must be dropped: $ids2")
    } finally q.stop()
  }

  test("dedupIngestSink: per-batch near-dup dedup against the live corpus") {
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_inc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_inc_ckpt").toString
    val store = new graft.store.TableStore(spark, root, numBuckets = 4)
    store.createTable("corpus",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))),
      keys = Seq("doc_id"))
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.dedupIngestSink(mem.toDF().toDF("doc_id", "text"),
      store, "corpus", ckpt, "doc_id", "text", minJaccard = 0.5)
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "a stream of fresh tokens flows into the corpus nightly"),
        (3L, "the quick brown fox jumps over the lazy dog")) // in-batch dup of 1
      q.processAllAvailable()
      val ids1 = store.read("corpus").collect().map(_.getLong(0)).toSet
      assert(ids1 == Set(1L, 2L), s"in-batch dup must drop, survivors merge: $ids1")
      mem.addData(
        (4L, "the quick brown fox jumps over the lazy dog"), // dups the LIVE corpus
        (5L, "entirely new material keeps the training mix growing daily"))
      q.processAllAvailable()
      val ids2 = store.read("corpus").collect().map(_.getLong(0)).toSet
      assert(ids2 == Set(1L, 2L, 5L), s"live-corpus dup must be dropped: $ids2")
    } finally q.stop()
  }

  test("streamingFunnel replays the batch chain even when steps ARRIVE out of order") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val steps = Seq("signup", "click", "purchase")
    val q = EventStreams.streamingFunnel(mem.toDS(), steps,
        watermark = "30 seconds")
      .writeStream.format("memory").queryName("funnel_hits")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 7's click and purchase ARRIVE before its signup — event-time
      // order (10 < 20 < 30) still unlocks all three once the watermark
      // passes them. user 9's click is at the SAME instant as its signup
      // (strict order must reject step 2).
      mem.addData(Event(1, 7, "click", 0, ts(20)), Event(2, 7, "purchase", 0, ts(30)))
      mem.addData(Event(3, 7, "signup", 0, ts(10)),
        Event(4, 9, "signup", 0, ts(40)), Event(5, 9, "click", 0, ts(40)))
      q.processAllAvailable()
      // watermark advance (far-future other-user event), then one more
      // batch so event-time timeouts flush the drained buffers
      mem.addData(Event(6, 1, "signup", 0, ts(500)))
      q.processAllAvailable()
      mem.addData(Event(7, 1, "signup", 0, ts(510)))
      q.processAllAvailable()
      val hits = spark.table("funnel_hits")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(hits.filter(_._1 == 7L) ==
        Set((7L, 1, "signup"), (7L, 2, "click"), (7L, 3, "purchase")),
        s"user 7 must complete all steps from out-of-order arrival: $hits")
      assert(hits.filter(_._1 == 9L) == Set((9L, 1, "signup")),
        s"user 9's same-instant click must not count: $hits")

      // equivalence with the batch funnel on the same (finalized) events
      val batch = Seq(
        (7L, "click", ts(20)), (7L, "purchase", ts(30)), (7L, "signup", ts(10)),
        (9L, "signup", ts(40)), (9L, "click", ts(40))
      ).toDF("user_id", "event_type", "ts")
      val batchReach = graft.ops.EventAnalytics
        .funnelSteps(batch, "user_id", "event_type", "ts", steps)
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      val streamReach = (1 to 3).map(i =>
        i -> hits.count(h => h._1 != 1L && h._2 == i).toLong).toMap
      assert(streamReach == batchReach,
        s"stream $streamReach != batch $batchReach")
    } finally q.stop()
  }

  test("streamingFunnel: completed users keep a tombstone — re-entry never re-emits") {
    implicit val sc = spark.sqlContext
    val steps = Seq("signup", "purchase")
    val mem = MemoryStream[Event]
    val q = EventStreams.streamingFunnel(mem.toDS(), steps,
        watermark = "10 seconds")
      .writeStream.format("memory").queryName("funnel_tomb")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 5 completes the 2-step funnel; a pre-epoch event (outside
      // the funnel's declared ts domain) rides along and must be ignored
      mem.addData(Event(1, 5, "signup", 0, ts(10)), Event(2, 5, "purchase", 0, ts(20)),
        Event(3, 6, "signup", 0, new Timestamp(-86400_000L)))
      mem.addData(Event(4, 1, "signup", 0, ts(500))) // watermark push
      q.processAllAvailable()
      mem.addData(Event(5, 1, "signup", 0, ts(510))) // flush timeouts
      q.processAllAvailable()
      // user 5 starts "again": the batch fold rejects every event after
      // completion, so the stream must NOT restart the funnel — with
      // evicted (instead of tombstoned) state these would re-emit step
      // hits and downstream groupBy(step).count() would over-count
      mem.addData(Event(6, 5, "signup", 0, ts(600)), Event(7, 5, "purchase", 0, ts(610)))
      mem.addData(Event(8, 1, "signup", 0, ts(1200))) // watermark past them
      q.processAllAvailable()
      mem.addData(Event(9, 1, "signup", 0, ts(1210)))
      q.processAllAvailable()
      val hits = spark.table("funnel_tomb").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(hits.count(_._1 == 5L) == 2,
        s"user 5 must emit each step exactly once despite re-entry: $hits")
      assert(!hits.exists(_._1 == 6L),
        s"pre-epoch event is outside the funnel domain (batch drops it too): $hits")
      // the batch twin agrees on the identical event log
      val batch = Seq(
        (5L, "signup", ts(10)), (5L, "purchase", ts(20)),
        (6L, "signup", new Timestamp(-86400_000L)),
        (5L, "signup", ts(600)), (5L, "purchase", ts(610))
      ).toDF("user_id", "event_type", "ts")
      val batchReach = graft.ops.EventAnalytics
        .funnelSteps(batch, "user_id", "event_type", "ts", steps)
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      val streamReach = (1 to 2).map(i =>
        i -> hits.count(h => h._1 == 5L && h._2 == i).toLong).toMap
      assert(streamReach == batchReach, s"stream $streamReach != batch $batchReach")
    } finally q.stop()
  }

  test("streamingFunnel bot cap: bounded pending buffer, capped-batch equivalence") {
    implicit val sc = spark.sqlContext
    val steps = Seq("signup", "click", "purchase")
    val mem = MemoryStream[Event]
    val q = EventStreams.streamingFunnel(mem.toDS(), steps,
        maxEventsPerUser = Some(4), watermark = "10 seconds")
      .writeStream.format("memory").queryName("funnel_cap")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 3: cap BINDS — six signups precede its click/purchase, so
      // under cap=4 only the first four (all signups) fold → reach 1.
      // user 8: three events inside the cap → full funnel. The bot
      // events arrive across TWO micro-batches so the running `seen`
      // counter (not a per-batch count) is what enforces the cap.
      mem.addData((0 until 3).map(i => Event(100 + i, 3, "signup", 0, ts(10 + i))): _*)
      mem.addData((3 until 6).map(i => Event(100 + i, 3, "signup", 0, ts(10 + i))) ++
        Seq(Event(110, 3, "click", 0, ts(20)), Event(111, 3, "purchase", 0, ts(21)),
          Event(120, 8, "signup", 0, ts(10)), Event(121, 8, "click", 0, ts(12)),
          Event(122, 8, "purchase", 0, ts(14))): _*)
      mem.addData(Event(200, 1, "signup", 0, ts(500))) // watermark push
      q.processAllAvailable()
      mem.addData(Event(201, 1, "signup", 0, ts(510))) // flush timeouts
      q.processAllAvailable()
      val hits = spark.table("funnel_cap").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(hits.count(_._1 == 3L) == 1 && hits.exists(h => h == (3L, 1)),
        s"cap=4 must stop user 3 at step 1 (click/purchase past the cap): $hits")
      assert(hits.count(_._1 == 8L) == 3,
        s"user 8 is under the cap and must complete: $hits")

      // batch twin at the SAME cap agrees exactly
      val batch = ((0 until 6).map(i => (3L, "signup", ts(10 + i))) ++
        Seq((3L, "click", ts(20)), (3L, "purchase", ts(21)),
          (8L, "signup", ts(10)), (8L, "click", ts(12)), (8L, "purchase", ts(14))))
        .toDF("user_id", "event_type", "ts")
      val batchReach = graft.ops.EventAnalytics
        .funnelSteps(batch, "user_id", "event_type", "ts", steps,
          maxEventsPerUser = Some(4))
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      val streamReach = (1 to 3).map(i =>
        i -> hits.count(h => h._1 != 1L && h._2 == i).toLong).toMap
      assert(streamReach == batchReach, s"stream $streamReach != batch $batchReach")
    } finally q.stop()
  }

  test("streamingFunnel bot cap collapses the bot's state: same hits as uncapped, one state row per user") {
    implicit val sc = spark.sqlContext
    val steps = Seq("signup", "click", "purchase")
    // 50 users complete the funnel; a bot's 5,000 signups sit inside the
    // last watermark horizon (2 minutes), so its pending buffer is still
    // live when the run ends
    val normal = (1 to 50).flatMap { u =>
      Seq(Event(u * 10L, u, "signup", 0, ts(u)),
        Event(u * 10L + 1, u, "click", 0, ts(u + 3600)),
        Event(u * 10L + 2, u, "purchase", 0, ts(u + 7200)))
    }
    val bot = (0 until 5000).map(i => Event(1000000L + i, 777L, "signup", 0, ts(8000L + i % 60)))
    /** (step hits, state rows, state bytes) after the last micro-batch. */
    def run(name: String, cap: Option[Int]): (Set[(Long, Int)], Long, Long) = {
      val mem = MemoryStream[Event]
      val q = EventStreams.streamingFunnel(mem.toDS(), steps, maxEventsPerUser = cap)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData(normal ++ bot: _*)
        q.processAllAvailable()
        // a second batch runs under the watermark the first one set
        // (8059 s − 2 min): the users' events fold, the bot's stay pending
        mem.addData(Event(1, 1, "signup", 0, ts(8000)))
        q.processAllAvailable()
      } finally q.stop()
      val ops = q.recentProgress.filter(_.stateOperators.nonEmpty).last.stateOperators
      val hits = spark.table(name).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      (hits, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
    }
    val (exactHits, exactRows, exactBytes) = run("funnel_bot_exact", None)
    val (cappedHits, cappedRows, cappedBytes) = run("funnel_bot_capped", Some(8))
    assert(exactHits.size == 150, s"50 users × 3 steps: $exactHits")
    assert(cappedHits == exactHits, "the cap must not change the finalized hits here")
    assert(exactRows <= 51 && cappedRows <= 51,
      s"state is one row per user, not per event: $exactRows, $cappedRows")
    assert(cappedBytes * 5 < exactBytes,
      s"the capped pending buffer must collapse the bot's state: $cappedBytes vs $exactBytes bytes")
  }

  test("streamingUrlDedup across a restart: re-crawls hit the restored state, the hot key is one state row") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_url_ckpt").toString
    // idempotent sink keyed by batch id, as in the funnel restart case
    val kept = new scala.collection.concurrent.TrieMap[Long, Seq[Long]]()
    def start() = EventStreams.streamingUrlDedup(mem.toDF().toDF("doc_id", "url", "ts"),
        watermark = "10 minutes")
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        kept(id) = df.collect().map(_.getLong(0)).toSeq
        ()
      }
      .start()
    def parked(i: Long) = s"https://WWW.Parked.Example.NET/landing?sid=$i"
    def page(dir: String, i: Long) = s"http://host.example.org/$dir/$i"
    // tick 0: 200 copies of one parked canonical form + 200 distinct pages
    val tick0 = (0L until 400L).map(i =>
      (i, if (i % 2 == 0) parked(i) else page("p", i), ts(i % 60)))
    // tick 1: 200 more parked copies, 100 re-crawls of tick-0 pages and
    // 100 new pages
    val tick1 = (400L until 800L).map(i =>
      (i, if (i % 2 == 0) parked(i) else if (i % 4 == 1) page("p", i - 400) else page("q", i),
        ts(120 + i % 60)))

    val q1 = start()
    try { mem.addData(tick0: _*); q1.processAllAvailable() } finally q1.stop()
    val e0 = kept.values.map(_.size).sum
    assert(e0 == 201, s"tick 0 keeps the first parked copy and the 200 pages: $e0")

    // a new query on the checkpoint: the parked flood and the re-crawls
    // are dropped only if tick 0's keys round-tripped the state store
    val q2 = start()
    try { mem.addData(tick1: _*); q2.processAllAvailable() } finally q2.stop()
    val e1 = kept.values.map(_.size).sum - e0
    assert(e1 == 100, s"after the restart only the 100 new pages are kept: $e1")
    val batchKeep = EventStreams.streamingUrlDedup((tick0 ++ tick1).toDF("doc_id", "url", "ts")).count()
    assert(e0 + e1 == batchKeep, s"stream keeps ${e0 + e1}, batch $batchKeep")
    val stateRows = q2.recentProgress.filter(_.stateOperators.nonEmpty).last
      .stateOperators.map(_.numRowsTotal).sum
    assert(stateRows <= 301,
      s"one state row per distinct canonical form, the 400-copy hot key included: $stateRows")
  }

  test("streamingFunnel kill/restart: per-user state round-trips the checkpoint, emissions pin to batch truth") {
    implicit val sc = spark.sqlContext
    val steps = Seq("signup", "click", "purchase")
    val mem = MemoryStream[Event]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_funnel_ckpt").toString
    // idempotent sink: keyed by batchId, so a replayed batch after the
    // restart overwrites instead of double-counting (the discipline a
    // production exactly-once sink follows)
    val emitted =
      new scala.collection.concurrent.TrieMap[Long, Seq[(Long, Int, String)]]()
    def start() = EventStreams.streamingFunnel(mem.toDS(), steps,
        watermark = "30 seconds")
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[EventStreams.FunnelStepHit], id: Long) =>
          emitted(id) =
            df.collect().map(h => (h.user_id, h.step, h.event_type)).toSeq
          ()
      }
      .start()

    // phase 1: users 7 and 9 make PARTIAL progress, the watermark
    // flushes it, then the query is killed
    val q1 = start()
    try {
      mem.addData(Event(1, 7, "signup", 0, ts(10)), Event(2, 7, "click", 0, ts(20)),
        Event(3, 9, "signup", 0, ts(40)))
      mem.addData(Event(4, 1, "signup", 0, ts(100))) // watermark → 70s
      q1.processAllAvailable()
      mem.addData(Event(5, 1, "signup", 0, ts(110))) // flush timeouts
      q1.processAllAvailable()
    } finally q1.stop()
    val pre = emitted.values.flatten.toSet
    assert(pre.contains((7L, 2, "click")) && pre.contains((9L, 1, "signup")),
      s"partial progress must have emitted before the kill: $pre")

    // phase 2: a NEW query on the same checkpoint. User 7's step-2 and
    // user 9's step-1 progress live ONLY in the state store now — if
    // the round-trip loses them, the completions below can never emit
    // (a purchase with no prior signup+click folds to nothing).
    val q2 = start()
    try {
      mem.addData(Event(6, 7, "purchase", 0, ts(200)), Event(7, 9, "click", 0, ts(210)))
      mem.addData(Event(8, 1, "signup", 0, ts(500))) // watermark past 200/210
      q2.processAllAvailable()
      mem.addData(Event(9, 1, "signup", 0, ts(510))) // flush timeouts
      q2.processAllAvailable()
    } finally q2.stop()

    val hits = emitted.values.flatten.toSet.filter(_._1 != 1L)
    assert(hits == Set((7L, 1, "signup"), (7L, 2, "click"), (7L, 3, "purchase"),
      (9L, 1, "signup"), (9L, 2, "click")),
      s"restart must neither lose nor duplicate step hits: $hits")
    // batch truth over the identical (sentinel-free) log
    val batch = Seq(
      (7L, "signup", ts(10)), (7L, "click", ts(20)), (9L, "signup", ts(40)),
      (7L, "purchase", ts(200)), (9L, "click", ts(210)))
      .toDF("user_id", "event_type", "ts")
    val batchReach = graft.ops.EventAnalytics
      .funnelSteps(batch, "user_id", "event_type", "ts", steps)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    val streamReach = (1 to 3).map(i => i -> hits.count(_._2 == i).toLong).toMap
    assert(streamReach == batchReach,
      s"across the restart: stream $streamReach != batch $batchReach")
  }

  test("streamingDauSketches kill/restart: dedup + window state round-trip, finalized days equal the batch twin") {
    implicit val sc = spark.sqlContext
    val day = 86400L
    val mem = MemoryStream[Event]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_dau_ckpt").toString
    val emitted =
      new scala.collection.concurrent.TrieMap[Long, Seq[org.apache.spark.sql.Row]]()
    @volatile var outSchema: org.apache.spark.sql.types.StructType = null
    def start() = EventStreams.streamingDauSketches(mem.toDF(), "user_id", "ts",
        watermark = "2 minutes")
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        outSchema = df.schema
        emitted(id) = df.collect().toSeq
        ()
      }
      .start()

    // phase 1: day 0 complete, day 1 PARTIAL (u1 + the sentinel user);
    // the sentinel lands at day+125 so the watermark (day+5) finalizes
    // day 0 while keeping day 1's dedup + aggregate state live
    val q1 = start()
    try {
      mem.addData(
        Event(1, 1, "click", 0, ts(10)), Event(2, 2, "view", 0, ts(20)),
        Event(3, 1, "click", 0, ts(day + 10)))
      mem.addData(Event(4, 999, "click", 0, ts(day + 125)))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(emitted.values.flatten.size == 1,
      s"day 0 must have finalized before the kill: ${emitted.values.flatten}")

    // phase 2: a new query on the checkpoint. u1's duplicate day-1
    // event must hit the RESTORED dedup state (lost state → dau=4),
    // and day 1's partial count must still hold u1+999 (lost state →
    // dau=2). Day 2 rides along; the far sentinel finalizes both.
    val q2 = start()
    try {
      mem.addData(
        Event(5, 1, "view", 0, ts(day + 200)), // duplicate (u1, day 1)
        Event(6, 3, "view", 0, ts(day + 300)),
        Event(7, 2, "click", 0, ts(2 * day + 10)), Event(8, 3, "view", 0, ts(2 * day + 20)))
      mem.addData(Event(9, 999, "click", 0, ts(30 * day)))
      q2.processAllAvailable()
    } finally q2.stop()

    val rows = emitted.values.flatten.toSeq
    val finalized = spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), outSchema)
    val dau = rows.map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(dau == Map("1970-01-01" -> 2L, "1970-01-02" -> 3L, "1970-01-03" -> 2L),
      s"dedup/aggregate state must survive the restart exactly: $dau")
    // the finalized sketch table still feeds the read-time MAU union,
    // bit-identical to the batch twin over the same (sentinel-free) log
    val got = EventStreams.dauMauFromDailySketches(finalized, window = 2)
      .collect().map(r => (r.getDate(0).toString, r.getLong(2))).toSeq.sorted
    val batchEvents = Seq(
      (1L, ts(10)), (2L, ts(20)), (1L, ts(day + 10)), (999L, ts(day + 125)),
      (1L, ts(day + 200)), (3L, ts(day + 300)),
      (2L, ts(2 * day + 10)), (3L, ts(2 * day + 20)))
      .toDF("user_id", "ts")
    val want = graft.ops.EventAnalytics
      .dauMauApprox(batchEvents, "user_id", "ts", window = 2)
      .collect().map(r => (r.getDate(0).toString, r.getLong(2))).toSeq.sorted
    assert(got == want, s"across the restart: stream MAU $got != batch $want")
  }
}
