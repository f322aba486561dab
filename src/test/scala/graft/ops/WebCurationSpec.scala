package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{TextAnalytics => TA}

class WebCurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withRaw(rows: Seq[(Long, String)]) =
    WebCuration.withWebRaw(rows.toDF("doc_id", "text"), "doc_id", "text")

  test("webRawText folds tokens into 7-word lines with deterministic decoration") {
    // doc 0: %7=0 -> bullets, %11=0 -> ' ###'; punct cycle starts at '...'
    // doc 1: no bullets/junk; punct cycle starts at '.' ((1+0)%5=1)
    val raw = withRaw(Seq(
        (0L, (1 to 15).map(i => s"w$i").mkString(" ")),
        (1L, (1 to 8).map(i => s"v$i").mkString(" "))))
      .select("doc_id", "raw").as[(Long, String)].collect().toMap
    val d0 = raw(0L).split("\n")
    assert(d0.length == 3) // ceil(15/7)
    assert(d0(0) == "- w1 w2 w3 w4 w5 w6 w7... ###")
    assert(d0(1) == "- w8 w9 w10 w11 w12 w13 w14. ###")
    assert(d0(2) == "- w15. ###") // (0+2)%5=2 -> '.'
    val d1 = raw(1L).split("\n")
    assert(d1.toSeq == Seq("v1 v2 v3 v4 v5 v6 v7.", "v8.")) // %5=1,2 -> '.'
  }

  test("gopherRules computes the published metrics and conjunctive keep") {
    // fixture params as the oracle queries pass them: the synthetic
    // vocabulary's stopwords and its '#'-only symbol class (production
    // defaults are the paper's — covered by the real-text case below)
    def fixtureRules(df: org.apache.spark.sql.DataFrame) =
      WebCuration.gopherRules(df, "doc_id", "raw",
        stopwords = WebCuration.syntheticStopwords, symbols = Seq("#"))
    // 60 words incl. stopwords 'the'/'a' -> passes word count, mean len,
    // alpha, stopwords; doc_id=2 -> no bullets, no junk
    val good = (Seq("the", "a") ++ (1 to 58).map(i => s"tok$i")).mkString(" ")
    val out = fixtureRules(withRaw(Seq((2L, good)))).collect().head
    assert(out.getAs[Long]("n_words") == 60L)
    assert(out.getAs[Double]("alpha_frac") == 1.0)
    assert(out.getAs[Double]("symbol_frac") == 0.0)
    assert(out.getAs[Long]("n_stop") == 2L)
    assert(out.getAs[Boolean]("keep"))

    // doc_id=0: every line bulleted (bullet_frac 1.0 >= 0.9) and ' ###'
    // junk ('#' tokens kill alpha_frac, symbol_frac) -> rejected
    val bad = fixtureRules(withRaw(Seq((0L, good)))).collect().head
    assert(bad.getAs[Double]("bullet_frac") == 1.0)
    assert(bad.getAs[Double]("symbol_frac") > 0.1)
    assert(!bad.getAs[Boolean]("keep"))

    // too short (10 words) -> word-count rule rejects even a clean doc
    val short = fixtureRules(
      withRaw(Seq((2L, (Seq("the", "a") ++ (1 to 8).map(i => s"t$i")).mkString(" ")))))
      .collect().head
    assert(!short.getAs[Boolean]("keep"))
  }

  test("gopherRules production defaults handle real text: mixed case, paper stopwords, …/... symbols") {
    // natural-language prose with capitalized words, unicode + ascii
    // ellipses and a bullet — fed through the PAPER defaults (full
    // Table A1 stopword list, [A-Za-z] alpha class, #/…/... symbols)
    val prose = ((1 to 12).map(_ => "The NASA crew have to be ready with that launch.") ++
      Seq("- a bullet line … with trailing dots ...")).mkString("\n")
    val out = WebCuration.gopherRules(
      Seq((5L, prose)).toDF("doc_id", "raw"), "doc_id", "raw").collect().head
    // all-caps words ('NASA') count as alphabetic under [A-Za-z]; a
    // lowercase-only class would score the 12 NASA tokens non-alphabetic
    // (114/129 instead of 126/129), deviating from the paper's "contains
    // at least one alphabetic character"
    assert(out.getAs[Double]("alpha_frac") == 126.0 / 129.0)
    // paper stopwords present (case-sensitive match): to, be, have,
    // with, that — 'The' is capitalized, so exactly 5
    assert(out.getAs[Long]("n_stop") == 5L)
    // one '…' and one '...' -> 2 symbol occurrences over 129 words
    assert(out.getAs[Double]("symbol_frac") == 2.0 / 129.0)
    assert(out.getAs[Double]("bullet_frac") == 1.0 / 13.0)
    assert(out.getAs[Boolean]("keep"))
  }

  test("webRawText and tokenLines yield zero lines on an empty token array") {
    // sequence(0, -1) in Spark defaults to step -1 => [0, -1]; the guard
    // must turn an empty token array into zero lines, not two garbage ones
    val df = Seq((1L, Seq.empty[String]), (2L, Seq("a", "b")))
      .toDF("doc_id", "toks")
      .select(col("doc_id"),
        WebCuration.webRawText(col("doc_id"), col("toks"), 7).as("raw"),
        WebCuration.tokenLines(col("toks"), 3).as("lines"))
      .orderBy("doc_id").collect()
    assert(df(0).getAs[String]("raw") == "")
    assert(df(0).getSeq[String](2).isEmpty)
    assert(df(1).getSeq[String](2).toSeq == Seq("a b"))
  }

  test("c4Clean keeps terminal-punct lines with >=3 words and gates docs at 3 lines") {
    // doc 1 (no bullets/junk): punct cycle (1+i)%5 = 1,2,3,4,0 ->
    // '.', '.', '.', none, '...' — 35 words -> 5 lines, kept = 4 -> keep
    val out = WebCuration.c4Clean(
      withRaw(Seq((1L, (1 to 35).map(i => s"w$i").mkString(" ")))), "doc_id", "raw")
      .collect().head
    assert(out.getAs[Long]("n_lines") == 5L)
    assert(out.getAs[Long]("n_kept") == 4L)
    assert(out.getAs[Boolean]("keep"))
    assert(out.getAs[Double]("kept_word_frac") == 28.0 / 35.0)
    assert(out.getAs[String]("cleaned").split("\n").forall(_.endsWith(".")))

    // doc 0: ' ###' suffix strips terminal punct from every line -> 0 kept
    val junk = WebCuration.c4Clean(
      withRaw(Seq((0L, (1 to 35).map(i => s"w$i").mkString(" ")))), "doc_id", "raw")
      .collect().head
    assert(junk.getAs[Long]("n_kept") == 0L && !junk.getAs[Boolean]("keep"))
    assert(junk.getAs[String]("cleaned") == "")
  }

  test("canonicalizeUrls strips scheme/www/query/fragment/trailing slash and dedups") {
    val urls = Seq(
      (1L, "https://WWW.News.Example.COM/a/b?utm=x#frag"),
      (2L, "http://news.example.com/a/b/"),
      (3L, "https://news.example.com/a/b"),
      (4L, "https://other.example.com/a/b")).toDF("doc_id", "url")
    val out = WebCuration.canonicalizeUrls(urls, "doc_id", "url")
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("canon_url")).take(3)
      .forall(_ == "news.example.com/a/b"))
    assert(out.map(_.getAs[String]("host")).toSeq ==
      Seq("news.example.com", "news.example.com", "news.example.com",
        "other.example.com"))
    assert(out.map(_.getAs[Long]("url_dups")).toSeq == Seq(3L, 3L, 3L, 1L))
    // first doc_id wins within the canonical group
    assert(out.map(_.getAs[Boolean]("keep")).toSeq == Seq(true, false, false, true))
  }

  test("canonical URLs carry no scheme/query/fragment/case/trailing-slash noise") {
    // adversarial variants of one logical URL, incl. an UPPERCASE scheme
    val urls = Seq(
      (1L, "HTTPS://WWW.Site.Example.ORG/Path/X?a=1&b=2#sec"),
      (2L, "http://site.example.org/Path/X/"),
      (3L, "site.example.org/Path/X"), // scheme-less passthrough
      (4L, "https://www.site.example.org/Path/X?z"))
      .toDF("doc_id", "url")
    val out = WebCuration.canonicalizeUrls(urls, "doc_id", "url")
      .orderBy("doc_id").collect()
    // every variant collapses to ONE canonical form
    assert(out.map(_.getAs[String]("canon_url")).distinct.toSeq ==
      Seq("site.example.org/path/x"))
    assert(out.map(_.getAs[Long]("url_dups")).forall(_ == 4L))
    assert(out.map(_.getAs[Boolean]("keep")).toSeq ==
      Seq(true, false, false, false))
    // output invariants: lowercase, no scheme/query/fragment/trailing '/'
    val c = out.head.getAs[String]("canon_url")
    assert(c == c.toLowerCase && !c.contains("://") && !c.contains("?") &&
      !c.contains("#") && !c.endsWith("/"))
  }

  test("canonicalizeUrlsAgg is row-identical to the window form (incl. on a hot key)") {
    // the production agg+join-back twin must match the window reference
    // exactly — including a deliberately mega-duplicated canonical form
    // (every odd doc collapses to one URL, the skew shape the agg form
    // exists for)
    val urls = (1L to 400L).map { i =>
      if (i % 2 == 1) (i, "https://WWW.Parked.Example.NET/?sid=" + i)
      else (i, s"http://site-${i % 7}.example.org/p/${i % 13}")
    }.toDF("doc_id", "url")
    val win = WebCuration.canonicalizeUrls(urls, "doc_id", "url")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val agg = WebCuration.canonicalizeUrlsAgg(urls, "doc_id", "url")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(agg == win)
    // and the hot key really is hot: 200 copies, one keeper
    val hot = WebCuration.canonicalizeUrlsAgg(urls, "doc_id", "url")
      .filter(col("canon_url") === "parked.example.net").collect()
    assert(hot.length == 200 && hot.forall(_.getAs[Long]("url_dups") == 200L))
    assert(hot.count(_.getAs[Boolean]("keep")) == 1 &&
      hot.find(_.getAs[Boolean]("keep")).get.getAs[Long]("doc_id") == 1L)
  }

  test("canonicalizeUrlsAgg never gives one task the whole hot key; the window form must") {
    val hot = 4000L
    val urls = spark.range(hot + 500L)
      .select(col("id").as("doc_id"),
        when(col("id") < hot,
            concat(lit("https://WWW.Parked.Example.NET/?sid="), col("id").cast("string")))
          .otherwise(concat(lit("http://host-"), (col("id") % 97).cast("string"),
            lit(".example.org/p/"), col("id").cast("string"))).as("url"))
      .repartition(4)
    /** Most shuffle records one task read while every column of `df` is
      * written to the noop sink (a count could prune the window away). */
    def maxTaskRead(df: org.apache.spark.sql.DataFrame): Long =
      TestSpark.taskMetricDuring(_.shuffleReadMetrics.recordsRead, math.max) {
        df.write.format("noop").mode("overwrite").save()
      }._2
    // many small shuffle partitions, none coalesced: at this size AQE
    // would otherwise fold every partition into one task for both forms
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val win = maxTaskRead(WebCuration.canonicalizeUrls(urls, "doc_id", "url"))
      val agg = maxTaskRead(WebCuration.canonicalizeUrlsAgg(urls, "doc_id", "url"))
      assert(win >= hot, s"a window partition is indivisible: one task reads every copy ($win)")
      assert(agg <= hot / 2, s"the agg form must spread the hot key: one task read $agg")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("lineDedupAgainst cleans a NEW batch against an existing dup-line table") {
    // d13's incremental pattern: the corpus's duplicated-line table is
    // already built; an ingest batch is cleaned against it without
    // re-counting the corpus (batch-internal duplication does NOT add
    // lines — the table is the corpus's truth)
    def withLines(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("__tk", TA.tokens(col("text")))
      .withColumn("lines", WebCuration.tokenLines(col("__tk"), 3))
    val corpus = withLines(Seq(
      (1L, "a b c d e f"), (2L, "a b c g h i"), (3L, "x y z q r s")))
    val table = WebCuration.dupLineTable(corpus, "doc_id", "lines", minDocs = 2L)
    assert(table.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a b c", 2L)))
    // batch doc 10 contains the corpus boilerplate "a b c" (cut) and a
    // batch-only repeat "n n n" shared with doc 11 (NOT cut — the
    // corpus table doesn't know it; a maintenance rebuild would)
    val batch = withLines(Seq(
      (10L, "a b c n n n u v w"), (11L, "n n n p q r")))
    val out = WebCuration.lineDedupAgainst(batch, "doc_id", "lines", table)
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("cleaned")).toSeq ==
      Seq("n n n u v w", "n n n p q r"))
    assert(out.map(_.getAs[Long]("n_dup_lines")).toSeq == Seq(1L, 0L))
  }

  test("lineDedup cuts lines shared by minDocs distinct docs, keeps order") {
    // "a b c" appears in docs 1,2 (cut); "x y z" twice WITHIN doc 3 only
    // (distinct-doc count 1 -> kept); unique lines survive in position order
    val docs = Seq(
      (1L, "a b c d e f"),    // lines: "a b c", "d e f"
      (2L, "a b c g h i"),    // lines: "a b c", "g h i"
      (3L, "x y z x y z"))    // lines: "x y z", "x y z"
      .toDF("doc_id", "text")
      .withColumn("__tk", TA.tokens(col("text")))
      .withColumn("lines", WebCuration.tokenLines(col("__tk"), 3))
    val out = WebCuration.lineDedup(docs, "doc_id", "lines", minDocs = 2L)
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("n_dup_lines")).toSeq == Seq(1L, 1L, 0L))
    assert(out.map(_.getAs[String]("cleaned")).toSeq ==
      Seq("d e f", "g h i", "x y z x y z"))
    assert(out.map(_.getAs[Double]("dup_frac")).toSeq == Seq(0.5, 0.5, 0.0))
  }

  test("gopher and c4 rules run unchanged under Structured Streaming") {
    // both stages are stateless projections, so continuous-ingest
    // curation needs no rewrite: the streaming micro-batch output must
    // equal the batch result row-for-row (append mode, no state store)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val rows = (0L to 12L).map(i => (i, (1 to (20 + i.toInt * 5)).map(j => s"w$j").mkString(" ")))
    val mem = MemoryStream[(Long, String)]
    val streamed = WebCuration.c4Clean(
      WebCuration.withWebRaw(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text"), "doc_id", "raw")
    val q = streamed.writeStream.format("memory").queryName("web_stream").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("web_stream").collect().map(_.toString).sorted.toSeq
      val want = WebCuration.c4Clean(
        withRaw(rows), "doc_id", "raw").collect().map(_.toString).sorted.toSeq
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("gopher and c4 stages are shuffle-free projections") {
    val docs = withRaw(Seq((1L, (1 to 35).map(i => s"w$i").mkString(" "))))
    for (df <- Seq(WebCuration.gopherRules(docs, "doc_id", "raw"),
        WebCuration.c4Clean(docs, "doc_id", "raw"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    }
  }
}
