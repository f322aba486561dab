package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rule-based web-corpus curation — the published filtering stages every
  * large-scale pretraining pipeline runs BEFORE the statistical stages
  * this repo already covers (quality scoring e2, repetition e14, dedup
  * d-family): Gopher document-quality rules (Rae et al. 2021,
  * arXiv:2112.11446 Table A1), C4 line-level cleaning (Raffel et al.
  * 2020, arXiv:1910.10683 §2.2), and URL canonicalization + URL-level
  * dedup (the CCNet / RefinedWeb first stage). Builder-prompt extension
  * surface; the reference has no text pipeline (SURVEY.md §2.8).
  *
  * Scale: [[gopherRules]] and [[c4Clean]] are pure per-row projections —
  * whitespace splits, higher-order-function folds and filters over array
  * columns, all inside whole-stage codegen, ZERO shuffles (the oracle
  * queries add one global ORDER BY for determinism; a production run
  * writes the keep flags straight back to the store). At 100 TB this is
  * the ideal operator shape: embarrassingly parallel over input splits,
  * cost O(chars) per document. URL dedup ships in two forms:
  * [[canonicalizeUrls]] (window over the canonical URL — one shuffle,
  * but a window partition is INDIVISIBLE, so a mega-duplicated canonical
  * form — parked domains, empty pages, routine in CommonCrawl — lands
  * every copy in one task's sort; AQE skew handling splits shuffled JOIN
  * partitions, never window partitions) and [[canonicalizeUrlsAgg]], the
  * production form at scale: groupBy(canon_url) partial-aggregates
  * map-side — the hot key collapses to one row per input partition
  * BEFORE the shuffle — and the join-back that fans the keep flag out to
  * rows is SALTED so the hot key spreads over saltFactor tasks
  * guaranteed (AQE's skew rule cannot split this particular join — see
  * [[canonicalizeUrlsAgg]]'s scaladoc for the measured pattern finding).
  * Identical output (e42 vs e42b oracle-checked); SCALE.md (round 20,
  * "e42b_url_dedup_agg") A/Bs the two on a mega-duplicated key, wall
  * time AND max task shuffle-read.
  *
  * Oracle determinism: every fold is a left fold in index order, all
  * counts are exact integers, doubles are produced by a single division
  * of exact integers — DuckDB reproduces each value bit-for-bit (see
  * [[graft.functions.TextAnalytics]] determinism notes).
  */
object WebCuration {

  /** Optimizer fence ([[graft.spark.Fence]]): keeps a staged expensive
    * column a compute-once attribute — CollapseProject can't re-inline
    * it per consumer and a downstream Filter can't substitute it into
    * every predicate conjunct (the c3 bisect, SCALE.md round-19). */
  private[graft] def fence(c: Column): Column = call_function("graft_fence", c)

  /** Deterministic web-structure fixture: folds a flat token stream into
    * `wordsPerLine`-token lines and decorates them with the artifacts the
    * web rules test for — bullet prefixes (`- ` on every line when
    * `id % 7 == 0`), terminal punctuation by line position
    * (`(id + i) % 5`: 0 → `...`, 4 → none, else `.`) and symbol junk
    * (` ###` appended when `id % 11 == 0`). The synthetic corpus has no
    * line structure or punctuation, so — same pattern as e5's synthesized
    * PII — the fixture is what makes the published rules fire
    * differentially. Pure codegen'd array ops, no shuffle. */
  /** [[webRawText]] with the token array staged as its own projection
    * first: a lambda body re-evaluates any non-attribute expression it
    * captures PER ELEMENT, so passing `split(text)` straight into
    * [[webRawText]] costs O(lines) splits per document — binding it to a
    * column attribute makes the capture free (measured 6× on the e40/e41
    * bench rows; see SCALE.md round-19). */
  def withWebRaw(docs: DataFrame, idCol: String, textCol: String,
      rawCol: String = "raw", wordsPerLine: Int = 7): DataFrame = {
    import graft.functions.{TextAnalytics => TA}
    docs.withColumn("__graft_tk", TA.tokens(col(textCol)))
      .withColumn(rawCol,
        fence(webRawText(col(idCol), col("__graft_tk"), wordsPerLine)))
      .drop("__graft_tk")
  }

  def webRawText(id: Column, tokens: Column, wordsPerLine: Int = 7): Column = {
    val nt = size(tokens).cast("long")
    val w = lit(wordsPerLine.toLong)
    val nLines = floor((nt + w - lit(1L)).cast("double") / w.cast("double")).cast("long")
    // nLines == 0 guard: sequence(0, -1) defaults to step -1 and yields
    // [0, -1] — two garbage lines — instead of an empty array. Unreachable
    // via TA.tokens (split never returns empty) but reachable with a
    // user-supplied array column through the public API.
    val lines = when(nLines > 0,
      transform(sequence(lit(0L), nLines - lit(1L)), i => {
        val base =
          array_join(slice(tokens, (i * w + lit(1L)).cast("int"), lit(wordsPerLine)), " ")
        val bulleted = when(id % 7 === 0, concat(lit("- "), base)).otherwise(base)
        val punct = when((id + i) % 5 === 0, lit("..."))
          .when((id + i) % 5 === 4, lit(""))
          .otherwise(lit("."))
        val p = concat(bulleted, punct)
        when(id % 11 === 0, concat(p, lit(" ###"))).otherwise(p)
      })).otherwise(array().cast("array<string>"))
    array_join(lines, "\n")
  }

  /** Gopher document-quality rules (arXiv:2112.11446 Table A1) over a
    * raw text column with line structure. Emits every metric plus the
    * conjunctive `keep` flag at the paper's published thresholds:
    * word count in [minWords, maxWords], mean word length in
    * [minMeanLen, maxMeanLen], symbol-to-word ratio below maxSymbolFrac
    * (`symbols` defaults to the paper's hash + ellipsis class, `…` and
    * `...` included), bullet-line fraction below maxBulletFrac,
    * ellipsis-line fraction below maxEllipsisFrac, fraction of words
    * with an alphabetic character (`[A-Za-z]`, per the paper's "at
    * least one alphabetic character") above minAlphaFrac, and at least
    * minStopwords distinct stop words present (`stopwords` defaults to
    * the paper's Table A1 list, [[gopherStopwords]]). The registered
    * oracle queries (e40/c3) pass [[syntheticStopwords]] and
    * `symbols = Seq("#")` explicitly — the synthetic corpus's
    * vocabulary — so the production defaults here stay the paper's. */
  def gopherRules(docs: DataFrame, idCol: String, rawCol: String,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolFrac: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopwords: Long = 2L,
      stopwords: Seq[String] = gopherStopwords,
      symbols: Seq[String] = Seq("#", "…", "..."),
      passthrough: Seq[String] = Nil): DataFrame = {
    // stage the two splits as attributes: every metric below references
    // them, and a column attribute is computed once per row, where the
    // inlined expression would be re-evaluated per metric (and HOFs are
    // interpreted, not codegen'd — the duplication is the dominant cost)
    val staged = docs.select(
      (Seq(col(idCol), col(rawCol)) ++ passthrough.filterNot(_ == rawCol).map(col) ++
        Seq(fence(split(trim(col(rawCol)), "\\s+")).as("__ws"),
          fence(split(col(rawCol), "\n")).as("__ls"))): _*)
    val raw = col(rawCol)
    val words = col("__ws")
    val nw = size(words).cast("long")
    val nwD = nw.cast("double")
    val sumLen = aggregate(words, lit(0L), (a, x) => a + length(x).cast("long"))
    val meanLen = sumLen.cast("double") / nwD
    val alphaFrac = size(filter(words, x => x.rlike("[A-Za-z]"))).cast("double") / nwD
    // occurrences of each symbol token (length delta / symbol length,
    // exact integer), summed across the class
    val symbolCount = symbols.map { sym =>
      ((length(raw) - length(replace(raw, lit(sym), lit(""))))
        / lit(sym.length)).cast("long")
    }.reduce(_ + _)
    val symbolFrac = symbolCount.cast("double") / nwD
    val lines = col("__ls")
    val nlD = size(lines).cast("double")
    val bulletFrac = size(filter(lines, l => l.startsWith("- "))).cast("double") / nlD
    val ellipsisFrac = size(filter(lines, l => l.endsWith("..."))).cast("double") / nlD
    val stopList = array(stopwords.map(lit): _*)
    val nStop =
      size(array_distinct(filter(words, x => array_contains(stopList, x)))).cast("long")
    staged.select(
        (Seq(col(idCol)) ++ passthrough.map(col) ++ Seq(
          nw.as("n_words"), meanLen.as("mean_word_len"), alphaFrac.as("alpha_frac"),
          symbolFrac.as("symbol_frac"), bulletFrac.as("bullet_frac"),
          ellipsisFrac.as("ellipsis_frac"), nStop.as("n_stop"))): _*)
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(minMeanLen, maxMeanLen) &&
        col("symbol_frac") < maxSymbolFrac &&
        col("bullet_frac") < maxBulletFrac &&
        col("ellipsis_frac") < maxEllipsisFrac &&
        col("alpha_frac") > minAlphaFrac &&
        col("n_stop") >= minStopwords)
  }

  /** The Gopher "stop word presence" list, verbatim from arXiv:2112.11446
    * Table A1 — the production default. Deterministic, tiny, broadcast by
    * value. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The stop-word list the registered oracle queries (e40/c3) pass
    * explicitly: the function words the SYNTHETIC corpus's vocabulary
    * actually contains, so the stop-word rule fires differentially on
    * the fixture. Production callers get [[gopherStopwords]] by
    * default. */
  val syntheticStopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in")

  /** C4 line-level cleaning (arXiv:1910.10683 §2.2): keep lines with at
    * least `minLineWords` words that end in terminal punctuation
    * (`.` `!` `?`) and contain no `{`; keep documents that retain at
    * least `minKeptLines` lines. Emits per-doc line counts, the retained
    * word fraction, the keep flag, and the cleaned text (kept lines
    * re-joined). All array-column ops — no shuffle. */
  def c4Clean(docs: DataFrame, idCol: String, rawCol: String,
      minLineWords: Long = 3L, minKeptLines: Long = 3L): DataFrame = {
    // staged like gopherRules: split once, count each line's words once
    // (as a (line, nw) struct array), filter once — the metric columns
    // then fold over attributes instead of re-running splits per metric
    val s1 = docs.select(col(idCol),
      fence(transform(split(col(rawCol), "\n"), l => struct(l.as("l"),
        size(split(trim(l), "\\s+")).cast("long").as("nw")))).as("__li"))
    val s2 = s1.select(col(idCol), col("__li"),
      fence(filter(col("__li"), s =>
        s.getField("nw") >= minLineWords &&
        (s.getField("l").endsWith(".") || s.getField("l").endsWith("!") ||
          s.getField("l").endsWith("?")) &&
        !s.getField("l").contains("{"))).as("__kept"))
    val totalWords =
      aggregate(col("__li"), lit(0L), (a, s) => a + s.getField("nw"))
    val keptWords =
      aggregate(col("__kept"), lit(0L), (a, s) => a + s.getField("nw"))
    s2.select(col(idCol),
      size(col("__li")).cast("long").as("n_lines"),
      size(col("__kept")).cast("long").as("n_kept"),
      (keptWords.cast("double") / totalWords.cast("double")).as("kept_word_frac"),
      (size(col("__kept")).cast("long") >= minKeptLines).as("keep"),
      array_join(transform(col("__kept"), s => s.getField("l")), "\n")
        .as("cleaned"))
  }

  /** Tokens folded into `wordsPerLine`-token line strings (no
    * decoration) — the sentence-ish units corpus-level line dedup runs
    * on when the source has no real line structure. Staged-attribute
    * rule applies: pass a COLUMN, not a computed split. */
  def tokenLines(tokens: Column, wordsPerLine: Int): Column = {
    val w = lit(wordsPerLine.toLong)
    val nLines = floor((size(tokens).cast("long") + w - lit(1L)).cast("double")
      / w.cast("double")).cast("long")
    // same sequence(0,-1) guard as webRawText: an empty token array must
    // yield zero lines, not the [0,-1] two-element default-step artifact
    when(nLines > 0,
      transform(sequence(lit(0L), nLines - lit(1L)), i =>
        array_join(slice(tokens, (i * w + lit(1L)).cast("int"), lit(wordsPerLine)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Corpus-level duplicated-line removal (RefinedWeb, Penedo et al.
    * 2023 arXiv:2306.01116 §3.3 / CCNet): a line that appears in at
    * least `minDocs` DISTINCT documents is boilerplate (headers,
    * navigation, license blurbs) and is cut from every document; the
    * survivors are re-joined in original order. Emits per-doc line
    * counts, the duplicated fraction and the cleaned text.
    *
    * Scale: three shuffles, each the honest minimum for the semantics —
    * (1) count distinct docs per line (partial-aggregated, hot
    * boilerplate lines combine map-side), (2) the line→flag join back
    * onto the exploded rows (hash on the line key, ~uniform), (3) the
    * per-doc regroup (sort_array over the collected (pos, line) structs
    * restores order without a global sort). At 100 TB the duplicated-
    * line table is also the natural durable artifact — build
    * [[dupLineTable]] once per corpus version (the e43b query persists
    * it via [[graft.store.Artifacts.table]]), then serve every consumer
    * — and every INCREMENTAL ingest batch, d13's pattern — through
    * [[lineDedupAgainst]], which joins the committed table instead of
    * re-counting the corpus. */
  def lineDedup(docs: DataFrame, idCol: String, linesCol: String,
      minDocs: Long = 2L): DataFrame =
    lineDedupAgainst(docs, idCol, linesCol,
      dupLineTable(docs, idCol, linesCol, minDocs))

  /** The corpus-level duplicated-line table: one row per line that
    * appears in at least `minDocs` DISTINCT documents, with its
    * distinct-doc count. THE durable artifact of the line-dedup stage —
    * corpus-global (a line's count aggregates over every doc, so it
    * re-keys per corpus version rather than appending deltas). One
    * map-combined shuffle; the hot boilerplate line distributes because
    * the pre-aggregation key is (line, doc). */
  def dupLineTable(docs: DataFrame, idCol: String, linesCol: String,
      minDocs: Long = 2L): DataFrame =
    docs.select(col(idCol), explode(col(linesCol)).as("line"))
      .groupBy("line")
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** [[lineDedup]] against an EXISTING duplicated-line table (any frame
    * with a `line` column — typically the committed [[dupLineTable]]
    * artifact): cut every line present in the table, re-join survivors
    * in original order. This is both the artifact-serving path (e43b)
    * and the incremental form — a new ingest batch cleans against the
    * corpus's known boilerplate without touching corpus data.
    *
    * PRECONDITION: `idCol` must be UNIQUE in `docs` (r21, ADVICE note).
    * The r20 rewrite re-attaches the per-doc aggregate to the source
    * rows by id; with duplicate ids it would emit one row per input row
    * with counts/positions merged ACROSS all rows of that id, where the
    * grouped form emitted one row per id. Every registered caller keys
    * by a primary-key doc id; callers on arbitrary frames must
    * deduplicate ids first. */
  def lineDedupAgainst(docs: DataFrame, idCol: String, linesCol: String,
      dupLines: DataFrame): DataFrame = {
    // r20 rewrite (optimization guide §2.3 / §8 — shuffle keys and
    // metadata instead of payloads): the previous form regrouped the
    // exploded (pos, line) STRUCTS per doc, so every surviving line's
    // TEXT crossed the doc-keyed regroup exchange and was collected +
    // sorted in an ObjectHashAggregate. Only per-doc COUNTS and the
    // duplicated POSITIONS are needed to rebuild the cleaned text from
    // the doc's own array: flag the exploded rows against the dup-line
    // table, regroup (count, count-if-dup, dup positions) — two ints
    // and a bool per line instead of the line text — and re-attach to
    // the source rows by doc id; the cleaned text is a positional
    // array filter over the original `linesCol`. Line text now crosses
    // only the line-key lookup join (the semantic minimum). The
    // doc-keyed aggregate is one short row per doc (when it cannot
    // broadcast, the id join-back shuffles the docs once, which the
    // old form paid anyway as the full-text regroup). Measured at
    // sf0.1 (local[32], with the callers' fenced lines staging and
    // loadSpread): e43 5.74 → 1.25 s, e43b 3.07 → 0.89 s (see
    // OPTIMIZATION_r20.md). Output is row- and bit-identical (same
    // counts, same " "-joined survivor order); docs with zero lines
    // still emit nothing (posexplode emitted no rows before; the
    // inner join on the per-doc aggregate keeps that contract).
    // The zero-line-doc drop (posexplode emitted no rows in the old
    // form) comes from the INNER join against the per-doc aggregate —
    // NOT from a `where(size(linesCol) > 0)` guard: a where() on a
    // derived array column gets constraint-propagated into every
    // branch of the plan as a pushed filter that re-evaluates the whole
    // line-derivation expression below the first exchange (measured:
    // three 1–2 s single-task scan stages on e43 at sf0.1).
    val exploded = docs
      .select(col(idCol), posexplode(col(linesCol)).as(Seq("pos", "line")))
    val perDoc = exploded
      .join(dupLines.select(col("line"), lit(true).as("__dup")), Seq("line"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("__dup"), 1)).as("n_dup_lines"),
        collect_list(when(col("__dup"), col("pos"))).as("__dup_pos"))
    val dp = col("__dup_pos")
    docs
      .join(perDoc, Seq(idCol))
      .select(col(idCol),
        col("n_lines"),
        col("n_dup_lines"),
        (col("n_dup_lines").cast("double") / col("n_lines").cast("double"))
          .as("dup_frac"),
        array_join(
          filter(col(linesCol), (l, i) => !array_contains(dp, i)),
          " ").as("cleaned"))
  }

  /** The canonical form of a URL column: strip the scheme, fragment and
    * query string, lowercase, strip a leading `www.` and a trailing `/`.
    * ASCII-class regexes only so Java and RE2 agree byte-for-byte.
    * Shared by both dedup forms and the streaming twin
    * ([[graft.streaming.EventStreams.streamingUrlDedup]]). */
  def canonUrl(url: Column): Column =
    regexp_replace(
      regexp_replace(
        lower(regexp_replace(regexp_replace(regexp_replace(
          url, "(?i)^https?://", ""), "#.*$", ""), "\\?.*$", "")),
        "^www\\.", ""),
      "/$", "")

  /** URL canonicalization + URL-level dedup, the first stage of every
    * CommonCrawl-derived pipeline (CCNet, RefinedWeb): [[canonUrl]],
    * then dedup on the canonical form (first doc id wins — `keep`) and
    * report the canonical-group size (`url_dups`) and host.
    *
    * WINDOW form — one shuffle, fine up to moderate skew, but a window
    * partition is indivisible: a mega-duplicated canonical URL (parked
    * domains, empty pages — routine in CommonCrawl) lands every copy in
    * ONE task's sort, and neither AQE skew-join handling (joins only)
    * nor partial aggregation (groupBy only) applies to a Window. At
    * 100 TB use [[canonicalizeUrlsAgg]]; this form stays registered as
    * the compact oracle reference (e42) and for skew-free inputs. */
  def canonicalizeUrls(docs: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val w = Window.partitionBy(col("canon_url"))
    docs.select(col(idCol), col(urlCol), canonUrl(col(urlCol)).as("canon_url"))
      .select(col(idCol), col(urlCol), col("canon_url"),
        regexp_extract(col("canon_url"), "^[^/]+", 0).as("host"),
        count(lit(1)).over(w).as("url_dups"),
        (row_number().over(w.orderBy(col(idCol))) === 1).as("keep"))
  }

  /** [[canonicalizeUrls]] in its production, skew-safe form — identical
    * output (e42b's oracle is e42's), different physics:
    * `groupBy(canon_url).agg(min(id), count)` partial-aggregates
    * map-side, so a mega-duplicated canonical URL collapses to ONE row
    * per input partition BEFORE the shuffle, and the join-back that
    * fans (keeper, url_dups) out to rows is SALTED
    * ([[SkewJoin.salted]], `saltFactor` tasks per key) so no task ever
    * sees the whole hot key. Measured finding (SCALE.md, round 20):
    * AQE's OptimizeSkewedJoin can NOT split this join-back on its own —
    * its pattern requires both SMJ children to be a Sort directly over
    * a shuffle stage, and the group table's final HashAggregate sits
    * between the Sort and its exchange, so the rule declines (verified
    * against a control join that does split in the same session).
    * Salting is the guaranteed spread — and unlike AQE it also works
    * inside streaming micro-batches. Two-plus shuffles against the
    * window form's one, so at bench scale the window form is FASTER —
    * the agg form's property is that max-rows-per-task stays bounded
    * (hot key / saltFactor) when one canonical URL has more copies than
    * a task can sort; SCALE.md records both wall time and max task
    * shuffle-read on a 1M-copy key, and `WebCurationSpec` checks the
    * max task shuffle-read at test scale. */
  def canonicalizeUrlsAgg(docs: DataFrame, idCol: String, urlCol: String,
      saltFactor: Int = 8): DataFrame = {
    // the canon alias is FENCED: the join infers isnotnull(canon_url) on
    // both branches, and without the fence PushPredicateThroughNonJoin
    // substitutes the full 5-regex chain into those Filters — each row
    // paid the canonicalization twice per branch (SCALE.md: ~2.4×
    // on the full form). Fenced, the constraint filters evaluate on the
    // attribute and the regexes run once per branch.
    val canon = docs.select(col(idCol), col(urlCol),
      fence(canonUrl(col(urlCol))).as("canon_url"))
    val groups = canon.groupBy("canon_url")
      .agg(min(col(idCol)).as("__keeper"), count(lit(1)).as("url_dups"))
    SkewJoin.salted(canon, groups, Seq("canon_url"), saltFactor)
      .select(col(idCol), col(urlCol), col("canon_url"),
        regexp_extract(col("canon_url"), "^[^/]+", 0).as("host"),
        col("url_dups"),
        (col(idCol) === col("__keeper")).as("keep"))
  }
}
