package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.{NumericType, StringType}

import graft.GraftSession
import graft.ops.{CorpusOps, Dedup, Retrieval, Similarity}
import graft.spark.GraftCatalog
import graft.store.TableStore

/** SQL table-function surface for the flagship LLM-pipeline operators —
  * the warehouse user model of the reference (everything is SQL:
  * customer-end-to-end-pipeline-script.sql:62-179) extended to the ops
  * the Scala API added. A `TABLE(graft_*(…))` call anywhere in a query
  * evaluates the named library operator in the call's place, so the ops
  * compose with ordinary SQL (joins, filters, CTAS, INSERT … SELECT)
  * exactly like Snowflake table functions:
  *
  *  - `TABLE(graft_neardup_filter(t, 'id', 'text'[, min_jaccard[, k,
  *    bands, shingle_n]]))` → [[Dedup.nearDupFilter]]: the input rows
  *    minus non-representative members of near-dup clusters
  *  - `TABLE(graft_decontaminate(corpus, benchmark, 'id', 'text', n))`
  *    → [[CorpusOps.decontaminate]]: corpus + `contaminated` flag
  *  - `TABLE(graft_bm25_topk(docs, queries, 'id', 'text', 'qid',
  *    'qtext', k))` → [[Retrieval.bm25TopK]]
  *  - `TABLE(graft_kmeans_ivf_topk(corpus, queries, 'id', 'vec',
  *    k_clusters, iters, k, nprobe))` → [[Similarity.kmeans]] training +
  *    [[Similarity.ivfTopK]] probe-pruned search over the learned
  *    partitions (the n5 pipeline as one call)
  *  - `TABLE(graft_token_budget_mix(t, 'id', 'text', 'source',
  *    'src1=1000,src2=500'[, default_budget]))` →
  *    [[CorpusOps.tokenBudgetMix]]
  *  - `TABLE(graft_epoch_mix(t, 'id', 'text', 'source',
  *    'src1=1000,src2=500'))` → [[CorpusOps.epochMix]] (upsampling
  *    variant: small sources repeat per epoch until their budget)
  *  - `TABLE(graft_decontaminate_bloom(corpus, benchmark, 'id', 'text',
  *    n[, fpp]))` → [[CorpusOps.decontaminateBloom]] (the 100 TB path:
  *    broadcast Bloom pre-prune, identical output)
  *  - `TABLE(graft_neardup_pairs(t, 'id', 'text', min_jaccard[, k,
  *    bands, shingle_n]))` → [[Dedup.lshVerifiedPairs]]: the verified
  *    (id_a, id_b, jaccard) pair list itself, for audits and custom
  *    cluster policies
  *  - `TABLE(graft_chunk(t, 'id', 'text', size[, overlap]))` →
  *    [[CorpusOps.chunk]]
  *  - `TABLE(graft_brute_topk(corpus, queries, 'id', 'vec', k))` →
  *    [[Similarity.bruteForceTopK]] (exact cosine baseline)
  *  - `TABLE(graft_bm25_prf_topk(docs, queries, 'id', 'text', 'qid',
  *    'qtext', k[, fb_docs, fb_terms]))` → [[Retrieval.bm25PrfTopK]]
  *    (Rocchio pseudo-relevance-feedback expansion)
  *  - `TABLE(graft_semantic_dedup(t, 'id', 'vec'[, min_cosine[,
  *    planes]]))` → [[Dedup.semanticDedup]]: SRP-bucketed embedding
  *    near-dup removal, returns the surviving rows
  *  - `TABLE(graft_nb_classify(train, test, 'id', 'text', 'label'[,
  *    vocab_size]))` → [[CorpusOps.nbClassifyBits]] (Naive Bayes
  *    train+apply; test rows labeled with the argmin-bits class)
  *  - `TABLE(graft_incremental_neardup(corpus, batch, 'id', 'text'[,
  *    min_jaccard]))` → [[Dedup.incrementalNearDupFilter]]: the batch
  *    rows surviving dedup against the corpus + earlier batch ids
  *  - `TABLE(graft_dsir_select(raw, target, 'id', 'text', k[, dim]))`
  *    → [[CorpusOps.dsirSelect]]: the k raw rows most like the target
  *    domain by hashed-unigram importance ratio
  *  - `TABLE(graft_cluster_reps(t, 'id', 'text'[, 'score_col']))` →
  *    [[Dedup.clusterRepresentatives]]: (cluster, rep_id, rep_score,
  *    n_members) — the best-scoring doc per near-dup cluster (default
  *    score: the e2 quality formula)
  *  - `TABLE(graft_hash_split(t, 'id'[, 'train=8,val=1,test=1']))` →
  *    [[CorpusOps.hashSplit]]: the input + a deterministic `split`
  *    column
  *  - `TABLE(graft_winnow_overlap(t, 'id', 'text'[, shingle_n, window,
  *    min_shared, max_doc_freq]))` → [[Dedup.winnowOverlapPairs]]: the
  *    MOSS-style (id_a, id_b, n_shared) overlap report over winnowing
  *    fingerprints
  *  - `TABLE(graft_winnow_fp(t, 'id', 'text'[, shingle_n, window]))` →
  *    [[Dedup.winnowFingerprints]]: the raw (id, fp_pos, fp_hash)
  *    fingerprint set itself — store it per corpus version and join
  *    newly-ingested docs against it
  *  - `TABLE(graft_dup_spans(t, 'id', 'text', n[, min_docs]))` →
  *    [[Dedup.duplicatedSpans]]: maximal token spans whose n-grams all
  *    occur in ≥ min_docs documents (substring-dedup detection stage)
  *  - `TABLE(graft_cut_spans(t, 'id', 'text', n[, min_docs]))` →
  *    [[Dedup.cutSpans]] over the same table's [[Dedup.duplicatedSpans]]:
  *    detect + cut in one call, re-emitting cleaned text row-for-row
  *  - `TABLE(graft_artifacts())` → [[graft.store.Artifacts.listing]]:
  *    the (artifact_table, version) catalog of this session's durable
  *    artifact store; each listed table is itself queryable by name
  *  - `TABLE(graft_clustering_info(t))` →
  *    [[graft.store.TableStore.clusteringInfo]]: per-row-group min/max
  *    audit of a CLUSTER BY table (footer-only reads — the
  *    `system$clustering_information` analogue)
  *  - `TABLE(graft_scan_where(t, 'pred sql'))` →
  *    [[graft.store.TableStore.scanWhere]]: filtered read of a store
  *    table with micro-partition pruning — data FILES whose manifest
  *    min/max statistics exclude the predicate are never opened
  *    (Snowflake's metadata-service pruning tier; row-group stats still
  *    prune within the surviving files)
  *  - `TABLE(graft_vocab_stats(t, 'text', 'source'))` →
  *    [[CorpusOps.vocabStats]]: per-source lexical-diversity panel
  *    (types, hapax, modal token, TTR)
  *  - `TABLE(graft_collocations(t, 'text'[, top_k, min_count]))` →
  *    [[CorpusOps.collocationBits]]: top bigram collocations by
  *    integer-bits PMI
  *  - `TABLE(graft_gopher_rules(t, 'id', 'text'[, min_words[,
  *    'stop,words'[, 'sym,bols']]]))` →
  *    [[graft.ops.WebCuration.gopherRules]]: the Gopher document-quality
  *    metrics + keep flag at the published thresholds (defaults: the
  *    paper's Table A1 stopword list and the #/…/... symbol class;
  *    both overridable as comma-separated lists)
  *  - `TABLE(graft_c4_clean(t, 'id', 'text'[, min_line_words,
  *    min_kept_lines]))` → [[graft.ops.WebCuration.c4Clean]]: C4
  *    line-level cleaning with the cleaned text re-joined
  *  - `TABLE(graft_url_dedup(t, 'id', 'url'))` →
  *    [[graft.ops.WebCuration.canonicalizeUrls]]: canonical form, host,
  *    group size and first-id-wins keep flag per row
  *  - `TABLE(graft_bpe_tokenize(t, 'text', num_merges[, batch_k]))` →
  *    [[CorpusOps.bpeSubwordHistogram]]: train BPE merges on the corpus,
  *    apply them back, return the (subword, n) histogram
  *  - `TABLE(graft_pagerank(pairs[, iters[, damping]]))` →
  *    [[Dedup.pagerankCentrality]]: (id, score) over an (id_a, id_b)
  *    pair table — compose with `graft_neardup_pairs` for
  *    centrality-inside-duplicate-graphs audits
  *  - `TABLE(graft_triangles(pairs))` → [[Dedup.triangleCounts]]:
  *    per-node (degree, n_triangles, clustering_coeff) over an
  *    (id_a, id_b) pair table — neighbor-graph quality diagnostics
  *  - `TABLE(graft_funnel(events, 'user', 'type', 'ts',
  *    'step1,step2,…'[, max_gap_us[, max_events_per_user]]))` →
  *    [[graft.ops.EventAnalytics.funnelSteps]]: sequential-order funnel
  *    reach counts + conversion, optional per-step conversion window,
  *    optional bot-skew cap (per-user fold state O(cap))
  *  - `TABLE(graft_funnel_gaps(events, 'user', 'type', 'ts',
  *    'step1,step2,…'[, max_gap_us[, max_events_per_user]]))` →
  *    [[graft.ops.EventAnalytics.funnelTransitionStats]]: per-transition
  *    converted counts + exact time-between-steps statistics, same
  *    optional bot-skew cap
  *  - `TABLE(graft_event_paths(events, 'user', 'type', 'ts', depth,
  *    top_n))` → [[graft.ops.EventAnalytics.topEventPaths]]: the top-N
  *    most common first-`depth` user-journey paths
  *  - `TABLE(graft_transitions(events, 'user', 'type', 'ts'
  *    [, chunk_us]))` →
  *    [[graft.ops.EventAnalytics.eventTransitionMatrix]]: first-order
  *    Markov (from, to, n, P(to|from)) flow matrix; the optional chunk
  *    width switches to the bot-skew formulation (per-task sort state
  *    bounded by a time chunk, identical output)
  *  - `TABLE(graft_cohorts(events, 'user', 'ts'))` →
  *    [[graft.ops.EventAnalytics.cohortRetention]]: weekly cohort
  *    retention matrix
  *  - `TABLE(graft_dau_mau(events, 'user', 'ts'[, window_days]))` →
  *    [[graft.ops.EventAnalytics.dauMau]]: exact DAU / trailing-window
  *    MAU / stickiness per active day
  *  - `TABLE(graft_dau_mau_hll(events, 'user', 'ts'[, window_days]))` →
  *    [[graft.ops.EventAnalytics.dauMauApprox]]: the HLL sketch twin
  *    (per-day sketches, trailing MAU by sketch union)
  *  - `TABLE(graft_hash_tfidf(t, 'id', 'text', dim))` →
  *    [[CorpusOps.hashingTfidf]]: fixed-dim hashed TF-IDF vectors
  *    bridging text tables into the vector operators
  *  - `TABLE(graft_semdedup_kmeans(t, 'id', 'vec', min_cosine[,
  *    k_clusters, iters]))` → [[Dedup.semDedupKmeans]]: SemDeDup-style
  *    embedding dedup inside learned kmeans clusters; returns
  *    (id, cluster) survivors
  *  - `TABLE(graft_containment_pairs(t, 'id', 'text', min_containment[,
  *    k, bands, shingle_n]))` → [[Dedup.lshContainmentPairs]]: the
  *    asymmetric |A∩B|/min-side pairs that catch quote/boilerplate
  *    inclusion Jaccard misses
  *  - `TABLE(graft_pps_sample(t, 'id', 'weight_col', n[, buckets]))` →
  *    [[CorpusOps.ppsSample]]: deterministic systematic
  *    probability-proportional-to-size sample
  *  - `TABLE(graft_cluster_keywords(docs, labels, 'id', 'text',
  *    k_clusters, top_m))` → [[CorpusOps.clusterKeywords]]: c-TF-IDF
  *    keyword labels per cluster (labels has (id, cluster))
  *  - `TABLE(graft_hard_negatives(docs, seeds, emb, 'id', 'text',
  *    'qid', 'qtext', 'emb_id', 'vec', k_lex, max_cosine, k))` →
  *    [[Retrieval.bm25HardNegatives]]: per seed query, the top BM25
  *    hits that are NOT semantic neighbors — DPR-style training
  *    negatives
  *  - `TABLE(graft_asof_join(left, right, 'k1;k2', 'ts',
  *    'rightcol=outname,…'[, 'forward']))` →
  *    [[graft.ops.TemporalJoins.asofBackward]]/`asofForward`: per key,
  *    the latest right row at-or-before (or earliest at-or-after) each
  *    left timestamp — one union + window pass, no nested loop
  *  - `TABLE(graft_range_join(points, intervals, 'point_ts', 'start',
  *    'end', bin_width))` → [[graft.ops.TemporalJoins.pointInRange]]:
  *    interval-overlap pairs via bucket-binned equi-join
  *  - `TABLE(graft_edit_pairs(t, 'id', 'text', min_sim[, prefix_len,
  *    k, bands, shingle_n]))` → [[Dedup.lshEditVerifiedPairs]]:
  *    Levenshtein-verified LSH candidates (character-level verifier)
  *  - `TABLE(graft_minhash_est(t, 'id', 'text'[, k, bands,
  *    shingle_n]))` → [[Dedup.minhashEstimationReport]]: signature
  *    estimate vs true Jaccard per candidate — the k tuning loop
  *  - `TABLE(graft_ngram_novelty(t, 'id', 'text'[, n]))` →
  *    [[Dedup.ngramNovelty]]: per-doc first-seen n-gram novelty
  *  - `TABLE(graft_source_divergence(t, 'text', 'source'[,
  *    vocab_size]))` → [[CorpusOps.sourceDivergenceBits]]: per-source
  *    KL-in-bits vs the corpus mixture
  *  - `TABLE(graft_knn_classify(seeds, targets, 'id', 'vec', 'label',
  *    k))` → [[Similarity.knnLabelPropagate]]: majority label of the k
  *    cosine-nearest seeds per target
  *  - `TABLE(graft_bpe_fertility(t, 'text', 'lang', num_merges[,
  *    batch_k]))` → [[CorpusOps.bpeFertility]]: per-language mean
  *    subwords-per-word under the corpus-trained merge table
  *  - `TABLE(graft_temperature_mix(t, 'id', 'text', 'source',
  *    total_budget))` → [[CorpusOps.temperatureMix]]
  *  - `TABLE(graft_shuffle_shards(t, 'id', n_shards))` →
  *    [[CorpusOps.shuffleShards]]
  *  - `TABLE(graft_quality_retention(t, 'id', 'text', 'lang',
  *    retention))` → [[CorpusOps.qualityRetention]]
  *  - `TABLE(graft_curriculum(t, 'id', 'text', n_phases[, vocab_size]))`
  *    → [[CorpusOps.curriculum]]
  *  - `TABLE(graft_knn_graph(t, 'id', 'vec', k))` →
  *    [[Similarity.knnGraph]]
  *  - `TABLE(graft_join_prune_info())` → [[graft.store.JoinKeyPrune]]'s
  *    recent decisions in this JVM: table, probe, files total and kept
  *
  * How a call is read: [[graft.spark.GraftParser]] turns each
  * `TABLE(graft_*(…))` in a parsed plan into a
  * [[graft.spark.GraftTableCall]], and [[graft.spark.ResolveGraftNames]]
  * calls [[eval]] when the analyzer reaches it — in a graft statement, a
  * graft view body, a MERGE source or plain `spark.sql` alike. No view is
  * registered: the op's analyzed plan takes the call's place in the
  * query, so Catalyst optimizes the enclosing query and the operator's
  * plan as one tree (filters on the result push into the op where
  * semantics allow, exactly as in the Scala API). A frame an op binds to
  * the TinyLoop child session is inlined the same way; both sessions
  * share one SparkContext.
  *
  * Table arguments are names Spark SQL resolves: temp views, then store
  * tables, streams and graft views (schema-qualified names normalize
  * through the session, same as every other statement); string arguments
  * are single-quoted literals; numbers are unquoted. A call is evaluated
  * once per analysis, so a view over it sees later commits. Snowflake
  * lateral-join semantics (per-row arguments) are out of scope, matching
  * the reference's usage where table functions take constant arguments
  * (`table(information_schema.task_history())`). */
object TableFunctions {

  /** Evaluate `fn` on its parsed arguments: the names and literals of one
    * `TABLE(graft_*(…))` call. Names resolve through the graft objects
    * attached to `spark` ([[GraftCatalog]]), latest first. */
  private[graft] def eval(spark: SparkSession, fn: String, args: Seq[Expression]): DataFrame = {
    val attached = GraftCatalog.attachedTo(spark).toSeq
    val session = attached.collectFirst { case g: GraftSession => g }
    def flat(a: Expression): String = session.map(_.recordName(text(a))).getOrElse(text(a))
    def rel(a: Expression): DataFrame = spark.table(flat(a))
    // `f` over the store that holds table `a`, for the ops that read its metadata
    def inStore(a: Expression)(f: (TableStore, String) => DataFrame): DataFrame = {
      val t = flat(a)
      f(attached.map(_.store).find(_.exists(t)).getOrElse(sys.error(s"$fn: table $t does not exist")), t)
    }
    // a literal's text as written: numbers as digits, names as named,
    // anything else (a string literal included) as SQL
    def text(a: Expression): String = a match {
      case Literal(v, _: NumericType) => v.toString
      case UnresolvedAttribute(parts) => parts.mkString(".")
      case other => other.sql
    }
    def str(a: Expression): String = a match {
      case Literal(v, StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$fn: expected a quoted string literal, got ${text(other)}")
    }
    def arity(ok: Boolean, want: String): Unit =
      require(ok, s"$fn takes $want arguments, got ${args.length}: ${args.map(text).mkString(", ")}")
    // numeric literals get the same user-facing diagnostics as arity/str
    // violations — a bare toInt would surface a raw NumberFormatException
    // with no hint of which function or argument was at fault
    def number[T](s: String, what: String)(parse: String => T): T =
      try parse(s.trim) catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$fn: expected $what literal, got $s")
      }
    def int(a: Expression): Int = number(text(a), "an integer")(_.toInt)
    def long(a: Expression): Long = number(text(a), "an integer")(_.toLong)
    def num(a: Expression): Double = number(text(a), "a numeric")(_.toDouble)
    def positive[T](v: T, what: String)(implicit n: Numeric[T]): T = {
      require(n.gt(v, n.zero), s"$fn: $what must be a positive integer, got $v")
      v
    }
    // 'k=v,…' lists; `entries` says what an entry is, for the error
    def pairs(a: Expression, entries: String): Seq[(String, String)] =
      str(a).split(",").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
        val i = kv.lastIndexOf('=')
        require(i > 0, s"$fn: $entries, got '$kv'")
        kv.take(i).trim -> kv.drop(i + 1).trim
      }.toSeq
    def budgets(a: Expression): Map[String, Long] =
      pairs(a, "budget entries are source=tokens").map { case (k, v) =>
        k -> number(v, "an integer")(_.toLong) }.toMap

    fn match {
      case "graft_neardup_filter" =>
        arity(args.length >= 3 && args.length <= 7, "3 to 7")
        Dedup.nearDupFilter(rel(args(0)), str(args(1)), str(args(2)),
          minJaccard = if (args.length > 3) num(args(3)) else 0.8,
          k = if (args.length > 4) int(args(4)) else 16,
          bands = if (args.length > 5) int(args(5)) else 8,
          shingleN = if (args.length > 6) int(args(6)) else 2)

      case "graft_decontaminate" =>
        arity(args.length == 5, "5 (corpus, benchmark, 'id', 'text', n)")
        CorpusOps.decontaminate(rel(args(0)), rel(args(1)),
          str(args(2)), str(args(3)), int(args(4)))

      case "graft_bm25_topk" =>
        arity(args.length == 7,
          "7 (docs, queries, 'id', 'text', 'qid', 'qtext', k)")
        Retrieval.bm25TopK(rel(args(0)), rel(args(1)), str(args(2)),
          str(args(3)), str(args(4)), str(args(5)), int(args(6)))

      case "graft_kmeans_ivf_topk" =>
        arity(args.length == 8,
          "8 (corpus, queries, 'id', 'vec', k_clusters, iters, k, nprobe)")
        val corpus = rel(args(0))
        val idCol = str(args(2))
        val vecCol = str(args(3))
        val km = Similarity
          .kmeans(corpus, idCol, vecCol, int(args(4)), int(args(5)))
          .withColumnRenamed("id", idCol)
        Similarity.ivfTopK(corpus.join(km, Seq(idCol)), rel(args(1)),
          idCol, vecCol, "cluster", int(args(6)), int(args(7)))

      case "graft_token_budget_mix" =>
        arity(args.length == 5 || args.length == 6,
          "5 or 6 (t, 'id', 'text', 'source', 'src=tokens,…'[, default_budget])")
        CorpusOps.tokenBudgetMix(rel(args(0)), str(args(1)), str(args(2)),
          str(args(3)), budgets(args(4)),
          defaultBudget = if (args.length > 5) long(args(5)) else Long.MaxValue)

      case "graft_epoch_mix" =>
        arity(args.length == 5, "5 (t, 'id', 'text', 'source', 'src=tokens,…')")
        CorpusOps.epochMix(rel(args(0)), str(args(1)), str(args(2)),
          str(args(3)), budgets(args(4)))

      case "graft_decontaminate_bloom" =>
        arity(args.length == 5 || args.length == 6,
          "5 or 6 (corpus, benchmark, 'id', 'text', n[, fpp])")
        CorpusOps.decontaminateBloom(rel(args(0)), rel(args(1)),
          str(args(2)), str(args(3)), int(args(4)),
          fpp = if (args.length > 5) num(args(5)) else 0.01)

      case "graft_neardup_pairs" =>
        arity(args.length >= 4 && args.length <= 7,
          "4 to 7 (t, 'id', 'text', min_jaccard[, k, bands, shingle_n])")
        Dedup.lshVerifiedPairs(rel(args(0)), str(args(1)), str(args(2)),
          num(args(3)),
          k = if (args.length > 4) int(args(4)) else 16,
          bands = if (args.length > 5) int(args(5)) else 8,
          shingleN = if (args.length > 6) int(args(6)) else 2)

      case "graft_chunk" =>
        arity(args.length == 4 || args.length == 5,
          "4 or 5 (t, 'id', 'text', size[, overlap])")
        CorpusOps.chunk(rel(args(0)), str(args(1)), str(args(2)),
          int(args(3)), overlap = if (args.length > 4) int(args(4)) else 0)

      case "graft_brute_topk" =>
        arity(args.length == 5, "5 (corpus, queries, 'id', 'vec', k)")
        Similarity.bruteForceTopK(rel(args(0)), rel(args(1)),
          str(args(2)), str(args(3)), int(args(4)))

      case "graft_bm25_prf_topk" =>
        arity(args.length >= 7 && args.length <= 9,
          "7 to 9 (docs, queries, 'id', 'text', 'qid', 'qtext', k[, fb_docs, fb_terms])")
        Retrieval.bm25PrfTopK(rel(args(0)), rel(args(1)), str(args(2)),
          str(args(3)), str(args(4)), str(args(5)), int(args(6)),
          fbDocs = if (args.length > 7) int(args(7)) else 5,
          fbTerms = if (args.length > 8) int(args(8)) else 10)

      case "graft_semantic_dedup" =>
        arity(args.length >= 3 && args.length <= 5,
          "3 to 5 (t, 'id', 'vec'[, min_cosine[, planes]])")
        Dedup.semanticDedup(rel(args(0)), str(args(1)), str(args(2)),
          minCosine = if (args.length > 3) num(args(3)) else 0.95,
          planes = if (args.length > 4) int(args(4)) else 12)

      case "graft_nb_classify" =>
        arity(args.length == 5 || args.length == 6,
          "5 or 6 (train, test, 'id', 'text', 'label'[, vocab_size])")
        CorpusOps.nbClassifyBits(rel(args(0)), rel(args(1)), str(args(2)),
          str(args(3)), str(args(4)),
          vocabSize = if (args.length > 5) int(args(5)) else 30000)

      case "graft_incremental_neardup" =>
        arity(args.length == 4 || args.length == 5,
          "4 or 5 (corpus, batch, 'id', 'text'[, min_jaccard])")
        Dedup.incrementalNearDupFilter(rel(args(0)), rel(args(1)),
          str(args(2)), str(args(3)),
          minJaccard = if (args.length > 4) num(args(4)) else 0.8)

      case "graft_dsir_select" =>
        arity(args.length == 5 || args.length == 6,
          "5 or 6 (raw, target, 'id', 'text', k[, dim])")
        CorpusOps.dsirSelect(rel(args(0)), rel(args(1)), str(args(2)),
          str(args(3)), int(args(4)),
          dim = if (args.length > 5) int(args(5)) else 4096)

      case "graft_cluster_reps" =>
        arity(args.length == 3 || args.length == 4,
          "3 or 4 (t, 'id', 'text'[, 'score_col'])")
        val t = rel(args(0))
        val id = str(args(1))
        val text = str(args(2))
        val pairs = Dedup.minhashLshPairs(t, id, text, k = 16, bands = 8,
          shingleN = 2, maxBucketSize = Some(8)).select("id_a", "id_b")
        val score =
          if (args.length > 3) org.apache.spark.sql.functions.col(str(args(3)))
          else graft.functions.TextAnalytics
            .qualityScore(org.apache.spark.sql.functions.col(text))
        Dedup.clusterRepresentatives(pairs,
          t.select(org.apache.spark.sql.functions.col(id), score.as("__sc")),
          id, "__sc")

      case "graft_hash_split" =>
        arity(args.length == 2 || args.length == 3,
          "2 or 3 (t, 'id'[, 'name=weight,…'])")
        val splits =
          if (args.length > 2) pairs(args(2), "split entries are name=weight").map { case (k, v) =>
            k -> number(v, "an integer")(_.toInt) }
          else Seq(("train", 8), ("val", 1), ("test", 1))
        CorpusOps.hashSplit(rel(args(0)), str(args(1)), splits)

      case "graft_temperature_mix" =>
        arity(args.length == 5, "5 (t, 'id', 'text', 'source', total_budget)")
        CorpusOps.temperatureMix(rel(args(0)), str(args(1)), str(args(2)),
          str(args(3)), long(args(4)))

      case "graft_shuffle_shards" =>
        arity(args.length == 3, "3 (t, 'id', n_shards)")
        CorpusOps.shuffleShards(rel(args(0)), str(args(1)), int(args(2)))

      case "graft_quality_retention" =>
        arity(args.length == 5, "5 (t, 'id', 'text', 'lang', retention)")
        CorpusOps.qualityRetention(rel(args(0)), str(args(1)), str(args(2)),
          str(args(3)), num(args(4)))

      case "graft_curriculum" =>
        arity(args.length == 4 || args.length == 5,
          "4 or 5 (t, 'id', 'text', n_phases[, vocab_size])")
        CorpusOps.curriculum(rel(args(0)), str(args(1)), str(args(2)),
          int(args(3)),
          if (args.length > 4) int(args(4)) else 30000)

      case "graft_knn_graph" =>
        arity(args.length == 4, "4 (t, 'id', 'vec', k)")
        Similarity.knnGraph(rel(args(0)), str(args(1)), str(args(2)),
          int(args(3)))

      case "graft_winnow_overlap" =>
        arity(args.length >= 3 && args.length <= 7,
          "3 to 7 (t, 'id', 'text'[, shingle_n, window, min_shared, max_doc_freq])")
        Dedup.winnowOverlapPairs(rel(args(0)), str(args(1)), str(args(2)),
          shingleN = if (args.length > 3) int(args(3)) else 3,
          window = if (args.length > 4) int(args(4)) else 4,
          minShared = if (args.length > 5) int(args(5)) else 3,
          maxDocFreq = if (args.length > 6) int(args(6)) else 8)

      case "graft_artifacts" =>
        arity(args.isEmpty, "0 () — lists this session's artifact-store tables")
        graft.store.Artifacts.listing(spark)

      case "graft_clustering_info" =>
        arity(args.length == 1, "1 (store_table) — the table must declare CLUSTER BY")
        inStore(args(0))(_.clusteringInfo(_))

      case "graft_join_prune_info" =>
        // operator visibility for the plan-time JoinKeyPrune rule: did
        // dynamic join pruning fire, on which table, with which probe
        // kind, and how many files did it serve — without driver logs
        arity(args.isEmpty,
          "0 () — this JVM's recent dynamic join-key prune decisions")
        val sp = spark
        import sp.implicits._
        graft.store.JoinKeyPrune.recentEvents
          .map(e => (new java.sql.Timestamp(e.atMs), e.table, e.probe,
            e.filesTotal, e.filesKept, e.filesKept < e.filesTotal))
          .toDF("at", "store_table", "probe",
            "files_total", "files_kept", "pruned")

      case "graft_scan_where" =>
        arity(args.length == 2, "2 (store_table, 'predicate sql')")
        inStore(args(0))(_.scanWhere(_, org.apache.spark.sql.functions.expr(str(args(1)))))

      case "graft_vocab_stats" =>
        arity(args.length == 3, "3 (t, 'text', 'source')")
        CorpusOps.vocabStats(rel(args(0)), str(args(1)), str(args(2)))

      case "graft_collocations" =>
        arity(args.length >= 2 && args.length <= 4,
          "2 to 4 (t, 'text'[, top_k, min_count])")
        CorpusOps.collocationBits(rel(args(0)), str(args(1)),
          topK = if (args.length > 2) int(args(2)) else 20,
          minCount = if (args.length > 3) int(args(3)) else 5)

      case "graft_gopher_rules" =>
        arity(args.length >= 3 && args.length <= 6,
          "3 to 6 (t, 'id', 'text'[, min_words[, 'stop,words'[, 'sym,bols']]])")
        // defaults mirror the Scala API: the paper's Table A1 stopword
        // list and #/…/... symbol class; a corpus with a different
        // vocabulary (e.g. the synthetic fixture) passes its own as
        // comma-separated lists
        graft.ops.WebCuration.gopherRules(rel(args(0)), str(args(1)),
          str(args(2)),
          minWords = if (args.length > 3) long(args(3)) else 50L,
          stopwords = if (args.length > 4) str(args(4)).split(",").toSeq
            else graft.ops.WebCuration.gopherStopwords,
          symbols = if (args.length > 5) str(args(5)).split(",").toSeq
            else Seq("#", "…", "..."))

      case "graft_c4_clean" =>
        arity(args.length >= 3 && args.length <= 5,
          "3 to 5 (t, 'id', 'text'[, min_line_words, min_kept_lines])")
        graft.ops.WebCuration.c4Clean(rel(args(0)), str(args(1)),
          str(args(2)),
          minLineWords = if (args.length > 3) long(args(3)) else 3L,
          minKeptLines = if (args.length > 4) long(args(4)) else 3L)

      case "graft_url_dedup" =>
        arity(args.length == 3, "3 (t, 'id', 'url')")
        graft.ops.WebCuration.canonicalizeUrls(rel(args(0)), str(args(1)),
          str(args(2)))

      case "graft_winnow_fp" =>
        arity(args.length >= 3 && args.length <= 5,
          "3 to 5 (t, 'id', 'text'[, shingle_n, window])")
        Dedup.winnowFingerprints(rel(args(0)), str(args(1)), str(args(2)),
          shingleN = if (args.length > 3) int(args(3)) else 3,
          window = if (args.length > 4) int(args(4)) else 4)

      case "graft_dup_spans" =>
        arity(args.length == 4 || args.length == 5,
          "4 or 5 (t, 'id', 'text', n[, min_docs])")
        Dedup.duplicatedSpans(rel(args(0)), str(args(1)), str(args(2)),
          n = int(args(3)),
          minDocs = if (args.length > 4) int(args(4)) else 2)

      case "graft_cut_spans" =>
        arity(args.length == 4 || args.length == 5,
          "4 or 5 (t, 'id', 'text', n[, min_docs])")
        val spanSrc = rel(args(0))
        Dedup.cutSpans(spanSrc, str(args(1)), str(args(2)),
          Dedup.duplicatedSpans(spanSrc, str(args(1)), str(args(2)),
            n = int(args(3)),
            minDocs = if (args.length > 4) int(args(4)) else 2))

      case "graft_bpe_tokenize" =>
        arity(args.length == 3 || args.length == 4,
          "3 or 4 (t, 'text', num_merges[, batch_k])")
        CorpusOps.bpeSubwordHistogram(rel(args(0)), str(args(1)),
          int(args(2)),
          batchK = if (args.length > 3) int(args(3)) else 1)

      case "graft_pagerank" =>
        arity(args.length >= 1 && args.length <= 3,
          "1 to 3 (pairs[, iters[, damping]]) — pairs has (id_a, id_b)")
        Dedup.pagerankCentrality(rel(args(0)),
          iters = if (args.length > 1) int(args(1)) else 3,
          damping = if (args.length > 2) num(args(2)) else 0.85)

      case "graft_triangles" =>
        arity(args.length == 1, "1 (pairs) — pairs has (id_a, id_b)")
        Dedup.triangleCounts(rel(args(0)))

      case "graft_funnel" =>
        arity(args.length >= 5 && args.length <= 7,
          "5 to 7 (events, 'user', 'type', 'ts', 'step1,step2,…'" +
            "[, max_gap_us[, max_events_per_user]])")
        graft.ops.EventAnalytics.funnelSteps(rel(args(0)), str(args(1)),
          str(args(2)), str(args(3)),
          str(args(4)).split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          maxGapUs = if (args.length > 5) Some(long(args(5))) else None,
          maxEventsPerUser = if (args.length > 6)
            Some(positive(int(args(6)), "max_events_per_user")) else None)

      case "graft_funnel_gaps" =>
        arity(args.length >= 5 && args.length <= 7,
          "5 to 7 (events, 'user', 'type', 'ts', 'step1,step2,…'" +
            "[, max_gap_us[, max_events_per_user]])")
        graft.ops.EventAnalytics.funnelTransitionStats(rel(args(0)),
          str(args(1)), str(args(2)), str(args(3)),
          str(args(4)).split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          maxGapUs = if (args.length > 5) Some(long(args(5))) else None,
          maxEventsPerUser = if (args.length > 6)
            Some(positive(int(args(6)), "max_events_per_user")) else None)

      case "graft_transitions" =>
        arity(args.length == 4 || args.length == 5,
          "4 or 5 (events, 'user', 'type', 'ts'[, chunk_us])")
        graft.ops.EventAnalytics.eventTransitionMatrix(rel(args(0)),
          str(args(1)), str(args(2)), str(args(3)),
          chunkUs = if (args.length > 4)
            Some(positive(long(args(4)), "chunk_us")) else None)

      case "graft_event_paths" =>
        arity(args.length == 6,
          "6 (events, 'user', 'type', 'ts', depth, top_n)")
        graft.ops.EventAnalytics.topEventPaths(rel(args(0)), str(args(1)),
          str(args(2)), str(args(3)), int(args(4)), int(args(5)))

      case "graft_cohorts" =>
        arity(args.length == 3, "3 (events, 'user', 'ts')")
        graft.ops.EventAnalytics.cohortRetention(rel(args(0)), str(args(1)),
          str(args(2)))

      case "graft_dau_mau" =>
        arity(args.length == 3 || args.length == 4,
          "3 or 4 (events, 'user', 'ts'[, window_days])")
        graft.ops.EventAnalytics.dauMau(rel(args(0)), str(args(1)),
          str(args(2)),
          window = if (args.length > 3) positive(int(args(3)), "window_days") else 30)

      case "graft_dau_mau_hll" =>
        arity(args.length == 3 || args.length == 4,
          "3 or 4 (events, 'user', 'ts'[, window_days])")
        graft.ops.EventAnalytics.dauMauApprox(rel(args(0)), str(args(1)),
          str(args(2)),
          window = if (args.length > 3) positive(int(args(3)), "window_days") else 30)

      case "graft_hash_tfidf" =>
        arity(args.length == 4, "4 (t, 'id', 'text', dim)")
        CorpusOps.hashingTfidf(rel(args(0)), str(args(1)), str(args(2)),
          int(args(3)))

      case "graft_semdedup_kmeans" =>
        arity(args.length >= 4 && args.length <= 6,
          "4 to 6 (t, 'id', 'vec', min_cosine[, k_clusters, iters])")
        Dedup.semDedupKmeans(rel(args(0)), str(args(1)), str(args(2)),
          num(args(3)),
          kClusters = if (args.length > 4) int(args(4)) else 20,
          iters = if (args.length > 5) int(args(5)) else 5)

      case "graft_containment_pairs" =>
        arity(args.length >= 4 && args.length <= 7,
          "4 to 7 (t, 'id', 'text', min_containment[, k, bands, shingle_n])")
        Dedup.lshContainmentPairs(rel(args(0)), str(args(1)), str(args(2)),
          num(args(3)),
          k = if (args.length > 4) int(args(4)) else 16,
          bands = if (args.length > 5) int(args(5)) else 8,
          shingleN = if (args.length > 6) int(args(6)) else 2)

      case "graft_pps_sample" =>
        arity(args.length == 4 || args.length == 5,
          "4 or 5 (t, 'id', 'weight_col', n[, buckets])")
        CorpusOps.ppsSample(rel(args(0)), str(args(1)), str(args(2)),
          int(args(3)),
          buckets = if (args.length > 4) int(args(4)) else 64)

      case "graft_cluster_keywords" =>
        arity(args.length == 6,
          "6 (docs, labels, 'id', 'text', k_clusters, top_m) — labels has (id, cluster)")
        CorpusOps.clusterKeywords(rel(args(0)), str(args(2)), str(args(3)),
          rel(args(1)), int(args(4)), int(args(5)))

      case "graft_hard_negatives" =>
        arity(args.length == 12,
          "12 (docs, seeds, emb, 'id', 'text', 'qid', 'qtext', 'emb_id', 'vec', k_lex, max_cosine, k)")
        Retrieval.bm25HardNegatives(rel(args(0)), rel(args(1)),
          str(args(3)), str(args(4)), str(args(5)), str(args(6)),
          rel(args(2)), str(args(7)), str(args(8)),
          kLex = int(args(9)), maxCosine = num(args(10)),
          k = int(args(11)))

      case "graft_edit_pairs" =>
        arity(args.length >= 4 && args.length <= 9,
          "4 to 9 (t, 'id', 'text', min_sim[, prefix_len, k, bands, shingle_n, min_est])")
        val t = rel(args(0))
        val sh = Dedup.shingleRows(t, str(args(1)), str(args(2)),
          shingleN = if (args.length > 7) int(args(7)) else 2)
        Dedup.lshEditVerifiedPairs(t, sh, str(args(1)), str(args(2)),
          num(args(3)),
          prefixLen = if (args.length > 4) int(args(4)) else 256,
          k = if (args.length > 5) int(args(5)) else 16,
          bands = if (args.length > 6) int(args(6)) else 8,
          minEst = if (args.length > 8) num(args(8)) else 0.0)

      case "graft_minhash_est" =>
        arity(args.length >= 3 && args.length <= 6,
          "3 to 6 (t, 'id', 'text'[, k, bands, shingle_n])")
        Dedup.minhashEstimationReport(
          Dedup.shingleRows(rel(args(0)), str(args(1)), str(args(2)),
            shingleN = if (args.length > 5) int(args(5)) else 2),
          k = if (args.length > 3) int(args(3)) else 16,
          bands = if (args.length > 4) int(args(4)) else 8)

      case "graft_ngram_novelty" =>
        arity(args.length == 3 || args.length == 4,
          "3 or 4 (t, 'id', 'text'[, n])")
        Dedup.ngramNovelty(rel(args(0)), str(args(1)), str(args(2)),
          n = if (args.length > 3) int(args(3)) else 5)

      case "graft_bpe_fertility" =>
        arity(args.length == 4 || args.length == 5,
          "4 or 5 (t, 'text', 'lang', num_merges[, batch_k])")
        CorpusOps.bpeFertility(rel(args(0)), str(args(1)), str(args(2)),
          int(args(3)),
          batchK = if (args.length > 4) int(args(4)) else 1)

      case "graft_knn_classify" =>
        arity(args.length == 6,
          "6 (seeds, targets, 'id', 'vec', 'label', k)")
        Similarity.knnLabelPropagate(rel(args(0)), rel(args(1)),
          str(args(2)), str(args(3)), str(args(4)), int(args(5)))

      case "graft_source_divergence" =>
        arity(args.length == 3 || args.length == 4,
          "3 or 4 (t, 'text', 'source'[, vocab_size])")
        CorpusOps.sourceDivergenceBits(rel(args(0)), str(args(1)), str(args(2)),
          vocabSize = if (args.length > 3) int(args(3)) else 30000)

      case "graft_asof_join" =>
        arity(args.length == 5 || args.length == 6,
          "5 or 6 (left, right, 'k1;k2;…', 'ts', 'rightcol=outname,…'[, 'forward'])")
        val keys = str(args(2)).split(";").map(_.trim).filter(_.nonEmpty).toSeq
        val payload = pairs(args(4), "payload entries are rightcol=outname").toMap
        val forward = args.length > 5 && str(args(5)).equalsIgnoreCase("forward")
        if (forward)
          graft.ops.TemporalJoins.asofForward(rel(args(0)), rel(args(1)),
            keys, str(args(3)), payload)
        else
          graft.ops.TemporalJoins.asofBackward(rel(args(0)), rel(args(1)),
            keys, str(args(3)), payload)

      case "graft_range_join" =>
        arity(args.length == 6,
          "6 (points, intervals, 'point_ts', 'start', 'end', bin_width)")
        graft.ops.TemporalJoins.pointInRange(rel(args(0)), rel(args(1)),
          str(args(2)), str(args(3)), str(args(4)), long(args(5)))

      case other => sys.error(s"unknown table function $other — supported: " +
        "graft_neardup_filter, graft_neardup_pairs, graft_semantic_dedup, " +
        "graft_decontaminate, graft_decontaminate_bloom, graft_bm25_topk, " +
        "graft_bm25_prf_topk, graft_kmeans_ivf_topk, graft_brute_topk, " +
        "graft_token_budget_mix, graft_epoch_mix, graft_temperature_mix, " +
        "graft_chunk, graft_nb_classify, graft_dsir_select, " +
        "graft_incremental_neardup, graft_cluster_reps, graft_hash_split, " +
        "graft_shuffle_shards, graft_knn_graph, graft_quality_retention, " +
        "graft_curriculum, graft_winnow_overlap, graft_winnow_fp, graft_artifacts, " +
        "graft_clustering_info, graft_join_prune_info, graft_scan_where, " +
        "graft_vocab_stats, " +
        "graft_collocations, " +
        "graft_gopher_rules, graft_c4_clean, graft_url_dedup, " +
        "graft_dup_spans, graft_cut_spans, graft_bpe_tokenize, " +
        "graft_pagerank, graft_triangles, graft_funnel, graft_funnel_gaps, " +
        "graft_event_paths, graft_transitions, graft_cohorts, graft_dau_mau, " +
        "graft_dau_mau_hll, " +
        "graft_hash_tfidf, graft_semdedup_kmeans, " +
        "graft_containment_pairs, graft_pps_sample, graft_cluster_keywords, " +
        "graft_asof_join, graft_range_join, graft_hard_negatives, " +
        "graft_edit_pairs, graft_minhash_est, graft_ngram_novelty, " +
        "graft_source_divergence, graft_knn_classify, graft_bpe_fertility")
    }
  }
}
