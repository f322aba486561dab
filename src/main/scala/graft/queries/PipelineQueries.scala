package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, Similarity}
import graft.functions.{TextAnalytics => TA, VectorAnalytics => VA}
import graft.store.Artifacts
import graft.spark.Materialize.MaterializeOps

/** Training-data-pipeline operators over `documents` / `embeddings`
  * (builder-prompt extension surface, first-class alongside SURVEY.md §2):
  * dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard / embedding
  * cosine), similarity search (brute-force + IVF), text analysis
  * (language-ID / quality / token stats / fingerprints), multimodal
  * binary features.
  *
  * Every oracle reproduces the Spark computation EXACTLY: all reductions
  * are left folds in index order, integers stay < 2^63, doubles are
  * widened before arithmetic — so the driver's hash compare sees
  * bit-identical values (see [[graft.functions.TextAnalytics]] /
  * [[graft.functions.VectorAnalytics]] determinism notes).
  */
object PipelineQueries {

  /** The LSH dup-cluster label table (id → component min-id) that BOTH
    * g2 and g3 read: at 100 TB you run LSH candidate generation + the
    * O(log n) star contraction ONCE per corpus version and every
    * downstream policy (label listing, keep-best-copy reps, cluster
    * stats) joins the same label table — re-contracting the identical
    * pair graph per consumer doubles the most expensive stage of the
    * dedup pipeline for no information gain. Store-backed via
    * [[graft.store.Artifacts]] (round 12 held it in a session-lifetime
    * localCheckpoint memo; the store write is durable across sessions
    * and fault-tolerant at cluster scale — consumers scan committed
    * parquet, not executor-resident blocks). One (id, cluster) row per
    * doc in the pair graph, bucketed by id for co-located joins. */
  /** Corpus fingerprint folded into every artifact key: regenerating a
    * source table in the same directory re-keys its artifacts (a durable
    * root must never serve shingles/labels/postings built from old
    * bytes). One driver-side file listing per lookup — metadata only. */
  private def fp(s: SparkSession, dir: String, table: String): String =
    Artifacts.dataFingerprint(s, s"$dir/$table.parquet")

  private def lshClusterLabels(s: SparkSession, dir: String): DataFrame =
    Artifacts.table(s,
        "lsh_labels", s"$dir|${fp(s, dir, "documents")}|n=2|k=16|bands=8|maxb=8",
        keys = Seq("id")) {
      val pairs = Dedup
        .minhashLshPairsWithShingles(docShingles(s, dir), k = 16, bands = 8,
          maxBucketSize = Some(8))
        .select("id_a", "id_b")
      Dedup.clusterPairs(pairs)
    }

  /** Shingle signature table — [[Dedup.shingleRows]] over the documents
    * table at the d2-family parameters (2-gram, portable hash), the
    * artifact an operating dedup pipeline stores per corpus version: LSH
    * candidates, Jaccard/containment verification, and the cluster-label
    * chain all read these same rows (the op-internal sharing note at
    * Dedup.lshVerifiedPairs, promoted across queries). Store-backed,
    * bucketed by doc id; ROW-LOCAL (each shingle row derives from one
    * doc), so ingest batches may extend it via Artifacts.appendDelta. */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    Artifacts.table(s, "shingles", s"$dir|${fp(s, dir, "documents")}|n=2|portable",
        keys = Seq("id"), rowLocal = true) {
      Dedup.shingleRows(Tables.load(s, dir, "documents"), "doc_id", "text",
        shingleN = 2)
    }

  /** Exact directed top-k neighbor lists — [[Similarity.knnDirected]]
    * over the embeddings table, the quadratic ground-truth stage that
    * FOUR consumers re-read (the mutual graph n12, both recall
    * evaluations n13/n13b, and g4's semantic clustering): at 100 TB you
    * compute the evaluation-sample truth lists once per corpus version
    * and every tuning loop joins against the same table — re-scoring the
    * identical all-pairs join per consumer quadruples the single most
    * expensive stage of the ANN-evaluation family for bit-identical
    * output. Store-backed, (n·k) rows bucketed by id. */
  private def exactKnnDirected(s: SparkSession, dir: String, k: Int): DataFrame =
    Artifacts.table(s, "knn_truth", s"$dir|${fp(s, dir, "embeddings")}|cos|k=$k",
        keys = Seq("id")) {
      // loadSpread: the quadratic truth scoring probes the broadcast
      // query side from the CORPUS scan — single-row-group input would
      // run the whole O(n²·dim) stage on one task (n13 2.3× measured)
      Similarity.knnDirected(Tables.loadSpread(s, dir, "embeddings"),
        "vec_id", "embedding", k)
    }

  /** BM25 postings — the materialized inverted index over the documents
    * table that r1/r2/r3/r4 all read: a retrieval deployment builds the
    * (doc, term, tf) index once per corpus version and every query batch
    * (plain, PRF, hybrid, hard negatives) searches it; re-deriving the
    * corpus explode+agg per operator call is its dominant cost.
    * Store-backed, bucketed by term — the search-side join key;
    * ROW-LOCAL ((doc, term, tf) rows derive from one doc each — df/idf
    * and corpus scalars are derived downstream), so ingest batches may
    * extend it via Artifacts.appendDelta. */
  private def docPostings(s: SparkSession, dir: String): DataFrame =
    Artifacts.table(s, "bm25_postings", s"$dir|${fp(s, dir, "documents")}|unigram",
        keys = Seq("term"), rowLocal = true) {
      graft.ops.Retrieval
        .bm25Postings(Tables.load(s, dir, "documents"), "doc_id", "text")
    }

  /** (vec_id, cluster) assignment of the embeddings table against the
    * store-backed (dir, k, iters) codebook — already keyed by the
    * table's own id column, so consumers join without the rename
    * boilerplate [[Similarity.kmeans]]'s generic (id, cluster) shape
    * would force on every site. The assignment itself stays a lazy
    * broadcast-literal argmin map — only TRAINING is shared (trained
    * once per corpus version, persisted via [[Artifacts.codebook]]). */
  /** Queries whose per-query bench time is WARM once the shared artifact
    * exists: the first consumer of each [[graft.store.Artifacts]] table
    * (shingles, LSH labels, kNN truth, BM25 postings, kmeans/PQ
    * codebooks) pays the build+write; every later consumer — and every
    * later iteration of the same query — scans committed parquet. The
    * bench's suite TOTAL is honest (it contains each build exactly
    * once); these per-query rows are the ones that must not be read as
    * cold-start numbers. Emitted as "artifactWarm" in the bench JSON. */
  val artifactConsumers: Set[String] = Set(
    "g1_pagerank", "g2_connected_components", "g3_cluster_reps",
    "g4_semantic_clusters", "g5_cluster_keywords", "g6_knn_triangles",
    "d2_minhash_lsh", "d4_ngram_jaccard", "d4b_lsh_verified",
    "d12_lsh_recall", "d13_incremental_dedup",
    "d16_semdedup", "d17_containment", "d19_edit_verify", "d20_minhash_est",
    "d21_dedup_impact", "r1_bm25_topk", "r2_hybrid_rrf", "r3_bm25_prf",
    "r4_hard_negatives", "n5_ann_ivf_kmeans", "n7_ann_recall_kmeans",
    "n8_cluster_sample", "n10_ann_pq", "n12_knn_graph", "n13_knn_recall",
    "n13b_knn_recall_ivf", "a15_source_overlap", "e43b_line_dedup_artifact",
    // r21: these two build their own store tables (orders_js / docs_so)
    // and, for j13, the JoinKeyPrune probe memo — first iteration pays
    // the build+probe, later iterations are warm (visible in iterTimes)
    "j13_join_span", "s11_point_lookup")

  private def kmEmbLabels(s: SparkSession, dir: String,
      k: Int, iters: Int): DataFrame = {
    val cents = Artifacts.codebook(s, "kmeans",
        s"$dir|${fp(s, dir, "embeddings")}|k=$k|iters=$iters") {
      Similarity.kmeansCentroids(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", k, iters)
    }
    Similarity.assignClusters(Tables.load(s, dir, "embeddings"),
      "vec_id", "embedding", cents)
      .withColumnRenamed("id", "vec_id")
  }

  private val P = "1000000007"

  /** DuckDB portable polynomial string hash of expression `e`; `sfx`
    * uniquifies lambda variables under nesting. */
  private def dPhash(e: String, sfx: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($e)+1), ix$sfx -> CAST(ascii(($e)[ix$sfx]) AS BIGINT))), " +
      s"(ha$sfx, co$sfx) -> (ha$sfx*31+co$sfx) % $P)"

  /** DuckDB left-fold sum of a double list. */
  private def dSumD(e: String, sfx: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $e), (sa$sfx, sv$sfx) -> sa$sfx + sv$sfx)"

  /** DuckDB dot product of two pre-cast double list expressions. */
  private def dDot(a: String, b: String, sfx: String): String =
    dSumD(s"list_transform(range(1, len($a)+1), di$sfx -> ($a)[di$sfx] * ($b)[di$sfx])", sfx)

  private def dNorm(a: String, sfx: String): String = s"sqrt(${dDot(a, a, sfx)})"

  /** Shared CTE chain: the d2 MinHash-LSH candidate pipeline
    * (shingle→minhash→band→bucket-join with the size-8 skew guard),
    * ending in `cand` (distinct id_a < id_b pairs) with `sigs` also in
    * scope — reused by d2 (signature estimate) and g1 (pair graph). */
  /** Shared CTE chain: e22's six unrolled BPE merge-learning stages over
    * the word-frequency table w0 — per stage, pair counts (p$s), the
    * (cnt desc, l, r) argmax (t$s), and the POSITIONAL greedy merge
    * application (w$s). Ends with w6 (the fully-merged word table) and
    * t1..t6 (the learned merges) in scope; callers provide w0. */
  private lazy val dBpeStages = (1 to 6).map { s =>
    s"""p$s AS (SELECT u$s.l AS l, u$s.r AS r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT freq, unnest(list_transform(range(1, len(syms)),
       |      ib$s -> {'l': syms[ib$s], 'r': syms[ib$s+1]})) AS u$s FROM w${s - 1}) GROUP BY 1, 2),
       |t$s AS (SELECT l, r, cnt FROM (SELECT l, r, cnt,
       |    row_number() OVER (ORDER BY cnt DESC, l, r) AS rt$s FROM p$s) WHERE rt$s = 1),
       |w$s AS (SELECT freq, list_filter(list_transform(range(1, len(syms) + 1), oi$s ->
       |      CASE WHEN sel[oi$s] THEN l || r
       |           WHEN oi$s > 1 AND sel[oi$s-1] THEN NULL
       |           ELSE syms[oi$s] END), ox$s -> ox$s IS NOT NULL) AS syms
       |  FROM (SELECT freq, syms, l, r,
       |      list_transform(range(1, len(syms) + 1), si$s ->
       |        CASE WHEN si$s < len(syms) AND syms[si$s] = l AND syms[si$s+1] = r
       |             THEN (l <> r) OR (((si$s - coalesce(list_max(list_transform(range(1, si$s),
       |                    sj$s -> CASE WHEN syms[sj$s] <> l THEN sj$s + 1 ELSE CAST(1 AS BIGINT) END)), 1)) % 2) = 0)
       |             ELSE FALSE END) AS sel
       |    FROM w${s - 1} CROSS JOIN t$s))""".stripMargin
  }.mkString(",\n")

  /** Stage-unrolled BATCHED BPE replay (e23b's oracle): `rounds` unrolled
    * training rounds, each = pair counts over the current word table →
    * the top-`want` ranked pairs (cnt desc, l, r; want = min(batchK,
    * total − done) so the budget caps the rank BEFORE prefix selection,
    * exactly like the Scala `limit(want)`) → the longest DISJOINT PREFIX
    * (a pick enters iff none of {l, r, l||r} was read OR written by an
    * earlier included pick — the [[graft.ops.CorpusOps.disjointPrefix]]
    * rule) → up to `batchK` conditional positional merge applications
    * chained in rank order. Rounds past budget exhaustion see want ≤ 0,
    * pick nothing, and pass the word table through unchanged, so any
    * `rounds` ≥ the data's actual round count replays exactly; ends with
    * bm`rounds` = the full merge table (step, lsym, rsym, cnt).
    * Callers provide bwp0 (the word-frequency table) and bm0 (empty,
    * typed (step BIGINT, lsym VARCHAR, rsym VARCHAR, cnt BIGINT)). */
  private def dBpeBatchStages(rounds: Int, total: Int, batchK: Int): String = {
    def used(upTo: Int): String =
      (1 to upTo).flatMap(j => Seq(s"l$j", s"r$j", s"l$j || r$j")).mkString("[", ", ", "]")
    (1 to rounds).map { s =>
      val x = s"q$s"
      // one conditional positional apply per candidate rank j: a no-op
      // row passthrough unless pick j made the disjoint prefix (i$j)
      val applies = (1 to batchK).map { j =>
        val in = if (j == 1) s"bwp${s - 1}" else s"bw${s}_${j - 1}"
        val out = if (j == batchK) s"bwp$s" else s"bw${s}_$j"
        val z = s"${x}_$j"
        s"""$out AS MATERIALIZED (SELECT freq,
           |    CASE WHEN inc$z THEN list_filter(list_transform(range(1, len(syms) + 1), oi$z ->
           |      CASE WHEN sel$z[oi$z] THEN ml$z || mr$z
           |           WHEN oi$z > 1 AND sel$z[oi$z-1] THEN NULL
           |           ELSE syms[oi$z] END), ox$z -> ox$z IS NOT NULL)
           |    ELSE syms END AS syms
           |  FROM (SELECT freq, syms, l$j AS ml$z, r$j AS mr$z, i$j AS inc$z,
           |      list_transform(range(1, len(syms) + 1), si$z ->
           |        CASE WHEN i$j AND si$z < len(syms) AND syms[si$z] = l$j AND syms[si$z+1] = r$j
           |             THEN (l$j <> r$j) OR (((si$z - coalesce(list_max(list_transform(range(1, si$z),
           |                    sj$z -> CASE WHEN syms[sj$z] <> l$j THEN sj$z + 1 ELSE CAST(1 AS BIGINT) END)), 1)) % 2) = 0)
           |             ELSE FALSE END) AS sel$z
           |    FROM $in CROSS JOIN bsel$s))""".stripMargin
      }.mkString(",\n")
      val pivot = (1 to batchK).map { j =>
        s"max(CASE WHEN rk = $j THEN l END) AS l$j, " +
          s"max(CASE WHEN rk = $j THEN r END) AS r$j, " +
          s"max(CASE WHEN rk = $j THEN cnt END) AS c$j"
      }.mkString(",\n    ")
      val incs = (1 to batchK).map { j =>
        if (j == 1) s"(l1 IS NOT NULL) AS i1"
        else s"(i${j - 1} AND l$j IS NOT NULL AND NOT list_has_any(" +
          s"[l$j, r$j, l$j || r$j], ${used(j - 1)})) AS i$j"
      }.mkString(",\n    ")
      val picks = (1 to batchK).map { j =>
        s"SELECT $j AS j, l$j AS l, r$j AS r, c$j AS cnt FROM bsel$s WHERE i$j"
      }.mkString("\n  UNION ALL ")
      s"""bd$s AS MATERIALIZED (SELECT CAST(count(1) AS BIGINT) AS done FROM bm${s - 1}),
         |bp$s AS MATERIALIZED (SELECT u$x.l AS l, u$x.r AS r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(syms)),
         |      ib$x -> {'l': syms[ib$x], 'r': syms[ib$x+1]})) AS u$x FROM bwp${s - 1}) GROUP BY 1, 2),
         |bt$s AS (SELECT l, r, cnt, row_number() OVER (ORDER BY cnt DESC, l, r) AS rk FROM bp$s),
         |btp$s AS (SELECT bt$s.l, bt$s.r, bt$s.cnt, bt$s.rk FROM bt$s CROSS JOIN bd$s
         |  WHERE rk <= least($batchK, $total - done)),
         |bsel$s AS MATERIALIZED (SELECT *,
         |    $incs
         |  FROM (SELECT
         |    $pivot
         |  FROM btp$s)),
         |bpk$s AS ($picks),
         |bm$s AS MATERIALIZED (SELECT step, lsym, rsym, cnt FROM bm${s - 1} UNION ALL
         |  SELECT done + j AS step, l AS lsym, r AS rsym, cnt FROM bpk$s CROSS JOIN bd$s),
         |$applies""".stripMargin
    }.mkString(",\n")
  }

  /** Shared CTE chain: winnowing fingerprints (3-gram hashes, window 4,
    * rightmost-min) — ends with `f(doc_id, fps)` where fps is the
    * per-window {'p': pos, 'h': hash} struct list (pre-distinct). */
  private lazy val dWinnow =
    s"""g AS (SELECT doc_id, list_transform(range(1, len(tk) - 1),
       |    si -> ${dPhash("tk[si] || ' ' || tk[si+1] || ' ' || tk[si+2]", "wf")}) AS hs
       |  FROM toks WHERE len(tk) >= 3),
       |f AS (SELECT doc_id, list_transform(range(1, len(hs) - 2), wi ->
       |    {'p': wi + list_max(list_transform(range(1, 5), wj ->
       |        CASE WHEN hs[CAST(wi + wj - 1 AS INTEGER)] = list_min(hs[wi:wi+3])
       |             THEN wj ELSE 0 END)) - 2,
       |     'h': list_min(hs[wi:wi+3])}) AS fps
       |  FROM g WHERE len(hs) >= 4)""".stripMargin

  private lazy val dLshPrefix =
    s"""$dToks,
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk)),
       |         si -> ${dPhash("tk[si] || ' ' || tk[si+1]", "b")})) AS hs
       |       FROM toks WHERE len(tk) >= 2),
       |sigs AS (SELECT doc_id, list_transform(range(0, 16), pi ->
       |    list_min(list_transform(hs, hv ->
       |      (((1103515245*pi + 12345) % $P) * hv + ((1234567891*pi + 987654321) % $P)) % $P))) AS sig
       |  FROM sh),
       |bands AS (SELECT doc_id, sig, bi AS band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), sig[(bi*2+1):(bi*2+2)]),
       |      (hb, vb) -> (hb*31+vb) % $P) AS bucket
       |  FROM sigs, (SELECT unnest(range(0, 8)) AS bi)),
       |bsz AS (SELECT band, bucket FROM bands GROUP BY band, bucket
       |  HAVING count(1) <= 8),
       |pruned AS (SELECT bands.* FROM bands JOIN bsz USING (band, bucket))""".stripMargin

  private lazy val dLshCand =
    s"""$dLshPrefix,
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM pruned a JOIN pruned b ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.doc_id < b.doc_id)""".stripMargin

  /** Shared CTE chain: the full LSH+verify pipeline — d2's candidates
    * exact-verified by true distinct-shingle Jaccard at the 0.02 floor,
    * ending in `vp(id_a, id_b, jaccard)` — reused by d4b (the pairs
    * themselves) and a15 (the per-source-pair rollup), so a threshold
    * or parameter fix can never desync the two mirrors. */
  private lazy val dLshVerified =
    s"""$dLshCand,
       |vp AS (SELECT id_a, id_b, jaccard FROM (
       |    SELECT c.id_a, c.id_b,
       |      CAST(len(list_filter(a.hs, xv -> list_contains(b.hs, xv))) AS DOUBLE)
       |        / CAST(len(list_distinct(list_concat(a.hs, b.hs))) AS DOUBLE) AS jaccard
       |    FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b)
       |  WHERE jaccard >= 0.02)""".stripMargin

  /** Shared CTE chain: distinct user-days → per-day DAU → trailing
    * 30-day MAU via the bounded range join — ends with `dau(d, dau)`
    * and `mau(d, mau)` in scope; reused by st8 (the frame itself) and
    * st8b (the same frame next to the sketch-gate booleans). */
  private lazy val dDauMau =
    """ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |dau AS (SELECT d, CAST(count(1) AS BIGINT) AS dau FROM ud GROUP BY d),
      |dl AS (SELECT DISTINCT d FROM ud),
      |mau AS (SELECT dl.d, CAST(count(DISTINCT ud.u) AS BIGINT) AS mau
      |  FROM dl JOIN ud ON ud.d <= dl.d AND ud.d >= dl.d - 29
      |  GROUP BY dl.d)""".stripMargin

  /** Shared CTE: whitespace tokens of documents. */
  private val dToks =
    """toks AS (SELECT doc_id, lang, source,
      |  regexp_split_to_array(trim(text), '\s+') AS tk FROM documents)""".stripMargin

  /** Shared CTE: the deterministic web-structure fixture — exact mirror of
    * [[graft.ops.WebCuration.webRawText]] at wordsPerLine=7 (7-token
    * lines; `- ` bullets when doc_id%7=0; `...`/none/`.` punctuation by
    * (doc_id+line)%5; ` ###` junk when doc_id%11=0; chr(10) joins). */
  private val dWebRaw =
    """toks AS (SELECT doc_id, lang, source,
      |  regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
      |raws AS (SELECT doc_id, array_to_string(
      |  list_transform(range(0, CAST(floor((len(tk) + 6) / 7.0) AS BIGINT)), li ->
      |    (CASE WHEN doc_id % 7 = 0 THEN '- ' ELSE '' END) ||
      |    array_to_string(list_slice(tk, li*7+1, li*7+7), ' ') ||
      |    (CASE WHEN (doc_id + li) % 5 = 0 THEN '...'
      |          WHEN (doc_id + li) % 5 = 4 THEN '' ELSE '.' END) ||
      |    (CASE WHEN doc_id % 11 = 0 THEN ' ###' ELSE '' END)),
      |  chr(10)) AS raw FROM toks)""".stripMargin

  /** Shared CTE: embeddings as double lists + precomputed norms. */
  private def dVecs(sfx: String): String =
    s"""vecs AS (SELECT vec_id, label,
       |  list_transform(embedding, cx$sfx -> CAST(cx$sfx AS DOUBLE)) AS v FROM embeddings),
       |normed AS (SELECT vec_id, label, v, ${dNorm("v", s"n$sfx")} AS nrm FROM vecs)""".stripMargin

  /** DuckDB left-fold squared-L2 distance between two 64-dim double
    * lists, in index order from 0.0 — mirrors `Similarity.nearestIdx`'s
    * aggregate over `zip_with` exactly. */
  private def dL2(a: String, b: String, sfx: String, dim: Int = 64): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, ${dim + 1}), li$sfx -> " +
      s"(($a)[li$sfx] - ($b)[li$sfx]) * (($a)[li$sfx] - ($b)[li$sfx]))), " +
      s"(la$sfx, lb$sfx) -> la$sfx + lb$sfx)"

  /** DuckDB mirror of [[graft.ops.Similarity.centroids]]' HIERARCHICAL
    * two-level fold (chunkSize 1024): vectors fold per 1024-row chunk in
    * vec_id order, chunk sums fold in chunk order, divide by the group
    * count — bit-identical to the Spark fold at ANY group size (not just
    * groups that fit one chunk), so the oracle stays valid at scale
    * factors where a group exceeds the chunk. Emits a SELECT producing
    * (`grp`, centroid, n) from `src` rows (`grp`, vec_id, v). */
  private def dCentroids(src: String, grp: String, sfx: String, dim: Int = 64): String =
    s"""SELECT $grp,
       |    list_transform(range(1, ${dim + 1}), fd$sfx ->
       |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(css$sfx, cw$sfx -> cw$sfx[fd$sfx])),
       |        (fa$sfx, fb$sfx) -> fa$sfx + fb$sfx) / nn$sfx) AS centroid,
       |    nn$sfx AS n
       |  FROM (
       |    SELECT $grp, list(cs$sfx ORDER BY ch$sfx) AS css$sfx,
       |      CAST(sum(cn$sfx) AS DOUBLE) AS nn$sfx
       |    FROM (
       |      SELECT $grp, ch$sfx,
       |        list_transform(range(1, ${dim + 1}), cd$sfx ->
       |          list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |            list_transform(vs$sfx, vw$sfx -> vw$sfx[cd$sfx])),
       |            (ca$sfx, cb$sfx) -> ca$sfx + cb$sfx)) AS cs$sfx,
       |        len(vs$sfx) AS cn$sfx
       |      FROM (
       |        SELECT $grp, ((rk$sfx - 1) // 1024) AS ch$sfx,
       |          list(v ORDER BY rk$sfx) AS vs$sfx
       |        FROM (SELECT $grp, v,
       |            row_number() OVER (PARTITION BY $grp ORDER BY vec_id) AS rk$sfx
       |          FROM $src)
       |        GROUP BY 1, 2))
       |    GROUP BY 1)""".stripMargin

  /** DuckDB mirror of [[graft.ops.Similarity.kmeans]] — deterministic
    * Lloyd's, unrolled: emits CTEs cent0..cent`iters` (requires a `vecs`
    * CTE with (vec_id, v)). Init = first k vectors by ascending vec_id;
    * assignment = first-wins argmin of the left-fold squared L2; means =
    * the hierarchical [[dCentroids]] fold; empty clusters keep their
    * centroid. Every operation replays the Spark plan's IEEE ops in the
    * same order, so assignments (and therefore the downstream IVF answer)
    * are bit-identical. */
  private def dKmeans(k: Int, iters: Int, src: String = "vecs",
      pfx: String = "", dim: Int = 64): String = {
    val init =
      s"""cent${pfx}0 AS (SELECT CAST(rn${pfx}0 - 1 AS INTEGER) AS cluster, v AS centroid
         |  FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn${pfx}0 FROM $src)
         |  WHERE rn${pfx}0 <= $k)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""asg$pfx$i AS (SELECT vec_id, v, cluster FROM (
         |    SELECT va$pfx$i.vec_id, va$pfx$i.v, cc$pfx$i.cluster,
         |      row_number() OVER (PARTITION BY va$pfx$i.vec_id
         |        ORDER BY ${dL2(s"va$pfx$i.v", s"cc$pfx$i.centroid", s"z$pfx$i", dim)}, cc$pfx$i.cluster) AS ar$pfx$i
         |    FROM $src va$pfx$i CROSS JOIN cent$pfx${i - 1} cc$pfx$i) WHERE ar$pfx$i = 1),
         |mean$pfx$i AS (${dCentroids(s"asg$pfx$i", "cluster", s"m$pfx$i", dim)}),
         |cent$pfx$i AS (SELECT pp$pfx$i.cluster,
         |    COALESCE(mm$pfx$i.centroid, pp$pfx$i.centroid) AS centroid
         |  FROM cent$pfx${i - 1} pp$pfx$i LEFT JOIN mean$pfx$i mm$pfx$i ON pp$pfx$i.cluster = mm$pfx$i.cluster)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  /** DuckDB mirror of the int8 quantization pair
    * [[graft.functions.VectorAnalytics.int8Scale]]/`quantizeInt8`:
    * emits (codes list, norm) select items for a double-list column —
    * same formula the hash-checked n3 oracle uses. */
  private def dQuantize(v: String, sfx: String): String =
    s"""CASE WHEN ${dScale(v, sfx)} = 0 THEN list_transform($v, zq$sfx -> CAST(0 AS DOUBLE))
       |     ELSE list_transform($v, xq$sfx ->
       |       least(greatest(floor(xq$sfx / ${dScale(v, sfx)} + 0.5), -127.0), 127.0)) END""".stripMargin

  private def dScale(v: String, sfx: String): String =
    s"(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform($v, aq$sfx -> abs(aq$sfx))), " +
      s"(b1$sfx, b2$sfx) -> greatest(b1$sfx, b2$sfx)) / 127.0)"

  // =========================================================================

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- deduplication ----------------------------------------------------

    // Exact dedup: hash-groupBy on the content hash (one shuffle, map-side
    // partial agg).
    "d1_exact_dedup" -> { (s, dir) =>
      Dedup.exact(Tables.load(s, dir, "documents"), "doc_id", TA.phash(col("text")))
        .orderBy("content_hash")
    },

    // PageRank centrality over the d2 LSH candidate graph: the canonical-
    // representative signal for dedup clusters (the most-connected
    // variant is usually the clean original; min-id picks an arbitrary
    // copy). Same LSH parameters as d2 so the oracle shares its chain.
    "g1_pagerank" -> { (s, dir) =>
      val pairs = Dedup
        .minhashLshPairsWithShingles(docShingles(s, dir), k = 16, bands = 8,
          maxBucketSize = Some(8))
        .select("id_a", "id_b")
      Dedup.pagerankCentrality(pairs, iters = 3).orderBy("id")
    },

    // Winnowing fingerprints (MOSS): per document, the rightmost-min
    // 3-gram hash of every 4-gram-hash window, distinct — guarantees a
    // shared fingerprint for any ≥6-token overlap at ~2/5 the density
    // of the full gram set. The positional, local upgrade of e4's
    // global min-shingle.
    "d14_winnow_fp" -> { (s, dir) =>
      Dedup.winnowFingerprints(Tables.load(s, dir, "documents"),
          "doc_id", "text", shingleN = 3, window = 4)
        .orderBy("doc_id", "fp_pos", "fp_hash")
    },

    // The MOSS overlap report over d14's fingerprints: document pairs
    // sharing ≥3 distinct winnow hashes (the doc-frequency cap plays the
    // boilerplate-guard role LSH's bucket cap plays; 60 clears the
    // sf5 corpus's ~50-copy near-dup groups so real overlap stays
    // detectable at every test scale). Complete for overlaps of ≥6
    // tokens by the winnowing guarantee.
    "d15_winnow_overlap" -> { (s, dir) =>
      Dedup.winnowOverlapPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", shingleN = 3, window = 4, minShared = 3,
          maxDocFreq = 60)
        .orderBy("id_a", "id_b")
    },

    // Incremental near-dup dedup: the 10% "new ingest batch" slice is
    // deduplicated against the 90% existing corpus (and earlier batch
    // ids) — the operational per-ingest shape that never re-pairs the
    // corpus with itself. Same LSH family as d2 (k=16, bands=8, 2-gram,
    // bucket cap 8) so the oracle shares the signature chain; survivors
    // are batch docs with no verified partner at true Jaccard ≥ 0.3.
    // r21: both sides' shingles come straight from the shared signature
    // artifact (same rows the inline tokenize pass derived — corpus =
    // id%10≠0, batch = id%10=0 partition the SAME table), so the query
    // tokenizes nothing and the corpus-scale cache the inline op
    // carried is gone (the round-20 verdict's d13 note).
    "d13_incremental_dedup" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.incrementalNearDupFilterWithShingles(
          docShingles(s, dir).withColumn("__new", col("id") % 10 === 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", minJaccard = 0.3,
          k = 16, bands = 8, maxBucketSize = Some(8))
        .select("doc_id", "source").orderBy("doc_id")
    },

    // Connected components over the same LSH candidate graph via the
    // alternating large-star/small-star contraction (Kiveris et al.
    // SoCC'14) — the cluster labels every "keep one per dup cluster"
    // decision reads. The fixpoint labels each node with its
    // component's MIN id, an algorithm-independent answer the oracle
    // re-derives by recursive min-label propagation, so the O(log n)
    // contraction is checked against ground truth it cannot share.
    // Labels come from the SHARED per-(session, corpus) memo
    // ([[lshClusterLabels]]): cluster once, let every consumer (g2's
    // listing, g3's representative policy) read the same label table —
    // the cost shape a production dedup pipeline has.
    "g2_connected_components" -> { (s, dir) =>
      lshClusterLabels(s, dir).orderBy("id")
    },

    // Quality-aware canonical representative per dup cluster: g2's
    // component labels joined with e2's quality score, arg-max per
    // cluster (score DESC, id ASC) — the "keep the BEST copy" policy a
    // curation pipeline applies after clustering, instead of min-id.
    "g3_cluster_reps" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.representativesFromLabels(lshClusterLabels(s, dir),
          docs.select(col("doc_id"), TA.qualityScore(col("text")).as("q")),
          "doc_id", "q")
        .orderBy("cluster")
    },

    // SemDeDup-style semantic clustering: connected components over the
    // mutual-kNN edge set (n12) — groups whose neighbor relations are
    // reciprocal, the clusters semantic dedup keeps one member of.
    "g4_semantic_clusters" -> { (s, dir) =>
      Dedup.clusterPairs(
          Similarity.knnGraphFromDirected(exactKnnDirected(s, dir, k = 5))
            .select("id_a", "id_b"))
        .orderBy("id")
    },

    // Per-node triangle count + local clustering coefficient on the
    // mutual-kNN graph — the neighbor-graph quality diagnostic (tight
    // semantic cliques → coeff 1; hub/noise neighborhoods → 0). Wedge
    // enumeration is two id-keyed equi-joins on the bounded-degree edge
    // list, never a cartesian.
    "g6_knn_triangles" -> { (s, dir) =>
      Dedup.triangleCounts(
          Similarity.knnGraphFromDirected(exactKnnDirected(s, dir, k = 5))
            .select("id_a", "id_b"))
        .orderBy("id")
    },

    // Per-cluster keyword labels via class-based TF-IDF (odds idf, so
    // scores hash-match float-for-float): names what each semantic
    // cluster IS — the browse/summarize step downstream of clustering.
    // The oracle replays the kmeans training AND the c-TF-IDF scoring.
    "g5_cluster_keywords" -> { (s, dir) =>
      graft.ops.CorpusOps.clusterKeywords(Tables.load(s, dir, "documents"),
          "doc_id", "text",
          kmEmbLabels(s, dir, k = 10, iters = 3)
            .withColumnRenamed("vec_id", "id"),
          kClusters = 10, topM = 5)
        .orderBy("cluster", "rank")
    },

    // Normalization-aware exact dedup: hash AFTER CCNet-style text
    // normalization (lowercase, strip punctuation to spaces, collapse
    // whitespace) so case/punctuation variants of the same content land
    // in one group — the standard first dedup pass before fuzzy stages.
    "d11_norm_dedup" -> { (s, dir) =>
      Dedup.exact(Tables.load(s, dir, "documents"), "doc_id",
          TA.phash(TA.normalizeText(col("text"))))
        .orderBy("content_hash")
    },

    // MinHash+LSH near-dup candidates: shingle→minhash→band→bucket-join.
    // maxBucketSize keeps the skew guard (the thing that makes LSH
    // 100 TB-safe on boilerplate-heavy corpora) in the oracle-checked
    // plan: at sf0.01 it actively drops the two size-12 degenerate
    // buckets, so a regression in the pruned path breaks the hash-match.
    "d2_minhash_lsh" -> { (s, dir) =>
      Dedup.minhashLshPairsWithShingles(docShingles(s, dir),
          k = 16, bands = 8, maxBucketSize = Some(8))
        .orderBy("id_a", "id_b")
    },

    // Per-document SimHash (24-bit) over token hashes; the pair scan is
    // exercised in DedupSpec (simhashPairs) — this checks the signature.
    "d3_simhash" -> { (s, dir) =>
      Dedup.simhashes(Tables.load(s, dir, "documents"), "doc_id", "text", bits = 24)
        .orderBy("id")
    },

    // Exact 2-gram Jaccard over (lang, source)-blocked pairs — the verify
    // stage downstream of LSH candidates. r21: reads the shared 2-gram
    // signature ARTIFACT (the same rows the inline pass derived —
    // guide §2.4: at 100 TB the signature table is computed once per
    // corpus version, and the tokenize+hash+distinct pass was this
    // query's dominant map cost, ProfileQ: 2 single-task ~200 ms stages
    // re-deriving it); the (lang, source) block key attaches as one
    // id-keyed join of two narrow columns.
    "d4_ngram_jaccard" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.ngramJaccardPairsWithShingles(docShingles(s, dir),
          docs.select(col("doc_id").as("id"),
            xxhash64(col("lang"), col("source")).as("blk")),
          minJaccard = 0.02)
        .orderBy("id_a", "id_b")
    },

    // OUTPUT-BOUNDED near-dup verification — the form a 100 TB dedup job
    // actually runs: LSH candidates (d2's exact parameters, skew guard
    // included) exact-verified by true distinct-shingle Jaccard. Unlike
    // the standalone d4 (whose answer grows quadratically on
    // near-dup-dense corpora — the one sf5 oracle hole in SCALE.md), the
    // answer here never exceeds the LSH candidate count.
    "d4b_lsh_verified" -> { (s, dir) =>
      Dedup.lshVerifiedPairsWithShingles(docShingles(s, dir),
          minJaccard = 0.02, k = 16, bands = 8, maxBucketSize = Some(8))
        .orderBy("id_a", "id_b")
    },

    // LSH recall evaluation — the dedup counterpart of n4/n7's ANN
    // recall loop: ground-truth near-dup pairs (exact blocked Jaccard,
    // the offline-sample pass a production pipeline runs when tuning
    // bands/rows) vs what the LSH+verify path finds, bucketed by true
    // Jaccard. Shows exactly where the 8-band sketch loses pairs (low
    // buckets) and that high-similarity pairs are caught. The TRUTH side
    // is d4's deliberately-quadratic shape, so like d4 this query is
    // tuning-sample scale only (sf0.01: recall 0.015 at j∈[0.05,0.1),
    // 1.0 at j≥0.9 — the textbook banding S-curve), never a corpus pass.
    // r21: reads the shared 2-gram signature artifact (guide §2.4, the
    // d4 rewiring note) instead of re-running the tokenize+hash+distinct
    // pass inline; block keys attach as one id-keyed narrow join.
    "d12_lsh_recall" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.lshRecallReportWithShingles(
          docShingles(s, dir).join(
            docs.select(col("doc_id").as("id"),
              xxhash64(col("lang"), col("source")).as("blk")),
            Seq("id")),
          minJaccard = 0.05, k = 16, bands = 8, maxBucketSize = Some(8))
        .orderBy("bucket")
    },

    // Exact duplicated-SPAN detection (Lee et al. ACL'22 substring
    // dedup): maximal token spans whose 5-grams all occur in ≥2 docs —
    // the cut-don't-drop stage that localizes boilerplate/quotes inside
    // otherwise-unique documents. Output bounded by corpus tokens (one
    // row per maximal span), never pair-quadratic.
    "d9_dup_spans" -> { (s, dir) =>
      Dedup.duplicatedSpans(Tables.load(s, dir, "documents"), "doc_id", "text",
          n = 5, minDocs = 2)
        .orderBy("doc_id", "span_start")
    },

    // The surgery stage downstream of d9: cut every flagged span and
    // re-emit cleaned text, auditable row-for-row (fully-cut docs come
    // back empty, not missing).
    "d10_cut_spans" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val spans = Dedup.duplicatedSpans(docs, "doc_id", "text", n = 5, minDocs = 2)
      Dedup.cutSpans(docs, "doc_id", "text", spans).orderBy("doc_id")
    },

    // Cross-SPLIT n-gram leakage audit — the decontamination check a lab
    // runs BEFORE training on its own train/val/test cut (d6/d8 check
    // against external benchmarks; this checks the internal split): for
    // each ordered split pair, how many of b's distinct 5-grams also
    // appear in a. A high train→test leak_rate means test perplexity is
    // partly memorization. Bounded by distinct grams (the h-keyed join
    // carries ≤ #splits rows per gram), never doc-pairwise.
    "d22_split_leakage" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val splits = graft.ops.CorpusOps.hashSplit(docs, "doc_id")
        .select(col("doc_id").as("id"), col("split"))
      val sg = Dedup.shingleRows(docs, "doc_id", "text", shingleN = 5)
        .join(splits, Seq("id"))
        .select("split", "h").distinct()
      val sz = sg.groupBy("split").agg(count(lit(1)).as("n"))
      sg.select(col("split").as("split_a"), col("h"))
        .join(sg.select(col("split").as("split_b"), col("h")), Seq("h"))
        .filter(col("split_a") =!= col("split_b"))
        .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_shared"))
        .join(sz.select(col("split").as("split_a"), col("n").as("n_grams_a")),
          Seq("split_a"))
        .join(sz.select(col("split").as("split_b"), col("n").as("n_grams_b")),
          Seq("split_b"))
        .withColumn("leak_rate",
          col("n_shared").cast("double") / col("n_grams_b").cast("double"))
        .select("split_a", "split_b", "n_grams_a", "n_grams_b", "n_shared",
          "leak_rate")
        .orderBy("split_a", "split_b")
    },

    // Per-source dedup IMPACT report — what near-dup dedup costs each
    // source under the min-id keep policy: docs in a dup cluster,
    // members dropped (label ≠ own id), and the drop rate. Reads the
    // same memoized cluster-label table as g2/g3 (at 100 TB you cluster
    // once per corpus version and every report joins the labels); the
    // join moves one bounded label row per clustered doc.
    "d21_dedup_impact" -> { (s, dir) =>
      Tables.load(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(lshClusterLabels(s, dir)
            .select(col("id").as("doc_id"), col("cluster")),
          Seq("doc_id"), "left_outer")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cluster").isNotNull, 1L).otherwise(0L))
            .as("n_in_clusters"),
          sum(when(col("cluster").isNotNull && col("cluster") =!= col("doc_id"),
            1L).otherwise(0L)).as("n_dropped"))
        .withColumn("drop_rate",
          col("n_dropped").cast("double") / col("n_docs").cast("double"))
        .orderBy("source")
    },

    // Cross-document 5-gram novelty profile — the per-doc "how
    // derivative is this document" score under a first-seen-keeps-credit
    // rule (min doc id owns each gram): the signal that cuts template
    // expansions / quote compilations no single pair-wise threshold
    // catches. One gram-hash shuffle + one doc shuffle, nothing
    // pairwise.
    "e34_ngram_novelty" -> { (s, dir) =>
      Dedup.ngramNovelty(Tables.load(s, dir, "documents"), "doc_id", "text",
          n = 5)
        .orderBy("doc_id")
    },

    // Embedding-cosine near-dup pairs, blocked by the coarse label.
    "d5_embed_neardup" -> { (s, dir) =>
      Dedup.embeddingNearDupPairs(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          Seq("label"), minCosine = 0.2)
        .orderBy("id_a", "id_b")
    },

    // SemDeDup (kmeans coarse clusters → within-cluster cosine →
    // pairwise-greedy keep-min-id): the LEARNED-blocking counterpart of
    // d5's given-label blocks. The oracle replays the full Lloyd
    // training (init → 5 iterations → assignment) bit-exactly, so a
    // green hash certifies training + blocking + the drop policy.
    "d16_semdedup" -> { (s, dir) =>
      Dedup.semDedupWithLabels(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding",
          kmEmbLabels(s, dir, k = 20, iters = 5),
          minCosine = 0.2)
        .orderBy("vec_id")
    },

    // MinHash-containment pairs: |A∩B|/min(|A|,|B|) over the d2 LSH
    // candidates — catches the quote/boilerplate case (small doc inside
    // big doc) that Jaccard structurally misses.
    "d17_containment" -> { (s, dir) =>
      Dedup.lshContainmentPairsWithShingles(docShingles(s, dir),
          minContainment = 0.3, k = 16, bands = 8, maxBucketSize = Some(8))
        .orderBy("id_a", "id_b")
    },

    // Edit-distance verification of LSH candidates — the CHARACTER-level
    // verifier (Levenshtein similarity on a 256-char prefix cap) next to
    // the set-overlap verifiers d4b/d17: catches order-preserving edits
    // that bag-of-shingles Jaccard can't distinguish from reshuffles.
    // The 4/16 sketch screen in front of the DP is the production
    // composition (a DP is ~10⁴× a signature compare; the screen cuts
    // the DP set 7× at sf0.1); cost is screened-candidates × prefixLen².
    "d19_edit_verify" -> { (s, dir) =>
      Dedup.lshEditVerifiedPairs(Tables.loadSpread(s, dir, "documents"),
          docShingles(s, dir), "doc_id", "text", minSim = 0.3,
          prefixLen = 256, k = 16, bands = 8, maxBucketSize = Some(8),
          minEst = 0.25)
        .orderBy("id_a", "id_b")
    },

    // MinHash estimation-error report — the k (signature width) tuning
    // loop: per candidate pair, the signature-agreement estimate m/16
    // next to the TRUE distinct-shingle Jaccard and |error|. Zero-
    // overlap candidates stay in the report (est > 0, true 0 is exactly
    // the error banding produces); every value is an exact rational.
    "d20_minhash_est" -> { (s, dir) =>
      Dedup.minhashEstimationReport(docShingles(s, dir),
          k = 16, bands = 8, maxBucketSize = Some(8))
        .orderBy("id_a", "id_b")
    },

    // ---- beyond-reference relational completeness ------------------------

    // ROLLUP hierarchy totals (Catalyst Expand-based grouping sets).
    "a4_rollup" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(asc_nulls_first("lang"), asc_nulls_first("source"))
    },

    // CUBE with grouping_id: all four grouping-set combinations in one
    // pass (Expand under the hood), decimal-exact sums.
    "a9_cube" -> { (s, dir) =>
      Tables.load(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(20, 2)))
            .cast("double").as("sum_price"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    },

    // UNPIVOT (melt): wide per-status measures → long (measure, value)
    // rows — the inverse of a8's PIVOT, closing the reshape pair. Spark's
    // Dataset.unpivot lowers to ONE Expand over the aggregated frame (3
    // rows per status, no join, no extra shuffle beyond the agg); every
    // measure is exactly representable (count, decimal-exact sum/max)
    // before the final double cast, so the long form hash-matches the
    // oracle's portable UNION ALL replay.
    "a13_unpivot" -> { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(20, 2)
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).cast("double").as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("sum_price"),
          max(col("o_totalprice").cast(dec)).cast("double").as("max_price"))
        .unpivot(Array(col("o_orderstatus")),
          Array(col("n_orders"), col("sum_price"), col("max_price")),
          "measure", "value")
        .orderBy("o_orderstatus", "measure")
    },

    // Corpus statistical profile — the per-source report card a curation
    // run publishes: doc counts, token totals, and tokens-per-doc
    // moments (mean/variance/stddev). Moments come from EXACT integer
    // sums (n, Σt, Σt² — all < 2^53) with cross-engine-ordered double
    // casts at the end, so even variance hash-matches where a Welford-
    // style streaming stddev never would; one hash-agg pass, map-side
    // partials, no window.
    "a10_corpus_profile" -> { (s, dir) =>
      val t = Tables.load(s, dir, "documents")
        .select(col("source"), size(TA.tokens(col("text"))).cast("long").as("t"))
      t.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("t")).as("sum_t"),
          sum(col("t") * col("t")).as("sum_t2"),
          min(col("t")).as("min_t"),
          max(col("t")).as("max_t"))
        .withColumn("mean_t",
          col("sum_t").cast("double") / col("n_docs").cast("double"))
        // a single-doc source has no sample variance (0/0 → NaN in the
        // published report); NULL states "undefined" honestly
        .withColumn("var_t", when(col("n_docs") >= lit(2L),
          (col("sum_t2").cast("double")
            - col("sum_t").cast("double") * col("sum_t").cast("double")
              / col("n_docs").cast("double"))
            / (col("n_docs") - 1).cast("double")))
        .withColumn("stddev_t", sqrt(col("var_t")))
        .orderBy("source")
    },

    // Tokenizer fertility per language: mean subwords-per-word under the
    // corpus-trained 6-merge BPE table — the tokenizer-evaluation metric
    // that tells a mixing policy which languages pay more sequence
    // length per unit text. Segmentation runs once per distinct word;
    // the oracle replays training + apply stage-unrolled.
    "e36_bpe_fertility" -> { (s, dir) =>
      graft.ops.CorpusOps.bpeFertility(Tables.load(s, dir, "documents"),
          "text", "lang", numMerges = 6)
        .orderBy("lang")
    },

    // Per-source token-distribution divergence from the corpus mixture
    // (DoReMi-flavored mixing diagnostic, model-free unigram form):
    // KL-style gap in integer floor-log2 bits over the shared top-5000
    // vocabulary — which sources are redundant with the pooled mixture
    // and which carry distinct content. Exact integer sums, one division
    // per source at the end.
    "a11_source_divergence" -> { (s, dir) =>
      graft.ops.CorpusOps.sourceDivergenceBits(
          Tables.load(s, dir, "documents"), "text", "source", vocabSize = 5000)
        .orderBy("source")
    },

    // Per-source corpus HEALTH report — the one-plan composition a
    // curation run publishes per corpus version: volume (docs/tokens),
    // cross-document novelty (Σ novel-grams / Σ grams — exact rational,
    // low = template-heavy source), and distribution divergence from the
    // mixture (a11's kl_bits — near-zero = redundant source). Each
    // branch reduces the corpus to ≤ one row per source before the
    // three-way join, so the joins move 20 rows no matter the scale;
    // this is the dashboard behind mixing/retention decisions.
    "a12_corpus_health" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val prof = docs
        .select(col("source"), size(TA.tokens(col("text"))).cast("long").as("t"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
      val nov = Dedup.ngramNovelty(docs, "doc_id", "text", n = 5)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source")
        .agg(sum(col("n_grams")).as("sum_grams"), sum(col("n_novel")).as("sum_novel"))
      val div = graft.ops.CorpusOps
        .sourceDivergenceBits(docs, "text", "source", vocabSize = 5000)
        .select(col("source"), col("kl_bits"))
      prof.join(nov, Seq("source")).join(div, Seq("source"))
        .withColumn("novelty",
          col("sum_novel").cast("double") / col("sum_grams").cast("double"))
        .orderBy("source")
    },

    // Cross-source near-dup overlap matrix — which sources duplicate
    // WHICH OTHER sources (mirror-site detection, the pairwise upgrade
    // of d21's per-source dup impact): the d2-family LSH+verify chain
    // once (shared shingle artifact), sources joined on both ends,
    // orientation normalized (least/greatest), per-pair counts with
    // order-independent min/max jaccard — no double sums, so the report
    // stays hash-exact. Output ≤ sources² rows.
    "a15_source_overlap" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val vp = Dedup.lshVerifiedPairsWithShingles(docShingles(s, dir),
        minJaccard = 0.02, k = 16, bands = 8, maxBucketSize = Some(8))
      val src = docs.select(col("doc_id"), col("source"))
      vp.join(src.select(col("doc_id").as("id_a"), col("source").as("sa0")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb0")),
          Seq("id_b"))
        .select(least(col("sa0"), col("sb0")).as("source_a"),
          greatest(col("sa0"), col("sb0")).as("source_b"), col("jaccard"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"),
          min(col("jaccard")).as("min_jaccard"),
          max(col("jaccard")).as("max_jaccard"),
          sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_strong"))
        .orderBy("source_a", "source_b")
    },

    // DAU/MAU stickiness — the engagement headline over the event log:
    // distinct daily actives vs trailing-30-day actives per day, exact
    // (truth-side form; a dashboard might sketch the MAU branch). One
    // distinct over (user, day), then a bounded 30× expansion of that
    // deduped table — never of the raw log. The harness emits the day as
    // an ISO string (both engines' native DATE frames land as different
    // pandas dtypes in the compare).
    "st8_dau_mau" -> { (s, dir) =>
      graft.ops.EventAnalytics.dauMau(Tables.events(s, dir), "user_id", "ts")
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
    },

    // The sketch twin under the x1 contract pattern: exact DAU/MAU next
    // to booleans gating the HLL estimates (|est − exact| within 10%
    // relative, absolute floor 6 — lgK=12 runs ~1.6% standard error, so
    // 10% ≈ 6σ: the gate cannot flip on a re-rolled dataset or a new
    // scale point, where a 5% ≈ 3σ gate would carry material aggregate
    // flip probability across 2 gates × 30 days × scale points. HLL
    // state is a hash-max, so the estimate is deterministic per input
    // set and the gated booleans hash-stably TRUE). The estimates
    // themselves stay out of the output — DuckDB has no DataSketches
    // HLL to reproduce them.
    "st8b_dau_mau_hll" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val exact = graft.ops.EventAnalytics.dauMau(ev, "user_id", "ts")
      val est = graft.ops.EventAnalytics.dauMauApprox(ev, "user_id", "ts")
      def ok(e: Column, x: Column) =
        abs(e - x.cast("double")) <= greatest(lit(6.0), x.cast("double") * 0.10)
      exact.join(est, Seq("day"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("mau"),
          ok(col("dau_est"), col("dau")).as("dau_ok"),
          ok(col("mau_est"), col("mau")).as("mau_ok"))
        .orderBy("day")
    },

    // Per-source vocabulary profile: token volume, type counts, hapax
    // legomena, the modal token, type-token ratio — the lexical-diversity
    // panel of the corpus dashboard (a collapsing TTR/hapax share across
    // versions is the early template-flood signal). One (source, token)
    // shuffle with map-side partials, then a vocabulary-bounded rollup.
    "a14_vocab_stats" -> { (s, dir) =>
      graft.ops.CorpusOps
        .vocabStats(Tables.load(s, dir, "documents"), "text", "source")
        .orderBy("source")
    },

    // Bigram collocations by integer-bits PMI (Church & Hanks CL'90):
    // pair formation is a pure map inside each doc's token array (never
    // a self-join), unigram model joins back broadcast, top-20 by
    // (count desc, pair) — the tokenizer-audit report of which adjacent
    // pairs behave as single lexical units.
    "e38_collocations" -> { (s, dir) =>
      graft.ops.CorpusOps
        .collocationBits(Tables.load(s, dir, "documents"), "text",
          topK = 20, minCount = 5)
    },

    // Frequency-of-frequency table (Good–Turing / Zipf-tail diagnostic):
    // how many distinct tokens occur exactly f times, lowest 20 f's —
    // the head that drives every smoothing estimate, and the class that
    // bulges when duplicated content floods a corpus version.
    "e39_freq_of_freq" -> { (s, dir) =>
      graft.ops.CorpusOps
        .freqOfFreq(Tables.load(s, dir, "documents"), "text", topK = 20)
    },

    // Semi-structured round trip (the Snowflake VARIANT analogue): build
    // nested JSON per row, then extract scalars back by path — both
    // engines construct their own JSON, so the check is on extraction
    // correctness, not cross-engine string formatting.
    "e13_json" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val j = to_json(struct(col("doc_id"), col("lang"),
        struct(col("source"), col("n_chars")).as("meta")))
      docs.select(col("doc_id"),
          get_json_object(j, "$.lang").as("j_lang"),
          get_json_object(j, "$.meta.source").as("j_source"),
          get_json_object(j, "$.meta.n_chars").cast("long").as("j_chars"))
        .orderBy("doc_id")
    },

    // Distinct aggregates alongside plain ones.
    "a5_distinct_agg" -> { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy("o_orderpriority")
    },

    // min / max / exact avg (decimal-sum / count).
    "a6_minmax" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          (sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(20, 2)))
            .cast("double") / count(lit(1)).cast("double")).as("avg_qty"))
        .orderBy("l_returnflag")
    },

    // Three-level snowflake-dimension join (supplier→nation→region) with
    // a per-region rollup — exercises the last untouched harness table.
    "j10_snowflake_dims" -> { (s, dir) =>
      val su = Tables.load(s, dir, "supplier")
      val na = Tables.load(s, dir, "nation")
      val re = Tables.load(s, dir, "region")
      su.join(broadcast(na), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(re), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast(org.apache.spark.sql.types.DecimalType(20, 2)))
            .cast("double").as("sum_acctbal"))
        .orderBy("r_name", "n_name")
    },

    // Left-outer join + anti-join semantics: customers with their order
    // counts, unmatched customers flagged (anti set = no_orders true).
    "j8_outer_anti" -> { (s, dir) =>
      val c = Tables.load(s, dir, "customer").select("c_custkey", "c_mktsegment")
      val oc = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(oc, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("c_mktsegment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          col("n_orders").isNull.as("no_orders"))
        .orderBy("c_custkey")
    },

    // Full-outer join with side indicators and key coalescing.
    "j9_full_outer" -> { (s, dir) =>
      val n = Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
      val a = n.filter(col("n_nationkey") < 15)
        .select(col("n_nationkey").as("ka"), col("n_name").as("name_a"))
      val b = n.filter(col("n_nationkey") >= 10)
        .select(col("n_nationkey").as("kb"), upper(col("n_name")).as("name_b"))
      a.join(b, col("ka") === col("kb"), "full_outer")
        .select(coalesce(col("ka"), col("kb")).as("k"),
          col("name_a"), col("name_b"),
          col("ka").isNotNull.as("in_a"), col("kb").isNotNull.as("in_b"))
        .orderBy("k")
    },

    // Backward as-of join: each click joined to the latest preceding view
    // by the same user (union + one window pass — no per-key arrays).
    "j6_asof_join" -> { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts_us")
      val views = graft.ops.DedupLatest(
        ev.filter(col("event_type") === "view")
          .select("user_id", "event_id", "ts_us", "value"),
        Seq("user_id", "ts_us"), Seq(col("event_id").desc))
      graft.ops.TemporalJoins.asofBackward(clicks, views, Seq("user_id"), "ts_us",
          Map("event_id" -> "view_event_id", "value" -> "view_value"))
        .orderBy("user_id", "ts_us", "event_id")
    },

    // Range (interval-overlap) join without an equi key: global hour-long
    // windows vs all events, executed as a binned equi-join + post-filter.
    "j7_range_join" -> { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val iv = ev.groupBy(col("user_id").as("interval_id"))
        .agg(min(col("ts_us")).as("start_us"))
        .filter(col("interval_id") < 20)
        .withColumn("end_us", col("start_us") + lit(3600000000L))
      graft.ops.TemporalJoins.pointInRange(
          ev.select("event_id", "ts_us"), iv, "ts_us", "start_us", "end_us",
          binWidth = 600000000L)
        .groupBy("interval_id").agg(count(lit(1)).as("n_events"))
        .orderBy("interval_id")
    },

    // SCD type-2 merge: close changed current rows, open new versions,
    // pass history and no-op changes through (the dimension-history
    // operator the reference's dim start/end columns are shaped for).
    "j12_scd2" -> { (s, dir) =>
      val p = Tables.load(s, dir, "part")
      val dim = p.filter(col("p_partkey") % 2 === 0).select(
          col("p_partkey").as("item_id"), col("p_name").as("item_desc"),
          col("p_retailprice").as("price"),
          lit(1L).as("start_ts"), lit(null).cast("long").as("end_ts"))
        .unionByName(p.filter(col("p_partkey") % 10 === 0).select(
          col("p_partkey").as("item_id"), concat(col("p_name"), lit("_old")).as("item_desc"),
          (col("p_retailprice") - 1).as("price"),
          lit(0L).as("start_ts"), lit(1L).cast("long").as("end_ts")))
      val changes = p.filter(col("p_partkey") % 3 === 0).select(
          col("p_partkey").as("item_id"), col("p_name").as("item_desc"),
          (col("p_retailprice") * 2).as("price"), lit(5L).as("ts"))
        .unionByName(p.filter(col("p_partkey") % 4 === 0 && col("p_partkey") % 3 =!= 0).select(
          col("p_partkey").as("item_id"), col("p_name").as("item_desc"),
          col("p_retailprice").as("price"), lit(5L).as("ts")))
      graft.ops.Scd2(dim, changes, Seq("item_id"), Seq("item_desc", "price"), "ts")
        .orderBy("item_id", "start_ts")
    },

    // Incremental aggregate maintenance: aggregate only the "delta"
    // partition, additively merge into the "base" aggregate — the result
    // must equal a full recompute (which is what the oracle runs). The
    // scale-first replacement for the reference's full fact rebuild.
    "s10_incremental_agg" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      def aggOf(df: DataFrame) = df
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("order_count"),
          sum(col("l_quantity").cast("decimal(20,2)")).as("sum_qty_d"),
          sum(col("l_extendedprice").cast("decimal(20,2)")).as("sum_price_d"))
      val base = aggOf(li.filter(col("l_orderkey") % 4 =!= 0))
      val delta = aggOf(li.filter(col("l_orderkey") % 4 === 0))
      graft.ops.IncrementalAgg.applyDelta(base, delta,
          Seq("l_returnflag", "l_linestatus"),
          adds = Seq("order_count", "sum_qty_d", "sum_price_d"))
        .select(col("l_returnflag"), col("l_linestatus"), col("order_count"),
          col("sum_qty_d").cast("double").as("sum_qty"),
          col("sum_price_d").cast("double").as("sum_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Token-window document chunking (size 40, overlap 10) — the map-only
    // chunker that feeds training-sequence assembly.
    "e11_chunking" -> { (s, dir) =>
      graft.ops.CorpusOps.chunk(Tables.load(s, dir, "documents"), "doc_id", "text",
          size = 40, overlap = 10)
        .orderBy("doc_id", "chunk_id")
    },

    // Benchmark decontamination: flag corpus docs sharing any 5-gram with
    // the (pseudo) benchmark slice — hash semi-join, no pairwise scan.
    "d6_decontam" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      graft.ops.CorpusOps.decontaminate(docs, docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 5)
        .select(col("doc_id"), col("contaminated"))
        .orderBy("doc_id")
    },

    // Bloom-pruned decontamination (the broadcast scale path): Bloom
    // filters have no false negatives and the exact join removes false
    // positives, so the result must be IDENTICAL to d6's exact semi-join —
    // the oracle is the same exact-decontamination SQL.
    "d7_bloom_decontam" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      graft.ops.CorpusOps.decontaminateBloom(docs, docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 5, fpp = 0.01)
        .select(col("doc_id"), col("contaminated"))
        .orderBy("doc_id")
    },

    // Cross-source contamination matrix: for every source pair, how many
    // DISTINCT 5-gram hashes they share, plus each side's gram vocabulary
    // and the gram-level Jaccard — the corpus-level diagnostic behind
    // decontamination decisions (which sources leak into which). Scale:
    // (source, hash) distinct is one shuffle; the pair join is keyed on
    // the gram hash, whose fan-out is bounded by #sources per gram, never
    // pairwise in documents; output is #sources² rows.
    "d8_contamination_matrix" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      // the gram vocabulary feeds both self-join sides AND the totals —
      // persist it once or the tokenize+hash+distinct pipeline runs 3×;
      // the #sources²-row matrix is materialized eagerly below so the
      // vocabulary cache can be released inside the query (the
      // kmeansCentroids persist→fold→unpersist contract)
      val g = Dedup.shingleHashRows(docs, "doc_id", "text", n = 5, extra = Seq(col("source")))
        .select(col("source"), col("h")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val overlap = g.select(col("source").as("src_a"), col("h"))
        .join(g.select(col("source").as("src_b"), col("h").as("hb")),
          col("h") === col("hb") && col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared_grams"))
      val totals = g.groupBy("source").agg(count(lit(1)).as("n_grams"))
      val matrix = overlap
        .join(totals.select(col("source").as("src_a"), col("n_grams").as("grams_a")), "src_a")
        .join(totals.select(col("source").as("src_b"), col("n_grams").as("grams_b")), "src_b")
        .select(col("src_a"), col("src_b"), col("shared_grams"),
          col("grams_a"), col("grams_b"),
          (col("shared_grams").cast("double") /
            (col("grams_a") + col("grams_b") - col("shared_grams")).cast("double"))
            .as("gram_jaccard"))
        .orderBy("src_a", "src_b")
        .materialized // #sources² rows — tiny
      g.unpersist(blocking = false)
      matrix
    },

    // BM25 top-10 per query (odds idf: +−×÷ only, so scores are IEEE
    // bit-identical to the oracle's; fold over terms in sorted order).
    "r1_bm25_topk" -> { (s, dir) =>
      import s.implicits._
      val queries = Seq(
        (1L, "vector hash join"),
        (2L, "merge batch stream window"),
        (3L, "customer query filter")).toDF("qid", "qtext")
      graft.ops.Retrieval.bm25TopKWithPostings(
          docPostings(s, dir), queries,
          "qid", "qtext", k = 10, idf = "odds")
        .orderBy("qid", "rank")
    },

    // BM25 + pseudo-relevance feedback: the classic Rocchio recall lift
    // for short queries — top-5 feedback docs donate their 10 heaviest
    // tf·idf terms (originals excluded), then a second full BM25 pass on
    // the expanded query. Both passes and the expansion weights fold in
    // deterministic orders, so every double hash-matches.
    "r3_bm25_prf" -> { (s, dir) =>
      import s.implicits._
      val queries = Seq(
        (1L, "vector hash join"),
        (2L, "merge batch stream window"),
        (3L, "customer query filter")).toDF("qid", "qtext")
      graft.ops.Retrieval.bm25PrfTopKWithPostings(
          docPostings(s, dir), queries,
          "qid", "qtext", k = 10, fbDocs = 5, fbTerms = 10)
        .orderBy("qid", "rank")
    },

    // Hybrid retrieval: RRF fusion of the lexical (BM25 over text) and
    // semantic (exact cosine over the aligned embeddings) views of three
    // seed documents — the related-document / hard-negative-mining query.
    // The BM25 list self-filters (the seed IS a corpus doc and would rank
    // first) and re-ranks 1..10 before fusing; the ANN side excludes self
    // by construction. Only RANKS cross the fusion, so no score
    // calibration — and each fused score is one division + one ordered
    // fold, bit-exact in the oracle.
    "r2_hybrid_rrf" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val seeds = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val lex = graft.ops.Retrieval.bm25TopKWithPostings(
          docPostings(s, dir), seeds,
          "qid", "qtext", k = 11, idf = "odds")
        .filter(col("doc_id") =!= col("qid"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("qid").orderBy(col("rank"))).cast("long"))
        .filter(col("rank") <= 10)
        .select("qid", "doc_id", "rank")
      val sem = Similarity
        .bruteForceTopK(emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
        .select(col("query_id").as("qid"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.ops.Retrieval.rrfFuse(Seq(lex, sem), k0 = 60, topK = 10)
        .orderBy("qid", "rank")
    },

    // Hard-negative mining for dense-retriever training (DPR-style BM25
    // negatives): per seed query, the top lexical hits whose embedding
    // cosine vs the seed is BELOW 0.1 — lexically confusable,
    // semantically wrong. Cosines only for the ≤ queries × 20 lexical
    // candidates (id equi-joins), never corpus-wide.
    "r4_hard_negatives" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val seeds = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      graft.ops.Retrieval.bm25HardNegativesWithPostings(
          docPostings(s, dir), seeds, "qid", "qtext",
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          kLex = 20, maxCosine = 0.1, k = 10)
        .orderBy("qid", "rank")
    },

    // Deterministic stratified sampling: 7 docs per (lang, source) by
    // portable-hash order — reproducible mixture control without RNG.
    "e12_stratified_sample" -> { (s, dir) =>
      graft.ops.CorpusOps.stratifiedSample(Tables.load(s, dir, "documents"),
          Seq("lang", "source"), "doc_id", k = 7)
        .select("doc_id", "lang", "source")
        .orderBy("lang", "source", "doc_id")
    },

    // Systematic PPS sampling: hash-permuted order, integer running
    // weight, select at every stride crossing — weight-proportional
    // inclusion with zero RNG and zero transcendentals, so the sample
    // (not just its size) is oracle-exact. The running sum is the
    // two-level bucketed prefix sum, never a single-partition window.
    "e33_pps_sample" -> { (s, dir) =>
      graft.ops.CorpusOps.ppsSample(Tables.load(s, dir, "documents"),
          "doc_id", "n_chars", n = 100)
        .orderBy("doc_id")
    },

    // The hot-strata scale path of e12: same deterministic sample via the
    // native bounded top-k aggregate (O(k) heap per stratum, map-side
    // partials) instead of a full per-stratum window sort. Same oracle
    // as e12 — the two forms must be indistinguishable by result.
    "e19_sample_agg" -> { (s, dir) =>
      graft.ops.CorpusOps.stratifiedSampleAgg(Tables.load(s, dir, "documents"),
          Seq("lang", "source"), "doc_id", k = 7)
        .select("doc_id", "lang", "source")
        .orderBy("lang", "source", "doc_id")
    },

    // Hashing-trick TF-IDF vectors: text → fixed-dim vector inside the
    // engine (no external embedding model, no vocabulary dictionary),
    // emitted exploded (doc, bucket, value) for a 50-doc slice so every
    // double is hash-compared (array columns don't sort portably in the
    // compare harness). dim=32 forces real bucket collisions, exercising
    // the sorted per-bucket fold.
    "e20_hash_tfidf" -> { (s, dir) =>
      graft.ops.CorpusOps.hashingTfidf(
          Tables.load(s, dir, "documents"), "doc_id", "text", dim = 32)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(col("vec")))
        .select(col("doc_id"), col("pos").cast("long").as("bucket"),
          col("col").as("value"))
        .orderBy("doc_id", "bucket")
    },

    // Pivot (conditional aggregation with an explicit value list).
    "a8_pivot" -> { (s, dir) =>
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", prios)
        .count()
        .select(col("o_orderstatus") +:
          prios.map(p => coalesce(col(s"`$p`"), lit(0L)).as("p" + p.take(1))): _*)
        .orderBy("o_orderstatus")
    },

    // Generator/lateral surface: posexplode with ordinality.
    "e9_explode" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(TA.tokens(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("tok"))
        .orderBy("doc_id", "pos")
    },

    // Window-function suite: lag/lead/rank/dense_rank/ntile + running
    // decimal sum (exact, frame-order independent across engines).
    "w2_window_suite" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          lag(col("event_id"), 1).over(w).as("prev_event"),
          lead(col("event_id"), 1).over(w).as("next_event"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).as("quartile"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 6))).over(wf)
            .cast("double").as("running_value"))
        .orderBy("user_id", "ts_us", "event_id")
    },

    // Second window suite: value-position functions (first/last/nth),
    // distribution ranks (percent_rank, cume_dist), and a RANGE frame —
    // the §2.5 surface w2's ROWS-frame suite doesn't touch.
    "w3_window_suite2" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val wRows = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // RANGE frame keyed on the numeric event time: all events within
      // the preceding 30 seconds (inclusive), a sliding event-time sum
      val wRange = Window.partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-30000000L, 0L)
      Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          first(col("event_id")).over(wRows).as("first_event"),
          last(col("event_id")).over(wRows).as("last_event"),
          nth_value(col("event_id"), 2).over(wRows).as("second_event"),
          percent_rank().over(w).as("prk"),
          cume_dist().over(w).as("cd"),
          count(lit(1)).over(wRange).as("n_last_30s"))
        .orderBy("user_id", "ts_us", "event_id")
    },

    // Exact interpolated percentiles (Catalyst `percentile`).
    "a7_percentiles" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"))
        .orderBy("l_returnflag")
    },

    // Set operations: INTERSECT / EXCEPT / UNION with distinct semantics.
    "s8_setops" -> { (s, dir) =>
      val n = Tables.load(s, dir, "nation").select("n_nationkey", "n_regionkey")
      val a = n.filter(col("n_nationkey") < 15)
      val b = n.filter(col("n_nationkey") >= 10)
      a.intersect(b).withColumn("op", lit("both"))
        .unionByName(a.exceptAll(b).withColumn("op", lit("only_a")))
        .orderBy("op", "n_nationkey")
    },

    // Scalar string-function surface (concat/substr/case/trim/pad/replace/
    // split/locate/translate) — exact string outputs.
    "e7_string_funcs" -> { (s, dir) =>
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"),
          upper(col("c_name")).as("u"),
          lower(col("c_mktsegment")).as("l"),
          substring(col("c_name"), 1, 8).as("sub"),
          length(col("c_name")).cast("long").as("len"),
          concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
          regexp_replace(col("c_name"), "[0-9]+", "#").as("digits_masked"),
          reverse(col("c_mktsegment")).as("rev"),
          instr(col("c_name"), "Customer").cast("long").as("pos"))
        .orderBy("c_custkey")
    },

    // Date/time function surface (year/month/day/dow/trunc/add/diff).
    "e8_datetime" -> { (s, dir) =>
      val d = col("o_orderdate").cast("date")
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          year(d).cast("long").as("y"),
          month(d).cast("long").as("m"),
          dayofmonth(d).cast("long").as("dom"),
          date_format(date_trunc("month", d), "yyyy-MM-dd").as("month_start"),
          date_format(date_add(d, 30), "yyyy-MM-dd").as("plus30"),
          datediff(lit("1998-12-31").cast("date"), d).cast("long").as("days_to_end"))
        .orderBy("o_orderkey")
    },

    // ---- similarity search ------------------------------------------------

    // Brute-force cosine top-5 for the first 10 vectors (exact baseline).
    "n1_ann_topk" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },

    // IVF-style ANN: label-partitioned corpus, probe the 2 nearest
    // centroids, exact top-5 within the probed partitions.
    "n2_ann_ivf" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", "label",
          k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },

    // ANN quality evaluation: recall@5 of the IVF probe path against the
    // exact brute-force baseline, per query — the measurement loop every
    // production ANN deployment runs when tuning nprobe/K. The synthetic
    // `label` column is an arbitrary shard (not a learned quantizer), so
    // recall here is honestly low (~nprobe/K-ish); swapping in
    // Similarity.kmeans assignments as the coarse quantizer lifts it
    // 0.32 -> 0.88 at the same probe budget (DedupSimilaritySpec) —
    // exactly the production fix this measurement motivates. Scale: both sides
    // are the already-bounded top-k pipelines; the comparison is a
    // k-row-per-query join, negligible next to them.
    "n4_ann_recall" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val exact = Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity
        .ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", "label",
          k = 5, nprobe = 2)
        .select(col("query_id").as("qa"), col("neighbor_id").as("na"))
      exact
        .join(approx, col("query_id") === col("qa") && col("neighbor_id") === col("na"),
          "left_outer")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"), count(col("na")).as("hits"))
        .select(col("query_id"), col("hits"),
          (col("hits").cast("double") / col("k").cast("double")).as("recall_at_5"))
        .orderBy("query_id")
    },

    // Int8-quantized brute-force top-k — the memory-bound ANN scale path
    // (4× more corpus per executor); ranking fully deterministic since
    // quantized MACs are exact.
    "n3_ann_quantized" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.quantizedTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },

    // The PRODUCTION ANN path: a LEARNED coarse quantizer
    // (Similarity.kmeans, deterministic Lloyd's) instead of the arbitrary
    // `label` shard n2 probes. Same probe budget as n2 (2 of 20
    // partitions) but recall jumps ~0.32 → ~0.88 (DedupSimilaritySpec)
    // because probed partitions are actual neighborhoods. The oracle
    // replays the ENTIRE training run (init → 5 Lloyd iterations →
    // assignment) bit-exactly in DuckDB, so a green hash certifies the
    // whole pipeline, not just the final scan.
    "n5_ann_ivf_kmeans" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val km = kmEmbLabels(s, dir, k = 20, iters = 5)
      Similarity.ivfTopK(e.join(km, Seq("vec_id")), e.filter(col("vec_id") < 10),
          "vec_id", "embedding", "cluster", k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },

    // recall@5 of the PRODUCTION (kmeans-quantized) IVF path vs the exact
    // baseline — the learned-quantizer counterpart of n4. Same probe
    // budget (2 of 20 partitions) but partitions are actual
    // neighborhoods, so the recall column lands ~0.88 where n4's
    // label-shard honestly reports ~0.32: the before/after of the
    // production fix n4's comment motivates, both now oracle-checked.
    "n7_ann_recall_kmeans" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val exact = Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val km = kmEmbLabels(s, dir, k = 20, iters = 5)
      val approx = Similarity
        .ivfTopK(e.join(km, Seq("vec_id")), e.filter(col("vec_id") < 10),
          "vec_id", "embedding", "cluster", k = 5, nprobe = 2)
        .select(col("query_id").as("qa"), col("neighbor_id").as("na"))
      exact
        .join(approx, col("query_id") === col("qa") && col("neighbor_id") === col("na"),
          "left_outer")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"), count(col("na")).as("hits"))
        .select(col("query_id"), col("hits"),
          (col("hits").cast("double") / col("k").cast("double")).as("recall_at_5"))
        .orderBy("query_id")
    },

    // IVF-PQ-style three-stage ANN: centroid probe → int8-quantized scan
    // of the probed partitions (quarter bandwidth) → exact re-rank of the
    // 4k-candidate shortlist. The answer is output-bounded at every
    // stage; the re-rank restores exact cosine ORDERING within the
    // candidates (what production IVF-PQ deployments run).
    "n6_ann_ivfpq" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.ivfQuantizedTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },

    // TRUE product quantization (per-subspace codebooks + asymmetric
    // distance): 4 subspaces × 8 codewords over the 64-dim embeddings —
    // 64× less scan bandwidth than float32, per-pair cost = 4 lookups.
    // The whole thing (4 independent kmeans trainings, encoding, ADC)
    // replays bit-exactly in the oracle.
    "n10_ann_pq" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val books = Artifacts.pqCodebooks(s, "pq_books",
          s"$dir|${fp(s, dir, "embeddings")}|m=4|k=8|iters=3") {
        Similarity.pqCodebooks(e, "vec_id", "embedding",
          m = 4, codebookK = 8, kmIters = 3)
      }
      Similarity.pqTopKWithCodebooks(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", books, k = 5)
        .orderBy("query_id", "rank")
    },

    // SRP-LSH bucketing (the cosine-similarity candidate generator): 12
    // deterministic integer-derived hyperplanes, bucket bit p set iff
    // the projection on plane p is non-negative — previously spec-only,
    // now hash-checked end to end (projection folds ascending-dim).
    "n11_srp_buckets" -> { (s, dir) =>
      Similarity.srpBuckets(Tables.loadSpread(s, dir, "embeddings"),
          "vec_id", "embedding", planes = 12)
        .orderBy("id")
    },

    // Exact mutual-kNN graph: each vector's 5 cosine-nearest, edge kept
    // iff it appears in BOTH directions — the symmetrized neighbor set
    // SemDeDup-style clustering and graph curation build on.
    "n12_knn_graph" -> { (s, dir) =>
      Similarity.knnGraphFromDirected(exactKnnDirected(s, dir, k = 5))
        .orderBy("id_a", "id_b")
    },

    // kNN-graph recall eval: the SRP-blocked scale path (same-bucket
    // scoring only, 4 planes) against the exact directed top-5 — the
    // planes/probes tuning loop for the blocked kNN at 100 TB.
    "n13_knn_recall" -> { (s, dir) =>
      val e = Tables.loadSpread(s, dir, "embeddings")
      val exact = exactKnnDirected(s, dir, k = 5).select("id", "nbr")
      val blocked = Similarity
        .knnDirectedBlocked(e, "vec_id", "embedding", k = 5, planes = 4)
        .select("id", "nbr").withColumn("hit", lit(1))
      exact.join(blocked, Seq("id", "nbr"), "left_outer")
        .groupBy("id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall",
          col("n_hit").cast("double") / col("n_exact").cast("double"))
        .orderBy("id")
    },

    // The PRODUCTION kNN-graph operating point (closes the n13 tuning
    // loop): kmeans-IVF blocking — 32 learned cells, each query scoring
    // its 14 nearest cells (≈0.44 of the corpus) — measured mean
    // recall@5 = 0.83 against the exact directed top-5 over the FULL
    // corpus as queries. The SRP family plateaus at ~0.6 on these
    // near-random synthetic embeddings no matter how many tables/probes
    // (misses are correlated across plane families — see SCALE.md's
    // recall-vs-cost table); the data-adaptive coarse quantizer probes
    // actual neighborhoods and clears 0.8 while scoring under half the
    // pairs. The oracle replays kmeans training, assignment, probe
    // selection, and the blocked top-5 bit-exactly.
    "n13b_knn_recall_ivf" -> { (s, dir) =>
      val e = Tables.loadSpread(s, dir, "embeddings")
      val exact = exactKnnDirected(s, dir, k = 5).select("id", "nbr")
      val km = kmEmbLabels(s, dir, k = 32, iters = 5)
      val blocked = Similarity.ivfTopK(e.join(km, Seq("vec_id")), e,
          "vec_id", "embedding", "cluster", k = 5, nprobe = 14)
        .select(col("query_id").as("id"), col("neighbor_id").as("nbr"))
        .withColumn("hit", lit(1))
      exact.join(blocked, Seq("id", "nbr"), "left_outer")
        .groupBy("id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall",
          col("n_hit").cast("double") / col("n_exact").cast("double"))
        .orderBy("id")
    },

    // One-step kNN label propagation: every 4th vector is a labeled
    // seed, the rest take the majority label of their 5 cosine-nearest
    // seeds — the non-parametric sibling of n9's centroid classifier
    // (neighbor votes follow arbitrary label boundaries), with the
    // self-evaluation flag (pred vs the held-out true label) attached.
    "n14_label_prop" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.knnLabelPropagate(
          e.filter(col("vec_id") % 4 === 0), e.filter(col("vec_id") % 4 =!= 0),
          "vec_id", "embedding", "label", k = 5)
        .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
        .withColumn("correct",
          when(col("pred_label") === col("label"), 1L).otherwise(0L))
        .select("vec_id", "pred_label", "label", "votes", "correct")
        .orderBy("vec_id")
    },

    // Nearest-centroid (Rocchio) classification: hold out every 5th
    // vector, classify it by the squared-L2-nearest label centroid of
    // the remaining 80% — the model-free domain classifier / label
    // propagation a curation pipeline uses for mixture bookkeeping.
    "n9_centroid_classify" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.nearestCentroidClassify(
          e.filter(col("vec_id") % 5 =!= 0), e.filter(col("vec_id") % 5 === 0),
          "vec_id", "embedding", "label")
        .orderBy("vec_id")
    },

    // Cluster-balanced subsampling: 10 vectors per learned kmeans cluster
    // in deterministic hash order — the topic-balanced training-mix draw
    // (head topics can't dominate the subsample the way they dominate a
    // uniform draw). Same quantizer hyper-parameters as n5/n7 so the
    // oracle reuses the bit-exact kmeans training replay.
    "n8_cluster_sample" -> { (s, dir) =>
      Similarity.clusterBalancedSampleWithLabels(
          kmEmbLabels(s, dir, k = 20, iters = 5),
          "vec_id", perCluster = 10)
        .orderBy("cluster", "vec_id")
    },

    // ---- text analysis ----------------------------------------------------

    // Stopword-list language-ID with per-language scores (explode+agg
    // plan via TextStats; values identical to the column-function form).
    "e1_langid" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val stats = graft.ops.TextStats.perDoc(docs, "doc_id", "text")
      val scored = TA.stopwords.map { case (l, _) => (l, col(s"c_$l")) }
      docs.select(col("doc_id"), col("lang"))
        .join(stats, col("doc_id") === col("id"))
        .withColumn("pred_lang", TA.langIdFromCounts(scored))
        .withColumn("correct", col("pred_lang") === col("lang"))
        .select((col("doc_id") +: col("lang") +: TA.stopwords.map { case (l, _) => col(s"c_$l") })
          ++ Seq(col("pred_lang"), col("correct")): _*)
        .orderBy("doc_id")
    },

    // Quality scoring: lexical diversity + stopword presence + length prior.
    "e2_quality" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val stats = graft.ops.TextStats.perDoc(docs, "doc_id", "text")
      val n = col("n_tokens").cast("double")
      val ttr = col("n_distinct").cast("double") / n
      val stop = col("c_en").cast("double") / n
      stats
        .select(col("id").as("doc_id"), col("n_tokens"),
          ttr.as("ttr"), stop.as("stop_ratio"),
          (lit(0.4) * ttr + lit(0.4) * least(stop * lit(5.0), lit(1.0))
            + lit(0.2) * least(n / lit(100.0), lit(1.0))).as("quality"))
        .orderBy("doc_id")
    },

    // Token counting: whitespace + BPE-ish subword estimate.
    "e3_token_stats" -> { (s, dir) =>
      val stats = graft.ops.TextStats.perDoc(Tables.load(s, dir, "documents"), "doc_id", "text")
      stats.select(col("id").as("doc_id"), col("n_tokens"), col("n_subwords_est"),
          col("sum_token_len"),
          (col("sum_token_len").cast("double") / col("n_tokens").cast("double"))
            .as("avg_token_len"))
        .orderBy("doc_id")
    },

    // Document fingerprinting: whole-text rolling hash + winnowed minimum
    // 3-gram shingle hash (min over the row-based shingle hashes — docs
    // with fewer than 3 tokens emit no shingle rows and drop out, same as
    // the size(tokens) >= 3 filter).
    "e4_fingerprint" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val minSh = graft.ops.Dedup.shingleHashRows(docs, "doc_id", "text", 3)
        .groupBy("id").agg(min(col("h")).as("min_shingle_hash"))
      docs.select(col("doc_id"), TA.fingerprint(col("text")).as("fingerprint"))
        .join(minSh, col("doc_id") === col("id"))
        .select("doc_id", "fingerprint", "min_shingle_hash")
        .orderBy("doc_id")
    },

    // PII redaction: emails / phone shapes / long digit runs scrubbed.
    // The corpus has no PII, so the query synthesizes a contaminated
    // column first (deterministically from doc_id) and redacts it.
    "e5_pii_redact" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .withColumn("contaminated",
          concat(substring(col("text"), 1, 40),
            lit(" contact user"), col("doc_id"), lit("@example.com or 555-123-4567 ref 9"),
            col("doc_id"), lit("88776655")))
        .select(col("doc_id"), TA.redact(col("contaminated")).as("clean"))
        .orderBy("doc_id")
    },

    // Distinct-count sketch: exact distinct tokens vs the used-bucket
    // count of a 1024-bucket linear-counting sketch over the portable
    // hash — both exact integers, so the sketch mechanics are
    // oracle-checked without floating-point estimate formulas.
    "e6_distinct_sketch" -> { (s, dir) =>
      val toks = Tables.load(s, dir, "documents")
        .select(col("source"), explode(TA.tokens(col("text"))).as("tok"))
        .select(col("source"), call_function("graft_phash", col("tok")).as("h"))
      toks.groupBy("source")
        .agg(countDistinct(col("h")).as("n_distinct_hashes"),
          countDistinct(pmod(col("h"), lit(1024L))).as("n_buckets_used"))
        .orderBy("source")
    },

    // Corpus n-gram frequency analytics: top-5 2-gram shingles per
    // language (count desc, shingle asc ties — fully deterministic).
    "e10_top_ngrams" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      // per-doc 2-grams: token + next token WITHIN the doc (window lead)
      val toks2 = docs.select(col("lang"), col("doc_id"), posexplode(TA.tokens(col("text"))))
        .withColumnRenamed("pos", "p").withColumnRenamed("col", "tok")
      val wd = Window.partitionBy("doc_id").orderBy("p")
      val ngrams = toks2
        .withColumn("nxt", lead(col("tok"), 1).over(wd))
        .filter(col("nxt").isNotNull)
        .select(col("lang"), concat_ws(" ", col("tok"), col("nxt")).as("ngram"))
      val counts = ngrams.groupBy("lang", "ngram").agg(count(lit(1)).as("n"))
      val wr = Window.partitionBy("lang").orderBy(col("n").desc, col("ngram"))
      counts.withColumn("rank", row_number().over(wr).cast("long"))
        .filter(col("rank") <= 5)
        .select("lang", "rank", "ngram", "n")
        .orderBy("lang", "rank")
    },

    // Gopher-style repetition quality filters (Rae et al. 2021 §A1.1):
    // per-doc fraction of the text covered by the single most frequent
    // word 2-gram, and the fraction of 5-gram occurrences that are
    // duplicates — the standard signals for dropping boilerplate /
    // degenerate documents from a training corpus. Integer counts with
    // one exactly-rounded double division each, so the oracle hash
    // matches bit-for-bit. Scale: one shuffle on doc_id for the gram
    // windows, then (doc_id, gram) hash aggs with map-side partials;
    // nothing is corpus-global.
    "e14_repetition" -> { (s, dir) =>
      graft.ops.CorpusOps.repetitionStats(
          Tables.loadSpread(s, dir, "documents"), "doc_id", "text",
          top2Threshold = 0.18, dup5Threshold = 0.3)
        .orderBy("doc_id")
    },

    // Sequence packing for LM training (GPT-style concat-then-chunk):
    // docs are concatenated in doc_id order WITHIN their source shard and
    // cut into fixed 512-token blocks; each doc reports the block span it
    // lands in. Scale: the running token total is a window sum PER SOURCE
    // SHARD — never a global single-partition sort; a 100 TB corpus packs
    // each shard independently (exactly how training shards are built).
    // All-integer arithmetic, so the oracle hash matches exactly.
    "e15_seq_pack" -> { (s, dir) =>
      graft.ops.CorpusOps.packSequences(
          Tables.load(s, dir, "documents"), "doc_id", "source", "text",
          blockTokens = 512)
        .orderBy("doc_id")
    },

    // Token-budget data mixing: the per-source training-mix cut in
    // deterministic hash order, with UNEQUAL budgets (src0 is downweighted
    // to 300 tokens, src1 upweighted to 900, everything else 600) so both
    // the per-source budget lookup and the boundary-crossing keep rule
    // are exercised. ~1300 tokens/source at test sf → every source cuts.
    "e17_token_mix" -> { (s, dir) =>
      graft.ops.CorpusOps.tokenBudgetMix(
          Tables.load(s, dir, "documents"), "doc_id", "text", "source",
          budgets = Map("src0" -> 300L, "src1" -> 900L), defaultBudget = 600L)
        .orderBy("doc_id")
    },

    // Deterministic hash 80/10/10 split: membership is a pure function
    // of the doc id (phash mod 10 through cumulative weight ranges) —
    // stable across reruns and corpus appends, stratified for free.
    "e27_hash_split" -> { (s, dir) =>
      graft.ops.CorpusOps.hashSplit(Tables.load(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy("doc_id")
    },

    // Deterministic corpus shuffle into 8 training shards: shard and
    // in-shard position both derive from one portable hash — fixed
    // pseudo-random order with no RNG state and no global sort.
    "e30_shuffle_shards" -> { (s, dir) =>
      graft.ops.CorpusOps.shuffleShards(
          Tables.load(s, dir, "documents").select("doc_id", "source"),
          "doc_id", nShards = 8)
        .orderBy("doc_id")
    },

    // Temperature (α = 1/2) source mixing: per-source budgets derived
    // from the corpus's own token counts — B·⌊√cᵢ⌋/Σ⌊√cⱼ⌋ in pure
    // integer arithmetic — then the e17 deterministic hash-order cut.
    "e28_temperature_mix" -> { (s, dir) =>
      graft.ops.CorpusOps.temperatureMix(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source", totalBudget = 8000L)
        .orderBy("doc_id")
    },

    // Curriculum construction: global easy→hard rank by e16's unigram
    // bits-per-token, cut into 4 equal phases — ranked WITHOUT a
    // single-partition global window (range sort + zipWithIndex).
    "e32_curriculum" -> { (s, dir) =>
      graft.ops.CorpusOps.curriculum(Tables.load(s, dir, "documents"),
          "doc_id", "text", nPhases = 4, vocabSize = 5000)
        .orderBy("doc_id")
    },

    // Per-language quality-quantile retention: keep the top 30% of each
    // language's documents by e2's composite quality score — the cut is
    // each language's OWN percent_rank, so thresholds self-calibrate
    // per distribution instead of one hand-tuned absolute value.
    "e31_quality_retention" -> { (s, dir) =>
      graft.ops.CorpusOps.qualityRetention(Tables.load(s, dir, "documents"),
          "doc_id", "text", "lang", retention = 0.3)
        .orderBy("doc_id")
    },

    // Composed preprocessing pipeline — the flagship composition: carve
    // out the benchmark slice, quality-gate (e2's score ≥ 0.4),
    // normalization-aware exact dedup (d11's hash, min-id rep),
    // 5-gram decontamination against the benchmark (d6), then the
    // per-source token-budget mix (e17) — the standard LLM pretraining
    // prep chain declared as ONE DataFrame plan, so Catalyst optimizes
    // the whole chain together (broadcast semi-joins, one bounded mix
    // window at the end). The oracle replays every stage.
    "c1_prep_pipeline" -> { (s, dir) =>
      // loadSpread (r21): rejected twice while every pipeline branch
      // re-paid the raw-text exchange (r20 §8; r21 pre-materialization:
      // 2.34 -> 2.37), but WITH the stats table materialized below, the
      // heaviest branch reads checkpoint blocks instead and the floor
      // wins: 2.34 -> 2.17 s at sf0.1, 9.5 -> 8.1 s at sf1 (min-of-5 /
      // min-of-3 isolated A/Bs) — the single-task tokenize stages were
      // this pipeline's scaling ceiling (sf1 c8-vs-c32 ratio 1.03).
      val docs = Tables.loadSpread(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 20 === 0)
      val pool = docs.filter(col("doc_id") % 20 =!= 0)
      // r21 (guide §2.4): the per-doc stats table feeds TWO stages now —
      // the quality gate and the final mix's token counts (the mix
      // previously re-tokenized the surviving corpus, a full duplicate
      // map pass; perDoc.n_tokens is the same exact integer). Bounded
      // one-row-per-doc table, materialized once per run.
      val st = graft.ops.TextStats.perDoc(pool, "doc_id", "text")
        .materialized
      val n = col("n_tokens").cast("double")
      val stop = col("c_en").cast("double") / n
      val quality = lit(0.4) * (col("n_distinct").cast("double") / n) +
        lit(0.4) * least(stop * lit(5.0), lit(1.0)) +
        lit(0.2) * least(n / lit(100.0), lit(1.0))
      val quali = pool.join(
        st.filter(quality >= lit(0.4)).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      val hashed = quali.withColumn("nh", TA.phash(TA.normalizeText(col("text"))))
      val deduped = hashed
        .join(hashed.groupBy("nh").agg(min("doc_id").as("doc_id")),
          Seq("nh", "doc_id"), "left_semi")
        .drop("nh")
      val clean = graft.ops.CorpusOps
        .decontaminate(deduped, bench, "doc_id", "text", n = 5)
        .filter(!col("contaminated"))
      graft.ops.CorpusOps.tokenBudgetMixWithCounts(
          clean.select(col("doc_id"), col("source"))
            .join(st.select(col("id").as("doc_id"), col("n_tokens")),
              Seq("doc_id")),
          "doc_id", "source",
          budgets = Map("src0" -> 200L, "src1" -> 800L), defaultBudget = 400L)
        .orderBy("doc_id")
    },

    // Curation pipeline — retention feeding curriculum, the real order
    // of a data-curation pass: each language keeps its own top-30% by
    // quality (e31's per-language percent_rank cut), and ONLY the
    // retained corpus is ranked easy→hard and phased (e32) — the
    // difficulty vocabulary is learned from the kept set, so phase
    // boundaries self-calibrate to the post-filter distribution rather
    // than to documents that never reach training. One DataFrame plan:
    // the retention cut is a doc-id semi-join into the scoring pass
    // (id-keyed shuffle hash join at scale — the kept set is ~30% of
    // the corpus, deliberately NOT a broadcast), and the global rank
    // stays the range-sort + zipWithIndex shape (no single-partition
    // window — PlanSpec-guarded).
    "c2_curation_pipeline" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val kept = graft.ops.CorpusOps
        .qualityRetention(docs, "doc_id", "text", "lang", retention = 0.3)
        .select("doc_id")
      val retained = docs.join(kept, Seq("doc_id"), "left_semi")
      graft.ops.CorpusOps
        .curriculum(retained, "doc_id", "text", nPhases = 4, vocabSize = 5000)
        .orderBy("doc_id")
    },

    // Epoch-aware mixing: src0 is UPSAMPLED (budget ≈ 2.3× its tokens →
    // docs repeat across epochs 0..2), src1 downsampled (cut mid-epoch
    // 0), every other source excluded (budget 0) — the three behaviors
    // of a real training-mix spec in one query.
    "e21_epoch_mix" -> { (s, dir) =>
      graft.ops.CorpusOps.epochMix(
          Tables.load(s, dir, "documents"), "doc_id", "text", "source",
          budgets = Map("src0" -> 3000L, "src1" -> 800L))
        .orderBy("source", "cum_tokens")
    },

    // BPE merge learning: the first 6 merges of a subword tokenizer
    // trained on the corpus word-frequency table — pair counting, argmax
    // with (left,right) tiebreak, positional greedy merge application
    // (no sequential fold — see CorpusOps.bpeMerges), repeated. The
    // whole training loop replays in the oracle.
    "e22_bpe_merges" -> { (s, dir) =>
      graft.ops.CorpusOps.bpeMerges(
          Tables.load(s, dir, "documents"), "text", numMerges = 6)
        .orderBy("step")
    },

    // BPE tokenizer APPLY at corpus scale — the other half of e22: the
    // learned 6-merge table (bounded, collected once) is applied to
    // every corpus token by the native greedy scan and the resulting
    // subword vocabulary histogrammed (top-30, count desc / subword
    // asc). Train → apply → audit, the full tokenizer loop; the oracle
    // replays the training stages and re-derives the histogram from the
    // fully-merged word-frequency table.
    "e26_bpe_tokenize" -> { (s, dir) =>
      graft.ops.CorpusOps
        .bpeSubwordHistogram(Tables.load(s, dir, "documents"), "text",
          numMerges = 6)
        .orderBy(desc("n"), asc("subword")).limit(30)
    },

    // Production-shape BPE training: 100 merges with batched rounds
    // (batchK = 8 → ~13 driver round-trips instead of 100) — the mode a
    // real 30k-merge tokenizer training runs, where per-merge driver
    // sync is the scale bottleneck. No SQL oracle: a 100-step training
    // replay is not SQL-expressible (e22's 6-step oracle pins the exact
    // serial semantics; CorpusOpsSpec pins batch≡serial on disjoint
    // top-k and the conflict-prefix rule) — rows-only check by design.
    "e23_bpe_batch100" -> { (s, dir) =>
      graft.ops.CorpusOps.bpeMerges(
          Tables.load(s, dir, "documents"), "text", numMerges = 100, batchK = 8)
        .orderBy("step")
    },

    // Oracle-checked BATCHED BPE (e23's little sibling): 20 merges at
    // batchK = 4 — deep enough that several rounds exercise the batch
    // path (top-want ranking, disjoint-prefix selection, multi-merge
    // rounds) yet shallow enough for DuckDB to replay stage-unrolled
    // ([[dBpeBatchStages]]: 12 rounds with the want = min(batchK,
    // total − done) budget cap and the {l, r, l||r} prefix rule). This
    // pins the production batching trick itself against ground truth;
    // e23 remains the rows-only 100-merge stress form.
    "e23b_bpe_batch20" -> { (s, dir) =>
      graft.ops.CorpusOps.bpeMerges(
          Tables.load(s, dir, "documents"), "text", numMerges = 20, batchK = 4)
        .orderBy("step")
    },

    // CCNet-style unigram-LM surprise filter: bits-per-token against a
    // corpus-learned top-5000 vocabulary. Integer floor-log2 surprise
    // (see CorpusOps.unigramBits) so the oracle hash-matches — IEEE log2
    // would drift a ulp between engines. 5000 keeps real OOV mass at
    // every test sf.
    "e16_unigram_bits" -> { (s, dir) =>
      graft.ops.CorpusOps.unigramBits(
          Tables.load(s, dir, "documents"), "doc_id", "text", vocabSize = 5000)
        .orderBy("doc_id")
    },

    // Order-2 upgrade of e16: bigram conditional surprise with unigram
    // backoff — catches bag-of-frequent-words spam an order-1 model
    // scores as fluent. Same all-integer bitlen arithmetic; pair
    // formation is a pure map inside the token array (no self-join).
    // Table sizes (2000 bigrams / 5000 unigrams) keep real backoff mass
    // at every test sf.
    "e18_bigram_bits" -> { (s, dir) =>
      graft.ops.CorpusOps.bigramBits(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          bigramVocab = 2000, unigramVocab = 5000)
        .orderBy("doc_id")
    },

    // Multinomial Naive Bayes source classifier: train on the 80%
    // doc_id-hash slice, label the held-out 20% — the counting
    // counterpart of fastText-style domain/quality classifiers (n9 is
    // the vector-space sibling with the same split). Same all-integer
    // bitlen arithmetic as e16/e18 so the full train+apply replay
    // hash-matches in DuckDB.
    "e24_nb_classify" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      graft.ops.CorpusOps.nbClassifyBits(
          d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", "source", vocabSize = 5000)
        .orderBy("doc_id")
    },

    // DSIR importance selection: the 500 non-src0 documents whose
    // hashed-unigram importance ratio p(src0-domain)/p(raw-pool) is
    // highest — domain-targeted narrowing of a raw crawl. Hashed-bucket
    // LMs (2048 counters per side, always broadcastable) + the same
    // integer bitlen log-weights as e16, deterministic top-k cut.
    "e25_dsir_select" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      graft.ops.CorpusOps.dsirSelect(
          d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"),
          "doc_id", "text", k = 500, dim = 2048)
    },

    // Approximate sketches (HLL++ distinct, quantile sketch). The raw
    // estimates are engine-specific and can't hash-match another engine,
    // so the query emits exact values PLUS within-epsilon booleans
    // computed against exact aggregates in the same pass; the oracle
    // reproduces the exact values with constant-TRUE bounds. A sketch
    // regression (estimate drifting past ε) flips a boolean and fails the
    // hash check — this is the bound check the sketches are graded on.
    "x1_approx_sketches" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          countDistinct(col("text")).as("exact_docs"),
          approx_count_distinct(col("text"), 0.02).as("approx_docs"),
          percentile_approx(col("n_chars"), lit(0.5), lit(1000)).cast("double").as("approx_med"),
          expr("percentile(n_chars, 0.5)").as("exact_med"))
        .select(col("source"), col("exact_docs"),
          // HLL++ rsd=0.02: allow 5σ-ish slack — 5% relative with an
          // ABSOLUTE floor of 3: below ~50 distinct values the sparse-mode
          // estimate is discrete and can sit 2 off exact (observed at
          // sf0.001's 25 docs/source), which a floor of 1 misflags as a
          // sketch regression; from sf0.01 up the 5% term dominates
          (abs(col("approx_docs") - col("exact_docs")).cast("double") <=
            greatest(lit(3.0), col("exact_docs").cast("double") * 0.05)).as("hll_ok"),
          // quantile sketch accuracy=1000: approx median within 5% (floor 2)
          // of the exact interpolated median
          (abs(col("approx_med") - col("exact_med")) <=
            greatest(lit(2.0), col("exact_med") * 0.05)).as("median_ok"))
        .orderBy("source")
    },

    // Count-min-sketch heavy hitters over the corpus token stream — the
    // x1 pattern for frequency sketches: the output carries the EXACT
    // top-20 token counts (deterministic: count desc, token asc) plus a
    // boolean asserting the CMS estimate respects its contract (never
    // under-counts; over-counts by ≤ max(3, eps·N) at eps=0.001, fixed
    // seed so the sketch is bit-deterministic). The sketch itself is
    // mergeable counter arrays — map-side partials, order-independent
    // merge — and the probe is k-bounded driver work, so the plan is
    // one token scan + one bounded TakeOrdered at any corpus size.
    "x2_cms_heavyhitters" -> { (s, dir) =>
      import s.implicits._
      val toks = Tables.load(s, dir, "documents")
        .select(explode(TA.tokens(col("text"))).as("tok"))
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
        .orderBy(desc("exact_n"), asc("tok")).limit(20).collect()
      val total = toks.count()
      val cms = toks.stat.countMinSketch("tok", eps = 0.001,
        confidence = 0.99, seed = 42)
      exact.toSeq.map { r =>
        val t = r.getString(0); val e = r.getLong(1)
        val est = cms.estimateCount(t)
        (t, e, est >= e && est - e <= math.max(3L, (0.001 * total).toLong))
      }.toDF("tok", "exact_n", "cms_ok").orderBy(desc("exact_n"), asc("tok"))
    },

    // ---- event-time windows ----------------------------------------------

    // Tumbling 1-minute event-time windows over the events table — the
    // batch shape of EventStreams.windowedStats with decimal-exact sums
    // (order-independent, so the hash compare holds).
    "st1_windowed_stats" -> { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .groupBy(expr("ts_us div 60000000").cast("long").as("minute"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 6)))
            .cast("double").as("sum_value"))
        .orderBy("minute", "event_type")
    },

    // Windowed anomaly detection — the stream-quality monitor over event
    // volumes: hourly counts per event_type z-scored against that type's
    // own distribution, |z| ≥ 2 flagged. The mean/std come from the a10
    // exact-integer-sum moments (n, Σc, Σc²), so the z-scores hash-match
    // cross-engine — a Welford/stddev_samp aggregate never would. Two
    // hash-agg passes + a broadcast-sized per-type join; no window
    // function, nothing corpus-global.
    "st3_anomaly" -> { (s, dir) =>
      val w = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .groupBy(expr("ts_us div 3600000000").cast("long").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val stats = w.groupBy("event_type").agg(
        count(lit(1)).as("n_w"),
        sum(col("n")).as("s1"),
        sum(col("n") * col("n")).as("s2"))
      w.join(broadcast(stats), Seq("event_type"))
        .withColumn("mean_n",
          col("s1").cast("double") / col("n_w").cast("double"))
        .withColumn("std_n", sqrt(
          (col("s2").cast("double")
            - col("s1").cast("double") * col("s1").cast("double")
              / col("n_w").cast("double"))
            / (col("n_w") - 1).cast("double")))
        // degenerate types (one bucket → std NaN, constant counts →
        // std 0) have NO distribution to score against: z is NULL and
        // nothing flags — without the guard z is NaN, and NaN ≥ 2.0 is
        // TRUE on both engines, flagging 100% of a perfectly-steady type
        .withColumn("z", when(col("std_n") > lit(0.0),
          (col("n").cast("double") - col("mean_n")) / col("std_n")))
        .withColumn("is_anomaly",
          when(col("std_n") > lit(0.0), abs(col("z")) >= lit(2.0))
            .otherwise(lit(false)))
        .select("event_type", "hour", "n", "z", "is_anomaly")
        .orderBy("event_type", "hour")
    },

    // Gap-based sessionization, batch shape (the streaming twin lives in
    // EventStreams.sessionize): a session breaks after a 30-minute gap
    // per user. The lag/cumsum windows partition on user_id — per-key
    // state only, one shuffle, same keying a 1000-executor cluster would
    // use; timestamps stay integer microseconds and the value sum goes
    // through decimal, so the oracle hash matches exactly.
    "st2_sessions" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"), col("value"))
        .withColumn("prev", lag(col("tus"), 1).over(w))
        .withColumn("new_sess",
          (col("prev").isNull || col("tus") - col("prev") > 1800000000L).cast("long"))
        .withColumn("sess_no", sum("new_sess").over(w))
        .groupBy("user_id", "sess_no")
        .agg(count(lit(1)).as("n_events"),
          min("tus").as("sess_start_us"),
          max("tus").as("sess_end_us"),
          (max("tus") - min("tus")).as("duration_us"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 6)))
            .cast("double").as("sum_value"))
        .orderBy("user_id", "sess_no")
    },

    // Ordered funnel over the event log: sequential first-occurrence
    // per user (each step strictly after the previous), per-step user
    // counts + conversion. k−1 user-keyed join+agg rounds, then the
    // one-row count frame melts via unpivot (a13's single-Expand shape).
    "st4_funnel" -> { (s, dir) =>
      graft.ops.EventAnalytics.funnelSteps(Tables.events(s, dir),
          "user_id", "event_type", "ts", Seq("signup", "click", "purchase"))
        .orderBy("step")
    },

    // Windowed funnel: same ordered semantics, each step additionally
    // within 24 h of the previous — the "converted within N days"
    // product-analytics form. Gap arithmetic is exact integer
    // microseconds on both engines.
    "st4b_funnel_windowed" -> { (s, dir) =>
      graft.ops.EventAnalytics.funnelSteps(Tables.events(s, dir),
          "user_id", "event_type", "ts", Seq("signup", "click", "purchase"),
          maxGapUs = Some(86400000000L))
        .orderBy("step")
    },

    // Funnel transition statistics — time-between-steps (mean/min/max of
    // ts_{i+1} − ts_i in exact integer microseconds) per consecutive
    // step pair: the "where does the funnel stall" report. Same one
    // user-keyed aggregation as st4, fold carrying the chain TIMES.
    "st4c_funnel_gaps" -> { (s, dir) =>
      graft.ops.EventAnalytics.funnelTransitionStats(Tables.events(s, dir),
          "user_id", "event_type", "ts", Seq("signup", "click", "purchase"))
        .orderBy("step_from")
    },

    // PRODUCTION twin of st4: the bot-capped funnel — per-user fold
    // state bounded at O(cap) by the `graft_topk_min` heap (each user's
    // 8 time-earliest funnel events), the form a 100 TB event log needs
    // where one bot's tens of millions of funnel-typed events would
    // otherwise buffer in a single task (SCALE.md, round 14's bot-skew
    // A/B, measures the 10 M-event bot). cap = 8 BINDS at every test sf (active users hold
    // more than 8 funnel events), so the oracle checks the capped
    // semantics itself — each engine restricts to the row_number-by-
    // (ets, step)-≤ 8 event set, then runs the same sequential-min
    // chain. Disclosed under-report semantics in the op scaladoc.
    "st4d_funnel_capped" -> { (s, dir) =>
      graft.ops.EventAnalytics.funnelSteps(Tables.events(s, dir),
          "user_id", "event_type", "ts", Seq("signup", "click", "purchase"),
          maxEventsPerUser = Some(8))
        .orderBy("step")
    },

    // PRODUCTION twin of st4c: transition stats over the same capped
    // event set — closes the funnel family's last unbounded per-user
    // fold. (st6's topEventPaths needs no twin: its bounded heap keeps
    // only the `depth` earliest events per user by construction.)
    "st4e_funnel_gaps_capped" -> { (s, dir) =>
      graft.ops.EventAnalytics.funnelTransitionStats(Tables.events(s, dir),
          "user_id", "event_type", "ts", Seq("signup", "click", "purchase"),
          maxEventsPerUser = Some(8))
        .orderBy("step_from")
    },

    // Top user-journey paths (the product-analytics "pathfinder"): each
    // user's first 4 events in (ts, type) order join into a path
    // string; the report keeps the 20 most-common paths. One user-keyed
    // agg + a bounded TakeOrdered — nothing corpus-global.
    "st6_event_paths" -> { (s, dir) =>
      graft.ops.EventAnalytics.topEventPaths(Tables.events(s, dir),
        "user_id", "event_type", "ts", depth = 4, topN = 20)
    },

    // Event-type transition matrix (first-order Markov flow): per
    // consecutive event pair in each user's ordered history, count and
    // P(to|from). Pairs form inside the sorted per-user array — no
    // self-join, no window; the per-from totals broadcast.
    "st7_transitions" -> { (s, dir) =>
      graft.ops.EventAnalytics.eventTransitionMatrix(Tables.events(s, dir),
        "user_id", "event_type", "ts")
    },

    // BOT-SKEW twin of st7: pair formation chunked into 1-day windows —
    // per-task sort state bounded by a chunk's events (a bot's chunks
    // sort in PARALLEL instead of serializing one task), boundary pairs
    // recovered from per-chunk (first, last); output identical to st7
    // and hash-checked against the same oracle. SCALE.md (round 17)
    // measures the 10 M-event bot.
    "st7b_transitions_chunked" -> { (s, dir) =>
      graft.ops.EventAnalytics.eventTransitionMatrix(Tables.events(s, dir),
        "user_id", "event_type", "ts", chunkUs = Some(86400000000L))
    },

    // Weekly cohort retention: cohort = epoch-week of first activity,
    // retained-at-offset from distinct (user, week) activity. Exact
    // integer week arithmetic — no calendar/timezone drift cross-engine.
    "st5_cohorts" -> { (s, dir) =>
      graft.ops.EventAnalytics.cohortRetention(Tables.events(s, dir),
          "user_id", "ts")
        .orderBy("cohort_week", "week_offset")
    },

    // ---- multimodal (binary) ---------------------------------------------

    // Batched mapPartitions kernel path (the JVM analogue of mapInPandas):
    // byte histogram counts from the typed media table — checks the
    // Dataset encoder/batch plumbing end-to-end against a SQL oracle.
    "m2_media_histogram" -> { (s, dir) =>
      val media = graft.multimodal.Multimodal.toMediaTable(
        Tables.load(s, dir, "documents").withColumn("bin", col("text").cast("binary")),
        "doc_id", "bin")
      graft.multimodal.Multimodal.byteHistogram(media, 8)
        .select(col("media_id").as("doc_id") +:
          (0 until 8).map(b => element_at(col("h"), b + 1).as(s"h$b")): _*)
        .orderBy("doc_id")
    },

    // Opaque-binary column plumbing: byte length, rolling checksum over
    // bytes (decoded from hex pairs), head bytes — the deterministic stand-
    // in for decode/feature-extract (graft.multimodal has the typed stubs).
    "m1_media_features" -> { (s, dir) =>
      // checksum = native byte fold (graft_phash on binary) — identical to
      // the oracle's hex-pair decode fold
      Tables.load(s, dir, "documents")
        .withColumn("media", col("text").cast("binary"))
        .select(col("doc_id"),
          octet_length(col("media")).as("media_len"),
          call_function("graft_phash", col("media")).as("checksum"),
          hex(col("media")).substr(lit(1), lit(16)).as("head_hex"))
        .orderBy("doc_id")
    },

    // ---- web-corpus curation rules (published pre-filters) ---------------

    // Gopher document-quality rules (Rae et al. 2021 Table A1) at the
    // paper's thresholds, over the deterministic web-structure fixture
    // (WebCuration.webRawText — lines / bullets / punctuation / symbol
    // junk derived from doc_id; the e5 synth pattern, since the corpus
    // has no line structure for the rules to fire on). The stop-word
    // list and symbol class are the SYNTHETIC-vocabulary ones, passed
    // explicitly — the operator's defaults are the paper's full list
    // and #/…/... class. Zero-shuffle codegen'd projection; ORDER BY is
    // oracle determinism only.
    "e40_gopher_rules" -> { (s, dir) =>
      // loadSpread: the whole rule set is per-row regex/array work on an
      // otherwise zero-shuffle plan — single-row-group input runs it all
      // on one task (2.5× measured; see Tables.loadSpread)
      val docs = graft.ops.WebCuration.withWebRaw(
        Tables.loadSpread(s, dir, "documents"), "doc_id", "text")
      graft.ops.WebCuration.gopherRules(docs, "doc_id", "raw",
          stopwords = graft.ops.WebCuration.syntheticStopwords,
          symbols = Seq("#"))
        .orderBy("doc_id")
    },

    // C4 line-level cleaning (Raffel et al. 2020 §2.2): terminal-punct +
    // min-words line keep, ≥3 kept lines per doc, cleaned text re-joined.
    // Same fixture as e40; zero-shuffle array ops.
    "e41_c4_clean" -> { (s, dir) =>
      val docs = graft.ops.WebCuration.withWebRaw(
        Tables.loadSpread(s, dir, "documents"), "doc_id", "text")
      graft.ops.WebCuration.c4Clean(docs, "doc_id", "raw").orderBy("doc_id")
    },

    // URL canonicalization + URL-level dedup (the CCNet/RefinedWeb first
    // stage). URLs synthesized deterministically from doc_id/source with
    // every canonicalization hazard: scheme variants, WWW./case noise,
    // tracking query strings, fragments, trailing slashes. One hash
    // shuffle (window over the canonical form).
    "e42_url_dedup" -> { (s, dir) =>
      val id = col("doc_id")
      val docs = Tables.load(s, dir, "documents").withColumn("url", concat(
        when(id % 2 === 0, lit("https://")).otherwise(lit("http://")),
        when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
        col("source"), lit("-"), (id % 4).cast("string"), lit(".Example.COM"),
        lit("/articles/"), (id % 7).cast("string"),
        when(id % 4 === 0, lit("/")).otherwise(lit("")),
        when(id % 5 === 0, concat(lit("?utm_source=feed&sid="), id.cast("string")))
          .otherwise(lit("")),
        when(id % 6 === 0, lit("#frag")).otherwise(lit(""))))
      graft.ops.WebCuration.canonicalizeUrls(docs, "doc_id", "url").orderBy("doc_id")
    },

    // The PRODUCTION twin of e42: same output (same oracle), agg-based
    // plan — groupBy(canon_url) partial-aggregates map-side so a
    // mega-duplicated URL collapses before the shuffle, and the
    // join-back is SALTED so no task sees the whole hot key (a window
    // partition is indivisible, and AQE's skew rule measurably declines
    // this join's shape — see WebCuration scaladoc + SCALE.md round
    // 20's ≥1M-copy A/B with max-task-read telemetry).
    "e42b_url_dedup_agg" -> { (s, dir) =>
      val id = col("doc_id")
      val docs = Tables.load(s, dir, "documents").withColumn("url", concat(
        when(id % 2 === 0, lit("https://")).otherwise(lit("http://")),
        when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
        col("source"), lit("-"), (id % 4).cast("string"), lit(".Example.COM"),
        lit("/articles/"), (id % 7).cast("string"),
        when(id % 4 === 0, lit("/")).otherwise(lit("")),
        when(id % 5 === 0, concat(lit("?utm_source=feed&sid="), id.cast("string")))
          .otherwise(lit("")),
        when(id % 6 === 0, lit("#frag")).otherwise(lit(""))))
      graft.ops.WebCuration.canonicalizeUrlsAgg(docs, "doc_id", "url")
        .orderBy("doc_id")
    },

    // Corpus-level duplicated-line removal (RefinedWeb §3.3 / CCNet):
    // 3-token lines shared by ≥2 DISTINCT docs are boilerplate and cut
    // from every doc, survivors re-joined in order. Three bounded
    // shuffles (distinct-count per line, flag join, per-doc regroup).
    "e43_line_dedup" -> { (s, dir) =>
      // lines is FENCED (the staged-attribute rule): without it the
      // Generate's inferred isnotnull constraint alias-substitutes the
      // whole tokenLines expression and pushes it below the loadSpread
      // repartition — the 32-way explode branches then each re-derive
      // the lines in the SINGLE-TASK scan stage (measured: two 2.3 s
      // one-task stages at sf0.1)
      val docs = Tables.loadSpread(s, dir, "documents")
        .withColumn("__tk", TA.tokens(col("text")))
        .withColumn("lines", graft.ops.WebCuration.fence(
          graft.ops.WebCuration.tokenLines(col("__tk"), 3)))
      graft.ops.WebCuration.lineDedup(docs, "doc_id", "lines", minDocs = 2L)
        .orderBy("doc_id")
    },

    // e43 served from the DURABLE duplicated-line artifact: the
    // dupLineTable is built once per (corpus fingerprint, wordsPerLine,
    // minDocs) via Artifacts.table — corpus-global, so it re-keys per
    // corpus version — and every consumer (and every incremental ingest
    // batch, via lineDedupAgainst) joins the committed scan instead of
    // re-counting the corpus. Output hash-equal to e43 (same oracle).
    "e43b_line_dedup_artifact" -> { (s, dir) =>
      // same fenced staging as e43 (see there)
      val docs = Tables.loadSpread(s, dir, "documents")
        .withColumn("__tk", TA.tokens(col("text")))
        .withColumn("lines", graft.ops.WebCuration.fence(
          graft.ops.WebCuration.tokenLines(col("__tk"), 3)))
      val dup = Artifacts.table(s, "dup_lines",
          s"$dir|${fp(s, dir, "documents")}|w=3|minDocs=2", keys = Seq("line")) {
        graft.ops.WebCuration.dupLineTable(docs, "doc_id", "lines", minDocs = 2L)
      }
      graft.ops.WebCuration.lineDedupAgainst(docs, "doc_id", "lines", dup)
        .orderBy("doc_id")
    },

    // Web-curation cascade — the published pre-filter order of a
    // CommonCrawl-derived pipeline composed in ONE plan: Gopher quality
    // gate → C4 line cleaning → exact dedup of the CLEANED text (line
    // surgery can make near-identical docs exactly equal, so the hash
    // dedup runs after cleaning — the CCNet ordering). Plan shape:
    // SEQUENTIAL projections off one scan — gopher passes raw through
    // and the keep filter applies in place (no self-join, no second
    // fixture evaluation) — and the dedup groupBy is the single data
    // shuffle.
    "c3_web_pipeline" -> { (s, dir) =>
      val raw = graft.ops.WebCuration.withWebRaw(
        Tables.loadSpread(s, dir, "documents"), "doc_id", "text")
      // both rule sets are row-local projections on the same input, so
      // the cascade is SEQUENTIAL on one scan (gopher passes raw
      // through; no self-join, no second fixture evaluation) — the
      // r19 bench caught the original semi-join form recomputing the
      // fixture on both branches (5.2 s → ~1.5 s)
      val gated = graft.ops.WebCuration
        .gopherRules(raw, "doc_id", "raw",
          stopwords = graft.ops.WebCuration.syntheticStopwords,
          symbols = Seq("#"), passthrough = Seq("raw"))
        .filter(col("keep")).select("doc_id", "raw")
      val cleaned = graft.ops.WebCuration.c4Clean(gated, "doc_id", "raw")
        .filter(col("keep"))
      cleaned
        .select(col("doc_id"),
          call_function("graft_phash", col("cleaned")).as("content_hash"))
        .groupBy("content_hash")
        .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_copies"))
        .orderBy("content_hash")
    }
  )

  // =========================================================================

  private val baseOracles: Map[String, String] = Map(

    "d1_exact_dedup" ->
      s"""WITH h AS (SELECT doc_id, ${dPhash("text", "a")} AS content_hash FROM documents)
         |SELECT content_hash, min(doc_id) AS rep_id, count(1) AS n_copies
         |FROM h GROUP BY content_hash ORDER BY content_hash""".stripMargin,

    // same phash grouping as d1 over the normalized text; the ASCII
    // regex classes behave identically in Java and RE2
    "d11_norm_dedup" ->
      s"""WITH nrm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
         |    lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS ntext
         |  FROM documents),
         |h AS (SELECT doc_id, ${dPhash("ntext", "nd")} AS content_hash FROM nrm)
         |SELECT content_hash, min(doc_id) AS rep_id, count(1) AS n_copies
         |FROM h GROUP BY content_hash ORDER BY content_hash""".stripMargin,

    "d2_minhash_lsh" ->
      s"""WITH $dLshCand
         |SELECT id_a, id_b,
         |  CAST(len(list_filter(range(1, 17), ki -> sa.sig[ki] = sb.sig[ki])) AS DOUBLE)
         |    / CAST(16 AS DOUBLE) AS est_jaccard
         |FROM cand JOIN sigs sa ON sa.doc_id = id_a JOIN sigs sb ON sb.doc_id = id_b
         |ORDER BY id_a, id_b""".stripMargin,

    // PageRank mirror: the shared LSH candidate chain as the edge set,
    // then the power iterations unrolled as CTEs; each node's neighbor
    // contributions fold in ascending neighbor-id order and the base is
    // written CAST(1.0)-CAST(0.85) IN DOUBLE — Scala folds the constant
    // in IEEE (0.15000000000000002) while bare DuckDB literals subtract
    // in exact DECIMAL (0.15), a last-ulp mismatch the casts remove
    "g1_pagerank" -> {
      val steps = (1 to 3).map { i =>
        s"""pr$i AS (SELECT dst AS id,
           |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           |      + CAST(0.85 AS DOUBLE) * list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(list(sc$i ORDER BY s$i), xg$i -> xg$i.c)),
           |      (ag$i, vg$i) -> ag$i + vg$i) AS score
           |  FROM (SELECT e$i.dst, e$i.src AS s$i,
           |      {'src': e$i.src, 'c': p$i.score / d$i.deg} AS sc$i
           |    FROM edges e$i JOIN pr${i - 1} p$i ON p$i.id = e$i.src
           |      JOIN degr d$i ON d$i.src = e$i.src)
           |  GROUP BY dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $dLshCand,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM cand
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM cand),
         |degr AS (SELECT src, CAST(count(1) AS DOUBLE) AS deg FROM edges GROUP BY src),
         |pr0 AS (SELECT DISTINCT src AS id, CAST(1.0 AS DOUBLE) AS score FROM edges),
         |$steps
         |SELECT id, score FROM pr3 ORDER BY id""".stripMargin
    },

    // Winnowing mirror: gram hash LISTS are positional, so each window's
    // rightmost-min is pure list arithmetic — min over the w-slice, the
    // largest in-window offset attaining it, 1-based list index mapped
    // to the 0-based gram position.
    "d14_winnow_fp" ->
      s"""WITH $dToks,
         |$dWinnow
         |SELECT DISTINCT doc_id, CAST(u.p AS BIGINT) AS fp_pos, u.h AS fp_hash
         |FROM (SELECT doc_id, unnest(fps) AS u FROM f)
         |ORDER BY doc_id, fp_pos, fp_hash""".stripMargin,

    // MOSS overlap mirror: distinct (doc, hash) fingerprints, the
    // doc-frequency boilerplate cap, hash-keyed pair join, shared-count
    // threshold.
    "d15_winnow_overlap" ->
      s"""WITH $dToks,
         |$dWinnow,
         |dh AS (SELECT DISTINCT doc_id, u.h AS h
         |  FROM (SELECT doc_id, unnest(fps) AS u FROM f)),
         |rare AS (SELECT h FROM dh GROUP BY h HAVING count(1) <= 60),
         |pr AS (SELECT dh.doc_id, dh.h FROM dh JOIN rare USING (h))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(count(1) AS BIGINT) AS n_shared
         |FROM pr a JOIN pr b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(1) >= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // Incremental-dedup mirror: the shared LSH signature chain, an
    // ASYMMETRIC candidate join (partner is corpus, or an earlier batch
    // id — never corpus×corpus), d4b's true-Jaccard verification, and
    // the surviving-batch anti-join.
    "d13_incremental_dedup" ->
      s"""WITH $dLshPrefix,
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM pruned a JOIN pruned b ON a.band = b.band AND a.bucket = b.bucket
         |    AND b.doc_id % 10 = 0
         |    AND (a.doc_id % 10 <> 0 OR a.doc_id < b.doc_id)),
         |ver AS (SELECT c.id_b FROM cand c
         |    JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b
         |  WHERE CAST(len(list_filter(sa.hs, xe -> list_contains(sb.hs, xe))) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(sa.hs, sb.hs))) AS DOUBLE)
         |    >= CAST(0.3 AS DOUBLE))
         |SELECT doc_id, source FROM documents
         |WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT id_b FROM ver)
         |ORDER BY doc_id""".stripMargin,

    // Connected-components mirror: same LSH edge set, labels re-derived
    // from scratch by recursive min-label propagation (propagate a label
    // across an edge only when it undercuts the destination id — the
    // component min survives, the closure stays pruned). Algorithm-
    // independent ground truth for the star-contraction fixpoint.
    // split-leakage mirror: e27's hash-bucket split expression, d9-style
    // distinct 5-gram hashes, per-split distinct gram sets, h-keyed pair
    // counts with sizes joined back
    "d22_split_leakage" ->
      s"""WITH $dToks,
         |sp AS (SELECT doc_id,
         |    CASE WHEN bk < 8 THEN 'train' WHEN bk < 9 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |    ${dPhash("'split|' || CAST(doc_id AS VARCHAR)", "sl")} % 10 AS bk
         |  FROM documents)),
         |grams AS (SELECT DISTINCT doc_id,
         |    ${dPhash("tk[sg] || ' ' || tk[sg+1] || ' ' || tk[sg+2] || ' ' || tk[sg+3] || ' ' || tk[sg+4]", "lk")} AS h
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) - 3)) AS sg) gp
         |  WHERE len(tk) >= 5),
         |sg AS (SELECT DISTINCT s.split, g.h FROM grams g JOIN sp s USING (doc_id)),
         |sz AS (SELECT split, CAST(count(1) AS BIGINT) AS n FROM sg GROUP BY split),
         |sh AS (SELECT a.split AS split_a, b.split AS split_b,
         |    CAST(count(1) AS BIGINT) AS n_shared
         |  FROM sg a JOIN sg b ON a.h = b.h AND a.split <> b.split
         |  GROUP BY 1, 2)
         |SELECT split_a, split_b, za.n AS n_grams_a, zb.n AS n_grams_b, n_shared,
         |  CAST(n_shared AS DOUBLE) / CAST(zb.n AS DOUBLE) AS leak_rate
         |FROM sh JOIN sz za ON za.split = split_a JOIN sz zb ON zb.split = split_b
         |ORDER BY split_a, split_b""".stripMargin,

    // dedup-impact mirror: g2's recursive min-label closure re-used as
    // the label table, left-joined to documents and rolled up per source
    "d21_dedup_impact" ->
      s"""WITH RECURSIVE $dLshCand,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM cand
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM cand),
         |reach AS (
         |  SELECT DISTINCT src AS id, src AS lbl FROM edges
         |  UNION
         |  SELECT ei.dst AS id, ri.lbl AS lbl
         |  FROM reach ri JOIN edges ei ON ei.src = ri.id
         |  WHERE ri.lbl < ei.dst),
         |lbl AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id)
         |SELECT source,
         |  CAST(count(1) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN l.cluster IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_in_clusters,
         |  CAST(sum(CASE WHEN l.cluster IS NOT NULL AND l.cluster <> d.doc_id
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  CAST(CAST(sum(CASE WHEN l.cluster IS NOT NULL AND l.cluster <> d.doc_id
         |      THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
         |    / CAST(count(1) AS DOUBLE) AS drop_rate
         |FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id
         |GROUP BY source ORDER BY source""".stripMargin,

    "g2_connected_components" ->
      s"""WITH RECURSIVE $dLshCand,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM cand
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM cand),
         |reach AS (
         |  SELECT DISTINCT src AS id, src AS lbl FROM edges
         |  UNION
         |  SELECT eg2.dst AS id, rg2.lbl AS lbl
         |  FROM reach rg2 JOIN edges eg2 ON eg2.src = rg2.id
         |  WHERE rg2.lbl < eg2.dst)
         |SELECT id, min(lbl) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin,

    // Representative-selection mirror: g2's recursive min-label ground
    // truth + e2's exact quality formula, arg-max per cluster via a
    // (quality DESC, id ASC) row_number — the same order the Spark
    // max(struct(score, -id)) aggregate encodes.
    "g3_cluster_reps" -> {
      val en = TA.stopwords.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH RECURSIVE $dLshCand,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM cand
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM cand),
         |reach AS (
         |  SELECT DISTINCT src AS id, src AS lbl FROM edges
         |  UNION
         |  SELECT eg3.dst AS id, rg3.lbl AS lbl
         |  FROM reach rg3 JOIN edges eg3 ON eg3.src = rg3.id
         |  WHERE rg3.lbl < eg3.dst),
         |lbl AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
         |q AS (SELECT doc_id,
         |    CAST(0.4 AS DOUBLE) * (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE))
         |    + CAST(0.4 AS DOUBLE) * least(CAST(len(list_filter(tk, tg3 -> list_contains($en, tg3))) AS DOUBLE)
         |        / CAST(len(tk) AS DOUBLE) * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |    + CAST(0.2 AS DOUBLE) * least(CAST(len(tk) AS DOUBLE) / CAST(100.0 AS DOUBLE),
         |        CAST(1.0 AS DOUBLE)) AS quality
         |  FROM toks),
         |mem AS (SELECT lbl.cluster, lbl.id, q.quality,
         |    row_number() OVER (PARTITION BY lbl.cluster ORDER BY q.quality DESC, lbl.id) AS rn,
         |    count(1) OVER (PARTITION BY lbl.cluster) AS nm
         |  FROM lbl JOIN q ON q.doc_id = lbl.id)
         |SELECT cluster, id AS rep_id, quality AS rep_score, CAST(nm AS BIGINT) AS n_members
         |FROM mem WHERE rn = 1 ORDER BY cluster""".stripMargin
    },

    "d3_simhash" ->
      s"""WITH $dToks,
         |th AS (SELECT doc_id, list_transform(tk, tx -> ${dPhash("tx", "c")}) AS hs FROM toks)
         |SELECT doc_id AS id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(0, 24), bi ->
         |      CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(hs, hv -> ((hv // CAST(pow(2, bi) AS BIGINT)) % 2) * 2 - 1)),
         |          (aa, bb) -> aa + bb) > 0
         |        THEN CAST(pow(2, bi) AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |    (ac, bc) -> ac + bc) AS simhash
         |FROM th ORDER BY id""".stripMargin,

    "d4_ngram_jaccard" ->
      s"""WITH $dToks,
         |sh AS (SELECT doc_id, lang, source, list_distinct(list_transform(range(1, len(tk)),
         |         si -> ${dPhash("tk[si] || ' ' || tk[si+1]", "d")})) AS hs
         |       FROM toks WHERE len(tk) >= 2)
         |SELECT id_a, id_b, jaccard FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_filter(a.hs, xe -> list_contains(b.hs, xe))) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(a.hs, b.hs))) AS DOUBLE) AS jaccard
         |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source
         |    AND a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.02 ORDER BY id_a, id_b""".stripMargin,

    // d2's candidate CTEs (identical parameters, skew guard included)
    // composed with d4's exact distinct-shingle Jaccard — verified pairs
    // are the candidates whose TRUE Jaccard clears the threshold; the
    // whole chain is the shared dLshVerified val (a15 rolls up the same
    // vp rows per source pair).
    "d4b_lsh_verified" ->
      s"""WITH $dLshVerified
         |SELECT id_a, id_b, jaccard FROM vp ORDER BY id_a, id_b""".stripMargin,

    // cross-source overlap mirror: d4b's verified-pair chain (the SAME
    // dLshVerified val — identical candidates, skew guard, 0.02 floor)
    // joined to each side's source, orientation normalized with
    // least/greatest, then the integer/min/max per-pair rollup — no
    // double sums, so the matrix is hash-exact like the pairs that
    // feed it
    "a15_source_overlap" ->
      s"""WITH $dLshVerified,
         |srcm AS (SELECT doc_id, source FROM documents)
         |SELECT least(sa.source, sb.source) AS source_a,
         |  greatest(sa.source, sb.source) AS source_b,
         |  CAST(count(1) AS BIGINT) AS n_pairs,
         |  min(jaccard) AS min_jaccard,
         |  max(jaccard) AS max_jaccard,
         |  CAST(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_strong
         |FROM vp JOIN srcm sa ON sa.doc_id = vp.id_a
         |  JOIN srcm sb ON sb.doc_id = vp.id_b
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    // edit-verify mirror: the shared LSH chain's cand pairs screened by
    // the same 4/16 signature-agreement floor, then joined to 256-char
    // text prefixes; classic Levenshtein DP on both engines (identical
    // integers on identical strings), one guarded division
    "d19_edit_verify" ->
      s"""WITH $dLshCand,
         |scr AS (SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b,
         |      CAST(len(list_filter(range(1, 17), ks -> sa.sig[ks] = sb.sig[ks])) AS DOUBLE)
         |        / CAST(16 AS DOUBLE) AS est
         |    FROM cand JOIN sigs sa ON sa.doc_id = id_a JOIN sigs sb ON sb.doc_id = id_b)
         |  WHERE est >= 0.25),
         |tx AS (SELECT doc_id, substring(text, 1, 256) AS t FROM documents)
         |SELECT id_a, id_b, edit_sim FROM (
         |  SELECT c.id_a, c.id_b,
         |    CASE WHEN greatest(length(a.t), length(b.t)) = 0 THEN 1.0
         |         ELSE 1.0 - CAST(levenshtein(a.t, b.t) AS DOUBLE)
         |           / CAST(greatest(length(a.t), length(b.t)) AS DOUBLE) END AS edit_sim
         |  FROM scr c JOIN tx a ON a.doc_id = c.id_a JOIN tx b ON b.doc_id = c.id_b)
         |WHERE edit_sim >= 0.3 ORDER BY id_a, id_b""".stripMargin,

    // estimation-error mirror: per-cand signature agreement m/16 next to
    // the true distinct-shingle Jaccard (zero-overlap pairs included —
    // sets are non-empty so the union never divides by zero)
    "d20_minhash_est" ->
      s"""WITH $dLshCand
         |SELECT id_a, id_b, est_jaccard, jaccard,
         |  abs(est_jaccard - jaccard) AS abs_err
         |FROM (
         |  SELECT c.id_a, c.id_b,
         |    CAST(len(list_filter(range(1, 17), ke -> sa.sig[ke] = sb.sig[ke])) AS DOUBLE)
         |      / CAST(16 AS DOUBLE) AS est_jaccard,
         |    CAST(len(list_filter(a.hs, xm -> list_contains(b.hs, xm))) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(a.hs, b.hs))) AS DOUBLE) AS jaccard
         |  FROM cand c
         |    JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b
         |    JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b)
         |ORDER BY id_a, id_b""".stripMargin,

    // novelty mirror: d9's 1-indexed positional 5-gram hashes made
    // per-doc-distinct, min-owner per hash, per-doc indicator sums
    "e34_ngram_novelty" ->
      s"""WITH $dToks,
         |grams AS (SELECT DISTINCT doc_id,
         |    ${dPhash("tk[sg] || ' ' || tk[sg+1] || ' ' || tk[sg+2] || ' ' || tk[sg+3] || ' ' || tk[sg+4]", "nv")} AS h
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) - 3)) AS sg) gp
         |  WHERE len(tk) >= 5),
         |fo AS (SELECT h, min(doc_id) AS first_owner FROM grams GROUP BY h)
         |SELECT doc_id,
         |  CAST(count(1) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN g.doc_id = f.first_owner THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST(CAST(sum(CASE WHEN g.doc_id = f.first_owner THEN 1 ELSE 0 END) AS BIGINT)
         |      AS DOUBLE) / CAST(count(1) AS DOUBLE) AS novelty
         |FROM grams g JOIN fo f USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // vocabulary-profile mirror: per-source term frequencies once, then
    // the integer rollup; modal token via the (n DESC, tok DESC) window
    // = Spark's max(struct(n, tok))
    "a14_vocab_stats" ->
      s"""WITH $dToks,
         |tok AS (SELECT source, unnest(tk) AS tok FROM toks),
         |tf AS (SELECT source, tok, CAST(count(1) AS BIGINT) AS n
         |       FROM tok GROUP BY source, tok),
         |docs AS (SELECT source, CAST(count(1) AS BIGINT) AS n_docs
         |         FROM documents GROUP BY source),
         |agg AS (SELECT source,
         |    CAST(sum(n) AS BIGINT) AS n_tokens,
         |    CAST(count(1) AS BIGINT) AS n_types,
         |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         |    CAST(max(n) AS BIGINT) AS max_freq
         |  FROM tf GROUP BY source),
         |top AS (SELECT source, tok AS top_token FROM (
         |    SELECT source, tok,
         |      row_number() OVER (PARTITION BY source ORDER BY n DESC, tok DESC) AS r
         |    FROM tf) WHERE r = 1)
         |SELECT a.source, d.n_docs, a.n_tokens, a.n_types, a.n_hapax,
         |  a.max_freq, t.top_token,
         |  CAST(a.n_types AS DOUBLE) / CAST(a.n_tokens AS DOUBLE) AS ttr
         |FROM agg a JOIN docs d USING (source) JOIN top t USING (source)
         |ORDER BY source""".stripMargin,

    // collocation mirror: adjacent pairs from the token lists (1-based
    // tk[i] over range(1, len) = Spark's 0-based zip-with-next), same
    // min-count gate, unigram join, floor-log2 bits via bin() — on
    // HUGEINT products, mirroring graft_pbits' 128-bit widening (a
    // BIGINT product would error out at real corpus magnitudes)
    "e38_collocations" ->
      s"""WITH $dToks,
         |tok AS (SELECT unnest(tk) AS tok FROM toks),
         |uni AS (SELECT tok, CAST(count(1) AS BIGINT) AS cn FROM tok GROUP BY tok),
         |tot AS (SELECT CAST(sum(cn) AS BIGINT) AS ntot FROM uni),
         |pr0 AS (SELECT unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i+1])) AS pair
         |  FROM toks WHERE len(tk) >= 2),
         |pairs AS (SELECT pair, CAST(count(1) AS BIGINT) AS np
         |  FROM pr0 GROUP BY pair HAVING count(1) >= 5),
         |sp AS (SELECT string_split(pair, ' ')[1] AS w1,
         |    string_split(pair, ' ')[2] AS w2, np FROM pairs)
         |SELECT w1, w2, np AS n_pair, u1.cn AS n_left, u2.cn AS n_right,
         |  CAST(length(bin(CAST(t.ntot AS HUGEINT) * np))
         |    - length(bin(CAST(u1.cn AS HUGEINT) * u2.cn)) AS BIGINT)
         |    AS pmi_bits
         |FROM sp JOIN uni u1 ON u1.tok = sp.w1
         |  JOIN uni u2 ON u2.tok = sp.w2 CROSS JOIN tot t
         |ORDER BY n_pair DESC, w1, w2 LIMIT 20""".stripMargin,

    // frequency-of-frequency mirror: two integer aggregations
    "e39_freq_of_freq" ->
      s"""WITH $dToks,
         |tok AS (SELECT unnest(tk) AS tok FROM toks),
         |tf AS (SELECT tok, CAST(count(1) AS BIGINT) AS f FROM tok GROUP BY tok)
         |SELECT f, CAST(count(1) AS BIGINT) AS n_types
         |FROM tf GROUP BY f ORDER BY f LIMIT 20""".stripMargin,

    // health-report mirror: the a10-style token counts, the e34 novelty
    // sums re-aggregated per source, and the a11 kl_bits branch joined
    // on the source key
    "a12_corpus_health" ->
      s"""WITH $dToks,
         |prof AS (SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
         |    CAST(sum(len(tk)) AS BIGINT) AS n_tokens
         |  FROM toks GROUP BY source),
         |grams AS (SELECT DISTINCT doc_id,
         |    ${dPhash("tk[sg] || ' ' || tk[sg+1] || ' ' || tk[sg+2] || ' ' || tk[sg+3] || ' ' || tk[sg+4]", "hh")} AS h
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) - 3)) AS sg) gp
         |  WHERE len(tk) >= 5),
         |fo AS (SELECT h, min(doc_id) AS first_owner FROM grams GROUP BY h),
         |docnov AS (SELECT doc_id,
         |    CAST(count(1) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN g.doc_id = f.first_owner THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_novel
         |  FROM grams g JOIN fo f USING (h) GROUP BY doc_id),
         |nov AS (SELECT d.source,
         |    CAST(sum(dn.n_grams) AS BIGINT) AS sum_grams,
         |    CAST(sum(dn.n_novel) AS BIGINT) AS sum_novel
         |  FROM docnov dn JOIN documents d USING (doc_id) GROUP BY d.source),
         |tok AS (SELECT source, unnest(tk) AS tok FROM toks),
         |sc AS (SELECT source, tok, CAST(count(1) AS BIGINT) AS sn
         |       FROM tok GROUP BY source, tok),
         |cnt AS (SELECT tok, CAST(sum(sn) AS BIGINT) AS n FROM sc GROUP BY tok),
         |vocab AS (SELECT tok, n FROM cnt ORDER BY n DESC, tok LIMIT 5000),
         |iv AS (SELECT sc.source, sc.tok, sc.sn, v.n FROM sc JOIN vocab v USING (tok)),
         |ctot AS (SELECT CAST(sum(sn) AS BIGINT) AS ctot FROM iv),
         |stot AS (SELECT source, CAST(sum(sn) AS BIGINT) AS stot
         |         FROM iv GROUP BY source),
         |div AS (SELECT source,
         |    CAST(CAST(sum(iv.sn * (length(bin(c.ctot)) - length(bin(iv.n)))) AS BIGINT)
         |       - CAST(sum(iv.sn * (length(bin(s.stot)) - length(bin(iv.sn)))) AS BIGINT)
         |      AS DOUBLE) / CAST(max(s.stot) AS DOUBLE) AS kl_bits
         |  FROM iv JOIN stot s USING (source) CROSS JOIN ctot c
         |  GROUP BY iv.source)
         |SELECT source, n_docs, n_tokens, sum_grams, sum_novel,
         |  CAST(sum_novel AS DOUBLE) / CAST(sum_grams AS DOUBLE) AS novelty, kl_bits
         |FROM prof JOIN nov USING (source) JOIN div USING (source)
         |ORDER BY source""".stripMargin,

    // source-divergence mirror: e16's integer bitlen surprise summed per
    // source under both the pooled-corpus and own-source counts, same
    // top-5000 vocabulary cut (count desc, token asc)
    "a11_source_divergence" ->
      s"""WITH $dToks,
         |tok AS (SELECT source, unnest(tk) AS tok FROM toks),
         |sc AS (SELECT source, tok, CAST(count(1) AS BIGINT) AS sn
         |       FROM tok GROUP BY source, tok),
         |cnt AS (SELECT tok, CAST(sum(sn) AS BIGINT) AS n FROM sc GROUP BY tok),
         |vocab AS (SELECT tok, n FROM cnt ORDER BY n DESC, tok LIMIT 5000),
         |iv AS (SELECT sc.source, sc.tok, sc.sn, v.n FROM sc JOIN vocab v USING (tok)),
         |ctot AS (SELECT CAST(sum(sn) AS BIGINT) AS ctot FROM iv),
         |stot AS (SELECT source, CAST(sum(sn) AS BIGINT) AS stot
         |         FROM iv GROUP BY source)
         |SELECT source, n_tokens, cross_bits, self_bits,
         |  CAST(cross_bits - self_bits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS kl_bits
         |FROM (
         |  SELECT iv.source, max(s.stot) AS n_tokens,
         |    CAST(sum(iv.sn * (length(bin(c.ctot)) - length(bin(iv.n)))) AS BIGINT)
         |      AS cross_bits,
         |    CAST(sum(iv.sn * (length(bin(s.stot)) - length(bin(iv.sn)))) AS BIGINT)
         |      AS self_bits
         |  FROM iv JOIN stot s USING (source) CROSS JOIN ctot c
         |  GROUP BY iv.source)
         |ORDER BY source""".stripMargin,

    // recall-eval mirror: the shared LSH chain (sh/cand in scope) for the
    // found side, a lang/source-carrying shingle CTE for the blocked
    // ground truth, bucketed left join
    "d12_lsh_recall" ->
      s"""WITH $dLshCand,
         |shr AS (SELECT doc_id, lang, source, list_distinct(list_transform(range(1, len(tk)),
         |         sr -> ${dPhash("tk[sr] || ' ' || tk[sr+1]", "r")})) AS hs
         |       FROM toks WHERE len(tk) >= 2),
         |truth AS (SELECT id_a, id_b, jaccard FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |      CAST(len(list_filter(a.hs, xr -> list_contains(b.hs, xr))) AS DOUBLE)
         |        / CAST(len(list_distinct(list_concat(a.hs, b.hs))) AS DOUBLE) AS jaccard
         |    FROM shr a JOIN shr b ON a.lang = b.lang AND a.source = b.source
         |      AND a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.05),
         |found AS (SELECT id_a, id_b FROM (
         |    SELECT c.id_a, c.id_b,
         |      CAST(len(list_filter(a.hs, xf -> list_contains(b.hs, xf))) AS DOUBLE)
         |        / CAST(len(list_distinct(list_concat(a.hs, b.hs))) AS DOUBLE) AS jv
         |    FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b)
         |  WHERE jv >= 0.05)
         |SELECT bucket, n_truth, n_found,
         |  CAST(n_found AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall
         |FROM (
         |  SELECT CAST(floor(t.jaccard * 10) AS BIGINT) AS bucket,
         |    CAST(count(1) AS BIGINT) AS n_truth,
         |    CAST(count(f.id_a) AS BIGINT) AS n_found
         |  FROM truth t LEFT JOIN found f ON f.id_a = t.id_a AND f.id_b = t.id_b
         |  GROUP BY 1)
         |ORDER BY bucket""".stripMargin,

    // duplicated-span mirror: 1-indexed 5-gram positions hashed with the
    // same polynomial hash, per-hash distinct-doc counts, flagged
    // positions merged into maximal spans by the same gap>n−1 rule
    // (DuckDB's default running-sum window frame matches Spark's).
    "d9_dup_spans" ->
      s"""WITH $dToks,
         |grams AS (SELECT doc_id, sg,
         |    ${dPhash("tk[sg] || ' ' || tk[sg+1] || ' ' || tk[sg+2] || ' ' || tk[sg+3] || ' ' || tk[sg+4]", "g9")} AS h
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) - 3)) AS sg) gp
         |  WHERE len(tk) >= 5),
         |hits AS (SELECT h FROM (SELECT h, doc_id FROM grams GROUP BY h, doc_id)
         |  GROUP BY h HAVING count(1) >= 2),
         |flagged AS (SELECT g.doc_id, g.sg FROM grams g JOIN hits USING (h)),
         |isl AS (SELECT doc_id, sg,
         |    sum(CASE WHEN gap > 4 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY sg) AS island
         |  FROM (SELECT doc_id, sg,
         |      coalesce(sg - lag(sg) OVER (PARTITION BY doc_id ORDER BY sg), 5) AS gap
         |    FROM flagged))
         |SELECT doc_id, CAST(min(sg) - 1 AS INTEGER) AS span_start,
         |  CAST(max(sg) + 3 AS INTEGER) AS span_end,
         |  count(1) AS n_dup_grams
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,

    // cut mirror: d9's span CTEs re-derived, span token positions
    // exploded, anti-joined away, text rebuilt with an ordered string_agg
    "d10_cut_spans" ->
      s"""WITH $dToks,
         |grams AS (SELECT doc_id, sg,
         |    ${dPhash("tk[sg] || ' ' || tk[sg+1] || ' ' || tk[sg+2] || ' ' || tk[sg+3] || ' ' || tk[sg+4]", "ca")} AS h
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) - 3)) AS sg) gp
         |  WHERE len(tk) >= 5),
         |hits AS (SELECT h FROM (SELECT h, doc_id FROM grams GROUP BY h, doc_id)
         |  GROUP BY h HAVING count(1) >= 2),
         |flagged AS (SELECT g.doc_id, g.sg FROM grams g JOIN hits USING (h)),
         |isl AS (SELECT doc_id, sg,
         |    sum(CASE WHEN gap > 4 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY sg) AS island
         |  FROM (SELECT doc_id, sg,
         |      coalesce(sg - lag(sg) OVER (PARTITION BY doc_id ORDER BY sg), 5) AS gap
         |    FROM flagged)),
         |spans AS (SELECT doc_id, min(sg) AS s_start, max(sg) + 4 AS s_end
         |  FROM isl GROUP BY doc_id, island),
         |spanpos AS (SELECT doc_id, unnest(range(s_start, s_end + 1)) AS p FROM spans),
         |tokpos AS (SELECT doc_id, sg AS p, tk[sg] AS tok
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS sg) g2),
         |kept AS (SELECT t.doc_id, t.p, t.tok FROM tokpos t
         |  ANTI JOIN spanpos s ON t.doc_id = s.doc_id AND t.p = s.p),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
         |    CAST(count(1) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_tokens_kept,
         |  CAST(len(d.tk) - coalesce(a.n_kept, 0) AS BIGINT) AS n_tokens_cut
         |FROM toks d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "d5_embed_neardup" ->
      s"""WITH ${dVecs("e")}
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${dDot("a.v", "b.v", "p")} / (a.nrm * b.nrm) AS cosine
         |  FROM normed a JOIN normed b ON a.label = b.label AND a.vec_id < b.vec_id)
         |WHERE cosine >= 0.2 ORDER BY id_a, id_b""".stripMargin,

    // SemDeDup mirror: full kmeans training replay (n5's verified
    // pattern) → final assignment under cent5 → within-cluster cosine
    // pairs → one EXISTS drop of every larger-id member of a pair.
    "d16_semdedup" ->
      s"""WITH ${dVecs("sd")},
         |${dKmeans(20, 5)},
         |asgsd AS (SELECT vec_id, cluster FROM (
         |    SELECT vs.vec_id, cs.cluster,
         |      row_number() OVER (PARTITION BY vs.vec_id
         |        ORDER BY ${dL2("vs.v", "cs.centroid", "zsd")}, cs.cluster) AS asr
         |    FROM vecs vs CROSS JOIN cent5 cs) WHERE asr = 1),
         |nsd AS (SELECT a.vec_id, a.cluster, n.nrm, n.v
         |  FROM asgsd a JOIN normed n ON n.vec_id = a.vec_id),
         |dropssd AS (SELECT DISTINCT b.vec_id AS did
         |  FROM nsd a JOIN nsd b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${dDot("a.v", "b.v", "dd")} / (a.nrm * b.nrm) >= 0.2)
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM asgsd
         |WHERE vec_id NOT IN (SELECT did FROM dropssd)
         |ORDER BY vec_id""".stripMargin,

    // containment mirror: the shared d2 LSH chain (sh/cand in scope),
    // |A∩B| / min(|A|,|B|) instead of Jaccard
    "d17_containment" ->
      s"""WITH $dLshCand
         |SELECT id_a, id_b, containment FROM (
         |  SELECT c.id_a, c.id_b,
         |    CAST(len(list_filter(a.hs, xc -> list_contains(b.hs, xc))) AS DOUBLE)
         |      / CAST(least(len(a.hs), len(b.hs)) AS DOUBLE) AS containment
         |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b)
         |WHERE containment >= 0.3 ORDER BY id_a, id_b""".stripMargin,

    "n1_ann_topk" ->
      s"""WITH ${dVecs("f")},
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM normed WHERE vec_id < 10),
         |scored AS (SELECT query_id, c.vec_id AS neighbor_id,
         |    ${dDot("qv", "c.v", "q")} / (qn * c.nrm) AS cosine
         |  FROM q JOIN normed c ON c.vec_id <> query_id)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM scored) WHERE rnk <= 5
         |ORDER BY query_id, rank""".stripMargin,

    "n2_ann_ivf" ->
      s"""WITH ${dVecs("g")},
         |cent AS (SELECT label,
         |    list_transform(range(1, 65), dd ->
         |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(vs, wv -> wv[dd])), (ca, cb) -> ca + cb) / n) AS centroid
         |  FROM (SELECT label, list(v ORDER BY vec_id) AS vs,
         |          CAST(count(1) AS DOUBLE) AS n FROM vecs GROUP BY label) grp),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM normed WHERE vec_id < 10),
         |probes AS (SELECT query_id, qv, qn, label FROM (
         |    SELECT q.query_id, q.qv, q.qn, c.label,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${dDot("q.qv", "c.centroid", "r")} / (q.qn * ${dNorm("c.centroid", "s")}) DESC,
         |          c.label) AS cr
         |    FROM q CROSS JOIN cent c) WHERE cr <= 2),
         |scored AS (SELECT query_id, c.vec_id AS neighbor_id,
         |    ${dDot("qv", "c.v", "t")} / (qn * c.nrm) AS cosine
         |  FROM probes p JOIN normed c ON c.label = p.label AND c.vec_id <> p.query_id)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM scored) WHERE rnk <= 5
         |ORDER BY query_id, rank""".stripMargin,

    "n3_ann_quantized" ->
      s"""WITH vecs AS (SELECT vec_id,
         |    list_transform(embedding, cq -> CAST(cq AS DOUBLE)) AS v FROM embeddings),
         |sc AS (SELECT vec_id, v,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v, xq -> abs(xq))),
         |      (aq, bq) -> greatest(aq, bq)) / 127.0 AS s
         |  FROM vecs),
         |q8 AS (SELECT vec_id,
         |    CASE WHEN s = 0 THEN list_transform(v, zq -> CAST(0 AS DOUBLE))
         |         ELSE list_transform(v, xq2 -> least(greatest(floor(xq2 / s + 0.5), -127.0), 127.0))
         |    END AS qv
         |  FROM sc),
         |n8 AS (SELECT vec_id, qv, sqrt(${dDot("qv", "qv", "nq")}) AS qn FROM q8),
         |qs AS (SELECT vec_id AS query_id, qv AS qa, qn AS na FROM n8 WHERE vec_id < 10),
         |scored AS (SELECT query_id, c.vec_id AS neighbor_id,
         |    ${dDot("qa", "c.qv", "sq")} / (na * c.qn) AS qcos
         |  FROM qs JOIN n8 c ON c.vec_id <> query_id)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, qcos FROM (
         |  SELECT query_id, neighbor_id, qcos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS rnk
         |  FROM scored) WHERE rnk <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // Bit-exact replay of the FULL kmeans-IVF pipeline: [[dKmeans]]
    // unrolls the 5 deterministic Lloyd iterations (init = first-20 by
    // vec_id, first-wins argmin, hierarchical-fold means, empty clusters
    // keep their centroid), asgf assigns every vector under the trained
    // cent5, [[dCentroids]] rebuilds the probe centroids the Spark
    // ivfTopK computes over the clustered corpus, then probe → scan →
    // top-5 mirrors n2's oracle with `cluster` in place of `label`.
    "n5_ann_ivf_kmeans" ->
      s"""WITH ${dVecs("k")},
         |${dKmeans(20, 5)},
         |asgf AS (SELECT vec_id, v, cluster FROM (
         |    SELECT vf.vec_id, vf.v, cf.cluster,
         |      row_number() OVER (PARTITION BY vf.vec_id
         |        ORDER BY ${dL2("vf.v", "cf.centroid", "zf")}, cf.cluster) AS arf
         |    FROM vecs vf CROSS JOIN cent5 cf) WHERE arf = 1),
         |ivfc AS (${dCentroids("asgf", "cluster", "vc")}),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM normed WHERE vec_id < 10),
         |probes AS (SELECT query_id, qv, qn, cluster FROM (
         |    SELECT q.query_id, q.qv, q.qn, c.cluster,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${dDot("q.qv", "c.centroid", "r5")} / (q.qn * ${dNorm("c.centroid", "s5")}) DESC,
         |          c.cluster) AS cr
         |    FROM q CROSS JOIN ivfc c) WHERE cr <= 2),
         |scored AS (SELECT query_id, n.vec_id AS neighbor_id,
         |    ${dDot("p.qv", "n.v", "t5")} / (p.qn * n.nrm) AS cosine
         |  FROM probes p JOIN asgf a ON a.cluster = p.cluster AND a.vec_id <> p.query_id
         |    JOIN normed n ON n.vec_id = a.vec_id)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM scored) WHERE rnk <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // recall mirror for the kmeans-IVF path: n5's full-training-replay
    // CTE prefix (init → 5 Lloyd iterations → assignment) feeding n4's
    // exact-vs-probed recall join.
    "n7_ann_recall_kmeans" ->
      s"""WITH ${dVecs("r7")},
         |${dKmeans(20, 5)},
         |asg7 AS (SELECT vec_id, v, cluster FROM (
         |    SELECT v7.vec_id, v7.v, c7.cluster,
         |      row_number() OVER (PARTITION BY v7.vec_id
         |        ORDER BY ${dL2("v7.v", "c7.centroid", "z7")}, c7.cluster) AS ar7
         |    FROM vecs v7 CROSS JOIN cent5 c7) WHERE ar7 = 1),
         |ivf7 AS (${dCentroids("asg7", "cluster", "w7")}),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM normed WHERE vec_id < 10),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${dDot("qv", "c.v", "x7")} / (qn * c.nrm) DESC, c.vec_id) AS rnk
         |    FROM q JOIN normed c ON c.vec_id <> query_id) WHERE rnk <= 5),
         |probes AS (SELECT query_id, qv, qn, cluster FROM (
         |    SELECT q.query_id, q.qv, q.qn, c.cluster,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${dDot("q.qv", "c.centroid", "p7")} / (q.qn * ${dNorm("c.centroid", "s7")}) DESC,
         |          c.cluster) AS cr
         |    FROM q CROSS JOIN ivf7 c) WHERE cr <= 2),
         |iv AS (SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, a.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY ${dDot("p.qv", "n.v", "t7")} / (p.qn * n.nrm) DESC, a.vec_id) AS rnk
         |    FROM probes p JOIN asg7 a ON a.cluster = p.cluster AND a.vec_id <> p.query_id
         |      JOIN normed n ON n.vec_id = a.vec_id) WHERE rnk <= 5)
         |SELECT e.query_id, count(i.neighbor_id) AS hits,
         |  CAST(count(i.neighbor_id) AS DOUBLE) / CAST(count(1) AS DOUBLE) AS recall_at_5
         |FROM ex e LEFT JOIN iv i
         |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,

    // IVF-PQ mirror: [[dCentroids]] probe selection (n2's shape), int8
    // codes via [[dQuantize]] (n3's shape) for the probed-partition scan,
    // 4k-candidate shortlist by quantized cosine, exact-cosine re-rank.
    "n6_ann_ivfpq" ->
      s"""WITH ${dVecs("pq")},
         |cent AS (${dCentroids("vecs", "label", "cq")}),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM normed WHERE vec_id < 10),
         |probes AS (SELECT query_id, label FROM (
         |    SELECT q.query_id, c.label,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${dDot("q.qv", "c.centroid", "r6")} / (q.qn * ${dNorm("c.centroid", "s6")}) DESC,
         |          c.label) AS cr
         |    FROM q CROSS JOIN cent c) WHERE cr <= 2),
         |c8 AS (SELECT vec_id, label, ${dQuantize("v", "q6")} AS q8 FROM vecs),
         |n8 AS (SELECT vec_id, label, q8, sqrt(${dDot("q8", "q8", "n6")}) AS q8n FROM c8),
         |qs AS (SELECT vec_id AS query_id, q8 AS qa, q8n AS na FROM n8 WHERE vec_id < 10),
         |slist AS (SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY ${dDot("s.qa", "c.q8", "sq")} / (s.na * c.q8n) DESC, c.vec_id) AS qr
         |    FROM probes p JOIN qs s ON s.query_id = p.query_id
         |      JOIN n8 c ON c.label = p.label AND c.vec_id <> p.query_id) WHERE qr <= 20),
         |scored AS (SELECT sl.query_id, sl.neighbor_id,
         |    ${dDot("q.qv", "n.v", "t6")} / (q.qn * n.nrm) AS cosine
         |  FROM slist sl JOIN normed n ON n.vec_id = sl.neighbor_id
         |    JOIN q ON q.query_id = sl.query_id)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM scored) WHERE rnk <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // PQ mirror: 4 independent dKmeans training replays over the
    // 16-dim subvector slices, argmin encoding per subspace, per-query
    // ADC tables via CROSS JOIN, adist = t0+t1+t2+t3 (ascending-s left
    // fold, matching the Spark reduce)
    "n10_ann_pq" -> {
      val S = 0 until 4
      val slices = S.map(s =>
        s"vv$s AS (SELECT vec_id, v[${s * 16 + 1}:${s * 16 + 16}] AS v FROM vecs)")
        .mkString(",\n")
      val trainings = S.map(s => dKmeans(8, 3, s"vv$s", s"p${s}_", 16)).mkString(",\n")
      val encs = S.map(s =>
        s"""enc$s AS (SELECT vec_id, cluster AS c$s FROM (
           |    SELECT vv.vec_id, cc.cluster, row_number() OVER (PARTITION BY vv.vec_id
           |      ORDER BY ${dL2("vv.v", "cc.centroid", s"e$s", 16)}, cc.cluster) AS er$s
           |    FROM vv$s vv CROSS JOIN centp${s}_3 cc) WHERE er$s = 1)""".stripMargin)
        .mkString(",\n")
      val tabs = S.map(s =>
        s"""tab$s AS (SELECT q.query_id, cc.cluster AS c$s,
           |    ${dL2("q.qv", "cc.centroid", s"t$s", 16)} AS t$s
           |  FROM (SELECT vec_id AS query_id, v AS qv FROM vv$s WHERE vec_id < 10) q
           |  CROSS JOIN centp${s}_3 cc)""".stripMargin).mkString(",\n")
      val tabJoins = S.map(s =>
        s"JOIN tab$s t$s ON t$s.query_id = q.query_id AND t$s.c$s = e.c$s")
        .mkString("\n|    ")
      s"""WITH ${dVecs("pq2")},
         |$slices,
         |$trainings,
         |$encs,
         |enc AS (SELECT vec_id, c0, c1, c2, c3 FROM enc0
         |  JOIN enc1 USING (vec_id) JOIN enc2 USING (vec_id) JOIN enc3 USING (vec_id)),
         |$tabs,
         |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |    t0.t0 + t1.t1 + t2.t2 + t3.t3 AS adist
         |  FROM (SELECT vec_id AS query_id FROM vecs WHERE vec_id < 10) q
         |    JOIN enc e ON e.vec_id <> q.query_id
         |    $tabJoins)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, adist FROM (
         |  SELECT query_id, neighbor_id, adist,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
         |  FROM scored) WHERE rnk <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    // SRP mirror: the same integer-derived plane components
    // (((p·73856093 + d·19349663 + 83492791) % 2001) − 1000)/1000, the
    // same ascending-dimension projection fold, the same 2^p bit sum
    "n11_srp_buckets" ->
      s"""WITH ${dVecs("sb")}
         |SELECT vec_id AS id, bucket FROM (
         |  SELECT vec_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(0, 12), pb -> CASE WHEN
         |          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |            list_transform(range(1, 65), db -> v[db] *
         |              (CAST(((pb*73856093 + (db-1)*19349663 + 83492791) % 2001) - 1000
         |                 AS DOUBLE) / 1000.0))),
         |            (pa, pz) -> pa + pz) >= 0
         |        THEN CAST(pow(2, pb) AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |      (ba, bz) -> ba + bz) AS bucket
         |  FROM vecs)
         |ORDER BY id""".stripMargin,

    // Mutual-kNN mirror: the n1 scored self-join, per-id top-5 window
    // (cosine DESC, nbr), then the reciprocal join with id_a < id_b.
    "n12_knn_graph" ->
      s"""WITH ${dVecs("kg")},
         |scored AS (SELECT a.vec_id AS id, c.vec_id AS nbr,
         |    ${dDot("a.v", "c.v", "kg")} / (a.nrm * c.nrm) AS cosine
         |  FROM normed a JOIN normed c ON c.vec_id <> a.vec_id),
         |directed AS (SELECT id, nbr, cosine FROM (
         |    SELECT id, nbr, cosine,
         |      row_number() OVER (PARTITION BY id ORDER BY cosine DESC, nbr) AS rkg
         |    FROM scored) WHERE rkg <= 5)
         |SELECT x.id AS id_a, x.nbr AS id_b, x.cosine AS cosine
         |FROM directed x JOIN directed y ON x.id = y.nbr AND x.nbr = y.id
         |WHERE x.id < x.nbr
         |ORDER BY id_a, id_b""".stripMargin,

    // Triangle mirror: n12's exact mutual-kNN edges, then ordered wedge
    // enumeration (x<y<z — each triangle once), corner explode via
    // UNION ALL, exact-long counts, coefficient cast at the division.
    "g6_knn_triangles" ->
      s"""WITH ${dVecs("tg")},
         |scored AS (SELECT a.vec_id AS id, c.vec_id AS nbr,
         |    ${dDot("a.v", "c.v", "tg")} / (a.nrm * c.nrm) AS cosine
         |  FROM normed a JOIN normed c ON c.vec_id <> a.vec_id),
         |directed AS (SELECT id, nbr FROM (
         |    SELECT id, nbr,
         |      row_number() OVER (PARTITION BY id ORDER BY cosine DESC, nbr) AS rtg
         |    FROM scored) WHERE rtg <= 5),
         |edges AS (SELECT x.id AS a, x.nbr AS b
         |  FROM directed x JOIN directed y ON x.id = y.nbr AND x.nbr = y.id
         |  WHERE x.id < x.nbr),
         |tri AS (SELECT w.x, w.y, w.z FROM (
         |    SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |    FROM edges e1 JOIN edges e2 ON e2.a = e1.b) w
         |  JOIN edges e3 ON e3.a = w.x AND e3.b = w.z),
         |corners AS (SELECT x AS id FROM tri
         |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
         |pern AS (SELECT id, CAST(count(1) AS BIGINT) AS n_triangles
         |  FROM corners GROUP BY id),
         |deg AS (SELECT id, CAST(count(1) AS BIGINT) AS degree FROM (
         |    SELECT a AS id FROM edges UNION ALL SELECT b FROM edges)
         |  GROUP BY id)
         |SELECT d.id, d.degree,
         |  COALESCE(p.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
         |  CASE WHEN d.degree >= 2 THEN
         |    CAST(2 * COALESCE(p.n_triangles, 0) AS DOUBLE)
         |      / CAST(d.degree * (d.degree - 1) AS DOUBLE) END AS clustering_coeff
         |FROM deg d LEFT JOIN pern p ON p.id = d.id
         |ORDER BY d.id""".stripMargin,

    // kNN-recall mirror: exact directed top-5 (n12's first stage), the
    // 4-plane SRP bucket (n11's integer-derived formula), Hamming-1
    // multiprobe (self + each bit flipped, xor is integer-exact),
    // probed-bucket top-5, then per-id hit counting over a left join.
    "n13_knn_recall" ->
      s"""WITH ${dVecs("kr")},
         |sc AS (SELECT a.vec_id AS id, c.vec_id AS nbr,
         |    ${dDot("a.v", "c.v", "kr")} / (a.nrm * c.nrm) AS cosine
         |  FROM normed a JOIN normed c ON c.vec_id <> a.vec_id),
         |ex AS (SELECT id, nbr FROM (SELECT id, nbr,
         |    row_number() OVER (PARTITION BY id ORDER BY cosine DESC, nbr) AS rkr
         |  FROM sc) WHERE rkr <= 5),
         |bkt AS (SELECT vec_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(0, 4), pk -> CASE WHEN
         |          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |            list_transform(range(1, 65), dk -> v[dk] *
         |              (CAST(((pk*73856093 + (dk-1)*19349663 + 83492791) % 2001) - 1000
         |                 AS DOUBLE) / 1000.0))),
         |            (pa, pz) -> pa + pz) >= 0
         |        THEN CAST(pow(2, pk) AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |      (ba, bz) -> ba + bz) AS bk
         |  FROM vecs),
         |prb AS (SELECT vec_id,
         |    unnest([bk, xor(bk, 1), xor(bk, 2), xor(bk, 4), xor(bk, 8)]) AS bk
         |  FROM bkt),
         |bsc AS (SELECT a.vec_id AS id, c.vec_id AS nbr,
         |    ${dDot("a.v", "c.v", "kb")} / (a.nrm * c.nrm) AS cosine
         |  FROM normed a JOIN prb ba ON ba.vec_id = a.vec_id
         |  JOIN bkt bc ON bc.bk = ba.bk
         |  JOIN normed c ON c.vec_id = bc.vec_id AND c.vec_id <> a.vec_id),
         |bl AS (SELECT id, nbr FROM (SELECT id, nbr,
         |    row_number() OVER (PARTITION BY id ORDER BY cosine DESC, nbr) AS rkb
         |  FROM bsc) WHERE rkb <= 5)
         |SELECT ex.id, CAST(count(1) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN bl.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(sum(CASE WHEN bl.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(1) AS DOUBLE) AS recall
         |FROM ex LEFT JOIN bl ON bl.id = ex.id AND bl.nbr = ex.nbr
         |GROUP BY ex.id ORDER BY ex.id""".stripMargin,

    // production-point mirror: full-corpus exact directed top-5, the
    // n5-style complete kmeans replay at k=32 (init → 5 Lloyd
    // iterations → assignment → probe centroids), 14-of-32 probe
    // selection per query, blocked top-5, per-id hit counting.
    "n13b_knn_recall_ivf" ->
      s"""WITH ${dVecs("kv")},
         |${dKmeans(32, 5, "vecs", "b")},
         |asgb AS (SELECT vec_id, v, cluster FROM (
         |    SELECT vb.vec_id, vb.v, cb.cluster,
         |      row_number() OVER (PARTITION BY vb.vec_id
         |        ORDER BY ${dL2("vb.v", "cb.centroid", "zb")}, cb.cluster) AS arb
         |    FROM vecs vb CROSS JOIN centb5 cb) WHERE arb = 1),
         |ivfb AS (${dCentroids("asgb", "cluster", "wb")}),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM normed),
         |ex AS (SELECT id, nbr FROM (SELECT query_id AS id, c.vec_id AS nbr,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY ${dDot("qv", "c.v", "xb")} / (qn * c.nrm) DESC, c.vec_id) AS rkb
         |  FROM q JOIN normed c ON c.vec_id <> query_id) WHERE rkb <= 5),
         |probes AS (SELECT query_id, qv, qn, cluster FROM (
         |    SELECT q.query_id, q.qv, q.qn, c.cluster,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${dDot("q.qv", "c.centroid", "pb")} / (q.qn * ${dNorm("c.centroid", "sb")}) DESC,
         |          c.cluster) AS crb
         |    FROM q CROSS JOIN ivfb c) WHERE crb <= 14),
         |iv AS (SELECT id, nbr FROM (
         |    SELECT p.query_id AS id, a.vec_id AS nbr,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY ${dDot("p.qv", "n.v", "tb")} / (p.qn * n.nrm) DESC, a.vec_id) AS rvb
         |    FROM probes p JOIN asgb a ON a.cluster = p.cluster AND a.vec_id <> p.query_id
         |      JOIN normed n ON n.vec_id = a.vec_id) WHERE rvb <= 5)
         |SELECT ex.id, CAST(count(1) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN iv.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(sum(CASE WHEN iv.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(1) AS DOUBLE) AS recall
         |FROM ex LEFT JOIN iv ON iv.id = ex.id AND iv.nbr = ex.nbr
         |GROUP BY ex.id ORDER BY ex.id""".stripMargin,

    // Semantic-cluster mirror: the n12 mutual edge set, then g2's
    // recursive min-label propagation — algorithm-independent ground
    // truth for the star-contraction fixpoint over kNN edges.
    "g4_semantic_clusters" ->
      s"""WITH RECURSIVE ${dVecs("gc")},
         |scored AS (SELECT a.vec_id AS id, c.vec_id AS nbr,
         |    ${dDot("a.v", "c.v", "gc")} / (a.nrm * c.nrm) AS cosine
         |  FROM normed a JOIN normed c ON c.vec_id <> a.vec_id),
         |directed AS (SELECT id, nbr, cosine FROM (
         |    SELECT id, nbr, cosine,
         |      row_number() OVER (PARTITION BY id ORDER BY cosine DESC, nbr) AS rgc
         |    FROM scored) WHERE rgc <= 5),
         |mut AS (SELECT x.id AS id_a, x.nbr AS id_b
         |  FROM directed x JOIN directed y ON x.id = y.nbr AND x.nbr = y.id
         |  WHERE x.id < x.nbr),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM mut
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM mut),
         |reach AS (
         |  SELECT DISTINCT src AS id, src AS lbl FROM edges
         |  UNION
         |  SELECT eg4.dst AS id, rg4.lbl AS lbl
         |  FROM reach rg4 JOIN edges eg4 ON eg4.src = rg4.id
         |  WHERE rg4.lbl < eg4.dst)
         |SELECT id, min(lbl) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin,

    // Rocchio mirror: per-label hierarchical centroid fold over the
    // 80% train split, argmin of the same left-fold squared L2 with
    // label tiebreak.
    // label-propagation mirror: targets × seeds cosine scores, the same
    // (cosine desc, nbr asc) rank-5 window, then the (votes desc, label
    // asc) majority pick and the held-out-truth flag
    "n14_label_prop" ->
      s"""WITH ${dVecs("lp")},
         |sd AS (SELECT vec_id, label, v, nrm FROM normed WHERE vec_id % 4 = 0),
         |tg AS (SELECT vec_id, v, nrm FROM normed WHERE vec_id % 4 <> 0),
         |sc AS (SELECT t.vec_id AS id, s.vec_id AS nbr, s.label AS nbr_label,
         |    ${dDot("t.v", "s.v", "lp")} / (t.nrm * s.nrm) AS cosine
         |  FROM tg t JOIN sd s ON s.vec_id <> t.vec_id),
         |tk AS (SELECT id, nbr_label FROM (SELECT id, nbr_label,
         |    row_number() OVER (PARTITION BY id ORDER BY cosine DESC, nbr) AS rlp
         |  FROM sc) WHERE rlp <= 5),
         |vt AS (SELECT id, nbr_label, CAST(count(1) AS BIGINT) AS votes
         |       FROM tk GROUP BY id, nbr_label),
         |pk AS (SELECT id, nbr_label, votes FROM (SELECT id, nbr_label, votes,
         |    row_number() OVER (PARTITION BY id ORDER BY votes DESC, nbr_label) AS rv
         |  FROM vt) WHERE rv = 1)
         |SELECT p.id AS vec_id, p.nbr_label AS pred_label, e.label, p.votes,
         |  CAST(CASE WHEN p.nbr_label = e.label THEN 1 ELSE 0 END AS BIGINT) AS correct
         |FROM pk p JOIN embeddings e ON e.vec_id = p.id
         |ORDER BY vec_id""".stripMargin,

    "n9_centroid_classify" ->
      s"""WITH ${dVecs("nc")},
         |tr AS (SELECT label, vec_id, v FROM vecs WHERE vec_id % 5 <> 0),
         |cent AS (${dCentroids("tr", "label", "nc")}),
         |te AS (SELECT vec_id, label, v FROM vecs WHERE vec_id % 5 = 0)
         |SELECT vec_id, label, pred_label, label = pred_label AS correct FROM (
         |  SELECT t.vec_id, t.label, c.label AS pred_label,
         |    row_number() OVER (PARTITION BY t.vec_id
         |      ORDER BY ${dL2("t.v", "c.centroid", "zc")}, c.label) AS rnc
         |  FROM te t CROSS JOIN cent c) WHERE rnc = 1
         |ORDER BY vec_id""".stripMargin,

    // cluster-balanced sample mirror: the n5 kmeans training replay +
    // final assignment, then the e12 deterministic hash-order pick
    // per cluster instead of per (lang, source).
    "n8_cluster_sample" ->
      s"""WITH ${dVecs("cb")},
         |${dKmeans(20, 5)},
         |asgb AS (SELECT vec_id, cluster FROM (
         |    SELECT vb.vec_id, cb2.cluster,
         |      row_number() OVER (PARTITION BY vb.vec_id
         |        ORDER BY ${dL2("vb.v", "cb2.centroid", "zb")}, cb2.cluster) AS arb
         |    FROM vecs vb CROSS JOIN cent5 cb2) WHERE arb = 1)
         |SELECT vec_id, cluster FROM (
         |  SELECT vec_id, cluster, row_number() OVER (PARTITION BY cluster
         |    ORDER BY ${dPhash("CAST(vec_id AS VARCHAR)", "cb")}, vec_id) AS rk
         |  FROM asgb) WHERE rk <= 10
         |ORDER BY cluster, vec_id""".stripMargin,

    // c-TF-IDF mirror: kmeans(10, 3) training replay → assignment →
    // docs joined on the aligned id → per-(cluster, term) tf, per-term
    // cluster df, odds-idf score (identical operand order), top-5 window
    "g5_cluster_keywords" ->
      s"""WITH ${dVecs("g5")},
         |$dToks,
         |${dKmeans(10, 3)},
         |asgg5 AS (SELECT vec_id, cluster FROM (
         |    SELECT vg.vec_id, cg.cluster,
         |      row_number() OVER (PARTITION BY vg.vec_id
         |        ORDER BY ${dL2("vg.v", "cg.centroid", "zg5")}, cg.cluster) AS ag5
         |    FROM vecs vg CROSS JOIN cent3 cg) WHERE ag5 = 1),
         |ctoks AS (SELECT CAST(a.cluster AS BIGINT) AS cluster, unnest(t.tk) AS term
         |  FROM toks t JOIN asgg5 a ON a.vec_id = t.doc_id),
         |ctf AS (SELECT cluster, term, CAST(count(1) AS DOUBLE) AS tf
         |  FROM ctoks GROUP BY 1, 2),
         |ccdf AS (SELECT term, CAST(count(1) AS DOUBLE) AS cdf FROM ctf GROUP BY 1),
         |cscored AS (SELECT f.cluster, f.term,
         |    f.tf * (10.0 - d.cdf + 0.5) / (d.cdf + 0.5) AS score
         |  FROM ctf f JOIN ccdf d ON d.term = f.term)
         |SELECT cluster, CAST(rnk AS BIGINT) AS rank, term, score FROM (
         |  SELECT cluster, term, score,
         |    row_number() OVER (PARTITION BY cluster ORDER BY score DESC, term) AS rnk
         |  FROM cscored) WHERE rnk <= 5
         |ORDER BY cluster, rank""".stripMargin,

    "e1_langid" -> {
      val counts = TA.stopwords.map { case (l, ws) =>
        val list = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(tk, t$l -> list_contains($list, t$l))) AS c_$l"
      }.mkString(",\n|  ")
      val best = TA.stopwords.map { case (l, _) => s"c_$l" }.mkString("greatest(", ", ", ")")
      val pred = TA.stopwords.map { case (l, _) =>
        s"WHEN c_$l = best AND c_$l > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH $dToks,
         |sc AS (SELECT doc_id, lang,
         |  $counts
         |  FROM toks),
         |wb AS (SELECT *, $best AS best FROM sc)
         |SELECT doc_id, lang, c_en, c_de, c_es, c_fr, c_zh,
         |  CASE $pred ELSE 'und' END AS pred_lang,
         |  (CASE $pred ELSE 'und' END) = lang AS correct
         |FROM wb ORDER BY doc_id""".stripMargin
    },

    "e2_quality" -> {
      val en = TA.stopwords.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH $dToks,
         |m AS (SELECT doc_id,
         |    len(tk) AS n_tokens,
         |    CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS ttr,
         |    CAST(len(list_filter(tk, tq -> list_contains($en, tq))) AS DOUBLE)
         |      / CAST(len(tk) AS DOUBLE) AS stop_ratio
         |  FROM toks)
         |SELECT doc_id, n_tokens, ttr, stop_ratio,
         |  CAST(0.4 AS DOUBLE) * ttr
         |    + CAST(0.4 AS DOUBLE) * least(stop_ratio * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |    + CAST(0.2 AS DOUBLE) * least(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE),
         |        CAST(1.0 AS DOUBLE)) AS quality
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "e3_token_stats" ->
      s"""WITH $dToks
         |SELECT doc_id, len(tk) AS n_tokens,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(tk, tw -> greatest(CAST(ceil(length(tw) / CAST(4.0 AS DOUBLE)) AS BIGINT),
         |      CAST(1 AS BIGINT)))), (sa, sv) -> sa + sv) AS n_subwords_est,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(tk, tl -> CAST(length(tl) AS BIGINT))), (la, lv) -> la + lv) AS sum_token_len,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(tk, tm -> CAST(length(tm) AS BIGINT))), (ma, mv) -> ma + mv) AS DOUBLE)
         |    / CAST(len(tk) AS DOUBLE) AS avg_token_len
         |FROM toks ORDER BY doc_id""".stripMargin,

    "e4_fingerprint" ->
      s"""WITH $dToks,
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk)-1),
         |         si -> ${dPhash("tk[si] || ' ' || tk[si+1] || ' ' || tk[si+2]", "h")})) AS hs
         |       FROM toks WHERE len(tk) >= 3)
         |SELECT d.doc_id, ${dPhash("d.text", "w")} AS fingerprint,
         |  list_min(sh.hs) AS min_shingle_hash
         |FROM documents d JOIN sh ON sh.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "a8_pivot" ->
      """SELECT o_orderstatus,
        |  count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS p1,
        |  count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS p2,
        |  count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS p3,
        |  count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS p4,
        |  count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "e9_explode" ->
      """SELECT doc_id, pos, tk[CAST(pos AS INTEGER)] AS tok
        |FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |      FROM documents WHERE doc_id < 50),
        |  unnest(range(1, len(tk)+1)) AS t(pos)
        |ORDER BY doc_id, pos""".stripMargin,

    "w2_window_suite" ->
      """WITH ev AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us
        |            FROM events WHERE user_id < 20)
        |SELECT user_id, event_id, ts_us,
        |  lag(event_id, 1) OVER w AS prev_event,
        |  lead(event_id, 1) OVER w AS next_event,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "j10_snowflake_dims" ->
      """SELECT r_name, n_name, count(1) AS n_suppliers,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(20,2))) AS DOUBLE) AS sum_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "j8_outer_anti" ->
      """SELECT c_custkey, c_mktsegment,
        |  coalesce(n_orders, 0) AS n_orders,
        |  n_orders IS NULL AS no_orders
        |FROM customer LEFT JOIN
        |  (SELECT o_custkey, count(1) AS n_orders FROM orders GROUP BY o_custkey) oc
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,

    "j9_full_outer" ->
      """WITH n AS (SELECT n_nationkey, n_name FROM nation),
        |a AS (SELECT n_nationkey AS ka, n_name AS name_a FROM n WHERE n_nationkey < 15),
        |b AS (SELECT n_nationkey AS kb, upper(n_name) AS name_b FROM n WHERE n_nationkey >= 10)
        |SELECT coalesce(ka, kb) AS k, name_a, name_b,
        |  ka IS NOT NULL AS in_a, kb IS NOT NULL AS in_b
        |FROM a FULL OUTER JOIN b ON ka = kb
        |ORDER BY k""".stripMargin,

    "a7_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "s8_setops" ->
      """WITH n AS (SELECT n_nationkey, n_regionkey FROM nation),
        |a AS (SELECT * FROM n WHERE n_nationkey < 15),
        |b AS (SELECT * FROM n WHERE n_nationkey >= 10)
        |SELECT *, 'both' AS op FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT *, 'only_a' AS op FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |ORDER BY op, n_nationkey""".stripMargin,

    "e7_string_funcs" ->
      """SELECT c_custkey,
        |  upper(c_name) AS u,
        |  lower(c_mktsegment) AS l,
        |  substring(c_name, 1, 8) AS sub,
        |  length(c_name) AS len,
        |  c_mktsegment || '|' || c_name AS joined,
        |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
        |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS digits_masked,
        |  reverse(c_mktsegment) AS rev,
        |  strpos(c_name, 'Customer') AS pos
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "e8_datetime" ->
      """SELECT o_orderkey,
        |  year(CAST(o_orderdate AS DATE)) AS y,
        |  month(CAST(o_orderdate AS DATE)) AS m,
        |  day(CAST(o_orderdate AS DATE)) AS dom,
        |  strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_start,
        |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        |  datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "j6_asof_join" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us FROM events),
        |clicks AS (SELECT user_id, event_id, ts_us FROM ev WHERE event_type = 'click'),
        |views AS (SELECT user_id, event_id, ts_us, value FROM ev WHERE event_type = 'view'
        |          QUALIFY row_number() OVER (PARTITION BY user_id, ts_us ORDER BY event_id DESC) = 1)
        |SELECT c.user_id, c.event_id, c.ts_us,
        |  v.event_id AS view_event_id, v.value AS view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts_us >= v.ts_us
        |ORDER BY c.user_id, c.ts_us, c.event_id""".stripMargin,

    "j7_range_join" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
        |iv AS (SELECT user_id AS interval_id, min(ts_us) AS start_us,
        |         min(ts_us) + 3600000000 AS end_us
        |       FROM ev GROUP BY user_id HAVING user_id < 20)
        |SELECT interval_id, count(1) AS n_events
        |FROM ev JOIN iv ON ts_us >= start_us AND ts_us < end_us
        |GROUP BY interval_id ORDER BY interval_id""".stripMargin,

    "e11_chunking" ->
      s"""WITH $dToks,
         |n AS (SELECT doc_id, tk,
         |        greatest(1, CAST(ceil(CAST(len(tk) - 10 AS DOUBLE) / 30) AS BIGINT)) AS nc
         |      FROM toks)
         |SELECT doc_id, ci AS chunk_id,
         |  array_to_string(tk[(ci*30+1):(ci*30+40)], ' ') AS chunk_text,
         |  CAST(len(tk[(ci*30+1):(ci*30+40)]) AS BIGINT) AS n_tokens
         |FROM n, lateral unnest(range(0, nc)) AS t(ci)
         |ORDER BY doc_id, chunk_id""".stripMargin,

    "d6_decontam" -> {
      val gram5 = (0 until 5).map(j => if (j == 0) "tk[sg]" else s"tk[sg+$j]")
        .mkString(" || ' ' || ")
      s"""WITH $dToks,
         |grams AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(tk)-3), sg -> ${dPhash(gram5, "dg")})) AS h
         |  FROM toks WHERE len(tk) >= 5),
         |bench AS (SELECT doc_id, h FROM grams WHERE doc_id % 20 = 0),
         |hits AS (SELECT DISTINCT g.doc_id FROM grams g
         |         JOIN bench b ON g.h = b.h AND g.doc_id <> b.doc_id)
         |SELECT doc_id, doc_id IN (SELECT doc_id FROM hits) AS contaminated
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // recall@5 of IVF vs exact: the two pipelines above, joined. The CTEs
    // mirror n1's and n2's oracles under one shared vecs/normed prefix.
    "n4_ann_recall" ->
      s"""WITH ${dVecs("h")},
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM normed WHERE vec_id < 10),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${dDot("qv", "c.v", "x1")} / (qn * c.nrm) DESC, c.vec_id) AS rnk
         |    FROM q JOIN normed c ON c.vec_id <> query_id) WHERE rnk <= 5),
         |cent AS (SELECT label,
         |    list_transform(range(1, 65), dd ->
         |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(vs, wv -> wv[dd])), (ca, cb) -> ca + cb) / n) AS centroid
         |  FROM (SELECT label, list(v ORDER BY vec_id) AS vs,
         |          CAST(count(1) AS DOUBLE) AS n FROM vecs GROUP BY label) grp),
         |probes AS (SELECT query_id, qv, qn, label FROM (
         |    SELECT q.query_id, q.qv, q.qn, c.label,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${dDot("q.qv", "c.centroid", "x2")} / (q.qn * ${dNorm("c.centroid", "x3")}) DESC,
         |          c.label) AS cr
         |    FROM q CROSS JOIN cent c) WHERE cr <= 2),
         |iv AS (SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY ${dDot("p.qv", "c.v", "x4")} / (p.qn * c.nrm) DESC, c.vec_id) AS rnk
         |    FROM probes p JOIN normed c
         |      ON c.label = p.label AND c.vec_id <> p.query_id) WHERE rnk <= 5)
         |SELECT e.query_id, count(i.neighbor_id) AS hits,
         |  CAST(count(i.neighbor_id) AS DOUBLE) / CAST(count(1) AS DOUBLE) AS recall_at_5
         |FROM ex e LEFT JOIN iv i
         |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,

    "d8_contamination_matrix" -> {
      val gram5 = (0 until 5).map(j => if (j == 0) "tk[sg]" else s"tk[sg+$j]")
        .mkString(" || ' ' || ")
      s"""WITH $dToks,
         |raw AS (SELECT source,
         |    unnest(list_transform(range(1, len(tk)-3), sg -> ${dPhash(gram5, "dm")})) AS h
         |  FROM toks WHERE len(tk) >= 5),
         |grams AS (SELECT DISTINCT source, h FROM raw),
         |tot AS (SELECT source, CAST(count(1) AS BIGINT) AS n_grams FROM grams GROUP BY 1),
         |ov AS (SELECT a.source AS src_a, b.source AS src_b,
         |         CAST(count(1) AS BIGINT) AS shared_grams
         |       FROM grams a JOIN grams b ON a.h = b.h AND a.source < b.source
         |       GROUP BY 1, 2)
         |SELECT src_a, src_b, shared_grams, ta.n_grams AS grams_a, tb.n_grams AS grams_b,
         |  CAST(shared_grams AS DOUBLE)
         |    / CAST(ta.n_grams + tb.n_grams - shared_grams AS DOUBLE) AS gram_jaccard
         |FROM ov JOIN tot ta ON ov.src_a = ta.source
         |        JOIN tot tb ON ov.src_b = tb.source
         |ORDER BY src_a, src_b""".stripMargin
    },

    // identical to d6's oracle: the Bloom pre-prune must not change the
    // exact decontamination result
    "d7_bloom_decontam" -> {
      val gram5 = (0 until 5).map(j => if (j == 0) "tk[sg]" else s"tk[sg+$j]")
        .mkString(" || ' ' || ")
      s"""WITH $dToks,
         |grams AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(tk)-3), sg -> ${dPhash(gram5, "db")})) AS h
         |  FROM toks WHERE len(tk) >= 5),
         |bench AS (SELECT doc_id, h FROM grams WHERE doc_id % 20 = 0),
         |hits AS (SELECT DISTINCT g.doc_id FROM grams g
         |         JOIN bench b ON g.h = b.h AND g.doc_id <> b.doc_id)
         |SELECT doc_id, doc_id IN (SELECT doc_id FROM hits) AS contaminated
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // BM25 with odds idf — expression shapes mirror Retrieval.bm25TopK
    // token-for-token (all ops exactly rounded ⇒ identical float bits);
    // per-(qid,doc) score folds contributions in sorted term order via
    // list_reduce, matching Spark's sorted-array aggregate fold.
    "r1_bm25_topk" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(1) AS DOUBLE) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(count(1) AS DOUBLE) AS dl FROM toks GROUP BY 1),
        |gl AS (SELECT CAST(count(1) AS DOUBLE) AS n, sum(dl) AS tot FROM dl),
        |dft AS (SELECT term, CAST(count(1) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |q(qid, qtext) AS (VALUES (CAST(1 AS BIGINT), 'vector hash join'),
        |                         (CAST(2 AS BIGINT), 'merge batch stream window'),
        |                         (CAST(3 AS BIGINT), 'customer query filter')),
        |qt AS (SELECT qid, unnest(list_distinct(regexp_split_to_array(trim(qtext), '\s+'))) AS term FROM q),
        |contribs AS (SELECT qid, doc_id,
        |    {'t': qt.term, 'c': ((n - df + 0.5) / (df + 0.5)) *
        |      (tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (tot / n))))} AS tc
        |  FROM qt JOIN tf USING (term) JOIN dft USING (term)
        |    JOIN dl USING (doc_id) CROSS JOIN gl),
        |scored AS (SELECT qid, doc_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(list_sort(list(tc)), x -> x.c)), (a, v) -> a + v) AS score
        |  FROM contribs GROUP BY qid, doc_id),
        |ranked AS (SELECT qid, doc_id, score, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM scored)
        |SELECT qid, doc_id, score, rank FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // PRF mirror: r1's BM25 CTEs run twice — pass 1 picks the top-5
    // feedback docs, expansion terms are the 10 heaviest tf·idf terms of
    // that set (doc-id-ordered fold, term tiebreak, ANTI JOIN vs the
    // original terms), pass 2 scores the expanded term set
    "r3_bm25_prf" ->
      s"""WITH ftoks AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term FROM documents),
         |ftf AS (SELECT doc_id, term, CAST(count(1) AS DOUBLE) AS tf FROM ftoks GROUP BY 1, 2),
         |fdl AS (SELECT doc_id, CAST(count(1) AS DOUBLE) AS dl FROM ftoks GROUP BY 1),
         |fgl AS (SELECT CAST(count(1) AS DOUBLE) AS n, sum(dl) AS tot FROM fdl),
         |fdf AS (SELECT term, CAST(count(1) AS DOUBLE) AS df FROM ftf GROUP BY 1),
         |fq(qid, qtext) AS (VALUES (CAST(1 AS BIGINT), 'vector hash join'),
         |                          (CAST(2 AS BIGINT), 'merge batch stream window'),
         |                          (CAST(3 AS BIGINT), 'customer query filter')),
         |fq0 AS (SELECT qid, unnest(list_distinct(regexp_split_to_array(trim(qtext), '\\s+'))) AS term FROM fq),
         |con1 AS (SELECT qid, doc_id,
         |    {'t': fq0.term, 'c': ((n - df + 0.5) / (df + 0.5)) *
         |      (tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (tot / n))))} AS tc
         |  FROM fq0 JOIN ftf USING (term) JOIN fdf USING (term)
         |    JOIN fdl USING (doc_id) CROSS JOIN fgl),
         |sc1 AS (SELECT qid, doc_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list_sort(list(tc)), x1 -> x1.c)), (a1, v1) -> a1 + v1) AS score
         |  FROM con1 GROUP BY qid, doc_id),
         |fb AS (SELECT qid, doc_id FROM (SELECT qid, doc_id, row_number() OVER (
         |    PARTITION BY qid ORDER BY score DESC, doc_id) AS r1 FROM sc1) WHERE r1 <= 5),
         |expw AS (SELECT qid, term,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list(dc ORDER BY dd), x2 -> x2.c)), (a2, v2) -> a2 + v2) AS wt
         |  FROM (SELECT f.qid, t.term, t.doc_id AS dd,
         |      {'d': t.doc_id, 'c': t.tf * ((n - df + 0.5) / (df + 0.5))} AS dc
         |    FROM fb f JOIN ftf t USING (doc_id) JOIN fdf USING (term) CROSS JOIN fgl)
         |  GROUP BY qid, term),
         |expx AS (SELECT e.qid, e.term, e.wt FROM expw e
         |  ANTI JOIN fq0 q USING (qid, term)),
         |expt AS (SELECT qid, term FROM (SELECT qid, term, row_number() OVER (
         |    PARTITION BY qid ORDER BY wt DESC, term) AS rw FROM expx) WHERE rw <= 10),
         |fq2 AS (SELECT qid, term FROM fq0 UNION ALL SELECT qid, term FROM expt),
         |con2 AS (SELECT qid, doc_id,
         |    {'t': fq2.term, 'c': ((n - df + 0.5) / (df + 0.5)) *
         |      (tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (tot / n))))} AS tc
         |  FROM fq2 JOIN ftf USING (term) JOIN fdf USING (term)
         |    JOIN fdl USING (doc_id) CROSS JOIN fgl),
         |sc2 AS (SELECT qid, doc_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list_sort(list(tc)), x3 -> x3.c)), (a3, v3) -> a3 + v3) AS score
         |  FROM con2 GROUP BY qid, doc_id)
         |SELECT qid, doc_id, score, rank FROM (
         |  SELECT qid, doc_id, score, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM sc2)
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    // hybrid-RRF mirror: r1's BM25 shape with the three seed documents as
    // queries (k=11, self-filtered, re-ranked 1..10), n1's exact-cosine
    // shape for the semantic side, then the rank-only fusion — each fused
    // score is one division per list + an index-ordered fold, so the
    // doubles hash-match.
    "r2_hybrid_rrf" ->
      s"""WITH dtoks AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(1) AS DOUBLE) AS tf FROM dtoks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(count(1) AS DOUBLE) AS dl FROM dtoks GROUP BY 1),
         |gl AS (SELECT CAST(count(1) AS DOUBLE) AS n, sum(dl) AS tot FROM dl),
         |dft AS (SELECT term, CAST(count(1) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |q AS (SELECT doc_id AS qid, text AS qtext FROM documents WHERE doc_id < 3),
         |qt AS (SELECT qid, unnest(list_distinct(regexp_split_to_array(trim(qtext), '\\s+'))) AS term FROM q),
         |contribs AS (SELECT qid, doc_id,
         |    {'t': qt.term, 'c': ((n - df + 0.5) / (df + 0.5)) *
         |      (tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (tot / n))))} AS tc
         |  FROM qt JOIN tf USING (term) JOIN dft USING (term)
         |    JOIN dl USING (doc_id) CROSS JOIN gl),
         |bmsc AS (SELECT qid, doc_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list_sort(list(tc)), xb -> xb.c)), (ab, vb) -> ab + vb) AS score
         |  FROM contribs GROUP BY qid, doc_id),
         |bmr AS (SELECT qid, doc_id, row_number() OVER (
         |    PARTITION BY qid ORDER BY score DESC, doc_id) AS r FROM bmsc),
         |lex AS (SELECT qid, doc_id, CAST(row_number() OVER (
         |      PARTITION BY qid ORDER BY r) AS BIGINT) AS rank
         |    FROM (SELECT * FROM bmr WHERE r <= 11 AND doc_id <> qid)),
         |lex10 AS (SELECT qid, doc_id, rank FROM lex WHERE rank <= 10),
         |${dVecs("rf")},
         |qv AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM normed WHERE vec_id < 3),
         |semsc AS (SELECT qid, c.vec_id AS doc_id,
         |    ${dDot("qv", "c.v", "rr")} / (qn * c.nrm) AS cosine
         |  FROM qv JOIN normed c ON c.vec_id <> qid),
         |sem10 AS (SELECT qid, doc_id, rank FROM (
         |    SELECT qid, doc_id, CAST(row_number() OVER (
         |      PARTITION BY qid ORDER BY cosine DESC, doc_id) AS BIGINT) AS rank FROM semsc)
         |  WHERE rank <= 10),
         |allc AS (
         |  SELECT qid, doc_id, {'l': 0, 'c': CAST(1.0 AS DOUBLE) /
         |    (CAST(60.0 AS DOUBLE) + CAST(rank AS DOUBLE))} AS fc FROM lex10
         |  UNION ALL
         |  SELECT qid, doc_id, {'l': 1, 'c': CAST(1.0 AS DOUBLE) /
         |    (CAST(60.0 AS DOUBLE) + CAST(rank AS DOUBLE))} AS fc FROM sem10),
         |fused AS (SELECT qid, doc_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list_sort(list(fc)), xf -> xf.c)), (af, vf) -> af + vf) AS rrf
         |  FROM allc GROUP BY qid, doc_id)
         |SELECT qid, doc_id, rrf, rank FROM (
         |  SELECT qid, doc_id, rrf, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank FROM fused)
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    // Hard-negative mirror: r2's BM25 CTE prefix at k=20 (self
    // excluded AFTER the rank cut, matching the op), cosine via the
    // index-ordered dot fold for the candidate pairs only, the < 0.1
    // semantic-neighbor exclusion, and the bounded re-rank by score.
    "r4_hard_negatives" ->
      s"""WITH dtoks AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(1) AS DOUBLE) AS tf FROM dtoks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(count(1) AS DOUBLE) AS dl FROM dtoks GROUP BY 1),
         |gl AS (SELECT CAST(count(1) AS DOUBLE) AS n, sum(dl) AS tot FROM dl),
         |dft AS (SELECT term, CAST(count(1) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |q AS (SELECT doc_id AS qid, text AS qtext FROM documents WHERE doc_id < 3),
         |qt AS (SELECT qid, unnest(list_distinct(regexp_split_to_array(trim(qtext), '\\s+'))) AS term FROM q),
         |contribs AS (SELECT qid, doc_id,
         |    {'t': qt.term, 'c': ((n - df + 0.5) / (df + 0.5)) *
         |      (tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (tot / n))))} AS tc
         |  FROM qt JOIN tf USING (term) JOIN dft USING (term)
         |    JOIN dl USING (doc_id) CROSS JOIN gl),
         |bmsc AS (SELECT qid, doc_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list_sort(list(tc)), xh -> xh.c)), (ah, vh) -> ah + vh) AS score
         |  FROM contribs GROUP BY qid, doc_id),
         |bmr AS (SELECT qid, doc_id, score, row_number() OVER (
         |    PARTITION BY qid ORDER BY score DESC, doc_id) AS r FROM bmsc),
         |cand AS (SELECT qid, doc_id, score FROM bmr
         |  WHERE r <= 20 AND doc_id <> qid),
         |${dVecs("r4")},
         |scored AS (SELECT c.qid, c.doc_id, c.score,
         |    ${dDot("qn.v", "cn.v", "h4")} / (qn.nrm * cn.nrm) AS cosine
         |  FROM cand c JOIN normed qn ON qn.vec_id = c.qid
         |    JOIN normed cn ON cn.vec_id = c.doc_id),
         |neg AS (SELECT qid, doc_id, score, cosine FROM scored
         |  WHERE cosine < CAST(0.1 AS DOUBLE))
         |SELECT qid, doc_id, score, cosine, rank FROM (
         |  SELECT qid, doc_id, score, cosine, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM neg)
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    "e12_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM (
         |  SELECT doc_id, lang, source, row_number() OVER (
         |    PARTITION BY lang, source
         |    ORDER BY ${dPhash("CAST(doc_id AS VARCHAR)", "ss")}, doc_id) AS rk
         |  FROM documents) WHERE rk <= 7
         |ORDER BY lang, source, doc_id""".stripMargin,

    // systematic-PPS mirror: the Spark bucketed two-level prefix sum
    // concatenates to exactly this single global window (the bucket key
    // is monotonic in the hash key), all-integer stride arithmetic.
    // sum(BIGINT) → HUGEINT in DuckDB, hence the casts.
    "e33_pps_sample" ->
      s"""WITH pkeyed AS (SELECT doc_id, n_chars AS weight,
         |    ${dPhash("CAST(doc_id AS VARCHAR)", "pp")} AS pkey
         |  FROM documents WHERE n_chars > 0),
         |ptot AS (SELECT CAST(sum(weight) AS BIGINT) AS t FROM pkeyed),
         |pcum AS (SELECT doc_id, weight,
         |    CAST(sum(weight) OVER (ORDER BY pkey, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_w
         |  FROM pkeyed)
         |SELECT doc_id, weight, cum_w FROM pcum, ptot
         |WHERE (cum_w // (t // 100)) > ((cum_w - weight) // (t // 100))
         |ORDER BY doc_id""".stripMargin,

    // feature-hashing mirror: same phash-mod bucketing, same odds idf
    // (log-free, exactly rounded), per-bucket folds in sorted token
    // order; missing buckets densified to 0.0 via a range cross join
    "e20_hash_tfidf" ->
      s"""WITH htoks AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents),
         |htf AS (SELECT doc_id, tok, CAST(count(1) AS DOUBLE) AS tf
         |        FROM htoks GROUP BY 1, 2),
         |hn AS (SELECT CAST(count(1) AS DOUBLE) AS n FROM documents),
         |hdf AS (SELECT tok, CAST(count(1) AS DOUBLE) AS df FROM htf GROUP BY 1),
         |hcon AS (SELECT doc_id, ${dPhash("tok", "hf")} % 32 AS bucket,
         |    {'t': tok, 'c': tf * ((n - df + 0.5) / (df + 0.5))} AS tc
         |  FROM htf JOIN hdf USING (tok) CROSS JOIN hn),
         |hbv AS (SELECT doc_id, bucket,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(list_sort(list(tc)), xh -> xh.c)), (ah, vh) -> ah + vh) AS v
         |  FROM hcon GROUP BY doc_id, bucket)
         |SELECT d.doc_id AS doc_id, CAST(r.range AS BIGINT) AS bucket,
         |  coalesce(hbv.v, CAST(0.0 AS DOUBLE)) AS value
         |FROM (SELECT doc_id FROM documents WHERE doc_id < 50) d
         |CROSS JOIN range(32) r
         |LEFT JOIN hbv ON hbv.doc_id = d.doc_id AND hbv.bucket = r.range
         |ORDER BY d.doc_id, bucket""".stripMargin,

    // the bounded-heap form must be result-identical to the window form,
    // so its oracle IS e12's query
    "e19_sample_agg" ->
      s"""SELECT doc_id, lang, source FROM (
         |  SELECT doc_id, lang, source, row_number() OVER (
         |    PARTITION BY lang, source
         |    ORDER BY ${dPhash("CAST(doc_id AS VARCHAR)", "sa")}, doc_id) AS rk
         |  FROM documents) WHERE rk <= 7
         |ORDER BY lang, source, doc_id""".stripMargin,

    "w3_window_suite2" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        |            FROM events WHERE user_id < 20)
        |SELECT user_id, event_id, ts_us,
        |  first_value(event_id) OVER wf AS first_event,
        |  last_value(event_id) OVER wf AS last_event,
        |  nth_value(event_id, 2) OVER wf AS second_event,
        |  percent_rank() OVER w AS prk,
        |  cume_dist() OVER w AS cd,
        |  CAST(count(1) OVER wr AS BIGINT) AS n_last_30s
        |FROM ev
        |WINDOW
        |  w AS (PARTITION BY user_id ORDER BY ts_us, event_id),
        |  wf AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        |  wr AS (PARTITION BY user_id ORDER BY ts_us
        |         RANGE BETWEEN 30000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "s10_incremental_agg" ->
      """SELECT l_returnflag, l_linestatus, count(1) AS order_count,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "j12_scd2" ->
      """WITH dim AS (
        |  SELECT p_partkey AS item_id, p_name AS item_desc, p_retailprice AS price,
        |         CAST(1 AS BIGINT) AS start_ts, CAST(NULL AS BIGINT) AS end_ts
        |  FROM part WHERE p_partkey % 2 = 0
        |  UNION ALL
        |  SELECT p_partkey, p_name || '_old', p_retailprice - 1, 0, 1
        |  FROM part WHERE p_partkey % 10 = 0),
        |chg AS (
        |  SELECT p_partkey AS item_id, p_name AS item_desc, p_retailprice * 2 AS price,
        |         CAST(5 AS BIGINT) AS ts
        |  FROM part WHERE p_partkey % 3 = 0
        |  UNION ALL
        |  SELECT p_partkey, p_name, p_retailprice, 5
        |  FROM part WHERE p_partkey % 4 = 0 AND p_partkey % 3 <> 0),
        |cur AS (SELECT * FROM dim WHERE end_ts IS NULL),
        |hist AS (SELECT * FROM dim WHERE end_ts IS NOT NULL),
        |matched AS (SELECT c.item_id, c.item_desc AS t_desc, c.price AS t_price,
        |                   c.start_ts, g.item_desc AS s_desc, g.price AS s_price, g.ts
        |            FROM cur c JOIN chg g USING (item_id)),
        |diff AS (SELECT * FROM matched
        |         WHERE NOT (t_desc IS NOT DISTINCT FROM s_desc
        |                    AND t_price IS NOT DISTINCT FROM s_price))
        |SELECT * FROM (
        |  SELECT * FROM hist
        |  UNION ALL
        |  SELECT c.* FROM cur c WHERE c.item_id NOT IN (SELECT item_id FROM diff)
        |  UNION ALL
        |  SELECT item_id, t_desc, t_price, start_ts, ts FROM diff
        |  UNION ALL
        |  SELECT g.item_id, g.item_desc, g.price, g.ts, NULL FROM chg g
        |    WHERE g.item_id NOT IN (SELECT item_id FROM cur)
        |  UNION ALL
        |  SELECT item_id, s_desc, s_price, ts, NULL FROM diff
        |) ORDER BY item_id, start_ts""".stripMargin,

    "a4_rollup" ->
      """SELECT lang, source, count(1) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP (lang, source)
        |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin,

    "a5_distinct_agg" ->
      """SELECT o_orderpriority, count(1) AS n_orders,
        |  count(DISTINCT o_custkey) AS n_customers
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "a9_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  count(1) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    // UNPIVOT mirror: portable UNION ALL long form (no engine-specific
    // UNPIVOT syntax), identical cast points per measure.
    "a13_unpivot" ->
      """WITH g AS (SELECT o_orderstatus,
        |    CAST(count(1) AS DOUBLE) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price,
        |    CAST(max(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS max_price
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT * FROM (
        |  SELECT o_orderstatus, 'n_orders' AS measure, n_orders AS value FROM g
        |  UNION ALL
        |  SELECT o_orderstatus, 'sum_price', sum_price FROM g
        |  UNION ALL
        |  SELECT o_orderstatus, 'max_price', max_price FROM g
        |) ORDER BY o_orderstatus, measure""".stripMargin,

    // Profile mirror: identical exact-integer-sum moments, identical
    // cast points (sum(BIGINT) is HUGEINT in DuckDB — cast back).
    "a10_corpus_profile" ->
      s"""WITH $dToks,
         |t AS (SELECT source, CAST(len(tk) AS BIGINT) AS t FROM toks),
         |g AS (SELECT source,
         |    CAST(count(1) AS BIGINT) AS n_docs,
         |    CAST(sum(t) AS BIGINT) AS sum_t,
         |    CAST(sum(t * t) AS BIGINT) AS sum_t2,
         |    min(t) AS min_t, max(t) AS max_t
         |  FROM t GROUP BY source)
         |SELECT source, n_docs, sum_t, sum_t2, min_t, max_t,
         |  CAST(sum_t AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_t,
         |  CASE WHEN n_docs >= 2 THEN (CAST(sum_t2 AS DOUBLE)
         |    - CAST(sum_t AS DOUBLE) * CAST(sum_t AS DOUBLE)
         |      / CAST(n_docs AS DOUBLE))
         |    / CAST(n_docs - 1 AS DOUBLE) ELSE NULL END AS var_t,
         |  CASE WHEN n_docs >= 2 THEN sqrt((CAST(sum_t2 AS DOUBLE)
         |    - CAST(sum_t AS DOUBLE) * CAST(sum_t AS DOUBLE)
         |      / CAST(n_docs AS DOUBLE))
         |    / CAST(n_docs - 1 AS DOUBLE)) ELSE NULL END AS stddev_t
         |FROM g ORDER BY source""".stripMargin,

    "e13_json" ->
      """WITH j AS (SELECT doc_id,
        |  to_json({'doc_id': doc_id, 'lang': lang,
        |           'meta': {'source': source, 'n_chars': n_chars}}) AS js
        |  FROM documents)
        |SELECT doc_id,
        |  json_extract_string(js, '$.lang') AS j_lang,
        |  json_extract_string(js, '$.meta.source') AS j_source,
        |  CAST(json_extract(js, '$.meta.n_chars') AS BIGINT) AS j_chars
        |FROM j ORDER BY doc_id""".stripMargin,

    "a6_minmax" ->
      """SELECT l_returnflag, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) / count(1) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "e5_pii_redact" -> {
      // the runtime pattern strings are already the regex text; DuckDB
      // single-quoted strings take backslashes literally, same as Java
      val redacted = TA.redactionRules.foldLeft(
        "substring(text, 1, 40) || ' contact user' || doc_id || '@example.com or 555-123-4567 ref 9' || doc_id || '88776655'") {
        case (e, (p, r)) => s"regexp_replace($e, '$p', '$r', 'g')"
      }
      s"""SELECT doc_id, $redacted AS clean
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "e6_distinct_sketch" -> {
      val ph = dPhash("tk2[ti]", "k")
      s"""WITH toks2 AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS tk2 FROM documents),
         |hs AS (SELECT source, unnest(list_transform(range(1, len(tk2)+1), ti -> $ph)) AS h
         |       FROM toks2)
         |SELECT source, count(DISTINCT h) AS n_distinct_hashes,
         |  count(DISTINCT h % 1024) AS n_buckets_used
         |FROM hs GROUP BY source ORDER BY source""".stripMargin
    },

    "st1_windowed_stats" ->
      """SELECT epoch_us(ts) // 60000000 AS minute, event_type,
        |  count(1) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY minute, event_type""".stripMargin,

    // Anomaly mirror: same hourly buckets, same exact-sum moments,
    // identical cast/divide order.
    "st3_anomaly" ->
      """WITH w AS (SELECT epoch_us(ts) // 3600000000 AS hour, event_type,
        |    CAST(count(1) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type,
        |    CAST(count(1) AS BIGINT) AS n_w,
        |    CAST(sum(n) AS BIGINT) AS s1,
        |    CAST(sum(n * n) AS BIGINT) AS s2
        |  FROM w GROUP BY event_type),
        |sd AS (SELECT w.event_type, w.hour, w.n, s1, n_w,
        |    sqrt((CAST(s2 AS DOUBLE)
        |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_w AS DOUBLE))
        |      / CAST(n_w - 1 AS DOUBLE)) AS std_n
        |  FROM w JOIN st USING (event_type)),
        |z AS (SELECT event_type, hour, n, std_n,
        |    CASE WHEN std_n > CAST(0.0 AS DOUBLE) THEN
        |      (CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n_w AS DOUBLE)) / std_n
        |    ELSE NULL END AS z
        |  FROM sd)
        |SELECT event_type, hour, n, z,
        |  CASE WHEN std_n > CAST(0.0 AS DOUBLE)
        |    THEN abs(z) >= CAST(2.0 AS DOUBLE) ELSE false END AS is_anomaly
        |FROM z ORDER BY event_type, hour""".stripMargin,

    "e10_top_ngrams" ->
      s"""WITH $dToks,
         |ngr AS (SELECT lang, unnest(list_transform(range(1, len(tk)),
         |          gi -> tk[gi] || ' ' || tk[gi+1])) AS ngram
         |        FROM toks WHERE len(tk) >= 2),
         |cnt AS (SELECT lang, ngram, count(1) AS n FROM ngr GROUP BY lang, ngram)
         |SELECT lang, CAST(rnk AS BIGINT) AS rank, ngram, n FROM (
         |  SELECT lang, ngram, n,
         |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, ngram) AS rnk
         |  FROM cnt) WHERE rnk <= 5
         |ORDER BY lang, rank""".stripMargin,

    "m2_media_histogram" -> {
      val cols = (0 until 8).map { b =>
        s"len(list_filter(range(1, length(text)+1), i$b -> ascii((text)[i$b]) % 8 = $b)) AS h$b"
      }.mkString(",\n|  ")
      s"""SELECT doc_id,
         |  $cols
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "e14_repetition" ->
      s"""WITH $dToks,
         |g AS (SELECT doc_id, tk, len(tk) AS nt FROM toks WHERE len(tk) >= 5),
         |g2 AS (SELECT doc_id, unnest(list_transform(range(1, nt),
         |         ri -> tk[ri] || ' ' || tk[ri+1])) AS gram FROM g),
         |c2 AS (SELECT doc_id, gram, count(1) AS n FROM g2 GROUP BY 1, 2),
         |a2 AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS top2_n,
         |         CAST(sum(n) AS BIGINT) AS n2 FROM c2 GROUP BY 1),
         |g5 AS (SELECT doc_id, unnest(list_transform(range(1, nt - 3),
         |         ri -> tk[ri] || ' ' || tk[ri+1] || ' ' || tk[ri+2] || ' ' ||
         |               tk[ri+3] || ' ' || tk[ri+4])) AS gram FROM g),
         |c5 AS (SELECT doc_id, gram, count(1) AS n FROM g5 GROUP BY 1, 2),
         |a5 AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n5,
         |         CAST(count(1) AS BIGINT) AS d5 FROM c5 GROUP BY 1)
         |SELECT doc_id, top2_n,
         |  CAST(top2_n AS DOUBLE) / CAST(n2 AS DOUBLE) AS top2_frac,
         |  CAST(n5 - d5 AS DOUBLE) / CAST(n5 AS DOUBLE) AS dup5_frac,
         |  (CAST(top2_n AS DOUBLE) / CAST(n2 AS DOUBLE) > 0.18
         |    OR CAST(n5 - d5 AS DOUBLE) / CAST(n5 AS DOUBLE) > 0.3) AS repetitive
         |FROM a2 JOIN a5 USING (doc_id) ORDER BY doc_id""".stripMargin,

    "st2_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events),
        |g AS (SELECT user_id, event_id, tus, value,
        |  CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000
        |       THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT user_id, tus, value,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |       AS BIGINT) AS sess_no FROM g)
        |SELECT user_id, sess_no, CAST(count(1) AS BIGINT) AS n_events,
        |  min(tus) AS sess_start_us, max(tus) AS sess_end_us,
        |  max(tus) - min(tus) AS duration_us,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY 1, 2 ORDER BY user_id, sess_no""".stripMargin,

    // Funnel mirror: per-step sequential-min CTE chain (step i joins the
    // step i−1 reach set on user with a strict ts inequality), scalar
    // counts, UNION ALL melt with the same cast points.
    "st4_funnel" ->
      """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ets
        |  FROM events WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
        |    AND epoch_us(ts) < 72057594037927936),
        |s1 AS (SELECT u, min(ets) AS t1 FROM e WHERE t = 'signup' GROUP BY u),
        |s2 AS (SELECT s1.u, min(e.ets) AS t2 FROM s1 JOIN e
        |  ON e.u = s1.u AND e.t = 'click' AND e.ets > s1.t1 GROUP BY s1.u),
        |s3 AS (SELECT s2.u, min(e.ets) AS t3 FROM s2 JOIN e
        |  ON e.u = s2.u AND e.t = 'purchase' AND e.ets > s2.t2 GROUP BY s2.u),
        |c AS (SELECT (SELECT CAST(count(1) AS BIGINT) FROM s1) AS n1,
        |             (SELECT CAST(count(1) AS BIGINT) FROM s2) AS n2,
        |             (SELECT CAST(count(1) AS BIGINT) FROM s3) AS n3)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INTEGER) AS step, 'signup' AS event_type, n1 AS n_users,
        |    CASE WHEN n1 = 0 THEN NULL ELSE CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE) END AS conversion FROM c
        |  UNION ALL SELECT CAST(2 AS INTEGER), 'click', n2,
        |    CASE WHEN n1 = 0 THEN NULL ELSE CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END FROM c
        |  UNION ALL SELECT CAST(3 AS INTEGER), 'purchase', n3,
        |    CASE WHEN n1 = 0 THEN NULL ELSE CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE) END FROM c
        |) ORDER BY step""".stripMargin,

    // Windowed-funnel mirror: the st4 chain with the 24 h (86400000000 µs)
    // upper bound on each step gap.
    "st4b_funnel_windowed" ->
      """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ets
        |  FROM events WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
        |    AND epoch_us(ts) < 72057594037927936),
        |s1 AS (SELECT u, min(ets) AS t1 FROM e WHERE t = 'signup' GROUP BY u),
        |s2 AS (SELECT s1.u, min(e.ets) AS t2 FROM s1 JOIN e
        |  ON e.u = s1.u AND e.t = 'click' AND e.ets > s1.t1
        |  AND e.ets <= s1.t1 + 86400000000 GROUP BY s1.u),
        |s3 AS (SELECT s2.u, min(e.ets) AS t3 FROM s2 JOIN e
        |  ON e.u = s2.u AND e.t = 'purchase' AND e.ets > s2.t2
        |  AND e.ets <= s2.t2 + 86400000000 GROUP BY s2.u),
        |c AS (SELECT (SELECT CAST(count(1) AS BIGINT) FROM s1) AS n1,
        |             (SELECT CAST(count(1) AS BIGINT) FROM s2) AS n2,
        |             (SELECT CAST(count(1) AS BIGINT) FROM s3) AS n3)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INTEGER) AS step, 'signup' AS event_type, n1 AS n_users,
        |    CASE WHEN n1 = 0 THEN NULL ELSE CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE) END AS conversion FROM c
        |  UNION ALL SELECT CAST(2 AS INTEGER), 'click', n2,
        |    CASE WHEN n1 = 0 THEN NULL ELSE CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END FROM c
        |  UNION ALL SELECT CAST(3 AS INTEGER), 'purchase', n3,
        |    CASE WHEN n1 = 0 THEN NULL ELSE CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE) END FROM c
        |) ORDER BY step""".stripMargin,

    // Transition-stats mirror: the st4 sequential-min CTE chain, then
    // per consecutive pair the realized gaps aggregate (sum as BIGINT
    // before the one double division; HAVING keeps engines agreed on
    // never-realized transitions — Spark emits no row, so neither may
    // the oracle)
    "st4c_funnel_gaps" ->
      """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ets
        |  FROM events WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
        |    AND epoch_us(ts) < 72057594037927936),
        |s1 AS (SELECT u, min(ets) AS t1 FROM e WHERE t = 'signup' GROUP BY u),
        |s2 AS (SELECT s1.u, min(e.ets) AS t2 FROM s1 JOIN e
        |  ON e.u = s1.u AND e.t = 'click' AND e.ets > s1.t1 GROUP BY s1.u),
        |s3 AS (SELECT s2.u, min(e.ets) AS t3 FROM s2 JOIN e
        |  ON e.u = s2.u AND e.t = 'purchase' AND e.ets > s2.t2 GROUP BY s2.u),
        |g1 AS (SELECT s2.t2 - s1.t1 AS gap FROM s2 JOIN s1 ON s1.u = s2.u),
        |g2 AS (SELECT s3.t3 - s2.t2 AS gap FROM s3 JOIN s2 ON s2.u = s3.u)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INTEGER) AS step_from, CAST(2 AS INTEGER) AS step_to,
        |    'signup' AS event_from, 'click' AS event_to,
        |    CAST(count(1) AS BIGINT) AS n_converted,
        |    CAST(CAST(sum(gap) AS BIGINT) AS DOUBLE) / CAST(count(1) AS DOUBLE) AS avg_gap_us,
        |    min(gap) AS min_gap_us, max(gap) AS max_gap_us
        |  FROM g1 HAVING count(1) > 0
        |  UNION ALL
        |  SELECT CAST(2 AS INTEGER), CAST(3 AS INTEGER), 'click', 'purchase',
        |    CAST(count(1) AS BIGINT),
        |    CAST(CAST(sum(gap) AS BIGINT) AS DOUBLE) / CAST(count(1) AS DOUBLE),
        |    min(gap), max(gap)
        |  FROM g2 HAVING count(1) > 0
        |) ORDER BY step_from""".stripMargin,

    // Capped-funnel mirror: each engine first restricts to every user's
    // 8 (ets, step)-earliest FUNNEL events — row_number over the same
    // lexicographic order the packed bounded heap keeps — then runs the
    // exact sequential-min chain on the restricted set. The cap binds
    // at test sf, so a cap-semantics drift on either side hash-fails.
    "st4d_funnel_capped" ->
      """WITH e0 AS (SELECT user_id AS u,
        |    CASE event_type WHEN 'signup' THEN 0 WHEN 'click' THEN 1
        |      ELSE 2 END AS si, epoch_us(ts) AS ets
        |  FROM events WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
        |    AND epoch_us(ts) < 72057594037927936
        |    AND event_type IN ('signup', 'click', 'purchase')),
        |e1 AS (SELECT u, si, ets,
        |    row_number() OVER (PARTITION BY u ORDER BY ets, si) AS rn FROM e0),
        |e AS (SELECT u, CASE si WHEN 0 THEN 'signup' WHEN 1 THEN 'click'
        |    ELSE 'purchase' END AS t, ets FROM e1 WHERE rn <= 8),
        |s1 AS (SELECT u, min(ets) AS t1 FROM e WHERE t = 'signup' GROUP BY u),
        |s2 AS (SELECT s1.u, min(e.ets) AS t2 FROM s1 JOIN e
        |  ON e.u = s1.u AND e.t = 'click' AND e.ets > s1.t1 GROUP BY s1.u),
        |s3 AS (SELECT s2.u, min(e.ets) AS t3 FROM s2 JOIN e
        |  ON e.u = s2.u AND e.t = 'purchase' AND e.ets > s2.t2 GROUP BY s2.u),
        |c AS (SELECT (SELECT CAST(count(1) AS BIGINT) FROM s1) AS n1,
        |             (SELECT CAST(count(1) AS BIGINT) FROM s2) AS n2,
        |             (SELECT CAST(count(1) AS BIGINT) FROM s3) AS n3)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INTEGER) AS step, 'signup' AS event_type, n1 AS n_users,
        |    CASE WHEN n1 = 0 THEN NULL ELSE CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE) END AS conversion FROM c
        |  UNION ALL SELECT CAST(2 AS INTEGER), 'click', n2,
        |    CASE WHEN n1 = 0 THEN NULL ELSE CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END FROM c
        |  UNION ALL SELECT CAST(3 AS INTEGER), 'purchase', n3,
        |    CASE WHEN n1 = 0 THEN NULL ELSE CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE) END FROM c
        |) ORDER BY step""".stripMargin,

    // Capped-gaps mirror: st4d's restricted event set, st4c's gap
    // aggregation over the chain it realizes.
    "st4e_funnel_gaps_capped" ->
      """WITH e0 AS (SELECT user_id AS u,
        |    CASE event_type WHEN 'signup' THEN 0 WHEN 'click' THEN 1
        |      ELSE 2 END AS si, epoch_us(ts) AS ets
        |  FROM events WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
        |    AND epoch_us(ts) < 72057594037927936
        |    AND event_type IN ('signup', 'click', 'purchase')),
        |e1 AS (SELECT u, si, ets,
        |    row_number() OVER (PARTITION BY u ORDER BY ets, si) AS rn FROM e0),
        |e AS (SELECT u, CASE si WHEN 0 THEN 'signup' WHEN 1 THEN 'click'
        |    ELSE 'purchase' END AS t, ets FROM e1 WHERE rn <= 8),
        |s1 AS (SELECT u, min(ets) AS t1 FROM e WHERE t = 'signup' GROUP BY u),
        |s2 AS (SELECT s1.u, min(e.ets) AS t2 FROM s1 JOIN e
        |  ON e.u = s1.u AND e.t = 'click' AND e.ets > s1.t1 GROUP BY s1.u),
        |s3 AS (SELECT s2.u, min(e.ets) AS t3 FROM s2 JOIN e
        |  ON e.u = s2.u AND e.t = 'purchase' AND e.ets > s2.t2 GROUP BY s2.u),
        |g1 AS (SELECT s2.t2 - s1.t1 AS gap FROM s2 JOIN s1 ON s1.u = s2.u),
        |g2 AS (SELECT s3.t3 - s2.t2 AS gap FROM s3 JOIN s2 ON s2.u = s3.u)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INTEGER) AS step_from, CAST(2 AS INTEGER) AS step_to,
        |    'signup' AS event_from, 'click' AS event_to,
        |    CAST(count(1) AS BIGINT) AS n_converted,
        |    CAST(CAST(sum(gap) AS BIGINT) AS DOUBLE) / CAST(count(1) AS DOUBLE) AS avg_gap_us,
        |    min(gap) AS min_gap_us, max(gap) AS max_gap_us
        |  FROM g1 HAVING count(1) > 0
        |  UNION ALL
        |  SELECT CAST(2 AS INTEGER), CAST(3 AS INTEGER), 'click', 'purchase',
        |    CAST(count(1) AS BIGINT),
        |    CAST(CAST(sum(gap) AS BIGINT) AS DOUBLE) / CAST(count(1) AS DOUBLE),
        |    min(gap), max(gap)
        |  FROM g2 HAVING count(1) > 0
        |) ORDER BY step_from""".stripMargin,

    // Path mirror: identical (ts, type)-ordered first-4 journey per
    // user, path-keyed count, (n desc, path) total order bounds the cut
    "st6_event_paths" ->
      """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ets
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |p AS (SELECT u, array_to_string(list_slice(
        |    list(t ORDER BY ets, t), 1, 4), '>') AS path
        |  FROM e GROUP BY u)
        |SELECT path, CAST(count(1) AS BIGINT) AS n_users FROM p
        |GROUP BY path ORDER BY n_users DESC, path LIMIT 20""".stripMargin,

    // Transition-matrix mirror: the same per-user (ts, type) ordering
    // expressed as a lead() window — consecutive rows of the sorted
    // partition ARE the consecutive pairs of the per-user sequence, and
    // the window form scales where a 10 M-element list unnest breaks
    // DuckDB's allocator; integer counts, one division
    "st7_transitions" ->
      """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ets
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |o AS (SELECT t AS from_type,
        |    lead(t) OVER (PARTITION BY u ORDER BY ets, t) AS to_type FROM e),
        |c AS (SELECT from_type, to_type, CAST(count(1) AS BIGINT) AS n
        |  FROM o WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |  FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  CAST(c.n AS DOUBLE) / CAST(tot.n_from AS DOUBLE) AS p
        |FROM c JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // Chunked-transitions mirror: the chunking is an ENGINE-side
    // execution strategy with identical semantics, so the oracle is
    // st7's exact global-window formulation — any boundary-pair bug on
    // the Spark side hash-fails against the unchunked truth.
    "st7b_transitions_chunked" ->
      """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ets
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |o AS (SELECT t AS from_type,
        |    lead(t) OVER (PARTITION BY u ORDER BY ets, t) AS to_type FROM e),
        |c AS (SELECT from_type, to_type, CAST(count(1) AS BIGINT) AS n
        |  FROM o WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |  FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  CAST(c.n AS DOUBLE) / CAST(tot.n_from AS DOUBLE) AS p
        |FROM c JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // DAU/MAU mirror: distinct (user, day) once, DAU a plain per-day
    // count, MAU a bounded range join of the deduped user-days against
    // the distinct day list ([d-29, d] membership = the Spark side's
    // 30-day forward expansion) — the window-style formulation, never a
    // per-day list unnest (check.py's documented DuckDB allocator
    // caveat). Day emitted as an ISO string to match the Spark harness
    // column.
    "st8_dau_mau" ->
      s"""WITH $dDauMau
         |SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, mau.mau,
         |  CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness
         |FROM dau JOIN mau USING (d) ORDER BY day""".stripMargin,

    // HLL-twin mirror: the exact st8 frame again (the SAME dDauMau val),
    // the sketch-accuracy gates pinned TRUE (the estimates never enter
    // the output — x1's contract-boolean pattern)
    "st8b_dau_mau_hll" ->
      s"""WITH $dDauMau
         |SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, mau.mau,
         |  TRUE AS dau_ok, TRUE AS mau_ok
         |FROM dau JOIN mau USING (d) ORDER BY day""".stripMargin,

    // Cohort mirror: identical integer-microsecond week buckets
    // (604800000000 µs), distinct (user, week) activity, offset-0 rows
    // as cohort sizes.
    "st5_cohorts" ->
      """WITH ua AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(ts) // 604800000000 AS wk FROM events
        |  WHERE ts IS NOT NULL),
        |ch AS (SELECT u, min(wk) AS cohort_week FROM ua GROUP BY u),
        |cells AS (SELECT cohort_week, wk - cohort_week AS week_offset,
        |    CAST(count(1) AS BIGINT) AS n_active
        |  FROM ua JOIN ch ON ch.u = ua.u GROUP BY 1, 2),
        |sz AS (SELECT cohort_week, n_active AS cohort_size FROM cells
        |  WHERE week_offset = 0)
        |SELECT c.cohort_week, c.week_offset, c.n_active,
        |  CAST(c.n_active AS DOUBLE) / CAST(sz.cohort_size AS DOUBLE) AS retention
        |FROM cells c JOIN sz ON sz.cohort_week = c.cohort_week
        |ORDER BY c.cohort_week, c.week_offset""".stripMargin,

    "e15_seq_pack" ->
      s"""WITH $dToks,
         |n AS (SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks),
         |c AS (SELECT doc_id, source, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum
         |FROM n)
         |SELECT doc_id, source, n_tokens,
         |  (cum - n_tokens) // 512 AS start_block,
         |  (cum - 1) // 512 AS end_block
         |FROM c ORDER BY doc_id""".stripMargin,

    // token-mix mirror: same deterministic hash pick order as e12's,
    // per-source running token sum, keep docs starting under the budget
    "e17_token_mix" ->
      s"""WITH $dToks,
         |n AS (SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks),
         |c AS (SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY ${dPhash("CAST(doc_id AS VARCHAR)", "tm")}, doc_id) AS BIGINT)
         |      AS cum_tokens
         |  FROM n)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens - n_tokens <
         |  CASE source WHEN 'src0' THEN 300 WHEN 'src1' THEN 900 ELSE 600 END
         |ORDER BY doc_id""".stripMargin,

    // Shuffle-shard mirror: the same "shuf|"-prefixed polynomial hash,
    // shard = h mod 8, position = row_number per shard over (h, id).
    "e30_shuffle_shards" ->
      s"""WITH h AS (SELECT doc_id, source,
         |    ${dPhash("'shuf|' || CAST(doc_id AS VARCHAR)", "ss")} AS hv
         |  FROM documents)
         |SELECT doc_id, source, CAST(hv % 8 AS INTEGER) AS shard,
         |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id)
         |    AS BIGINT) AS pos
         |FROM h ORDER BY doc_id""".stripMargin,

    // Temperature-mix mirror: integer-exact α = 1/2 budgets —
    // ⌊√cᵢ⌋ (IEEE sqrt is correctly rounded, so both engines floor the
    // same), B·wᵢ // Σwⱼ in BIGINT — then e17's hash-order running cut.
    "e28_temperature_mix" ->
      s"""WITH $dToks,
         |n AS (SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks),
         |w AS (SELECT source,
         |    CAST(floor(sqrt(CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE))) AS BIGINT) AS w
         |  FROM n GROUP BY source),
         |tot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM w),
         |b AS (SELECT source, CAST((8000 * w) // wt AS BIGINT) AS budget FROM w, tot),
         |c AS (SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY ${dPhash("CAST(doc_id AS VARCHAR)", "tx")}, doc_id) AS BIGINT)
         |      AS cum_tokens
         |  FROM n)
         |SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens, b.budget
         |FROM c JOIN b USING (source)
         |WHERE c.cum_tokens - c.n_tokens < b.budget
         |ORDER BY doc_id""".stripMargin,

    // Curriculum mirror: the e16 scoring CTEs, a strict-total-order
    // row_number (bits_per_token, doc_id) minus 1 as the global rank —
    // the oracle CAN afford the single-partition window the Spark side
    // avoids — and the same integer phase arithmetic.
    "e32_curriculum" ->
      s"""WITH $dToks,
         |tok AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
         |counts AS (SELECT tok, CAST(count(1) AS BIGINT) AS n FROM tok GROUP BY tok),
         |vocab AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT 5000),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
         |m AS (SELECT doc_id,
         |    CAST(count(1) AS BIGINT) AS n_tokens,
         |    CAST(CAST(sum(length(bin(t.total)) - length(bin(coalesce(v.n, 1)))) AS BIGINT)
         |        AS DOUBLE) / CAST(count(1) AS DOUBLE) AS bits_per_token
         |  FROM tok LEFT JOIN vocab v USING (tok) CROSS JOIN tot t
         |  GROUP BY doc_id),
         |r AS (SELECT doc_id, n_tokens, bits_per_token,
         |    CAST(row_number() OVER (ORDER BY bits_per_token, doc_id) - 1 AS BIGINT)
         |      AS difficulty_rank
         |  FROM m),
         |nn AS (SELECT CAST(count(1) AS BIGINT) AS n_docs FROM m)
         |SELECT doc_id, n_tokens, bits_per_token, difficulty_rank,
         |  CAST((difficulty_rank * 4) // n_docs AS INTEGER) AS phase
         |FROM r, nn ORDER BY doc_id""".stripMargin,

    // Quality-retention mirror: the e2 composite score, percent_rank
    // per language over the same deterministic (quality, doc_id) order,
    // and the SAME IEEE 1.0−0.3 cut constant (0.7's double literal is a
    // DIFFERENT double — both engines must subtract).
    "e31_quality_retention" -> {
      val en = TA.stopwords.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH $dToks,
         |m AS (SELECT doc_id, lang,
         |    CAST(0.4 AS DOUBLE) * (CAST(len(list_distinct(tk)) AS DOUBLE)
         |        / CAST(len(tk) AS DOUBLE))
         |      + CAST(0.4 AS DOUBLE) * least(
         |          (CAST(len(list_filter(tk, tq31 -> list_contains($en, tq31))) AS DOUBLE)
         |            / CAST(len(tk) AS DOUBLE)) * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |      + CAST(0.2 AS DOUBLE) * least(CAST(len(tk) AS DOUBLE) / CAST(100.0 AS DOUBLE),
         |          CAST(1.0 AS DOUBLE)) AS quality
         |  FROM toks),
         |r AS (SELECT doc_id, lang, quality,
         |    percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS pr
         |  FROM m)
         |SELECT doc_id, lang, quality, pr FROM r
         |WHERE pr >= CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)
         |ORDER BY doc_id""".stripMargin
    },

    // Curation-pipeline mirror: e31's retention CTEs produce the kept
    // id set, then e32's scoring/rank/phase CTEs run over toks
    // restricted to kept — vocabulary, totals, and the phase
    // denominator all derived from the RETAINED corpus, exactly like
    // the composed Spark plan.
    "c2_curation_pipeline" -> {
      val en = TA.stopwords.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH $dToks,
         |m31 AS (SELECT doc_id, lang,
         |    CAST(0.4 AS DOUBLE) * (CAST(len(list_distinct(tk)) AS DOUBLE)
         |        / CAST(len(tk) AS DOUBLE))
         |      + CAST(0.4 AS DOUBLE) * least(
         |          (CAST(len(list_filter(tk, tc2 -> list_contains($en, tc2))) AS DOUBLE)
         |            / CAST(len(tk) AS DOUBLE)) * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |      + CAST(0.2 AS DOUBLE) * least(CAST(len(tk) AS DOUBLE) / CAST(100.0 AS DOUBLE),
         |          CAST(1.0 AS DOUBLE)) AS quality
         |  FROM toks),
         |r31 AS (SELECT doc_id, quality,
         |    percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS pr
         |  FROM m31),
         |kept AS (SELECT doc_id FROM r31
         |  WHERE pr >= CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)),
         |tok AS (SELECT t.doc_id, unnest(tk) AS tok
         |  FROM toks t JOIN kept USING (doc_id)),
         |counts AS (SELECT tok, CAST(count(1) AS BIGINT) AS n FROM tok GROUP BY tok),
         |vocab AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT 5000),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
         |m AS (SELECT doc_id,
         |    CAST(count(1) AS BIGINT) AS n_tokens,
         |    CAST(CAST(sum(length(bin(t.total)) - length(bin(coalesce(v.n, 1)))) AS BIGINT)
         |        AS DOUBLE) / CAST(count(1) AS DOUBLE) AS bits_per_token
         |  FROM tok LEFT JOIN vocab v USING (tok) CROSS JOIN tot t
         |  GROUP BY doc_id),
         |r AS (SELECT doc_id, n_tokens, bits_per_token,
         |    CAST(row_number() OVER (ORDER BY bits_per_token, doc_id) - 1 AS BIGINT)
         |      AS difficulty_rank
         |  FROM m),
         |nn AS (SELECT CAST(count(1) AS BIGINT) AS n_docs FROM m)
         |SELECT doc_id, n_tokens, bits_per_token, difficulty_rank,
         |  CAST((difficulty_rank * 4) // n_docs AS INTEGER) AS phase
         |FROM r, nn ORDER BY doc_id""".stripMargin
    },

    // Hash-split mirror: the same "split|"-prefixed polynomial hash mod
    // the summed weights, mapped through the cumulative ranges.
    "e27_hash_split" ->
      s"""WITH b AS (SELECT doc_id, source,
         |    ${dPhash("'split|' || CAST(doc_id AS VARCHAR)", "hs")} % 10 AS bk
         |  FROM documents)
         |SELECT doc_id, source,
         |  CASE WHEN bk < 8 THEN 'train' WHEN bk < 9 THEN 'val' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    // Composed-pipeline mirror: every stage replayed — the e2 quality
    // formula gating the non-benchmark pool, the d11 normalize+hash
    // with min-id representative, the d6 5-gram semi-join against the
    // benchmark slice (pool and bench are disjoint, so no self-match
    // clause), and the e17 hash-ordered budget window over survivors.
    "c1_prep_pipeline" -> {
      val en = TA.stopwords.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
      val gram5 = (0 until 5).map(j => if (j == 0) "tk[sg]" else s"tk[sg+$j]")
        .mkString(" || ' ' || ")
      s"""WITH $dToks,
         |m AS (SELECT doc_id, len(tk) AS n_tokens,
         |    CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS ttr,
         |    CAST(len(list_filter(tk, tq -> list_contains($en, tq))) AS DOUBLE)
         |      / CAST(len(tk) AS DOUBLE) AS stop_ratio
         |  FROM toks WHERE doc_id % 20 <> 0),
         |ql AS (SELECT doc_id FROM m WHERE
         |    CAST(0.4 AS DOUBLE) * ttr
         |      + CAST(0.4 AS DOUBLE) * least(stop_ratio * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |      + CAST(0.2 AS DOUBLE) * least(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE),
         |          CAST(1.0 AS DOUBLE)) >= CAST(0.4 AS DOUBLE)),
         |nrm AS (SELECT d.doc_id, trim(regexp_replace(regexp_replace(
         |      lower(d.text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS ntext
         |    FROM documents d JOIN ql ON ql.doc_id = d.doc_id),
         |hh AS (SELECT doc_id, ${dPhash("ntext", "pp")} AS nh FROM nrm),
         |ded AS (SELECT hh.doc_id FROM hh
         |    JOIN (SELECT nh, min(doc_id) AS keep FROM hh GROUP BY nh) r
         |    ON r.nh = hh.nh AND r.keep = hh.doc_id),
         |grams AS (SELECT t.doc_id,
         |      unnest(list_transform(range(1, len(tk)-3), sg -> ${dPhash(gram5, "pg")})) AS h
         |    FROM toks t JOIN ded ON ded.doc_id = t.doc_id WHERE len(tk) >= 5),
         |bgrams AS (SELECT doc_id,
         |      unnest(list_transform(range(1, len(tk)-3), sg -> ${dPhash(gram5, "pb")})) AS h
         |    FROM toks WHERE doc_id % 20 = 0 AND len(tk) >= 5),
         |hits AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bgrams b ON g.h = b.h),
         |clean AS (SELECT ded.doc_id FROM ded
         |    WHERE ded.doc_id NOT IN (SELECT doc_id FROM hits)),
         |nn AS (SELECT t.doc_id, t.source, CAST(len(t.tk) AS BIGINT) AS n_tokens
         |    FROM toks t JOIN clean ON clean.doc_id = t.doc_id),
         |cw AS (SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY ${dPhash("CAST(doc_id AS VARCHAR)", "pm")}, doc_id) AS BIGINT)
         |      AS cum_tokens
         |  FROM nn)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM cw
         |WHERE cum_tokens - n_tokens <
         |  CASE source WHEN 'src0' THEN 200 WHEN 'src1' THEN 800 ELSE 400 END
         |ORDER BY doc_id""".stripMargin
    },

    // BPE mirror: the six merge-learning stages unrolled — per stage,
    // pair counts over the word-frequency table, row_number argmax
    // (cnt desc, pair asc), and the POSITIONAL greedy merge application
    // (a≠b matches can't overlap; a==b selects even offsets within each
    // run — identical formulas to CorpusOps.mergeSelect/mergeApply)
    // BPE-apply mirror: the training stages replayed (shared CTEs), then
    // the subword histogram re-derived from the fully-merged word table
    // w6 — each word type contributes its frequency per subword slot.
    "e26_bpe_tokenize" ->
      s"""WITH $dToks,
         |wd AS (SELECT unnest(tk) AS word FROM toks),
         |w0 AS (SELECT CAST(count(1) AS BIGINT) AS freq, string_split(word, '') AS syms
         |  FROM wd WHERE length(word) > 0 GROUP BY word),
         |$dBpeStages
         |SELECT subword, n FROM (
         |  SELECT u AS subword, CAST(sum(freq) AS BIGINT) AS n FROM (
         |    SELECT freq, unnest(syms) AS u FROM w6) GROUP BY u)
         |ORDER BY n DESC, subword LIMIT 30""".stripMargin,

    // fertility mirror: the same 6 unrolled training stages; each w6 row
    // re-concatenates to its word (merges only join adjacent symbols),
    // giving the per-word subword count the (lang, word) counts join
    "e36_bpe_fertility" ->
      s"""WITH $dToks,
         |wd AS (SELECT lang, unnest(tk) AS word FROM toks),
         |w0 AS (SELECT CAST(count(1) AS BIGINT) AS freq, string_split(word, '') AS syms
         |  FROM wd WHERE length(word) > 0 GROUP BY word),
         |$dBpeStages,
         |fert AS (SELECT array_to_string(syms, '') AS word,
         |    CAST(len(syms) AS BIGINT) AS n_sub FROM w6),
         |lw AS (SELECT lang, word, CAST(count(1) AS BIGINT) AS c
         |  FROM wd WHERE length(word) > 0 GROUP BY lang, word)
         |SELECT lang,
         |  CAST(sum(c) AS BIGINT) AS n_words,
         |  CAST(sum(c * n_sub) AS BIGINT) AS n_subwords,
         |  CAST(CAST(sum(c * n_sub) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS fertility
         |FROM lw JOIN fert USING (word)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // batched-BPE mirror: the full 12-round unrolled replay of the
    // batchK = 4 training loop — budget-capped top-want ranking,
    // disjoint-prefix batch selection, chained conditional positional
    // applies (see dBpeBatchStages). Rounds after the 20-merge budget
    // exhausts are no-ops, so 12 covers any conflict pattern the data
    // can produce (≥ ceil(20/4) = 5 full rounds + headroom for
    // prefix-shortened ones).
    "e23b_bpe_batch20" ->
      s"""WITH $dToks,
         |wd AS (SELECT unnest(tk) AS word FROM toks),
         |bwp0 AS (SELECT CAST(count(1) AS BIGINT) AS freq, string_split(word, '') AS syms
         |  FROM wd WHERE length(word) > 0 GROUP BY word),
         |bm0 AS (SELECT CAST(NULL AS BIGINT) AS step, CAST(NULL AS VARCHAR) AS lsym,
         |  CAST(NULL AS VARCHAR) AS rsym, CAST(NULL AS BIGINT) AS cnt WHERE FALSE),
         |${dBpeBatchStages(rounds = 12, total = 20, batchK = 4)}
         |SELECT step, lsym, rsym, cnt FROM bm12 ORDER BY step""".stripMargin,

    "e22_bpe_merges" -> {
      val stages = dBpeStages
      val out = (1 to 6)
        .map(s => s"SELECT CAST($s AS BIGINT) AS step, l AS lsym, r AS rsym, cnt FROM t$s")
        .mkString("\nUNION ALL ")
      s"""WITH $dToks,
         |wd AS (SELECT unnest(tk) AS word FROM toks),
         |w0 AS (SELECT CAST(count(1) AS BIGINT) AS freq, string_split(word, '') AS syms
         |  FROM wd WHERE length(word) > 0 GROUP BY word),
         |$stages
         |$out
         |ORDER BY step""".stripMargin
    },

    // epoch-mix mirror: same hash-ordered within-epoch running sum
    // (computed once), integer ceil-division epoch bound, integer
    // cumulative positions — budget arithmetic all-BIGINT
    "e21_epoch_mix" ->
      s"""WITH $dToks,
         |ntk AS (SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks),
         |cumw AS (SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY ${dPhash("CAST(doc_id AS VARCHAR)", "em")}, doc_id) AS BIGINT) AS cum_w
         |  FROM ntk),
         |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total
         |  FROM ntk GROUP BY source HAVING sum(n_tokens) > 0),
         |jb AS (SELECT c.doc_id, c.source, c.n_tokens, c.cum_w, t.total,
         |    CAST(CASE c.source WHEN 'src0' THEN 3000 WHEN 'src1' THEN 800
         |         ELSE 0 END AS BIGINT) AS budget
         |  FROM cumw c JOIN tot t USING (source)),
         |ep AS (SELECT jb.*, CAST(ee.r AS BIGINT) AS epoch FROM jb,
         |    LATERAL (SELECT unnest(range(0,
         |      greatest((budget + total - 1) // total, 1))) AS r) ee)
         |SELECT doc_id, source, epoch, n_tokens,
         |  epoch * total + cum_w AS cum_tokens
         |FROM ep WHERE epoch * total + cum_w - n_tokens < budget
         |ORDER BY source, cum_tokens""".stripMargin,

    // unigram-surprise mirror: same corpus-learned top-5000 vocabulary
    // (count desc, token asc — the deterministic cut), same integer
    // bitlen arithmetic via the binary-string length, one final double
    // division (single IEEE op, bit-identical on both engines).
    "e16_unigram_bits" ->
      s"""WITH $dToks,
         |tok AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
         |counts AS (SELECT tok, CAST(count(1) AS BIGINT) AS n FROM tok GROUP BY tok),
         |vocab AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT 5000),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
         |SELECT doc_id,
         |  CAST(count(1) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN v.n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  CAST(sum(length(bin(t.total)) - length(bin(coalesce(v.n, 1)))) AS BIGINT)
         |    AS bits_total,
         |  CAST(CAST(sum(length(bin(t.total)) - length(bin(coalesce(v.n, 1)))) AS BIGINT)
         |      AS DOUBLE) / CAST(count(1) AS DOUBLE) AS bits_per_token
         |FROM tok LEFT JOIN vocab v USING (tok) CROSS JOIN tot t
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // bigram-surprise mirror: pairs built positionally inside the token
    // list (range is end-exclusive, lists 1-indexed — same (tk[i],
    // tk[i+1]) pairs as the Spark-side slice/element_at map), the same
    // deterministic top-N cuts (count desc, gram asc), and the same
    // integer bitlen scoring with unigram backoff.
    "e18_bigram_bits" ->
      s"""WITH $dToks,
         |big AS (SELECT doc_id, u.prev AS prev, u.cur AS cur FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |      ib -> {'prev': tk[ib], 'cur': tk[ib + 1]})) AS u FROM toks)),
         |bgc AS (SELECT prev, cur, CAST(count(1) AS BIGINT) AS bn
         |        FROM big GROUP BY prev, cur),
         |ctx AS (SELECT prev, CAST(count(1) AS BIGINT) AS cn FROM big GROUP BY prev),
         |bgm AS (SELECT b.prev, b.cur, b.bn, c.cn FROM
         |    (SELECT prev, cur, bn FROM bgc ORDER BY bn DESC, prev, cur LIMIT 2000) b
         |    JOIN ctx c USING (prev)),
         |tok AS (SELECT unnest(tk) AS tok FROM toks),
         |uc AS (SELECT tok, CAST(count(1) AS BIGINT) AS un FROM tok GROUP BY tok),
         |uv AS (SELECT tok, un FROM uc ORDER BY un DESC, tok LIMIT 5000),
         |tot AS (SELECT CAST(sum(un) AS BIGINT) AS total FROM uc)
         |SELECT doc_id,
         |  CAST(count(1) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN m.bn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
         |  CAST(sum(CASE WHEN m.bn IS NOT NULL
         |               THEN length(bin(m.cn)) - length(bin(m.bn))
         |               ELSE length(bin(t.total)) - length(bin(coalesce(v.un, 1)))
         |          END) AS BIGINT) AS bits_total,
         |  CAST(CAST(sum(CASE WHEN m.bn IS NOT NULL
         |               THEN length(bin(m.cn)) - length(bin(m.bn))
         |               ELSE length(bin(t.total)) - length(bin(coalesce(v.un, 1)))
         |          END) AS BIGINT) AS DOUBLE) / CAST(count(1) AS DOUBLE)
         |    AS bits_per_bigram
         |FROM big g LEFT JOIN bgm m ON g.prev = m.prev AND g.cur = m.cur
         |  LEFT JOIN uv v ON g.cur = v.tok CROSS JOIN tot t
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // NB classifier mirror: the full train+apply replay — per-class
    // token counts over the 80% slice, the same deterministic top-5000
    // vocabulary cut, and the decomposed integer scoring (every token
    // costs den_bits; matched model rows refund bitlen(cnt+1), the rest
    // refund bitlen(1)=1), then argmin with (bits, label) tie-break.
    "e24_nb_classify" ->
      s"""WITH $dToks,
         |tr AS (SELECT source AS lbl, unnest(tk) AS tok FROM toks WHERE doc_id % 5 <> 0),
         |cnts AS (SELECT lbl, tok, CAST(count(1) AS BIGINT) AS n FROM tr GROUP BY lbl, tok),
         |vocab AS (SELECT tok FROM (SELECT tok, CAST(sum(n) AS BIGINT) AS tn FROM cnts
         |    GROUP BY tok ORDER BY tn DESC, tok LIMIT 5000)),
         |vc AS (SELECT c.lbl, c.tok, c.n FROM cnts c JOIN vocab USING (tok)),
         |vn AS (SELECT CAST(count(1) AS BIGINT) AS v FROM vocab),
         |nd AS (SELECT CAST(count(1) AS BIGINT) AS nd FROM documents WHERE doc_id % 5 <> 0),
         |cls AS (SELECT d.lbl,
         |    CAST(length(bin(coalesce(t.totc, 0) + vn.v)) AS BIGINT) AS den_bits,
         |    CAST(length(bin(nd.nd)) - length(bin(d.ndc)) AS BIGINT) AS prior_bits
         |  FROM (SELECT source AS lbl, CAST(count(1) AS BIGINT) AS ndc FROM documents
         |      WHERE doc_id % 5 <> 0 GROUP BY 1) d
         |  LEFT JOIN (SELECT lbl, CAST(sum(n) AS BIGINT) AS totc FROM vc GROUP BY lbl) t
         |    USING (lbl)
         |  CROSS JOIN vn CROSS JOIN nd),
         |te AS (SELECT doc_id, unnest(tk) AS tok FROM toks WHERE doc_id % 5 = 0),
         |ds AS (SELECT doc_id, CAST(count(1) AS BIGINT) AS ntok FROM te GROUP BY doc_id),
         |mt AS (SELECT te.doc_id, vc.lbl,
         |    CAST(sum(length(bin(vc.n + 1))) AS BIGINT) AS mbs,
         |    CAST(count(1) AS BIGINT) AS mc
         |  FROM te JOIN vc USING (tok) GROUP BY te.doc_id, vc.lbl),
         |sc AS (SELECT ds.doc_id, cls.lbl,
         |    CAST(ds.ntok * cls.den_bits
         |      - (coalesce(mt.mbs, 0) + (ds.ntok - coalesce(mt.mc, 0)))
         |      + cls.prior_bits AS BIGINT) AS bits
         |  FROM ds CROSS JOIN cls
         |  LEFT JOIN mt ON mt.doc_id = ds.doc_id AND mt.lbl = cls.lbl)
         |SELECT doc_id, source, pred_source, source = pred_source AS correct, bits
         |FROM (SELECT sc.doc_id, dd.source, sc.lbl AS pred_source, sc.bits,
         |    row_number() OVER (PARTITION BY sc.doc_id ORDER BY sc.bits, sc.lbl) AS rn
         |  FROM sc JOIN documents dd ON dd.doc_id = sc.doc_id) WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,

    // DSIR mirror: both hashed-bucket LMs re-learned from scratch (the
    // portable-hash fold mod 2048), the same decomposed integer
    // log-weight per token, and the same (lw desc, doc_id asc) top-500
    // cut. rc is never NULL (raw model is learned on the scored pool)
    // but the coalesce mirrors the Spark plan exactly.
    "e25_dsir_select" ->
      s"""WITH $dToks,
         |tg AS (SELECT ${dPhash("tok", "dp")} % 2048 AS bucket FROM
         |    (SELECT unnest(tk) AS tok FROM toks WHERE source = 'src0')),
         |rw AS (SELECT doc_id, ${dPhash("tok", "dq")} % 2048 AS bucket FROM
         |    (SELECT doc_id, unnest(tk) AS tok FROM toks WHERE source <> 'src0')),
         |tm AS (SELECT bucket, CAST(count(1) AS BIGINT) AS tc FROM tg GROUP BY bucket),
         |rm AS (SELECT bucket, CAST(count(1) AS BIGINT) AS rc FROM rw GROUP BY bucket),
         |tt AS (SELECT CAST(sum(tc) AS BIGINT) AS ttot FROM tm),
         |rt AS (SELECT CAST(sum(rc) AS BIGINT) AS rtot FROM rm)
         |SELECT doc_id, ntok AS n_tokens, lw AS logw_bits,
         |  CAST(lw AS DOUBLE) / CAST(ntok AS DOUBLE) AS logw_per_token
         |FROM (SELECT rw.doc_id, CAST(count(1) AS BIGINT) AS ntok,
         |    CAST(sum((length(bin(rt.rtot + 2048)) - length(bin(coalesce(rm.rc, 0) + 1)))
         |      - (length(bin(tt.ttot + 2048)) - length(bin(coalesce(tm.tc, 0) + 1)))) AS BIGINT) AS lw
         |  FROM rw LEFT JOIN tm USING (bucket) LEFT JOIN rm USING (bucket)
         |    CROSS JOIN tt CROSS JOIN rt
         |  GROUP BY rw.doc_id)
         |ORDER BY lw DESC, doc_id LIMIT 500""".stripMargin,

    // CMS heavy-hitter mirror: exact top-20 token counts with the same
    // deterministic cut; the sketch contract boolean is constant TRUE
    // (x1 pattern — a sketch regression flips it and fails the hash)
    "x2_cms_heavyhitters" ->
      s"""WITH $dToks, tok AS (SELECT unnest(tk) AS tok FROM toks)
         |SELECT tok, exact_n, TRUE AS cms_ok FROM (
         |  SELECT tok, CAST(count(1) AS BIGINT) AS exact_n FROM tok GROUP BY tok)
         |ORDER BY exact_n DESC, tok LIMIT 20""".stripMargin,

    // exact side of the sketch-bound check: the booleans assert Spark's
    // sketch estimates sit within ε of Spark's own exact aggregates, so
    // the oracle's job is only the exact distinct counts + constant TRUE
    "x1_approx_sketches" ->
      """SELECT source, CAST(count(DISTINCT text) AS BIGINT) AS exact_docs,
        |  TRUE AS hll_ok, TRUE AS median_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "m1_media_features" ->
      s"""WITH m AS (SELECT doc_id, encode(text) AS media FROM documents),
         |h AS (SELECT doc_id, octet_length(media) AS media_len, upper(hex(media)) AS hx FROM m)
         |SELECT doc_id, CAST(media_len AS INTEGER) AS media_len,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, media_len),
         |    bi -> CAST((strpos('0123456789ABCDEF', hx[CAST(bi*2+1 AS INTEGER)])-1)*16
         |      + (strpos('0123456789ABCDEF', hx[CAST(bi*2+2 AS INTEGER)])-1) AS BIGINT))),
         |    (ba, bv) -> (ba*31+bv) % $P) AS checksum,
         |  substr(hx, 1, 16) AS head_hex
         |FROM h ORDER BY doc_id""".stripMargin,

    // Gopher rules over the shared web fixture: every metric is an exact
    // integer count or a single division of exact integers, so the hash
    // compare is bit-exact; thresholds are the paper's published values.
    "e40_gopher_rules" ->
      s"""WITH $dWebRaw,
         |w AS (SELECT doc_id, raw,
         |    regexp_split_to_array(trim(raw), '\\s+') AS ws,
         |    string_split(raw, chr(10)) AS ls FROM raws),
         |m AS (SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(ws, wl -> CAST(length(wl) AS BIGINT))),
         |      (wa, wb) -> wa + wb) AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS mean_word_len,
         |    CAST(len(list_filter(ws, wx -> regexp_matches(wx, '[a-z]'))) AS DOUBLE)
         |      / CAST(len(ws) AS DOUBLE) AS alpha_frac,
         |    CAST(length(raw) - length(replace(raw, '#', '')) AS DOUBLE)
         |      / CAST(len(ws) AS DOUBLE) AS symbol_frac,
         |    CAST(len(list_filter(ls, lb -> starts_with(lb, '- '))) AS DOUBLE)
         |      / CAST(len(ls) AS DOUBLE) AS bullet_frac,
         |    CAST(len(list_filter(ls, le -> ends_with(le, '...'))) AS DOUBLE)
         |      / CAST(len(ls) AS DOUBLE) AS ellipsis_frac,
         |    CAST(len(list_distinct(list_filter(ws, st ->
         |      list_contains(['the', 'a', 'and', 'of', 'to', 'in'], st)))) AS BIGINT) AS n_stop
         |  FROM w)
         |SELECT doc_id, n_words, mean_word_len, alpha_frac, symbol_frac,
         |  bullet_frac, ellipsis_frac, n_stop,
         |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10
         |    AND symbol_frac < 0.1 AND bullet_frac < 0.9 AND ellipsis_frac < 0.3
         |    AND alpha_frac > 0.8 AND n_stop >= 2) AS keep
         |FROM m ORDER BY doc_id""".stripMargin,

    // C4 line cleaning over the same fixture: kept = ≥3 words AND
    // terminal punct AND no '{'; doc keep = ≥3 kept lines.
    "e41_c4_clean" ->
      s"""WITH $dWebRaw,
         |l AS (SELECT doc_id, string_split(raw, chr(10)) AS ls FROM raws),
         |m AS (SELECT doc_id,
         |    CAST(len(ls) AS BIGINT) AS n_lines,
         |    list_filter(ls, lk -> len(regexp_split_to_array(trim(lk), '\\s+')) >= 3
         |      AND (ends_with(lk, '.') OR ends_with(lk, '!') OR ends_with(lk, '?'))
         |      AND NOT contains(lk, '{')) AS kept,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(ls, lw ->
         |        CAST(len(regexp_split_to_array(trim(lw), '\\s+')) AS BIGINT))),
         |      (la, lb) -> la + lb) AS BIGINT) AS total_words
         |  FROM l)
         |SELECT doc_id, n_lines, CAST(len(kept) AS BIGINT) AS n_kept,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(kept, kw ->
         |      CAST(len(regexp_split_to_array(trim(kw), '\\s+')) AS BIGINT))),
         |    (ka, kb) -> ka + kb) AS DOUBLE) / CAST(total_words AS DOUBLE) AS kept_word_frac,
         |  len(kept) >= 3 AS keep,
         |  -- array_to_string([]) is NULL in DuckDB, '' in Spark's array_join
         |  COALESCE(array_to_string(kept, chr(10)), '') AS cleaned
         |FROM m ORDER BY doc_id""".stripMargin,

    // URL canonicalization: identical regex chain (ASCII classes only, so
    // Java and RE2 agree), first-doc-wins dedup over the canonical form.
    "e42_url_dedup" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |  source || '-' || CAST(doc_id % 4 AS VARCHAR) || '.Example.COM' ||
        |  '/articles/' || CAST(doc_id % 7 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 5 = 0
        |    THEN '?utm_source=feed&sid=' || CAST(doc_id AS VARCHAR) ELSE '' END) ||
        |  (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
        |FROM documents),
        |c AS (SELECT doc_id, url,
        |  regexp_replace(regexp_replace(lower(regexp_replace(regexp_replace(regexp_replace(
        |    url, '(?i)^https?://', ''), '#.*$', ''), '\?.*$', '')), '^www\.', ''), '/$', '')
        |    AS canon_url
        |  FROM u)
        |SELECT doc_id, url, canon_url,
        |  regexp_extract(canon_url, '^[^/]+') AS host,
        |  CAST(count(1) OVER (PARTITION BY canon_url) AS BIGINT) AS url_dups,
        |  (row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) = 1) AS keep
        |FROM c ORDER BY doc_id""".stripMargin,

    // corpus-level line dedup: 3-token line groups, distinct-doc count,
    // survivors re-joined in position order
    "e43_line_dedup" ->
      s"""WITH $dToks,
         |u AS (SELECT doc_id, tk,
         |    unnest(range(0, CAST(floor((len(tk) + 2) / 3.0) AS BIGINT))) AS li
         |  FROM toks),
         |lns AS (SELECT doc_id, li AS pos,
         |    array_to_string(list_slice(tk, li*3+1, li*3+3), ' ') AS line FROM u),
         |d AS (SELECT line FROM lns GROUP BY line
         |  HAVING count(DISTINCT doc_id) >= 2),
         |f AS (SELECT l.doc_id, l.pos, l.line, (d.line IS NOT NULL) AS dup
         |  FROM lns l LEFT JOIN d ON l.line = d.line)
         |SELECT doc_id, CAST(count(1) AS BIGINT) AS n_lines,
         |  CAST(count(1) FILTER (WHERE dup) AS BIGINT) AS n_dup_lines,
         |  CAST(count(1) FILTER (WHERE dup) AS DOUBLE)
         |    / CAST(count(1) AS DOUBLE) AS dup_frac,
         |  COALESCE(string_agg(line, ' ' ORDER BY pos) FILTER (WHERE NOT dup), '')
         |    AS cleaned
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // web-curation cascade: gopher gate ∩ c4 keep, then d1's hash
    // grouping over the CLEANED text (same dPhash fold)
    "c3_web_pipeline" ->
      s"""WITH $dWebRaw,
         |w AS (SELECT doc_id, raw,
         |    regexp_split_to_array(trim(raw), '\\s+') AS ws,
         |    string_split(raw, chr(10)) AS ls FROM raws),
         |m AS (SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(ws, wl -> CAST(length(wl) AS BIGINT))),
         |      (wa, wb) -> wa + wb) AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS mean_word_len,
         |    CAST(len(list_filter(ws, wx -> regexp_matches(wx, '[a-z]'))) AS DOUBLE)
         |      / CAST(len(ws) AS DOUBLE) AS alpha_frac,
         |    CAST(length(raw) - length(replace(raw, '#', '')) AS DOUBLE)
         |      / CAST(len(ws) AS DOUBLE) AS symbol_frac,
         |    CAST(len(list_filter(ls, lb -> starts_with(lb, '- '))) AS DOUBLE)
         |      / CAST(len(ls) AS DOUBLE) AS bullet_frac,
         |    CAST(len(list_filter(ls, le -> ends_with(le, '...'))) AS DOUBLE)
         |      / CAST(len(ls) AS DOUBLE) AS ellipsis_frac,
         |    CAST(len(list_distinct(list_filter(ws, st ->
         |      list_contains(['the', 'a', 'and', 'of', 'to', 'in'], st)))) AS BIGINT) AS n_stop
         |  FROM w),
         |gk AS (SELECT doc_id FROM m
         |  WHERE n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10
         |    AND symbol_frac < 0.1 AND bullet_frac < 0.9 AND ellipsis_frac < 0.3
         |    AND alpha_frac > 0.8 AND n_stop >= 2),
         |m2 AS (SELECT doc_id,
         |    list_filter(string_split(raw, chr(10)), lk ->
         |      len(regexp_split_to_array(trim(lk), '\\s+')) >= 3
         |      AND (ends_with(lk, '.') OR ends_with(lk, '!') OR ends_with(lk, '?'))
         |      AND NOT contains(lk, '{')) AS kept
         |  FROM raws),
         |c4 AS (SELECT doc_id,
         |    COALESCE(array_to_string(kept, chr(10)), '') AS cleaned
         |  FROM m2 WHERE len(kept) >= 3),
         |keptdocs AS (SELECT c4.doc_id AS doc_id, cleaned FROM c4 JOIN gk USING (doc_id)),
         |h AS (SELECT doc_id, ${dPhash("cleaned", "c3")} AS content_hash FROM keptdocs)
         |SELECT content_hash, min(doc_id) AS rep_id, count(1) AS n_copies
         |FROM h GROUP BY content_hash ORDER BY content_hash""".stripMargin
  )

  /** The production twins are REQUIRED to be hash-equal to their
    * reference forms, so they share the oracle SQL verbatim: e42b (agg
    * URL dedup) ≡ e42's window form; e43b (artifact-served line dedup)
    * ≡ e43's inline form. */
  val oracles: Map[String, String] = baseOracles ++ Map(
    "e42b_url_dedup_agg" -> baseOracles("e42_url_dedup"),
    "e43b_line_dedup_artifact" -> baseOracles("e43_line_dedup"))
}
