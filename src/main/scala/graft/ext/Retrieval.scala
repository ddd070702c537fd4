package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Lineage, Q, Tables}

/** Lexical retrieval over the document corpus — the inverted-index /
  * BM25 family a training-data pipeline uses for retrieval-based
  * curation: pulling topical slices out of a crawl, decontamination by
  * retrieving the training neighbors of an eval question (complements
  * d12/d28's n-gram containment forms), and hard-negative mining for
  * embedding models (complements the dense s01/s05 stack with the
  * sparse half of hybrid search).
  *
  * Scale posture: the corpus text is scanned ONCE into the postings
  * aggregate `(doc_id, term, tf)` — the inverted index, which production
  * persists as a table (the d18 band-index pattern) and this module
  * also derives document lengths and corpus stats from WITHOUT
  * re-reading text. Everything query-dependent is query-sized: the
  * query term set broadcasts, document frequencies are aggregated only
  * for query terms (left-semi before the agg), and the per-term idf
  * table broadcasts back into the postings join — so the only
  * corpus-sized exchanges are the postings aggregate itself and the
  * final per-(query, doc) score combine.
  */
object Retrieval {

  /** The inverted index: one row per (document, term) with its term
    * frequency. Lowercased whitespace tokens (the [[TextStats.tokens]]
    * tokenizer) — the same vocabulary as the rest of the d-family.
    *
    * Deliberately explode → partial agg → (doc, term) exchange, NOT the
    * in-row TermCounts map kernel: the kernel variant (count terms into
    * a per-doc map, explode the map) was tried in round 15 and REVERSES
    * with scale — 0.65× at sf0.1 but 1.25× at sf1 (back-to-back
    * control-normalized A/Bs) — because it materializes a boxed
    * per-document map and still explodes to the same row count, while
    * this shape's heavy lifting runs in Spark's off-heap hash aggregate
    * and its exchange carries only post-combine (doc, term) rows. The
    * in-row kernels that DO win at every scale (d40/d44/d08/d35) all
    * collapse the row to a fixed-size output; a kernel that rebuilds a
    * per-token structure and re-explodes it only saves local-mode
    * shuffle constants (guide §2's warning about optimizing for the
    * local core count). */
  def postings(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(TextStats.tokens(lower(col("text")))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** BM25 top-k retrieval: for each query, the k highest-scoring
    * documents under the Lucene BM25 formulation
    * `idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))` (non-negative for
    * every df) with the standard tf saturation / length normalization
    * `tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`.
    *
    * Document length and corpus stats (N, avgdl) derive from the
    * postings aggregate (`dl = Σ tf`), not from a second text scan.
    * Query terms absent from the corpus contribute nothing (they
    * produce no candidate rows — exactly BM25's behavior, since their
    * postings list is empty). Scores are rounded to 4 decimals BEFORE
    * ranking so the rank boundary is reproducible cross-engine; ties
    * break by ascending doc_id.
    *
    * `maxDfFrac` is the scale guard-rail every lexical engine ships
    * (Lucene's stopword elision / WAND's upper-bound skip): a query
    * term appearing in more than that fraction of documents is dropped
    * before scoring. Its idf — ln(1 + (N−df+0.5)/(df+0.5)) — is near
    * zero precisely when df ≈ N, so the dropped contribution is noise,
    * while the candidate row count it would have generated is df × its
    * query frequency — the entire quadratic blow-up risk of dense
    * terms. Default 1.0 (off) keeps exact textbook BM25 (what the gate
    * oracle replays); production at 100 TB wants ~0.2.
    *
    * Output: (query_id, doc_id, score, rank), rank 1..k per query. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      maxDfFrac: Double = 1.0): DataFrame = {
    require(k > 0, "k must be positive")
    require(k1 >= 0 && b >= 0 && b <= 1, "k1 must be >= 0 and b in [0,1]")
    require(maxDfFrac > 0 && maxDfFrac <= 1, "maxDfFrac must be in (0,1]")
    // the postings aggregate feeds THREE consumers (dl derivation, df
    // counts, scoring) — shared lazy lineage would re-scan the corpus
    // per consumer (AQE re-prunes each copy; ReusedExchange does not
    // survive it). Materialize once: this is the same barrier the
    // persisted production index pays at build time, amortized over
    // every query batch thereafter. EAGER, because it pays: same-JVM
    // alternating runs on the 500-doc sf0.01 corpus (10 per shape,
    // local[4]) put the median at 0.82 s eager, 1.00 s lazy and 1.29 s
    // uncut. Callers holding an already-persisted index call
    // [[bm25TopKFromPostings]] directly.
    bm25TopKFromPostings(Lineage.cut(postings(docs)), queries, k, k1, b,
      maxDfFrac)
  }

  /** Index maintenance for the postings index: batches carry DISJOINT
    * doc_ids (each document is indexed exactly once — the same
    * admission contract every other persisted index here relies on), so
    * an append is a pure union — no re-aggregation at all; through a
    * table format it is a plain INSERT. Every BM25 corpus statistic
    * (df, dl, N, avgdl) derives from the postings aggregate, so the
    * scorer needs NOTHING else updated on append. */
  def appendToPostings(index: DataFrame, newDocs: DataFrame): DataFrame =
    index.unionByName(postings(newDocs))

  /** [[bm25TopK]] against an ALREADY-BUILT postings relation — the
    * production posture (the index is a persisted, append-maintained
    * table; queries arrive forever after). Same scoring, same
    * guard-rail, zero corpus-text access. */
  def bm25TopKFromPostings(post: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      maxDfFrac: Double = 1.0): DataFrame = {
    require(k > 0, "k must be positive")
    require(k1 >= 0 && b >= 0 && b <= 1, "k1 must be >= 0 and b in [0,1]")
    require(maxDfFrac > 0 && maxDfFrac <= 1, "maxDfFrac must be in (0,1]")
    val dls = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    // corpus stats in ONE aggregate over the postings, not a second
    // aggregate over `dls`: under AQE each consumer of a shared lazy
    // subtree re-derives it, so the two-level dls→stats formulation
    // computed the doc-length aggregate TWICE per plan (observed in the
    // s09 formatted plan). Σtf is an exact long and n_docs an exact
    // count, so Σtf/n ≡ avg(dl) bit-for-bit.
    val stats = post
      .agg(count_distinct(col("doc_id")).as("nd"), sum(col("tf")).as("st"))
      .select(col("nd").cast("double").as("n_docs"),
        (col("st").cast("double") / col("nd").cast("double")).as("avgdl"))
    // per-query DISTINCT terms (array_distinct inside one row, so no
    // extra distinct exchange); evaluation queries are tiny → broadcast
    val qterms = queries.select(col("query_id"),
      explode(array_distinct(TextStats.tokens(lower(col("text"))))).as("term"))
    // document frequencies for QUERY terms only: semi-filter the
    // postings before aggregating so the df exchange is query-sized
    val dfT = post
      .join(broadcast(qterms.select(col("term")).distinct()), Seq("term"),
        "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // inner join: corpus-absent terms would never produce a candidate
    // row anyway, and df-pruned terms are the point of the guard-rail
    val dfKept =
      if (maxDfFrac >= 1.0) dfT
      else dfT.crossJoin(broadcast(stats))
        .filter(col("df") <= lit(maxDfFrac) * col("n_docs"))
        .select(col("term"), col("df"))
    val qidf = qterms
      .join(dfKept, Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("term"),
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
          (col("df") + 0.5)).as("idf"))
    val contrib = col("idf") * (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val scored = post
      .join(broadcast(qidf), Seq("term"))
      .join(dls, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(contrib), 4).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }

  /** Second retriever for hybrid search: per-query top-k documents by
    * DISTINCT word-n-gram overlap with the query ([[Dedup.shingles]]
    * sets on both sides — the d28 containment signal turned into a
    * ranking). Query n-grams broadcast; only documents sharing at
    * least one n-gram are ranked. Output: (query_id, doc_id, rank). */
  def ngramOverlapTopK(docs: DataFrame, queries: DataFrame, n: Int,
      k: Int): DataFrame = {
    require(n > 0 && k > 0, "n and k must be positive")
    val qng = queries.select(col("query_id"),
      explode(Dedup.shingles(lower(col("text")), n)).as("ng"))
    val dng = docs.select(col("doc_id"),
      explode(Dedup.shingles(lower(col("text")), n)).as("ng"))
    val ov = dng.join(broadcast(qng), Seq("ng"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("overlap"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("overlap").desc, col("doc_id").asc)
    ov.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"))
  }

  /** Reciprocal-rank fusion — the standard hybrid-search combiner
    * (sparse BM25 ⊕ dense ANN ⊕ any other ranking): each input ranking
    * contributes `1/(kRrf + rank)` for the documents it ranked, fused
    * scores re-rank, top-k survives. Rankings need not agree on the
    * candidate set — a document absent from one ranking simply gets no
    * contribution from it, which is RRF's whole point (no score
    * calibration across heterogeneous retrievers, only ranks).
    *
    * Scale shape: inputs are already per-query top-k — query-set-sized,
    * never corpus-sized — so the union + fused aggregate + re-rank all
    * run on |queries| × k × #rankings rows. Deterministic: fused
    * scores round to 6 before ranking; ties break by ascending doc_id. */
  def rrfFuse(rankings: Seq[DataFrame], kRrf: Int = 60,
      topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(kRrf >= 1 && topK >= 1, "kRrf and topK must be positive")
    val u = rankings
      .map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_.unionByName(_))
    val fused = u.groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(lit(1.0) / (lit(kRrf.toDouble) + col("rank"))), 6)
        .as("rrf_score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("rrf_score"), col("rank"))
  }

  // ---- catalog queries -----------------------------------------------

  /** BM25 gate: the md5 "qry:" bucket splits documents 95/5 — the 95%
    * side is the corpus, each 5%-side document contributes its first
    * six tokens as a query (a retrieval-shaped probe with guaranteed
    * corpus vocabulary overlap). k = 5 at the standard k1=1.2, b=0.75. */
  /** Shared DuckDB oracle for s09 (build-and-query) and s24 (persisted
    * index grown by appends): textbook BM25 over the whole 95/5
    * corpus/query split — the fused answer must not depend on which
    * posture produced the postings, so any append drift (lost or
    * doubled postings shifting tf/df/dl/N) diverges s24 while s09
    * stays green. */
  private val bm25Oracle: String = """
      WITH b AS (
        SELECT doc_id, text,
               CAST(concat('0x', substr(md5('qry:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        FROM documents),
      corpus AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        FROM b WHERE bucket < 95),
      queries AS (
        SELECT doc_id AS query_id,
               list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')[1:6]) AS qtoks
        FROM b WHERE bucket >= 95 AND length(trim(text)) > 0),
      post AS (
        SELECT doc_id, u.term AS term, count(*) AS tf
        FROM corpus, unnest(corpus.toks) AS u(term)
        GROUP BY 1, 2),
      dls AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY 1),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dls),
      qterms AS (
        SELECT query_id, u.term AS term
        FROM queries, unnest(queries.qtoks) AS u(term)),
      dft AS (
        SELECT term, count(*) AS df FROM post
        WHERE term IN (SELECT term FROM qterms) GROUP BY 1),
      qidf AS (
        SELECT q.query_id, q.term,
               ln(1.0 + (s.n_docs - coalesce(d.df, 0) + 0.5) / (coalesce(d.df, 0) + 0.5)) AS idf
        FROM qterms q LEFT JOIN dft d USING (term) CROSS JOIN stats s),
      scored AS (
        SELECT qi.query_id, p.doc_id,
               round(sum(qi.idf * (p.tf * 2.2) /
                 (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * dls.dl / s.avgdl))), 4) AS score
        FROM post p
        JOIN qidf qi USING (term)
        JOIN dls USING (doc_id)
        CROSS JOIN stats s
        GROUP BY 1, 2)
      SELECT query_id, doc_id, score, rank
      FROM (SELECT query_id, doc_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id ASC) AS rank
            FROM scored) t
      WHERE rank <= 5
    """

  val s09Bm25TopK: Q = Q(
    "s09_bm25_topk",
    Some(bm25Oracle),
    (s, dir) => {
      val (corpus, queries) = hybridInputs(s, dir)
      bm25TopK(corpus, queries, k = 5)
    })

  /** Postings-lifecycle gate — the retrieval family's index-maintenance
    * posture (d71/s22's algebra applied to the inverted text index):
    * the corpus is split 90/5/5 on a SECOND hash (`post:`, independent
    * of the corpus/query split), the archive slice builds the postings
    * index, both batch slices are APPENDED ([[appendToPostings]] — a
    * pure union under the disjoint-doc contract), and the queries run
    * against the twice-grown index through [[bm25TopKFromPostings]].
    * Same oracle as s09: the ranking must be posture-independent, so
    * lost/doubled postings (which shift tf, df, dl, N and avgdl all at
    * once) diverge here while s09 stays green. */
  val s24Bm25Incremental: Q = Q(
    "s24_bm25_incremental",
    Some(bm25Oracle),
    (s, dir) => {
      val (corpus, queries) = hybridInputs(s, dir)
      val h = conv(substring(md5(concat(lit("post:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100
      val withH = corpus.withColumn("h", h)
      val archive = withH.filter(col("h") < 90).drop("h")
      val batch1 = withH.filter(col("h") >= 90 && col("h") < 95).drop("h")
      val batch2 = withH.filter(col("h") >= 95).drop("h")
      val idx0 = Lineage.cut(postings(archive))
      val idx1 = Lineage.cut(appendToPostings(idx0, batch1))
      val idx2 = appendToPostings(idx1, batch2)
      bm25TopKFromPostings(idx2, queries, k = 5)
    })

  /** Shared DuckDB oracle for the two hybrid-retrieval gates (s10 end-to-
    * end, s21 persisted-rankings): the s09 BM25 ranking fused (RRF, k=60)
    * with a 3-gram-overlap ranking over the same 95/5 corpus/query
    * split. */
  private val hybridFusionOracle: String = """
      WITH b AS (
        SELECT doc_id, text,
               CAST(concat('0x', substr(md5('qry:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        FROM documents),
      corpus AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        FROM b WHERE bucket < 95),
      queries AS (
        SELECT doc_id AS query_id,
               regexp_split_to_array(trim(lower(text)), '\s+')[1:6] AS qtoks
        FROM b WHERE bucket >= 95 AND length(trim(text)) > 0),
      post AS (
        SELECT doc_id, u.term AS term, count(*) AS tf
        FROM corpus, unnest(corpus.toks) AS u(term)
        GROUP BY 1, 2),
      dls AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY 1),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dls),
      qterms AS (
        SELECT DISTINCT query_id, u.term AS term
        FROM queries, unnest(queries.qtoks) AS u(term)),
      dft AS (
        SELECT term, count(*) AS df FROM post
        WHERE term IN (SELECT term FROM qterms) GROUP BY 1),
      qidf AS (
        SELECT q.query_id, q.term,
               ln(1.0 + (s.n_docs - coalesce(d.df, 0) + 0.5) / (coalesce(d.df, 0) + 0.5)) AS idf
        FROM qterms q LEFT JOIN dft d USING (term) CROSS JOIN stats s),
      scored AS (
        SELECT qi.query_id, p.doc_id,
               round(sum(qi.idf * (p.tf * 2.2) /
                 (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * dls.dl / s.avgdl))), 4) AS score
        FROM post p
        JOIN qidf qi USING (term)
        JOIN dls USING (doc_id)
        CROSS JOIN stats s
        GROUP BY 1, 2),
      bm25r AS (
        SELECT query_id, doc_id, rank
        FROM (SELECT query_id, doc_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, doc_id ASC) AS rank
              FROM scored) t
        WHERE rank <= 5),
      dng AS (
        SELECT DISTINCT doc_id, u.ng AS ng
        FROM (SELECT doc_id,
                     CASE WHEN len(toks) < 3 THEN []
                          ELSE list_transform(generate_series(1, len(toks) - 2),
                                 i -> array_to_string(toks[i:i+2], ' ')) END AS ngs
              FROM corpus) d, unnest(d.ngs) AS u(ng)),
      qng AS (
        SELECT DISTINCT query_id, u.ng AS ng
        FROM (SELECT query_id,
                     CASE WHEN len(qtoks) < 3 THEN []
                          ELSE list_transform(generate_series(1, len(qtoks) - 2),
                                 i -> array_to_string(qtoks[i:i+2], ' ')) END AS ngs
              FROM queries) q, unnest(q.ngs) AS u(ng)),
      ov AS (
        SELECT q.query_id, d.doc_id, count(*) AS overlap
        FROM dng d JOIN qng q USING (ng)
        GROUP BY 1, 2),
      ngr AS (
        SELECT query_id, doc_id, rank
        FROM (SELECT query_id, doc_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY overlap DESC, doc_id ASC) AS rank
              FROM ov) t
        WHERE rank <= 5),
      fused AS (
        SELECT query_id, doc_id,
               round(sum(1.0 / (60.0 + rank)), 6) AS rrf_score
        FROM (SELECT * FROM bm25r UNION ALL SELECT * FROM ngr) u
        GROUP BY 1, 2)
      SELECT query_id, doc_id, rrf_score, rank
      FROM (SELECT query_id, doc_id, rrf_score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY rrf_score DESC, doc_id ASC) AS rank
            FROM fused) t
      WHERE rank <= 5
    """

  /** The shared 95/5 corpus/query split of the hybrid gates. */
  private def hybridInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val bucket = (conv(substring(md5(concat(lit("qry:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100)
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), bucket.as("bucket"))
    val corpus = docs.filter(col("bucket") < 95)
      .select(col("doc_id"), col("text"))
    val queries = docs.filter(col("bucket") >= 95)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextStats.tokens(col("text")), 1, 6)).as("text"))
      .filter(length(col("text")) > 0)
    (corpus, queries)
  }

  /** Hybrid-retrieval gate, end-to-end: both rankings recomputed in the
    * same DAG and fused — the two-retriever shape of production hybrid
    * search with the dense leg stood in by the n-gram retriever (both
    * are rank sources to RRF; it never sees scores). */
  val s10RrfFusion: Q = Q(
    "s10_rrf_fusion",
    Some(hybridFusionOracle),
    (s, dir) => {
      val (corpus, queries) = hybridInputs(s, dir)
      rrfFuse(Seq(
        bm25TopK(corpus, queries, k = 5),
        ngramOverlapTopK(corpus, queries, n = 3, k = 5)), kRrf = 60, topK = 5)
    })

  /** Hybrid-retrieval gate, PERSISTED-rankings posture: each retriever's
    * top-k is written to parquet once (the production artifact — per-leg
    * index jobs run on their own cadence) and fusion reads the
    * artifacts back, so re-fusing with a new leg or a different kRrf
    * never recomputes a retriever. Same oracle as s10 — the fused
    * answer must not depend on which posture produced the rankings. */
  val s21RrfPersisted: Q = Q(
    "s21_rrf_persisted",
    Some(hybridFusionOracle),
    (s, dir) => {
      val base = graft.SessionArtifacts.dir(s, "graft-s21")
      val (corpus, queries) = hybridInputs(s, dir)
      // the two leg writes are INDEPENDENT index jobs (that independence
      // is the posture this gate exists for) — submit them as concurrent
      // Spark jobs instead of serializing them through the driver: each
      // leg has serial stages (postings barrier, per-query top-k) that
      // leave executors idle, and the other leg's stages fill them
      // (guide §5 — the driver must never serialize work the scheduler
      // could overlap). Values are unchanged: the legs touch disjoint
      // output dirs and fuse only after both commit.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      // bounded await (round-15 advice): a wedged leg write must fail
      // the gate loudly instead of blocking it forever; generous enough
      // that no honest run at any gate scale approaches it
      Await.result(Future.sequence(Seq(
        Future(bm25TopK(corpus, queries, k = 5)
          .write.mode("overwrite").parquet(s"$base/bm25")),
        Future(ngramOverlapTopK(corpus, queries, n = 3, k = 5)
          .write.mode("overwrite").parquet(s"$base/ngram")))),
        scala.concurrent.duration.Duration(30, "min"))
      rrfFuse(Seq(
        s.read.parquet(s"$base/bm25"),
        s.read.parquet(s"$base/ngram")), kRrf = 60, topK = 5)
    })

  /** Per-document TF-IDF keyword extraction — the topic-tagging /
    * corpus-exploration primitive (and the classic relevance weighting
    * the BM25 stack generalizes): each document's top-k terms by
    * `tf · idf` with the sklearn-style smoothed idf
    * `ln((1+N)/(1+df)) + 1` (strictly positive, so even corpus-wide
    * terms keep a usable ordering).
    *
    * Scale shape: ONE corpus scan into the postings aggregate (the same
    * materialize-once decision as [[bm25TopK]] — df, N and the scoring
    * join are three consumers that would each re-scan under AQE
    * re-pruning); df collapses map-side; N is a one-row broadcast; the
    * per-doc top-k is a rank-limit window PARTITIONED BY the doc key —
    * high-cardinality, so the sort is per-doc-vocabulary-sized, never a
    * global order (the [[graft.plans.TopKPerGroup]] rewrite deliberately
    * does not fire here because `rank` rides in the output). Scores
    * round to 4 BEFORE ranking and ties break on the term so the cut is
    * cross-engine reproducible. */
  def tfidfKeywords(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val post = Lineage.cut(postings(docs))
    val df = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = post.agg(count_distinct(col("doc_id")).cast("double").as("n"))
    val score = round(col("tf") *
      (log((lit(1.0) + col("n")) / (lit(1.0) + col("df"))) + 1.0), 4)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    post
      .join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), score.as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Top-3 TF-IDF keywords for every document. */
  val d43TfidfKeywords: Q = Q(
    "d43_tfidf_keywords",
    Some("""
      WITH tok AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        FROM documents),
      post AS (
        SELECT doc_id, u.term AS term, count(*) AS tf
        FROM tok, unnest(tok.toks) AS u(term)
        GROUP BY 1, 2),
      dft AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
      nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM post),
      sc AS (
        SELECT p.doc_id, p.term,
               round(p.tf * (ln((1.0 + nn.n) / (1.0 + dft.df)) + 1.0), 4) AS score
        FROM post p JOIN dft ON dft.term = p.term CROSS JOIN nn),
      r AS (
        SELECT doc_id, term, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term ASC) AS rank
        FROM sc)
      SELECT doc_id, term, score, rank FROM r WHERE rank <= 3
    """),
    (s, dir) => tfidfKeywords(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")), k = 3))

  /** PMI collocation mining — the classic statistical phrase detector
    * (Church & Hanks; word2vec's phrase pass uses the same score):
    * pmi(a,b) = ln( p(a,b) / (p(a)·p(b)) ) over adjacent-bigram vs
    * unigram frequencies. High-PMI pairs are multiword expressions
    * ("new york") the tokenizer/phrase stage should fuse — the
    * statistical cousin of d57's frequency-greedy BPE merges.
    *
    * Scale shape: one corpus scan through the codegen'd bigram kernel
    * + one through the tokenizer, both collapsing to vocabulary-sized
    * count tables map-side; the scoring join runs on |bigrams| rows
    * with unigram counts joined by key and the totals broadcast. PMI is
    * rounded BEFORE ranking (round-then-rank, the s09 contract) so the
    * top-k boundary cannot flip on libm ulps. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 2L,
      topK: Int = 20): DataFrame = {
    require(topK > 0 && minCount >= 1, "need topK > 0 and minCount >= 1")
    val allBig = docs
      .select(explode(graft.plans.NgramsExpr.ngrams(col("text"), 2)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("c_ab"))
    val big = allBig.filter(col("c_ab") >= minCount)
    val uni = docs
      .select(explode(TextStats.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val nUni = uni.agg(sum(col("c")).as("n_uni"))
    // the bigram total is over ALL bigram occurrences (p(a,b) is a real
    // probability), not just the pairs surviving the min-count cut
    val nBig = allBig.agg(sum(col("c_ab")).as("n_big"))
    val scored = big
      .withColumn("a", split(col("pair"), " ").getItem(0))
      .withColumn("b", split(col("pair"), " ").getItem(1))
      .join(uni.select(col("tok").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("tok").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBig))
      .select(col("a"), col("b"), col("c_ab"),
        round(log((col("c_ab").cast("double") / col("n_big")) /
          ((col("c_a").cast("double") / col("n_uni")) *
            (col("c_b").cast("double") / col("n_uni")))), 4).as("pmi"))
    scored.orderBy(col("pmi").desc, col("a").asc, col("b").asc).limit(topK)
  }

  /** d60 — top-20 PMI collocations of the documents corpus. */
  val d60PmiCollocations: Q = Q(
    "d60_pmi_collocations",
    Some("""
      WITH toks AS (
        SELECT list_filter(regexp_split_to_array(trim(text), '\s+'),
                           t -> t <> '') AS ts
        FROM documents),
      uni AS (SELECT unnest(ts) AS tok FROM toks),
      uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
      nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uc),
      big AS (
        SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
               i -> ts[i] || ' ' || ts[i+1])) AS pair
        FROM toks WHERE len(ts) >= 2),
      abc AS (SELECT pair, count(*) AS c_ab FROM big GROUP BY 1),
      bc AS (SELECT pair, c_ab FROM abc WHERE c_ab >= 2),
      nb AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_big FROM abc),
      scored AS (
        SELECT string_split(bc.pair, ' ')[1] AS a,
               string_split(bc.pair, ' ')[2] AS b, bc.c_ab,
               round(ln((CAST(bc.c_ab AS DOUBLE) / nb.n_big) /
                        ((CAST(ua.c AS DOUBLE) / nu.n_uni) *
                         (CAST(ub.c AS DOUBLE) / nu.n_uni))), 4) AS pmi
        FROM bc
        JOIN uc ua ON ua.tok = string_split(bc.pair, ' ')[1]
        JOIN uc ub ON ub.tok = string_split(bc.pair, ' ')[2]
        CROSS JOIN nu CROSS JOIN nb)
      SELECT a, b, c_ab, pmi FROM scored
      ORDER BY pmi DESC, a ASC, b ASC LIMIT 20
    """),
    (s, dir) => pmiCollocations(
      Tables(s, dir, "documents").select(col("text"))))

  /** Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein 1998)
    * — DIVERSIFIED top-k selection over a per-query candidate pool:
    * greedily pick argmax of λ·relevance − (1−λ)·max-similarity-to-
    * already-selected, so a pool full of near-duplicates yields k
    * DISTINCT results instead of k copies (the retrieval-side face of
    * the dedup family: s01/s09 rank, d07 dedups, MMR does both at
    * selection time).
    *
    * `candidates` is (qid, vec_id, rel, embedding) — a per-query pool
    * from any retriever (s02's kNN, s09's BM25 fused by s10). The loop
    * is the Pregel shape: k DISTRIBUTED rounds, each one bounded join
    * (remaining × selected, both per-query-pool-sized — NEVER
    * corpus-sized) + a rank-limit argmax per query; lineage cut per
    * round. k and the pool bound are what make this scale-free: work is
    * O(queries · pool · k), independent of corpus size.
    *
    * Determinism contract: `rel` must arrive rounded (round@6, the
    * s01/s02 parity) and pairwise sims are rounded@6 the same way; the
    * score is then two IEEE multiplies + a subtract of identical
    * doubles on any engine, and the argmax tiebreaks by vec_id — fully
    * replayable, which is how the DuckDB oracle can UNROLL the greedy
    * loop (the d46/d35 unrolled-iteration pattern).
    *
    * Output: (qid, step, vec_id, score), step 1..k selection order. */
  def mmrRerank(candidates: DataFrame, k: Int, lambda: Double): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0,1]")
    val cols = Seq("qid", "vec_id", "rel", "embedding")
    require(cols.forall(candidates.columns.contains),
      s"candidates must carry ${cols.mkString(", ")}")
    var remaining = Lineage.cut(candidates.select(cols.map(col): _*), eager = false)
    var selected: DataFrame = null
    var out: DataFrame = null
    for (step <- 1 to k) {
      val maxSim =
        if (selected == null)
          remaining.withColumn("__max_sim", lit(0.0))
        else {
          val sims = remaining.alias("r")
            .join(selected.alias("s"), col("r.qid") === col("s.qid"))
            .groupBy(col("r.qid").as("qid"), col("r.vec_id").as("vec_id"))
            .agg(max(round(Similarity.cosine(col("r.embedding"),
              col("s.embedding")), 6)).as("__ms"))
          remaining.join(sims, Seq("qid", "vec_id"), "left")
            .withColumn("__max_sim", coalesce(col("__ms"), lit(0.0)))
            .drop("__ms")
        }
      val scored = maxSim.withColumn("score",
        col("rel") * lambda - col("__max_sim") * (1.0 - lambda))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("vec_id").asc)
      val pick = Lineage.cut(scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "__max_sim")
        .withColumn("step", lit(step)), eager = false)
      selected =
        if (selected == null) pick else selected.unionByName(pick)
      val stepOut = pick.select(col("qid"), col("step"), col("vec_id"),
        col("score"))
      out = if (out == null) stepOut else out.unionByName(stepOut)
      remaining = Lineage.cut(remaining.join(
        pick.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"),
        "left_anti"), eager = false)
    }
    out
  }

  /** s15 — MMR over per-query cosine-kNN pools: 10 query vectors, 20
    * candidates each, 3 diversified picks at λ = 0.7. The oracle
    * unrolls the greedy loop. */
  val s15MmrRerank: Q = Q(
    "s15_mmr_rerank",
    Some("""
      WITH cand AS (
        SELECT qid, vec_id, rel, e FROM (
          SELECT q.vec_id AS qid, e.vec_id,
                 round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                       CAST(q.embedding AS DOUBLE[])), 6) AS rel,
                 e.embedding AS e,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                            CAST(q.embedding AS DOUBLE[])), 6) DESC,
                            e.vec_id ASC) AS rk
          FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
          WHERE q.vec_id < 10) x
        WHERE rk <= 20),
      s1 AS (
        SELECT qid, vec_id, rel, e,
               rel * CAST(0.7 AS DOUBLE) - CAST(0.0 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) AS score
        FROM (
          SELECT qid, vec_id, rel, e, row_number() OVER (PARTITION BY qid
                   ORDER BY rel * CAST(0.7 AS DOUBLE) DESC, vec_id ASC) AS rn
          FROM cand) y
        WHERE rn = 1),
      r1 AS (SELECT c.qid, c.vec_id, c.rel, c.e FROM cand c
             LEFT JOIN s1 ON s1.qid = c.qid AND s1.vec_id = c.vec_id
             WHERE s1.qid IS NULL),
      sc2 AS (
        SELECT r.qid, r.vec_id, r.rel, r.e,
               round(list_cosine_similarity(CAST(r.e AS DOUBLE[]),
                     CAST(s1.e AS DOUBLE[])), 6) AS ms
        FROM r1 r JOIN s1 ON s1.qid = r.qid),
      s2 AS (
        SELECT qid, vec_id, rel, e,
               rel * CAST(0.7 AS DOUBLE) - ms * (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) AS score
        FROM (
          SELECT qid, vec_id, rel, e, ms, row_number() OVER (PARTITION BY qid
                   ORDER BY rel * CAST(0.7 AS DOUBLE) - ms * (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) DESC,
                            vec_id ASC) AS rn
          FROM sc2) y
        WHERE rn = 1),
      r2 AS (SELECT r.qid, r.vec_id, r.rel, r.e FROM r1 r
             LEFT JOIN s2 ON s2.qid = r.qid AND s2.vec_id = r.vec_id
             WHERE s2.qid IS NULL),
      sc3 AS (
        SELECT r.qid, r.vec_id, r.rel, r.e,
               greatest(
                 round(list_cosine_similarity(CAST(r.e AS DOUBLE[]),
                       CAST(s1.e AS DOUBLE[])), 6),
                 round(list_cosine_similarity(CAST(r.e AS DOUBLE[]),
                       CAST(s2.e AS DOUBLE[])), 6)) AS ms
        FROM r2 r
        JOIN s1 ON s1.qid = r.qid
        JOIN s2 ON s2.qid = r.qid),
      s3 AS (
        SELECT qid, vec_id, rel, e,
               rel * CAST(0.7 AS DOUBLE) - ms * (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) AS score
        FROM (
          SELECT qid, vec_id, rel, e, ms, row_number() OVER (PARTITION BY qid
                   ORDER BY rel * CAST(0.7 AS DOUBLE) - ms * (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) DESC,
                            vec_id ASC) AS rn
          FROM sc3) y
        WHERE rn = 1)
      SELECT qid, 1 AS step, vec_id, score FROM s1
      UNION ALL SELECT qid, 2, vec_id, score FROM s2
      UNION ALL SELECT qid, 3, vec_id, score FROM s3
    """),
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("rel").desc, col("vec_id").asc)
      val pool = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qe")), 6).as("rel"),
          col("embedding"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= 20).drop("__rk")
      mmrRerank(pool, k = 3, lambda = 0.7)
    })

  val all: Seq[Q] = Seq(s09Bm25TopK, s24Bm25Incremental, s10RrfFusion,
    s21RrfPersisted, d43TfidfKeywords, d60PmiCollocations, s15MmrRerank)
}
