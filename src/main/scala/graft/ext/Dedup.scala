package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Lineage, Q, Tables}

/** Near-duplicate detection for a training-data pipeline: n-gram shingling,
  * exact Jaccard with deterministic blocking, MinHash+LSH banding, and
  * SimHash hamming buckets.
  *
  * Scale design (the whole point of these operators):
  *   - NEVER a full cross join. Candidate generation is always an
  *     equi-join on a blocking key (prefix hash, LSH band bucket, simhash
  *     band), which Spark executes as a shuffle hash join on the key —
  *     linear in data + candidates, not quadratic.
  *   - Shingle/signature computation is a stateless projection (higher-
  *     order array functions, no UDFs), so it pipelines inside the scan.
  *   - Verification (exact Jaccard / hamming) runs only on candidates.
  */
object Dedup {

  /** Distinct word n-gram shingles of `c` (empty-safe) — native one-pass
    * kernel (graft.plans.ShinglesExpr); the composable
    * array_distinct/transform/slice chain re-tokenizes per lambda
    * iteration. */
  def shingles(c: Column, n: Int): Column =
    graft.plans.ShinglesExpr.shingles(c, n)

  /** Exact Jaccard similarity of two DISTINCT-element string-array
    * columns — the PRECONDITION is in the name. With distinct inputs
    * |a ∪ b| = |a| + |b| − |a ∩ b|, so one hash-set pass
    * (array_intersect) replaces the two passes of the
    * intersect+array_union formulation — the verify stage evaluates this
    * once per candidate pair, which at 100 TB is the second-largest cost
    * after the shuffle. Shingle sets are distinct by construction, so
    * every internal call site qualifies; arbitrary arrays go through
    * [[jaccard]], which pays the distinct pass. */
  def jaccardDistinct(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a).cast("double") + size(b).cast("double") - inter
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** Exact Jaccard similarity of two string-array columns with no
    * distinctness assumption: inputs are array_distinct'd first, then the
    * one-pass identity applies. Duplicate-element inputs would silently
    * overcount the union in the fast path — this wrapper is the safe
    * entry; hot verify loops use [[jaccardDistinct]] on inputs
    * that are sets by construction. */
  private[graft] def jaccard(a: Column, b: Column): Column =
    jaccardDistinct(array_distinct(a), array_distinct(b))

  /** k MinHash values of a shingle set — native one-pass Catalyst kernel
    * (graft.plans.MinHashSignatureExpr); the HOF equivalent re-traverses
    * the array once per seed with interpreted lambdas. */
  def minhashSignature(sh: Column, k: Int): Column =
    graft.plans.MinHashSignatureExpr.minhashSig(sh, k)

  /** LSH banding: split the k-signature into `bands` bands of `rowsPerBand`
    * and hash each band → (band_id, band_hash) bucket keys. */
  def lshBandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band_id"),
        xxhash64(concat_ws(",", slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))
          .as("band_hash")))

  /** SimHash signature width: 60 bits (15 hex chars of md5) — the token
    * hash is md5-derived so the whole signature is reproducible in ANSI
    * SQL (DuckDB computes the identical value), which is what makes d08
    * oracle-checkable; 60 = 4 bands × 15 bits for the banding. */
  val SimhashBits = 60
  val SimhashBands = 4
  val SimhashBandBits: Int = SimhashBits / SimhashBands

  /** Default hot-bucket membership cap for LSH/SimHash candidate
    * generation: buckets at or under the cap pair all-with-all (cap²/2
    * pairs max), hot buckets pair every member with the bucket-min
    * representative only (m−1 pairs) — bounded buffers and bounded
    * fan-out on degenerate near-dup clusters, CANDIDATE-graph connected
    * components preserved (post-verification components can differ; see
    * minhashNearDupPairs). 1000 keeps the all-pairs budget ≤ ~500k per
    * bucket while being far above any bucket the gate corpora produce. */
  val DefaultBucketCap = 1000

  /** 60-bit SimHash signatures: bit b is the sign of the sum of (±1)
    * contributions of every token's hash bit b — computed in-row by the
    * codegen'd [[graft.plans.Simhash60Expr]] kernel (one md5 per token,
    * 60 running votes in one pass; same 60-bit identity DuckDB rebuilds
    * as CAST('0x' || substr(md5(tok),1,15) AS BIGINT)). Empty-token
    * docs emit 0. Returns (idCol, "sig"). */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // ONE exchange-free projection (guide §2.4, the d40/d44 kernel
    // lesson): a signature depends only on the document's own tokens and
    // the per-bit votes are order-free exact integer sums, so
    // [[graft.plans.Simhash60Expr]] computes the signature in-row — one
    // md5 per token exactly as before (same 60-bit identity; DuckDB:
    // CAST('0x' || substr(md5(tok),1,15) AS BIGINT)), minus the previous
    // token-level explode → 60-conditional-sum aggregate (an exchange)
    // → spine join. Empty-token docs emit 0, the old backfill.
    docs.select(col(idCol),
      graft.plans.Simhash60Expr.simhash60(col(textCol)).as("sig"))

  /** Hamming distance between two signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- catalog queries -----------------------------------------------

  /** Exact n-gram Jaccard near-dup pairs with DETERMINISTIC prefix
    * blocking (oracle-checkable): block on md5(prefix 40), verify 3-gram
    * Jaccard ≥ 0.35. At 100 TB the blocking key bounds the join fan-out;
    * the quadratic step only happens inside a block. */
  val d06NgramJaccardPairs: Q = Q(
    "d06_ngram_jaccard_pairs",
    Some("""
      WITH s AS (
        SELECT doc_id, md5(substr(text, 1, 40)) AS blk,
               list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END) AS sh
        FROM documents),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
                     THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                          / len(list_distinct(a.sh || b.sh))
                     ELSE 0.0 END, 4) AS jaccard
        FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.35
    """),
    (s, dir) => blockedJaccardPairs(
        Tables(s, dir, "documents").select(col("doc_id"), col("text")))
      .filter(col("jaccard") >= 0.35))

  /** MinHash+LSH near-dup pairs — the probabilistic scale path: b bands ×
    * r rows (candidate P = 1-(1-J^r)^b), bucket equi-join for candidates,
    * exact Jaccard verification. r=2 keeps the J≈0.02-0.05
    * vocabulary-overlap background out of the candidate set (r=1 banding
    * made ~30%% of ALL pairs candidates); the band count then buys
    * recall at the threshold. The gate runs 48×2 so the analytical miss
    * bound (≤1e-6 at J=0.5) covers any corpus; production tuning trades
    * bands for candidate volume per the same formula. */
  val d07MinhashLsh: Q = Q(
    "d07_minhash_lsh_neardup",
    // The oracle is the EXACT brute-force Jaccard answer: every emitted
    // pair is exact-verified (so output ⊆ exact always). Recall is a
    // PROBABILISTIC property of the banding, so the gate runs wide —
    // 48 bands × 2 rows: P(miss) = (1-J²)⁴⁸ ≤ 1e-6 at the J=0.5
    // threshold boundary and vanishing above it — so the analytical
    // bound, not corpus luck, is what makes engine == exact hold on any
    // regenerated corpus (a 5000-doc corpus with ~250 true pairs expects
    // ~2.5e-4 misses). DedupSpec separately proves the
    // candidates-then-verify contract at production-narrow 8×2 banding.
    // The seeded MinHash internals stay un-expressed in SQL; the
    // CONTRACT (exact result set) is what the gate checks.
    Some("""
      WITH s AS (
        SELECT doc_id,
               list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END) AS sh
        FROM documents)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
                   THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                        / len(list_distinct(a.sh || b.sh))
                   ELSE 0.0 END, 4) AS jaccard
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE jaccard >= 0.5
    """),
    (s, dir) => minhashNearDupPairs(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      nGram = 3, k = 96, bands = 48, rowsPerBand = 2, threshold = 0.5))

  /** Reusable MinHash+LSH pipeline over (doc_id, text).
    *
    * Shape: candidates-then-verify, with two eager lineage cuts. The
    * band bucket join carries ONLY (doc_id, band keys) — carrying arrays
    * through the band explode would multiply the shuffle payload by
    * `bands`, which is what kills this at 100 TB. The exact-Jaccard
    * verify runs on candidate documents only: the corpus is semi-join
    * pre-filtered on the materialized candidate id set before shingling,
    * so corpus-wide work is ONE scan + shingle + MinHash pass, total.
    * Both lineage cuts are LAZY (shared RDDs, materialized inside the
    * first action), so constructing the operator runs no jobs.
    *
    * Durable cuts come from setting `spark.checkpoint.dir` on the
    * session ([[graft.Lineage.cut]]).
    *
    * @param verifySampleRate opt-in sampling of the exact-Jaccard verify
    *   stage for very large corpora: candidate pairs land in a
    *   deterministic xxhash64 sample bucket (no rand() — reproducible and
    *   retry-safe); the sampled fraction is exact-verified and
    *   threshold-filtered as usual, the remainder is emitted
    *   banding-trusted with `jaccard` NULL (the banding's analytical
    *   false-positive bound is then the precision statement, and the
    *   verified sample measures it empirically). 1.0 (default, and what
    *   the gate runs) verifies everything — output ⊆ exact. */
  def minhashNearDupPairs(docs: DataFrame, nGram: Int, k: Int, bands: Int,
      rowsPerBand: Int, threshold: Double,
      bucketCap: Int = DefaultBucketCap,
      verifySampleRate: Double = 1.0): DataFrame = {
    require(verifySampleRate > 0.0 && verifySampleRate <= 1.0,
      "verifySampleRate must be in (0, 1]")
    // the candidate pair list is MATERIALIZED once (eager lineage cut):
    // the id-set derivation, the semi-join prefilter and the pair join
    // below all reference it, and leaving it lazy re-inlines the whole
    // banding subtree per reference — measured on the gate corpus: 32
    // parquet scans, zero reused exchanges, 2.4× slower, because AQE's
    // broadcast conversions specialize each copy's column pruning and
    // defeat ReusedExchange. The list is O(duplicate rate) ≪ corpus.
    // LAZY cut on the skinny band rows: the count/cold/hot consumers of
    // the candidate split each chase their own copy of the
    // scan+shingle+MinHash pipeline when AQE broadcast-converts the
    // count join (see lshCandidatePairs) — collapsing them onto one
    // shared, cached RDD makes the corpus projection compute once
    // WITHOUT adding a job barrier (eager = false defers
    // materialization into the candidate job itself; measured −6% on
    // the 10× corpus, neutral at gate scale).
    val bandRows = Lineage.cut(
      minhashBandIndex(docs, nGram, k, bands, rowsPerBand), eager = false)
    // LAZY for the same reason (and measured: same-JVM alternating A/B,
    // lazy ≤ eager in every aligned pass at sf0.1 — min 1.41 vs 1.48 s —
    // and parity at sf1, 8.09 vs 8.33 s; the eager barrier serialized
    // the candidate job ahead of the verify stage for nothing). The
    // consumers of each cut run as concurrent jobs of one action; when
    // two ask for the same uncached partition, the block manager makes
    // the later one wait and read the writer's copy (the intermittent
    // "Block rdd_… already exists" warning), so each partition still
    // computes once — LineageSpec counts the evaluations. At the
    // 500-doc gate corpus, lazy/lazy ran 10 jobs against 11 (eager band
    // rows) and 12 (both eager) at equal wall time.
    val candidates = Lineage.cut(
      lshCandidatePairs(bandRows, bucketCap), eager = false)
    if (verifySampleRate >= 1.0) verifyJaccardPairs(docs, candidates, nGram, threshold)
    else {
      val candShingled = candidateShingles(docs, candidates, nGram)
      // ONE linear pipeline, not complementary filter branches: splitting
      // `candidates` into a sampled branch and a trusted branch hands the
      // optimizer a pair of complementary pushable predicates to relocate
      // through the pair-generation lambdas (observed to silently drop
      // rows in some exprId contexts). Here the sample flag is a plain
      // boolean column; unsampled pairs ride through the two LEFT joins
      // unmatched (the flag is part of the join condition, so no shingle
      // lookup and no jaccard evaluation happens for them) and keep
      // jaccard NULL.
      val cut = lit((verifySampleRate * 1000000L).toLong)
      val flagged = candidates.withColumn("vsampled",
        pmod(xxhash64(lit("verify"), col("doc_a"), col("doc_b")), lit(1000000L)) < cut)
      flagged.alias("vp")
        .join(candShingled.alias("vsa"),
          col("vp.vsampled") && (col("vp.doc_a") === col("vsa.doc_id")), "left")
        .join(candShingled.alias("vsb"),
          col("vp.vsampled") && (col("vp.doc_b") === col("vsb.doc_id")), "left")
        .select(col("vp.doc_a").as("doc_a"), col("vp.doc_b").as("doc_b"),
          when(col("vp.vsampled"),
            round(jaccardDistinct(col("vsa.sh"), col("vsb.sh")), 4)).as("jaccard"))
        .filter(col("jaccard").isNull || col("jaccard") >= threshold)
    }
  }

  /** The (doc_id, shingles) rows of ONLY the documents named by a
    * candidate pair list: semi-join the corpus on the distinct candidate
    * ids (small → broadcast) BEFORE shingling — candidates ≪ corpus, so
    * this is one pruned corpus scan + a tiny table, where re-shingling
    * the whole corpus per pair side is the cost that kills a dedup run
    * at 100 TB. `candidates` should be materialized (the callers cut its
    * lineage) — it is referenced by the id derivation and the verify
    * joins. */
  private def candidateShingles(docs: DataFrame, candidates: DataFrame,
      nGram: Int): DataFrame = {
    val candIds = candidates
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingles(col("text"), nGram).as("sh"))
  }

  /** Exact-Jaccard VERIFY half of the candidates-then-verify pipeline,
    * public so callers holding their own candidate list — from
    * [[lshCandidatePairs]] over a persisted band index, or any blocking
    * scheme — can verify it with the same semi-join-prefiltered shape
    * the composed operator uses. Emits (doc_a, doc_b, jaccard) for
    * candidates whose exact Jaccard of `nGram`-shingle sets meets
    * `threshold`. Pass a MATERIALIZED candidate list (it is referenced
    * twice). */
  def verifyJaccardPairs(docs: DataFrame, candidates: DataFrame, nGram: Int,
      threshold: Double): DataFrame = {
    val candShingled = candidateShingles(docs, candidates, nGram)
    candidates.alias("vp")
      .join(candShingled.alias("vsa"), col("vp.doc_a") === col("vsa.doc_id"))
      .join(candShingled.alias("vsb"), col("vp.doc_b") === col("vsb.doc_id"))
      .select(col("vp.doc_a").as("doc_a"), col("vp.doc_b").as("doc_b"),
        round(jaccardDistinct(col("vsa.sh"), col("vsb.sh")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate-pair generation HALF of [[minhashNearDupPairs]] — lazy
    * (no lineage cut), public so plan audits and callers with their own
    * verification can inspect/compose the exact pipeline the verified
    * operator materializes: banding, the single bucket exchange, the
    * count-gated hot/cold split, the distinct. Emits (doc_a, doc_b)
    * candidate pairs, doc_a < doc_b within cold buckets, representative
    * first for hot ones. */
  private[graft] def minhashNearDupCandidates(docs: DataFrame, nGram: Int, k: Int,
      bands: Int, rowsPerBand: Int,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    lshCandidatePairs(
      minhashBandIndex(docs, nGram, k, bands, rowsPerBand), bucketCap)

  /** The count-gated hot/cold candidate split over any band-rows
    * relation (doc_id, band_id, band_hash) — shared by the self-join
    * operator and any caller holding a persistent [[minhashBandIndex]].
    * Lazy. */
  def lshCandidatePairs(bandRows: DataFrame,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    require(bucketCap >= 2, "bucketCap must allow at least one pair")
    val banded = bandRows
      .select(col("doc_id"), col("band_id"), col("band_hash"))
    // candidates by BUCKET GROUPING, not a self-join: the bands×N rows
    // shuffle ONCE into their (band_id, band_hash) buckets and pairs
    // expand inside each bucket — a self-join would shuffle the same
    // rows twice and build a hash table of one whole side.
    //
    // Hot-bucket cap as a COUNT-GATED HOT/COLD SPLIT. A near-dup CLUSTER
    // of m docs (the normal case in web-crawl dedup) lands its whole
    // membership in one bucket; uncapped that is one m-element
    // aggregation buffer and m²/2 expanded pairs from a single row.
    // Bucket sizes come from a cheap partial-aggregatable count first:
    //   - COLD buckets (m ≤ bucketCap — every bucket on non-degenerate
    //     corpora) take the single-aggregate collect_list-and-expand
    //     path, whose buffer the count gate now provably bounds;
    //   - HOT buckets (m > bucketCap — the rare skew case) take star
    //     pairing with the bucket-min representative: m−1 pairs, no
    //     collect_list, no window/sort anywhere.
    // CANDIDATE-graph connected components are preserved (every hot
    // member links to the representative), but the caller's verify stage
    // prunes edges by exact Jaccard, and LSH co-bucketing at r rows does
    // NOT imply similarity to the representative — so post-verification
    // components CAN differ from the uncapped run once a bucket exceeds
    // the cap. That is the accepted trade: a >bucketCap bucket is
    // overwhelmingly a single boilerplate/near-identical cluster whose
    // members all verify against the representative; the gate corpora
    // never exceed the cap, so the gate's exact pair-set contract is
    // unaffected.
    // The explicit repartition on the bucket keys makes the count, the
    // count join and the per-bucket aggregates co-partitioned, so none
    // of them adds a shuffle. Exchange REUSE across the count/cold/hot
    // consumers, however, is best-effort only: when AQE broadcast-
    // converts the count join (small corpora), each consumer's copy gets
    // its own column pruning and the scan+shingle+minhash pipeline runs
    // once per copy. That is bounded (a constant 3-4×, not data-
    // dependent) and only the skinny band rows are involved; the
    // MATERIALIZED caller (minhashNearDupPairs) cuts lineage right above
    // this plan, so nothing downstream ever re-derives it.
    val bandedP = banded.repartition(col("band_id"), col("band_hash"))
    val bucketCounts = bandedP
      .groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_m"))
    val withM = bandedP.join(bucketCounts, Seq("band_id", "band_hash"))
    val coldPairs = withM.filter(col("bucket_m") <= bucketCap)
      .groupBy(col("band_id"), col("band_hash"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + 2, size(col("ds"))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    val hotMembers = withM.filter(col("bucket_m") > bucketCap)
    val hotReps = hotMembers.groupBy(col("band_id"), col("band_hash"))
      .agg(min(col("doc_id")).as("doc_a"))
    val hotPairs = hotMembers.join(hotReps, Seq("band_id", "band_hash"))
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
    coldPairs.union(hotPairs).distinct()
  }

  /** Reusable SimHash near-dup pairs over (doc_id, sig) signatures:
    * candidates from any shared band, generated by BUCKET GROUPING with
    * the same count-gated hot/cold split as minhashNearDupPairs — cold
    * (band_id, band_val) buckets pair all-with-all from a collect_list
    * whose buffer the count gate bounds at `bandCap` structs; hot buckets
    * star-pair every member with the bucket-min representative (m−1
    * pairs, no list buffer, no m×m fan-out). The 8-byte sig rides along
    * in the bucket rows so hamming is computed inline — no join-back.
    * Hot-bucket caveat: a pair co-located ONLY in hot bands is emitted
    * only via its representative edges, so the pigeonhole recall
    * guarantee binds per cold band; a hot band is overwhelmingly one
    * boilerplate cluster whose members all sit within maxHamming of the
    * representative. Nothing enforces that assumption on an arbitrary
    * corpus — when a pair set diverges from a brute-force oracle, run
    * [[simhashHotBands]] on the same signatures: a non-empty result
    * means the cap (not the signatures) caused the divergence. */
  def simhashNearDupPairs(sigs: DataFrame, maxHamming: Int,
      bandCap: Int = DefaultBucketCap): DataFrame = {
    require(bandCap >= 2, "bandCap must allow at least one pair")
    val banded = sigs
      .withColumn("band_id", explode(sequence(lit(0), lit(SimhashBands - 1))))
      .withColumn("band_val",
        call_function("shiftright", col("sig"), col("band_id") * SimhashBandBits)
          .bitwiseAND((1L << SimhashBandBits) - 1))
      .select(col("doc_id"), col("sig"), col("band_id"), col("band_val"))
    // same single-exchange shape as minhashNearDupPairs: repartition on
    // the band keys once, count/join/expand all reuse that exchange
    val bandedP = banded.repartition(col("band_id"), col("band_val"))
    val bucketCounts = bandedP
      .groupBy(col("band_id"), col("band_val"))
      .agg(count(lit(1)).as("bucket_m"))
    val withM = bandedP.join(bucketCounts, Seq("band_id", "band_val"))
    // sort_array orders the structs by doc_id (first field), so expanded
    // pairs always come out doc_a < doc_b
    val coldPairs = withM.filter(col("bucket_m") <= bandCap)
      .groupBy(col("band_id"), col("band_val"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sig")))).as("ms"))
      .filter(size(col("ms")) >= 2)
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + 2, size(col("ms"))),
          y => struct(x.getField("doc_id").as("doc_a"),
            y.getField("doc_id").as("doc_b"),
            hamming64(x.getField("sig"), y.getField("sig")).as("hamming")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.hamming"))
    val hotMembers = withM.filter(col("bucket_m") > bandCap)
    val hotReps = hotMembers.groupBy(col("band_id"), col("band_val"))
      .agg(min(struct(col("doc_id"), col("sig"))).as("rep"))
    val hotPairs = hotMembers.join(hotReps, Seq("band_id", "band_val"))
      .filter(col("doc_id") =!= col("rep.doc_id"))
      .select(col("rep.doc_id").as("doc_a"), col("doc_id").as("doc_b"),
        hamming64(col("rep.sig"), col("sig")).as("hamming"))
    coldPairs.union(hotPairs)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Build half of the incremental-dedup posture: the persistent LSH
    * band index of a corpus — one skinny row (doc_id, band_id,
    * band_hash) per band per document, the table a production pipeline
    * writes ONCE and probes with every new batch instead of re-pairing
    * 100 TB daily. */
  def minhashBandIndex(docs: DataFrame, nGram: Int, k: Int, bands: Int,
      rowsPerBand: Int): DataFrame = {
    require(bands * rowsPerBand == k, "bands*rowsPerBand must equal k")
    docs
      .select(col("doc_id"),
        minhashSignature(shingles(col("text"), nGram), k).as("sig"))
      .withColumn("band", explode(lshBandHashes(col("sig"), bands, rowsPerBand)))
      .select(col("doc_id"),
        col("band.band_id").as("band_id"), col("band.band_hash").as("band_hash"))
  }

  /** Diagnostic: the band buckets of a [[minhashBandIndex]]-shaped
    * relation whose membership exceeds `bucketCap` — i.e. the buckets the
    * count-gated hot/cold split routes to star pairing. The capped
    * operators' recall guarantees are conditional on hot buckets being
    * genuine boilerplate clusters; when a pair-set diverges from a
    * brute-force oracle, a NON-EMPTY result here says the cap (not the
    * signatures) is the cause. Group on every non-doc_id column so the
    * same helper audits minhash (band_id, band_hash) and simhash
    * (band_id, band_val) band relations. */
  def hotBuckets(bandRows: DataFrame, bucketCap: Int = DefaultBucketCap): DataFrame = {
    val keys = bandRows.columns.filter(_ != "doc_id").map(col).toSeq
    bandRows.groupBy(keys: _*)
      .agg(count(lit(1)).as("bucket_m"))
      .filter(col("bucket_m") > bucketCap)
  }

  /** Diagnostic twin of [[hotBuckets]] for SimHash: band rows derived
    * from signatures exactly as [[simhashNearDupPairs]] derives them, so
    * the audited buckets are the operator's own. */
  private[graft] def simhashHotBands(sigs: DataFrame, bandCap: Int = DefaultBucketCap): DataFrame =
    hotBuckets(
      sigs.withColumn("band_id", explode(sequence(lit(0), lit(SimhashBands - 1))))
        .withColumn("band_val",
          call_function("shiftright", col("sig"), col("band_id") * SimhashBandBits)
            .bitwiseAND((1L << SimhashBandBits) - 1))
        .select(col("doc_id"), col("band_id"), col("band_val")),
      bandCap)

  /** Probe half: near-dup candidates of `newDocs` against an existing
    * [[minhashBandIndex]], exact-Jaccard verified against the indexed
    * corpus. The probe is a bucket equi-join (new bands ⋈ index bands) —
    * the index side is count-capped exactly like the self-join case: a
    * hot index bucket (> bucketCap members, the boilerplate cluster)
    * matches each probe doc against the bucket's min-doc_id
    * representative only, so probe fan-out per bucket is bounded.
    * Verification exact-Jaccards the candidate pairs against the two
    * corpora's shingle sets (see the in-body note on the measured shape
    * choice; at archive scale, pre-filter `indexedDocs` to the probed
    * buckets' members so the big side is never scanned wholesale).
    *
    * Emits (doc_new, doc_old, jaccard) for verified pairs — the
    * contamination/duplication report an ingest batch is gated on. */
  def minhashProbePairs(newDocs: DataFrame, indexedDocs: DataFrame,
      index: DataFrame, nGram: Int, k: Int, bands: Int, rowsPerBand: Int,
      threshold: Double, bucketCap: Int = DefaultBucketCap): DataFrame = {
    require(bands * rowsPerBand == k, "bands*rowsPerBand must equal k")
    val probeBands = minhashBandIndex(newDocs, nGram, k, bands, rowsPerBand)
    val candidates = lshProbeCandidates(probeBands, index, bucketCap)
    // verify joins the WHOLESALE-shingled corpora below the pair join —
    // a deliberate, MEASURED choice (10× gate corpus, isolated min-of-3):
    // this shape 5.0 s; candidate-semi-join prefilter + lineage cut
    // 7.5 s; shingle-above-the-join 8.8 s. Unlike the self-join operator
    // (whose candidate list is O(duplicate rate) ≪ corpus), a wide-banded
    // probe's candidate set is batch×background-collision sized — here
    // comparable to the corpus itself — so (a) computing shingles per
    // PAIR occurrence inside the join condition (where Catalyst pushes
    // the threshold filter, interpreted, evaluated again in the project)
    // costs more than one codegen'd per-document pass, and (b) a lineage
    // cut serializes the candidate job against the verify job, losing
    // more overlap than the prefilter saves. At true archive scale the
    // batch ≪ archive and candidates ∝ batch, so the archive side's
    // wholesale shingle pass becomes the bottleneck — THERE the caller
    // holds a persisted band index, probes with a small batch, and the
    // candidate doc_old set is small: filter `indexedDocs` upstream
    // (left-semi on the probed buckets' members) before calling — this
    // operator composes with that directly ([[probedBucketMembers]] is
    // that prefilter).
    val shNew = newDocs.select(col("doc_id"), shingles(col("text"), nGram).as("sh"))
    val shOld = indexedDocs.select(col("doc_id"), shingles(col("text"), nGram).as("sh"))
    candidates.alias("c")
      .join(shNew.alias("pn"), col("c.doc_new") === col("pn.doc_id"))
      .join(shOld.alias("po"), col("c.doc_old") === col("po.doc_id"))
      .select(col("c.doc_new").as("doc_new"), col("c.doc_old").as("doc_old"),
        round(jaccardDistinct(col("pn.sh"), col("po.sh")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate half of the probe: near-dup candidates of a probe batch's
    * band rows against a persistent [[minhashBandIndex]] — a bucket
    * equi-join with the index side count-capped exactly like the
    * self-join case (a hot index bucket matches probes against its
    * min-doc_id representative only, bounding per-bucket fan-out).
    * Public so callers composing several probes/pair-generations from
    * the SAME banding pass (the d19 lifecycle does) don't recompute the
    * batch's scan+shingle+minhash per consumer. Emits
    * (doc_new, doc_old). */
  def lshProbeCandidates(probeBands: DataFrame, index: DataFrame,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    require(bucketCap >= 1, "bucketCap must be positive")
    val probes = probeBands
      .select(col("doc_id").as("doc_new"), col("band_id"), col("band_hash"))
    // same single-exchange count-gate shape as the self-join operators
    val idxP = index.repartition(col("band_id"), col("band_hash"))
    val idxCounts = idxP.groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_m"))
    val withM = idxP.join(idxCounts, Seq("band_id", "band_hash"))
    val coldIdx = withM.filter(col("bucket_m") <= bucketCap)
      .select(col("band_id"), col("band_hash"), col("doc_id").as("doc_old"))
    val hotIdx = withM.filter(col("bucket_m") > bucketCap)
      .groupBy(col("band_id"), col("band_hash"))
      .agg(min(col("doc_id")).as("doc_old"))
    probes
      .join(coldIdx.union(hotIdx), Seq("band_id", "band_hash"))
      .select(col("doc_new"), col("doc_old"))
      .distinct()
  }

  /** Archive-side prefilter for a probe batch: the doc_ids of index
    * members that share at least one band bucket with the batch — a
    * SUPERSET of every doc_old [[minhashProbePairs]] can emit, derived
    * from the skinny index and the batch's bands alone (no text, no
    * archive scan). At archive scale, left-semi join the archive docs on
    * this BEFORE calling the probe, so its wholesale verify shingle pass
    * runs over probed-bucket members only (∝ batch size), never the full
    * 100 TB archive; the emitted pair set is identical because the
    * candidate generation reads only `index`, which is not filtered.
    * DedupSpec proves the equivalence. */
  def probedBucketMembers(index: DataFrame, newDocs: DataFrame, nGram: Int,
      k: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val probeBuckets = minhashBandIndex(newDocs, nGram, k, bands, rowsPerBand)
      .select(col("band_id"), col("band_hash")).distinct()
    index.join(probeBuckets, Seq("band_id", "band_hash"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** Incremental dedup gate query: the corpus is split deterministically
    * (salted md5 bucket, the d11 mechanism with an independent salt)
    * into an "indexed" 60% and an "incoming" 40%; the incoming batch
    * probes the index at the d07 wide banding, so the emitted set is the
    * exact cross-corpus Jaccard ≥ 0.5 answer (same analytical recall
    * bound). The oracle recomputes the split and the brute-force cross
    * join. */
  val d18IncrementalProbe: Q = Q(
    "d18_incremental_dedup_probe",
    Some("""
      WITH s AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5('idx:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
               list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END) AS sh
        FROM documents)
      SELECT n.doc_id AS doc_new, o.doc_id AS doc_old,
             round(CASE WHEN len(list_distinct(n.sh || o.sh)) > 0
                   THEN CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE)
                        / len(list_distinct(n.sh || o.sh))
                   ELSE 0.0 END, 4) AS jaccard
      FROM s n JOIN s o ON n.bucket >= 60 AND o.bucket < 60
      WHERE CASE WHEN len(list_distinct(n.sh || o.sh)) > 0
            THEN CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE)
                 / len(list_distinct(n.sh || o.sh))
            ELSE 0.0 END >= 0.5
    """),
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val bucket = conv(substring(md5(concat(lit("idx:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100
      val withBucket = docs.withColumn("bucket", bucket)
      val indexed = withBucket.filter(col("bucket") < 60).drop("bucket")
      val incoming = withBucket.filter(col("bucket") >= 60).drop("bucket")
      val index = minhashBandIndex(indexed, nGram = 3, k = 96,
        bands = 48, rowsPerBand = 2)
      minhashProbePairs(incoming, indexed, index, nGram = 3, k = 96,
        bands = 48, rowsPerBand = 2, threshold = 0.5)
    })

  /** Connected components over an undirected pair list — the consumer of
    * every near-dup pair operator: dedup keeps ONE document per
    * component. Min-label propagation: every node starts as its own
    * label and repeatedly takes the minimum label in its neighborhood,
    * so rounds ≈ component diameter — near-dup components are dense
    * (cliques from cold buckets, stars from hot ones), diameters of 2-4,
    * which beats the O(log n) alternating-star algorithms on their own
    * turf while staying three joins of plain DataFrame code. Each round
    * is one shuffle join + one aggregate; the lineage cut per round is
    * the standard Spark iterative-algorithm requirement — an unbounded
    * plan tree re-executes every prior round and eventually breaks the
    * planner. The driver-side loop is the Pregel shape: a handful of
    * distributed rounds, NOT a per-row driver loop. The pair list being
    * checkpointed is O(duplicate rate), far smaller than the corpus.
    *
    * Durable cuts come from setting `spark.checkpoint.dir` on the
    * session ([[graft.Lineage.cut]]); without it rounds cut through
    * executor-local `localCheckpoint`.
    *
    * Convergence is detected for FREE: a `max(changed)` observed metric
    * (CollectMetrics) rides the same job that materializes each round's
    * checkpoint, so no separate probe job re-scans the labels — at
    * 100 TB the old every-other-round probe was a full label-table pass
    * each time. The observed-metric delivery is async (listener bus); a
    * bounded poll covers it, with a one-off probe fallback so a delivery
    * hiccup degrades to the old cost rather than a hang or a wrong
    * answer.
    *
    * Returns (doc_id, component) for every node appearing in `pairs`,
    * component = min doc_id of the member's component. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    require(maxIter >= 1, "maxIter must be positive")
    val edges = Lineage.cut(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .distinct())
    val init = Lineage.cut(edges.select(col("src").as("doc_id"))
      .distinct()
      .withColumn("component", col("doc_id")))
    propagateMinLabels(edges, init, maxIter)
  }

  /** The shared min-label propagation loop: from an ALREADY-CUT
    * symmetric edge list and an already-cut initial labeling whose node
    * set covers every edge endpoint, iterate neighborhood-min rounds to
    * the fixpoint. The fixpoint is min over each component of the
    * INITIAL label values, so callers seeding anything other than
    * self-labels must guarantee every initial label is the id of a node
    * in the same component (self-labels trivially are;
    * [[updateComponents]] seeds old component representatives, which
    * the member stars keep connected). Convergence detection and
    * lineage-cut posture are [[connectedComponents]]'s, verbatim. */
  private def propagateMinLabels(edges: DataFrame, init: DataFrame,
      maxIter: Int): DataFrame = {
    var labels = init
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val nbrMin = edges.join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src")).agg(min(col("component")).as("nbr_min"))
      val round = labels.alias("l")
        .join(nbrMin.alias("p"), col("l.doc_id") === col("p.src"), "left")
        .select(col("l.doc_id").as("doc_id"),
          least(col("l.component"),
            coalesce(col("p.nbr_min"), col("l.component"))).as("component"),
          (coalesce(col("p.nbr_min"), col("l.component")) < col("l.component"))
            .as("changed"))
      iter += 1
      // convergence detection rides the propagation job itself: a
      // `max(changed)` observed metric is attached to every round, the
      // eager checkpoint is the action that runs its accumulator, and
      // `observedMetrics` reads the result straight off the executed
      // plan — synchronous (no listener bus: an Observation.future await
      // was measured paying 100-200 ms of bus latency per round) and
      // ZERO extra jobs, where the old explicit probe re-scanned the
      // full label table every other round — at 100 TB a whole extra
      // pass each time. Checking every round also stops odd-diameter
      // graphs one full (join+agg+checkpoint) round earlier, which
      // outweighs the metric's per-row cost at any scale. Fall back to
      // one probe job if the metric is somehow absent — never a wrong
      // answer. max over zero rows is null → converged (empty graph).
      val observed = round.observe("cc_round", max(col("changed")).as("any_changed"))
      val next = Lineage.cut(observed)
      converged = observed.queryExecution.observedMetrics.get("cc_round") match {
        case Some(row) => row.getAs[Any]("any_changed") != true
        case None => next.filter(col("changed")).isEmpty
      }
      labels = next.select(col("doc_id"), col("component"))
    }
    // an unconverged labeling silently under-merges components — dedup
    // would then KEEP near-duplicates. Fail loudly instead; callers with
    // pathologically deep graphs raise maxIter explicitly.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — raise maxIter")
    labels
  }

  /** INCREMENTAL component maintenance — the labeling half of the
    * build-once/probe-new posture ([[minhashBandIndex]] /
    * [[minhashProbePairs]] are the pair half).
    * `labels` is the persisted (doc_id, component) table of the archive;
    * `newPairs` are the batch's pairs (batch-internal + probe cross
    * pairs). Only components TOUCHED by a new pair are relabeled:
    *
    *   1. touched components = labels of the new pairs' endpoints;
    *   2. their full memberships become (doc_id → old component) edges —
    *      each old component collapses to a star, so the sub-propagation
    *      converges in 2-3 rounds regardless of how the original
    *      component was shaped;
    *   3. [[connectedComponents]] over newPairs ∪ those star edges
    *      relabels the affected subgraph (including brand-new docs);
    *   4. untouched labels pass through unchanged.
    *
    * Work is O(|newPairs| + |touched memberships|), never O(archive) —
    * a daily batch relabels only what it touches, where re-running CC
    * from scratch replays every historical pair. Result ≡
    * from-scratch CC over (old pairs ∪ newPairs) restricted to paired
    * nodes: the min label of a merged component is the min over its
    * members, and every member reaches the sub-propagation through its
    * old component's star (proven by the d19 gate against the oracle's
    * whole-corpus transitive closure, and by DedupSpec equivalence
    * tests). Docs absent from both inputs stay absent (singletons),
    * exactly like [[connectedComponents]]. */
  def updateComponents(labels: DataFrame, newPairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // NOT fused with a seeded propagation (round-16, measured): seeding
    // the sub-propagation from the old labels (members start at their
    // old component, new docs at self — same fixpoint, one node-set
    // distinct and ~one star-rewinning round saved) was implemented and
    // A/B'd, and LOST at both scales: updateComponents warm 1.14 →
    // 1.6-1.9 s at sf0.1, d19 +17% control-normalized at sf1. The
    // seeded init needs its own barrier jobs (members materialized for
    // the extra consumers, the init union/anti-join cut) and those cost
    // more than the one propagation round they save — stars are depth-1
    // by construction, so self-init re-wins them in a single round.
    val touched = newPairs.select(col("doc_a").as("doc_id"))
      .union(newPairs.select(col("doc_b").as("doc_id")))
      .distinct()
    val touchedComps = labels.join(touched, Seq("doc_id"), "left_semi")
      .select(col("component")).distinct()
    val members = labels.join(touchedComps, Seq("component"), "left_semi")
    val subEdges = newPairs.select(col("doc_a"), col("doc_b"))
      .union(members.select(col("doc_id").as("doc_a"), col("component").as("doc_b")))
    val subLabels = connectedComponents(subEdges, maxIter)
    labels.join(members.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(subLabels)
  }

  /** Canonical near-dup dedup over the whole corpus: MinHash+LSH pairs →
    * connected components → every document labeled with its component
    * representative (min doc_id; singletons label themselves). Keeping
    * `component == doc_id` rows IS the dedup; the full labeling is
    * emitted so the oracle can check the partition itself. Gate runs the
    * same wide banding as d07, so the component structure is the exact
    * Jaccard ≥ 0.5 transitive closure (DuckDB recomputes it with a
    * recursive CTE). */
  val d17NeardupComponents: Q = Q(
    "d17_neardup_components",
    Some("""
      WITH RECURSIVE s AS (
        SELECT doc_id,
               list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END) AS sh
        FROM documents),
      ex AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM s a JOIN s b ON a.doc_id <> b.doc_id
        WHERE CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
              THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(a.sh || b.sh))
              ELSE 0.0 END >= 0.5),
      reach(src, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.doc_a, r.lbl FROM ex e JOIN reach r ON e.doc_b = r.src)
      SELECT src AS doc_id, min(lbl) AS component
      FROM reach GROUP BY src
    """),
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val pairs = minhashNearDupPairs(docs, nGram = 3, k = 96, bands = 48,
        rowsPerBand = 2, threshold = 0.5)
      val cc = connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
      docs.select(col("doc_id")).alias("d")
        .join(cc.alias("c"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
    })

  /** SimHash near-dup pairs: 60-bit md5-derived signatures, candidates
    * from any shared 15-bit band (4 bands ⇒ recall 1.0 for hamming ≤ 3 by
    * PIGEONHOLE — 3 differing bits can dirty at most 3 of the 4 bands, so
    * a ≤3-hamming pair always shares a clean band; no probabilistic
    * caveat while every shared band is under the hot-band cap, which
    * holds for every bucket the gate corpora produce). The oracle
    * recomputes the identical signatures in SQL and takes the exact
    * hamming ≤ 3 pairs brute-force. */
  val d08SimhashPairs: Q = Q(
    "d08_simhash_neardup",
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(
                 regexp_split_to_array(trim(text), '\s+'),
                 t -> t <> '')) AS tok
        FROM documents),
      hashed AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
        FROM toks),
      bits AS (
        SELECT doc_id, b,
               sum(CASE WHEN (h // (CAST(1 AS BIGINT) << b)) % 2 = 1
                   THEN 1 ELSE -1 END) AS s
        FROM hashed, generate_series(0, 59) AS g(b)
        GROUP BY 1, 2),
      sigs0 AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                        ELSE 0 END) AS BIGINT) AS sig
        FROM bits GROUP BY 1),
      sigs AS (
        SELECT d.doc_id, coalesce(s.sig, 0) AS sig
        FROM documents d LEFT JOIN sigs0 s USING (doc_id))
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """),
    (s, dir) => simhashNearDupPairs(
      simhashSignatures(Tables(s, dir, "documents"), "doc_id", "text"),
      maxHamming = 3))

  /** Incremental components gate: the full incremental-dedup LIFECYCLE —
    * the archive (the d18 60% split) is paired and labeled first; the
    * incoming batch then contributes its internal pairs plus the d18
    * probe's cross pairs, and [[updateComponents]] relabels only the
    * touched components. The oracle is the d17 oracle verbatim — the
    * whole-corpus exact-Jaccard transitive closure — so the gate proves
    * incremental maintenance ≡ from-scratch, via an independent engine.
    * Stage split at gate scale (round 16, warm, each stage forced): band
    * indexes 1.1 s, candidates 2.6 s, verifies 1.3 s, day-0 CC 1.0 s,
    * [[updateComponents]] 1.1 s, final join 0.5 s — no dominating
    * stage, and 8 cores ≈ 32 cores (1.02×): multi-job fixed overhead. */
  val d19IncrementalComponents: Q = Q(
    "d19_incremental_components",
    Some("""
      WITH RECURSIVE s AS (
        SELECT doc_id,
               list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END) AS sh
        FROM documents),
      ex AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM s a JOIN s b ON a.doc_id <> b.doc_id
        WHERE CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
              THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(a.sh || b.sh))
              ELSE 0.0 END >= 0.5),
      reach(src, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.doc_a, r.lbl FROM ex e JOIN reach r ON e.doc_b = r.src)
      SELECT src AS doc_id, min(lbl) AS component
      FROM reach GROUP BY src
    """),
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val bucket = conv(substring(md5(concat(lit("idx:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100
      val withBucket = docs.withColumn("bucket", bucket)
      val indexed = withBucket.filter(col("bucket") < 60).drop("bucket")
      val incoming = withBucket.filter(col("bucket") >= 60).drop("bucket")
      // the whole lifecycle composes from TWO banding passes — one per
      // corpus side, each materialized once, exactly as production holds
      // its band index as a TABLE: the archive bands serve day 0's
      // self-join candidates AND the probe's index side; the batch bands
      // serve its internal candidates AND the probe side. The public
      // halves (lshCandidatePairs / lshProbeCandidates /
      // verifyJaccardPairs) exist precisely so this composition never
      // recomputes a scan+shingle+minhash pipeline per consumer.
      val idxBands = Lineage.cut(minhashBandIndex(indexed, nGram = 3, k = 96,
        bands = 48, rowsPerBand = 2))
      val newBands = Lineage.cut(minhashBandIndex(incoming, nGram = 3, k = 96,
        bands = 48, rowsPerBand = 2))
      // day 0: archive paired and labeled
      val archivePairs = verifyJaccardPairs(indexed,
        Lineage.cut(lshCandidatePairs(idxBands)), nGram = 3, threshold = 0.5)
      val labels = connectedComponents(archivePairs.select(col("doc_a"), col("doc_b")))
      // day 1: the batch's internal candidates + the index-probe cross
      // candidates verify in ONE pass — their pair sets are disjoint
      // (new×new vs new×old) and both feed the same relabel, so one
      // candidate union, one materialization, one semi-join+shingle
      // chain instead of two of each
      val dayCands = Lineage.cut(lshCandidatePairs(newBands)
        .unionByName(lshProbeCandidates(newBands, idxBands)
          .select(col("doc_new").as("doc_a"), col("doc_old").as("doc_b"))))
      val dayPairs = verifyJaccardPairs(docs, dayCands, nGram = 3, threshold = 0.5)
      val cc = updateComponents(labels,
        dayPairs.select(col("doc_a"), col("doc_b")))
      docs.select(col("doc_id")).alias("d")
        .join(cc.alias("c"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
    })

  /** The ARCHIVE-SCALE probe shape, gate-proven end-to-end: a SMALL
    * batch (5% split) probes a big archive, and the archive docs that
    * ever reach the verify stage are pre-filtered to
    * [[probedBucketMembers]] — index members sharing a band bucket with
    * the batch — so no stage scans, shingles or shuffles the full
    * archive text. The oracle is the same brute-force cross-corpus
    * Jaccard as d18 at this split: the prefilter provably changes
    * nothing about the answer, only about what the big side costs. */
  val d20ArchiveProbe: Q = Q(
    "d20_archive_probe_prefiltered",
    Some("""
      WITH s AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5('idx:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
               list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END) AS sh
        FROM documents)
      SELECT n.doc_id AS doc_new, o.doc_id AS doc_old,
             round(CASE WHEN len(list_distinct(n.sh || o.sh)) > 0
                   THEN CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE)
                        / len(list_distinct(n.sh || o.sh))
                   ELSE 0.0 END, 4) AS jaccard
      FROM s n JOIN s o ON n.bucket >= 95 AND o.bucket < 95
      WHERE CASE WHEN len(list_distinct(n.sh || o.sh)) > 0
            THEN CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE)
                 / len(list_distinct(n.sh || o.sh))
            ELSE 0.0 END >= 0.5
    """),
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val bucket = conv(substring(md5(concat(lit("idx:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100
      val withBucket = docs.withColumn("bucket", bucket)
      val indexed = withBucket.filter(col("bucket") < 95).drop("bucket")
      val incoming = withBucket.filter(col("bucket") >= 95).drop("bucket")
      // production: `index` is a persisted minhashBandIndex table;
      // materialized here to stand in for it
      val index = Lineage.cut(minhashBandIndex(indexed, nGram = 3, k = 96,
        bands = 48, rowsPerBand = 2))
      val members = probedBucketMembers(index, incoming, nGram = 3, k = 96,
        bands = 48, rowsPerBand = 2)
      val archiveSlice = indexed.join(members, Seq("doc_id"), "left_semi")
      minhashProbePairs(incoming, archiveSlice, index, nGram = 3, k = 96,
        bands = 48, rowsPerBand = 2, threshold = 0.5)
    })

  /** Maximal duplicated token SPANS — dedup below the document level
    * (the exact-substring / boilerplate primitive): every stride-1
    * window of `windowTokens` tokens is fingerprinted; a window is
    * duplicated when its fingerprint occurs at least `minCount` times
    * anywhere in the corpus (across documents OR repeated within one);
    * per document, overlapping-or-adjacent duplicated windows merge
    * into maximal (span_start, span_end) token intervals
    * (gaps-and-islands). Output: (doc_id, span_start, span_end,
    * n_windows), token positions 0-based inclusive.
    *
    * Scale shape — deliberately ONE pass over the corpus text: the
    * scan + tokenize + per-window md5 projection (the dominant cost at
    * 100 TB) materializes once, then the duplicate test is a
    * count-over-window on the fingerprint exchange — no second scan and
    * no join back, where a groupBy+semi-join formulation re-scans and
    * re-hashes the corpus on the probe side. Two exchanges total
    * (fingerprint, then doc_id; the final island aggregate rides the
    * doc_id partitioning). The per-doc island window is bounded by a
    * single document's token count.
    *
    * Two semantics, picked by `keepFirst`:
    *   - `false` (default): EVERY occurrence of a duplicated window is a
    *     span — the boilerplate-REMOVAL reading (headers/footers/license
    *     blocks should vanish everywhere).
    *   - `true`: the globally-first occurrence (min (doc_id, start) per
    *     fingerprint) is NOT a span — the dedup reading (exact-substring
    *     dedup keeps one copy of each duplicated passage). The ordering
    *     is total and deterministic, so the survivor is reproducible;
    *     the fingerprint window gains an order-by but no extra
    *     exchange.
    *
    * The window's ceiling: WindowExec sorts each fp group in one task,
    * so an ultra-hot boilerplate fingerprint (say 10⁸ occurrences of one
    * header) serializes its whole group through one task's sort. The
    * skew-immune alternative — pre-aggregated per-fingerprint counts
    * (and min (doc_id, start) survivor) joined back on fp — was built,
    * spec-proven equal, measured and retired (round 7, isolated
    * min-of-3): the window shape wins ~2× in BOTH regimes at measurable
    * scale — 7.4 s vs 13.9 s on the 50k-doc sf1 corpus, and still
    * 12.8 s vs 24.6 s on a planted-skew corpus where one 16-token
    * header appears in all 50k docs (a 50k-row sort group costs far
    * less than the second corpus scan+hash the precount shape pays).
    * Only a fingerprint orders of magnitude hotter than that would turn
    * the sort group into the straggler. */
  def duplicatedSpans(docs: DataFrame, windowTokens: Int,
      minCount: Long = 2L, keepFirst: Boolean = false): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be positive")
    require(minCount >= 2, "minCount below 2 would mark every window")
    val wins = spanWindows(docs, windowTokens)
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val marked = (if (keepFirst) {
      val byFpOrdered = byFp.orderBy(col("doc_id"), col("start"))
      wins
        .withColumn("c", count(lit(1)).over(
          byFpOrdered.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)))
        .withColumn("rn", row_number().over(byFpOrdered))
        .filter(col("c") >= minCount && col("rn") > 1)
    } else {
      wins
        .withColumn("c", count(lit(1)).over(byFp))
        .filter(col("c") >= minCount)
    }).select(col("doc_id"), col("start"))
    mergeIslands(marked, windowTokens)
  }

  /** The stride-1 window rows (doc_id, start, fp) of a corpus: every
    * `windowTokens`-token window, fingerprinted 60-bit (md5 slice,
    * cross-engine reproducible). One codegen'd projection — the shared
    * scan of the whole span family. */
  private def spanWindows(docs: DataFrame, windowTokens: Int,
      keep: Seq[String] = Nil): DataFrame =
    docs
      .select(col("doc_id") +: keep.map(col) :+
        TextStats.tokens(col("text")).as("toks"): _*)
      .filter(size(col("toks")) >= windowTokens)
      .select(col("doc_id") +: keep.map(col) :+
        posexplode(transform(sequence(lit(0), size(col("toks")) - windowTokens),
          i => conv(substring(md5(concat_ws(" ",
            slice(col("toks"), i + 1, lit(windowTokens)))), 1, 15), 16, 10)
            .cast("long")))
          .as(Seq("start", "fp")): _*)

  /** Gaps-and-islands merge of marked (doc_id, start) duplicated-window
    * rows into maximal (span_start, span_end, n_windows) intervals.
    * Equal-width windows: a new island starts exactly when the gap to
    * the previous duplicated start exceeds the window width (adjacent
    * spans are contiguous text and merge); the first row's null lag
    * falls to otherwise(0) so islands number from 0. Bounded per-doc. */
  private def mergeIslands(marked: DataFrame, windowTokens: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("start"))
    marked
      .withColumn("brk",
        when(col("start") - lag(col("start"), 1).over(byDoc) > windowTokens,
          lit(1)).otherwise(lit(0)))
      .withColumn("island", sum(col("brk")).over(
        byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("start")).cast("long").as("span_start"),
        (max(col("start")) + windowTokens - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** Span-level exact dedup gate: 8-token stride-1 windows over the
    * documents table, duplicated when the fingerprint appears twice
    * anywhere. The DuckDB oracle rebuilds the identical windows,
    * 60-bit md5 fingerprints, count-over-partition duplicate test and
    * island merge. */
  val d21SpanDedup: Q = Q(
    "d21_span_dedup",
    Some("""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      w AS (
        SELECT doc_id, i AS start,
               CAST(concat('0x', substr(md5(array_to_string(toks[i+1:i+8], ' ')), 1, 15)) AS BIGINT) AS fp
        FROM t, unnest(generate_series(0, len(toks) - 8)) AS u(i)
        WHERE len(toks) >= 8),
      m AS (
        SELECT doc_id, start FROM (
          SELECT doc_id, start, count(*) OVER (PARTITION BY fp) AS c FROM w)
        WHERE c >= 2),
      g AS (
        SELECT doc_id, start,
               CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) > 8
                    THEN 1 ELSE 0 END AS brk
        FROM m),
      isl AS (
        SELECT doc_id, start,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM g)
      SELECT doc_id, CAST(min(start) AS BIGINT) AS span_start,
             CAST(max(start) + 7 AS BIGINT) AS span_end,
             count(*) AS n_windows
      FROM isl GROUP BY doc_id, island
    """),
    (s, dir) => duplicatedSpans(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      windowTokens = 8))

  /** The ACTIONABLE half of span-level dedup: rewrite each document
    * with its duplicated spans (per [[duplicatedSpans]]) removed.
    * Documents with no duplicated span pass through UNTOUCHED — at
    * 100 TB the overwhelmingly common case, so most of the corpus is
    * never rewritten (and keeps its original whitespace); scrubbed
    * documents are rebuilt from their kept tokens, single-spaced
    * (inherent to token-level surgery — documented contract).
    *
    * Shape: the span list aggregates to ONE row per affected doc
    * (bounded — spans are merged maximal intervals), equi-joins back on
    * doc_id, and the rewrite is a single projection: an indexed
    * higher-order filter drops tokens covered by any span (the span
    * array is small, so the inner exists is cheap) — no token explode,
    * no extra shuffle beyond the span computation itself. */
  def scrubDuplicatedSpans(docs: DataFrame, windowTokens: Int,
      minCount: Long = 2L, keepFirst: Boolean = false): DataFrame =
    scrubWithSpans(docs, duplicatedSpans(docs, windowTokens, minCount, keepFirst))

  /** The shared rewrite half of every span-scrub operator (d22 duplicated
    * spans, d73 boilerplate): span rows aggregate to ONE bounded row per
    * affected doc, equi-join back on doc_id, and unaffected docs pass
    * through UNTOUCHED (original whitespace preserved — at 100 TB the
    * overwhelmingly common case); affected docs are rebuilt from their
    * kept tokens, single-spaced, via an indexed higher-order filter (the
    * span array is small, so the inner exists is cheap — no token
    * explode, no extra shuffle beyond the span computation itself). */
  private def scrubWithSpans(docs: DataFrame, spanRows: DataFrame): DataFrame = {
    val spans = spanRows
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("spans").isNull, col("text"))
          .otherwise(concat_ws(" ",
            filter(TextStats.tokens(col("text")), (tok, i) =>
              !exists(col("spans"), sp =>
                i.cast("long").between(sp.getField("span_start"),
                  sp.getField("span_end"))))))
          .as("text"))
  }

  /** Per-source boilerplate spans — the CCNet/C4-style curation pass that
    * span dedup is NOT: a window is boilerplate when it appears in at
    * least `minDocs` DISTINCT documents of the SAME source (site
    * chrome, navigation, legal footers — domain-repeated furniture), and
    * it is scrubbed from EVERY occurrence, not just the occurrences
    * beyond the first. Counts are distinct-doc per (source, fp) — a
    * partial-aggregatable groupBy on a skinny key, so a boilerplate
    * window repeated millions of times within one page farm map-side
    * combines; marking is a left-semi join of window rows on the
    * (source, fp) boilerplate set; islands merge per doc exactly as in
    * [[duplicatedSpans]]. Input must carry (doc_id, source, text). */
  def boilerplateSpans(docs: DataFrame, windowTokens: Int,
      minDocs: Long): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be positive")
    require(minDocs >= 2, "minDocs below 2 would mark every window")
    // ONE corpus scan, ONE exchange on (source, fp): the distinct-doc
    // count per bucket is a lag-based first-occurrence flag summed over
    // the bucket partition (both windows share the (source, fp)
    // partitioning, so Spark plans one sort) — no count_distinct Expand,
    // no self-join back, no second tokenize+hash pass. Same skew posture
    // as duplicatedSpans' count-over-fp: a pathological bucket is one
    // window partition, which is the d21-accepted shape.
    val wins = spanWindows(docs, windowTokens, keep = Seq("source"))
    val byFpDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("fp"))
      .orderBy(col("doc_id"), col("start"))
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("fp"))
    val prevDoc = lag(col("doc_id"), 1).over(byFpDoc)
    val marked = wins
      .withColumn("first_in_doc",
        when(prevDoc.isNull || prevDoc =!= col("doc_id"), 1L).otherwise(0L))
      .withColumn("dd", sum(col("first_in_doc")).over(byFp))
      .filter(col("dd") >= lit(minDocs))
      .select(col("doc_id"), col("start"))
    mergeIslands(marked, windowTokens)
  }

  /** The actionable half: rewrite each document with its per-source
    * boilerplate spans removed (same pass-through / rebuild contract as
    * [[scrubDuplicatedSpans]]). */
  def scrubBoilerplate(docs: DataFrame, windowTokens: Int,
      minDocs: Long): DataFrame =
    scrubWithSpans(docs.select(col("doc_id"), col("text")),
      boilerplateSpans(docs, windowTokens, minDocs))

  /** Per-(source, fp) distinct-doc membership counts of a corpus — the
    * PERSISTED index of incremental boilerplate scrubbing (the
    * boilerplate-family analogue of [[fingerprintIndex]], which counts
    * occurrences; membership counting needs the per-doc dedup first).
    * Skinny keys, both exchanges map-side combinable. Counts add
    * associatively across batches ONLY because each document is
    * admitted exactly once (the same disjointness contract the d71
    * lifecycle relies on), so append ≡ rebuild. */
  def boilerplateIndex(docs: DataFrame, windowTokens: Int): DataFrame =
    spanWindows(docs, windowTokens, keep = Seq("source"))
      .select(col("source"), col("fp"), col("doc_id")).distinct()
      .groupBy(col("source"), col("fp")).agg(count(lit(1)).as("dd"))

  /** Incremental boilerplate scrub: rewrite a NEW batch's documents
    * with every window that reaches `minDocs` distinct same-source
    * docs across archive ∪ batch removed — the archive visible only
    * through its [[boilerplateIndex]], its text never re-scanned.
    * Streaming can only scrub FORWARD (docs already emitted are not
    * rewritten when a window later crosses the threshold) — the same
    * probe-not-retroactive relationship [[incrementalSpans]] has to
    * the global d21 answer; batch-mode [[scrubBoilerplate]] remains
    * the scrub-everywhere semantics over a closed corpus. */
  def incrementalBoilerplateScrub(newDocs: DataFrame, index: DataFrame,
      windowTokens: Int, minDocs: Long): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be positive")
    require(minDocs >= 2, "minDocs below 2 would mark every window")
    val wins = spanWindows(newDocs, windowTokens, keep = Seq("source"))
    val batchCounts = wins
      .select(col("source"), col("fp"), col("doc_id")).distinct()
      .groupBy(col("source"), col("fp")).agg(count(lit(1)).as("bdd"))
    val hot = batchCounts
      .join(index, Seq("source", "fp"), "left")
      .filter(col("bdd") + coalesce(col("dd"), lit(0L)) >= minDocs)
      .select(col("source"), col("fp"))
    val marked = wins.join(hot, Seq("source", "fp"))
      .select(col("doc_id"), col("start"))
    scrubWithSpans(newDocs.select(col("doc_id"), col("text")),
      mergeIslands(marked, windowTokens))
  }

  /** Batch ADMISSION for the boilerplate lifecycle: scrub the batch
    * against archive ∪ batch membership counts AND produce the appended
    * index, computing the batch's window rows and membership counts
    * ONCE — the (scrub, append) pair of public calls tokenized, hashed
    * and distinct-aggregated the batch twice each (the d71 admission
    * always needs both outputs). Returns (scrubbed batch, new index).
    * Algebra is [[incrementalBoilerplateScrub]] plus a sum-merge of
    * the batch's membership counts into `index`: the batch membership
    * count table IS both the probe's batch-side count and the appended
    * delta — one aggregate, two consumers, materialized once
    * (lazy shared-RDD cut, the d07/AQE lesson). */
  def admitBoilerplateBatch(newDocs: DataFrame, index: DataFrame,
      windowTokens: Int, minDocs: Long): (DataFrame, DataFrame) = {
    require(windowTokens >= 1, "windowTokens must be positive")
    require(minDocs >= 2, "minDocs below 2 would mark every window")
    val wins = Lineage.cut(
      spanWindows(newDocs, windowTokens, keep = Seq("source")), eager = false)
    val batchCounts = Lineage.cut(wins
      .select(col("source"), col("fp"), col("doc_id")).distinct()
      .groupBy(col("source"), col("fp")).agg(count(lit(1)).as("bdd")), eager = false)
    val hot = batchCounts
      .join(index, Seq("source", "fp"), "left")
      .filter(col("bdd") + coalesce(col("dd"), lit(0L)) >= minDocs)
      .select(col("source"), col("fp"))
    val marked = wins.join(hot, Seq("source", "fp"))
      .select(col("doc_id"), col("start"))
    val scrubbed = scrubWithSpans(newDocs.select(col("doc_id"), col("text")),
      mergeIslands(marked, windowTokens))
    val newIndex = index
      .unionByName(batchCounts.withColumnRenamed("bdd", "dd"))
      .groupBy(col("source"), col("fp")).agg(sum(col("dd")).as("dd"))
    (scrubbed, newIndex)
  }

  /** Boilerplate-scrub gate: 3-token windows appearing in ≥2 distinct
    * docs of the same source are scrubbed everywhere; docs with no
    * boilerplate pass through byte-identical. The oracle rebuilds the
    * per-source distinct-doc counts, island merge and kept-token
    * reassembly. */
  val d73BoilerplateScrub: Q = Q(
    "d73_boilerplate_scrub",
    Some("""
      WITH t AS (
        SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      w AS (
        SELECT doc_id, source, i AS start,
               CAST(concat('0x', substr(md5(array_to_string(toks[i+1:i+3], ' ')), 1, 15)) AS BIGINT) AS fp
        FROM t, unnest(generate_series(0, len(toks) - 3)) AS u(i)
        WHERE len(toks) >= 3),
      b AS (
        SELECT source, fp FROM (
          SELECT source, fp, count(DISTINCT doc_id) AS dd FROM w GROUP BY 1, 2)
        WHERE dd >= 2),
      m AS (
        SELECT DISTINCT w.doc_id, w.start
        FROM w JOIN b ON w.source = b.source AND w.fp = b.fp),
      g AS (
        SELECT doc_id, start,
               CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) > 3
                    THEN 1 ELSE 0 END AS brk
        FROM m),
      isl AS (
        SELECT doc_id, start,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM g),
      spans AS (
        SELECT doc_id, min(start) AS span_start, max(start) + 2 AS span_end
        FROM isl GROUP BY doc_id, island),
      pos AS (
        SELECT t.doc_id, i, toks[i] AS tok
        FROM t, unnest(generate_series(1, len(toks))) AS u(i)
        WHERE t.doc_id IN (SELECT doc_id FROM spans)),
      kept AS (
        SELECT p.doc_id, p.i, p.tok FROM pos p
        WHERE NOT EXISTS (
          SELECT 1 FROM spans s
          WHERE s.doc_id = p.doc_id AND p.i - 1 BETWEEN s.span_start AND s.span_end)),
      rebuilt AS (
        SELECT doc_id, coalesce(string_agg(tok, ' ' ORDER BY i), '') AS text
        FROM kept GROUP BY doc_id)
      SELECT d.doc_id,
             CASE WHEN d.doc_id IN (SELECT doc_id FROM spans)
                  THEN coalesce(r.text, '') ELSE d.text END AS text
      FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """),
    (s, dir) => scrubBoilerplate(
      Tables(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
      windowTokens = 3, minDocs = 2))

  /** Span-scrub gate: d21's spans removed from the corpus text; span-less
    * docs byte-identical to the input, scrubbed docs rebuilt from kept
    * tokens. The oracle mirrors both branches. */
  val d22SpanScrub: Q = Q(
    "d22_span_scrub",
    Some("""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      w AS (
        SELECT doc_id, i AS start,
               CAST(concat('0x', substr(md5(array_to_string(toks[i+1:i+8], ' ')), 1, 15)) AS BIGINT) AS fp
        FROM t, unnest(generate_series(0, len(toks) - 8)) AS u(i)
        WHERE len(toks) >= 8),
      m AS (
        SELECT doc_id, start FROM (
          SELECT doc_id, start, count(*) OVER (PARTITION BY fp) AS c FROM w)
        WHERE c >= 2),
      g AS (
        SELECT doc_id, start,
               CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) > 8
                    THEN 1 ELSE 0 END AS brk
        FROM m),
      isl AS (
        SELECT doc_id, start,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM g),
      spans AS (
        SELECT doc_id, min(start) AS span_start, max(start) + 7 AS span_end
        FROM isl GROUP BY doc_id, island),
      pos AS (
        SELECT t.doc_id, i, toks[i] AS tok
        FROM t, unnest(generate_series(1, len(toks))) AS u(i)
        WHERE t.doc_id IN (SELECT doc_id FROM spans)),
      kept AS (
        SELECT p.doc_id, p.i, p.tok FROM pos p
        WHERE NOT EXISTS (
          SELECT 1 FROM spans s
          WHERE s.doc_id = p.doc_id AND p.i - 1 BETWEEN s.span_start AND s.span_end)),
      rebuilt AS (
        SELECT doc_id, coalesce(string_agg(tok, ' ' ORDER BY i), '') AS text
        FROM kept GROUP BY doc_id)
      SELECT d.doc_id,
             CASE WHEN d.doc_id IN (SELECT doc_id FROM spans)
                  THEN coalesce(r.text, '') ELSE d.text END AS text
      FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """),
    (s, dir) => scrubDuplicatedSpans(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      windowTokens = 8))

  /** Keep-first span dedup gate: like d21 but the globally-first
    * occurrence (min (doc_id, start) per fingerprint) survives — the
    * exact-substring-dedup reading where one copy of each duplicated
    * passage is kept. Oracle adds the same deterministic row_number to
    * the fingerprint partition. */
  val d23SpanDedupKeepFirst: Q = Q(
    "d23_span_dedup_keepfirst",
    Some("""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      w AS (
        SELECT doc_id, i AS start,
               CAST(concat('0x', substr(md5(array_to_string(toks[i+1:i+8], ' ')), 1, 15)) AS BIGINT) AS fp
        FROM t, unnest(generate_series(0, len(toks) - 8)) AS u(i)
        WHERE len(toks) >= 8),
      m AS (
        SELECT doc_id, start FROM (
          SELECT doc_id, start,
                 count(*) OVER (PARTITION BY fp) AS c,
                 row_number() OVER (PARTITION BY fp ORDER BY doc_id, start) AS rn
          FROM w)
        WHERE c >= 2 AND rn > 1),
      g AS (
        SELECT doc_id, start,
               CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) > 8
                    THEN 1 ELSE 0 END AS brk
        FROM m),
      isl AS (
        SELECT doc_id, start,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM g)
      SELECT doc_id, CAST(min(start) AS BIGINT) AS span_start,
             CAST(max(start) + 7 AS BIGINT) AS span_end,
             count(*) AS n_windows
      FROM isl GROUP BY doc_id, island
    """),
    (s, dir) => duplicatedSpans(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      windowTokens = 8, keepFirst = true))

  /** Window-fingerprint counts of a corpus — the PERSISTED index of
    * incremental span dedup (the span-family analogue of
    * [[minhashBandIndex]]): one skinny (fp, cnt) row per distinct
    * window fingerprint, built with a partial-aggregatable groupBy
    * (skew-safe — a boilerplate fingerprint with millions of
    * occurrences map-side combines instead of landing one task).
    * Written once over the archive; batches probe it and append to it. */
  def fingerprintIndex(docs: DataFrame, windowTokens: Int): DataFrame =
    spanWindows(docs, windowTokens)
      .groupBy(col("fp")).agg(count(lit(1)).as("cnt"))

  /** Index maintenance: merge an admitted batch's window counts into the
    * index. Counting is associative, so append ≡ rebuild by
    * construction; through a table format this is a MERGE on fp. */
  def appendToFingerprintIndex(index: DataFrame, admittedDocs: DataFrame,
      windowTokens: Int): DataFrame =
    index.unionByName(fingerprintIndex(admittedDocs, windowTokens))
      .groupBy(col("fp")).agg(sum(col("cnt")).as("cnt"))

  /** Index maintenance, retraction half: subtract a RETRACTED set's
    * window counts from the index (the GDPR-delete/takedown path — the
    * exact inverse of [[appendToFingerprintIndex]], so
    * retract(append(idx, B), B) ≡ idx). Zero-count fingerprints drop
    * out entirely; counts are associative sums, so retract ≡
    * rebuild-without-the-retracted-docs by construction — PROVIDED the
    * retracted docs were actually admitted (retracting a never-admitted
    * doc would drive counts negative; the filter clamps the index to
    * valid rows either way, and the lifecycle gate's oracle would
    * diverge). Through a table format this is a MERGE on fp with
    * delete-when-zero. */
  def retractFromFingerprintIndex(index: DataFrame, retractedDocs: DataFrame,
      windowTokens: Int): DataFrame =
    index.unionByName(fingerprintIndex(retractedDocs, windowTokens)
        .withColumn("cnt", -col("cnt")))
      .groupBy(col("fp")).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") > 0)

  /** Incremental span dedup: duplicated spans of a NEW batch against
    * archive + batch, touching the archive only through its
    * [[fingerprintIndex]] — no archive text is re-scanned or re-hashed.
    * A batch window is duplicated when its in-batch occurrence count
    * plus the index count reaches `minCount`; spans merge per batch doc
    * exactly as in [[duplicatedSpans]]. Equals the from-scratch answer
    * over archive ∪ batch restricted to batch documents (the archive is
    * already admitted — its spans were computed when IT was the batch). */
  def incrementalSpans(newDocs: DataFrame, index: DataFrame,
      windowTokens: Int, minCount: Long = 2L): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be positive")
    require(minCount >= 2, "minCount below 2 would mark every window")
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val marked = spanWindows(newDocs, windowTokens)
      .withColumn("c", count(lit(1)).over(byFp))
      .join(index, Seq("fp"), "left")
      .filter(col("c") + coalesce(col("cnt"), lit(0L)) >= minCount)
      .select(col("doc_id"), col("start"))
    mergeIslands(marked, windowTokens)
  }

  /** Incremental span dedup gate: the d20 archive/batch split (95/5 on a
    * deterministic md5 bucket); the archive is visible to the batch only
    * through its fingerprint index. Oracle = the d21 from-scratch
    * whole-corpus span dedup restricted to batch documents — proving
    * the index probe ≡ recomputing over everything. */
  val d24IncrementalSpanDedup: Q = Q(
    "d24_incremental_span_dedup",
    Some("""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      w AS (
        SELECT doc_id, i AS start,
               CAST(concat('0x', substr(md5(array_to_string(toks[i+1:i+8], ' ')), 1, 15)) AS BIGINT) AS fp
        FROM t, unnest(generate_series(0, len(toks) - 8)) AS u(i)
        WHERE len(toks) >= 8),
      m AS (
        SELECT doc_id, start FROM (
          SELECT doc_id, start, count(*) OVER (PARTITION BY fp) AS c FROM w)
        WHERE c >= 2),
      g AS (
        SELECT doc_id, start,
               CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) > 8
                    THEN 1 ELSE 0 END AS brk
        FROM m),
      isl AS (
        SELECT doc_id, start,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM g)
      SELECT doc_id, CAST(min(start) AS BIGINT) AS span_start,
             CAST(max(start) + 7 AS BIGINT) AS span_end,
             count(*) AS n_windows
      FROM isl
      WHERE CAST(concat('0x', substr(md5('idx:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 >= 95
      GROUP BY doc_id, island
    """),
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val bucket = conv(substring(md5(concat(lit("idx:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100
      val withBucket = docs.withColumn("bucket", bucket)
      val archive = withBucket.filter(col("bucket") < 95).drop("bucket")
      val batch = withBucket.filter(col("bucket") >= 95).drop("bucket")
      // production: the index is a persisted table; materialized here to
      // stand in for it — the archive TEXT is never touched below
      val index = Lineage.cut(fingerprintIndex(archive, windowTokens = 8))
      incrementalSpans(batch, index, windowTokens = 8)
    })

  /** Index-append lifecycle gate — the maintenance half of incremental
    * span dedup, end-to-end: archive (90%) builds the fingerprint index,
    * batch 1 (5%) probes it and is ADMITTED via
    * [[appendToFingerprintIndex]], batch 2 (5%) probes the APPENDED
    * index. The oracle computes both probes from scratch — batch 1's
    * spans against archive∪batch1 window counts, batch 2's against the
    * FULL corpus — so a drifted append (lost counts, double counts,
    * missing fingerprints) diverges on batch 2's rows. This is the d19
    * two-batch pattern applied to the index artifact itself; reference
    * analogue: control-table incremental maintenance
    * (datatrack_spark_utils.py:102-218). */
  val d71IndexAppendLifecycle: Q = Q(
    "d71_index_append_lifecycle",
    Some("""
      WITH t AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5('idx:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
               regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      w AS (
        SELECT doc_id, bucket, i AS start,
               CAST(concat('0x', substr(md5(array_to_string(toks[i+1:i+8], ' ')), 1, 15)) AS BIGINT) AS fp
        FROM t, unnest(generate_series(0, len(toks) - 8)) AS u(i)
        WHERE len(toks) >= 8),
      m AS (
        SELECT doc_id, bucket, start FROM (
          SELECT doc_id, bucket, start,
                 sum(CASE WHEN bucket < 95 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY fp) AS c1,
                 count(*) OVER (PARTITION BY fp) AS c2
          FROM w)
        WHERE (bucket >= 90 AND bucket < 95 AND c1 >= 2)
           OR (bucket >= 95 AND c2 >= 2)),
      g AS (
        SELECT doc_id, bucket, start,
               CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) > 8
                    THEN 1 ELSE 0 END AS brk
        FROM m),
      isl AS (
        SELECT doc_id, bucket, start,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM g)
      SELECT CAST(CASE WHEN bucket >= 95 THEN 2 ELSE 1 END AS INTEGER) AS batch,
             doc_id, CAST(min(start) AS BIGINT) AS span_start,
             CAST(max(start) + 7 AS BIGINT) AS span_end,
             count(*) AS n_windows
      FROM isl GROUP BY doc_id, bucket, island
    """),
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val bucket = conv(substring(md5(concat(lit("idx:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100
      val withBucket = docs.withColumn("bucket", bucket)
      val archive = withBucket.filter(col("bucket") < 90).drop("bucket")
      val batch1 = withBucket.filter(col("bucket") >= 90 && col("bucket") < 95)
        .drop("bucket")
      val batch2 = withBucket.filter(col("bucket") >= 95).drop("bucket")
      // production: persisted index table; the lineage cuts stand in for
      // the two materializations (write-after-build, read-before-probe)
      val index0 = Lineage.cut(fingerprintIndex(archive, windowTokens = 8))
      val probe1 = incrementalSpans(batch1, index0, windowTokens = 8)
      val index1 = Lineage.cut(appendToFingerprintIndex(index0, batch1, windowTokens = 8))
      val probe2 = incrementalSpans(batch2, index1, windowTokens = 8)
      probe1.withColumn("batch", lit(1))
        .unionByName(probe2.withColumn("batch", lit(2)))
        .select(col("batch"), col("doc_id"), col("span_start"),
          col("span_end"), col("n_windows"))
    })

  /** Boilerplate-lifecycle gate — the d71 algebra applied to the
    * MEMBERSHIP index: archive (buckets 0-89) builds the per-(source,
    * fp) distinct-doc index, batch1 (90-94) is scrubbed against
    * archive ∪ batch1 counts and APPENDED, batch2 (95-99) is scrubbed
    * against the GROWN index — so append drift diverges on batch-2
    * rows. The oracle computes both probes' membership counts from
    * scratch (bucket-conditional distinct-doc sums) and replays the
    * island merge + kept-token rebuild. */
  val d77BoilerplateLifecycle: Q = Q(
    "d77_boilerplate_lifecycle",
    Some("""
      WITH t AS (
        SELECT doc_id, source, text,
               CAST(concat('0x', substr(md5('idx:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
               regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      w AS (
        SELECT doc_id, source, bucket, i AS start,
               CAST(concat('0x', substr(md5(array_to_string(toks[i+1:i+3], ' ')), 1, 15)) AS BIGINT) AS fp
        FROM t, unnest(generate_series(0, len(toks) - 3)) AS u(i)
        WHERE len(toks) >= 3),
      dw AS (SELECT DISTINCT doc_id, source, bucket, fp FROM w),
      cnt AS (
        SELECT source, fp,
               sum(CASE WHEN bucket < 95 THEN 1 ELSE 0 END) AS dd1,
               count(*) AS dd2
        FROM dw GROUP BY 1, 2),
      m AS (
        SELECT DISTINCT w.doc_id, w.start
        FROM w JOIN cnt ON w.source = cnt.source AND w.fp = cnt.fp
        WHERE (w.bucket >= 90 AND w.bucket < 95 AND cnt.dd1 >= 2)
           OR (w.bucket >= 95 AND cnt.dd2 >= 2)),
      g AS (
        SELECT doc_id, start,
               CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) > 3
                    THEN 1 ELSE 0 END AS brk
        FROM m),
      isl AS (
        SELECT doc_id, start,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM g),
      spans AS (
        SELECT doc_id, min(start) AS span_start, max(start) + 2 AS span_end
        FROM isl GROUP BY doc_id, island),
      pos AS (
        SELECT t.doc_id, i, toks[i] AS tok
        FROM t, unnest(generate_series(1, len(toks))) AS u(i)
        WHERE t.doc_id IN (SELECT doc_id FROM spans)),
      kept AS (
        SELECT p.doc_id, p.i, p.tok FROM pos p
        WHERE NOT EXISTS (
          SELECT 1 FROM spans s
          WHERE s.doc_id = p.doc_id AND p.i - 1 BETWEEN s.span_start AND s.span_end)),
      rebuilt AS (
        SELECT doc_id, coalesce(string_agg(tok, ' ' ORDER BY i), '') AS text
        FROM kept GROUP BY doc_id)
      SELECT CAST(CASE WHEN t.bucket >= 95 THEN 2 ELSE 1 END AS INTEGER) AS batch,
             t.doc_id,
             CASE WHEN t.doc_id IN (SELECT doc_id FROM spans)
                  THEN coalesce(r.text, '') ELSE t.text END AS text
      FROM t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
      WHERE t.bucket >= 90
    """),
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val bucket = conv(substring(md5(concat(lit("idx:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100
      val withBucket = docs.withColumn("bucket", bucket)
      val archive = withBucket.filter(col("bucket") < 90).drop("bucket")
      val batch1 = withBucket.filter(col("bucket") >= 90 && col("bucket") < 95)
        .drop("bucket")
      val batch2 = withBucket.filter(col("bucket") >= 95).drop("bucket")
      val idx0 = Lineage.cut(boilerplateIndex(archive, windowTokens = 3))
      // admission computes batch1's window rows + membership counts ONCE
      // for both its scrub and the index append (the old scrub+append
      // pair re-tokenized and re-aggregated the batch per consumer)
      val (scrub1, idx1Raw) = admitBoilerplateBatch(batch1, idx0,
        windowTokens = 3, minDocs = 2)
      val idx1 = Lineage.cut(idx1Raw)
      val scrub2 = incrementalBoilerplateScrub(batch2, idx1,
        windowTokens = 3, minDocs = 2)
      scrub1.withColumn("batch", lit(1))
        .unionByName(scrub2.withColumn("batch", lit(2)))
        .select(col("batch"), col("doc_id"), col("text"))
    })

  /** Index-retraction gate — the delete half of index maintenance
    * (takedown/GDPR): the index is built over everything ADMITTED so
    * far (buckets 0-94), the 90-94 slice is then RETRACTED via
    * [[retractFromFingerprintIndex]] (their window counts subtracted,
    * zero-count fingerprints dropped), and a new batch (95-99) probes
    * the shrunken index. The oracle computes the probe from scratch
    * over the corpus WITHOUT the retracted docs, so any retraction
    * drift — counts left behind, over-subtraction, fingerprints that
    * should have vanished — diverges on batch rows whose windows were
    * shared with retracted documents. */
  val d78IndexRetract: Q = Q(
    "d78_index_retract",
    Some("""
      WITH t AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5('idx:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
               regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      w AS (
        SELECT doc_id, bucket, i AS start,
               CAST(concat('0x', substr(md5(array_to_string(toks[i+1:i+8], ' ')), 1, 15)) AS BIGINT) AS fp
        FROM t, unnest(generate_series(0, len(toks) - 8)) AS u(i)
        WHERE len(toks) >= 8 AND (bucket < 90 OR bucket >= 95)),
      m AS (
        SELECT doc_id, start FROM (
          SELECT doc_id, bucket, start, count(*) OVER (PARTITION BY fp) AS c FROM w)
        WHERE c >= 2 AND bucket >= 95),
      g AS (
        SELECT doc_id, start,
               CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) > 8
                    THEN 1 ELSE 0 END AS brk
        FROM m),
      isl AS (
        SELECT doc_id, start,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM g)
      SELECT doc_id, CAST(min(start) AS BIGINT) AS span_start,
             CAST(max(start) + 7 AS BIGINT) AS span_end,
             count(*) AS n_windows
      FROM isl GROUP BY doc_id, island
    """),
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val bucket = conv(substring(md5(concat(lit("idx:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100
      val withBucket = docs.withColumn("bucket", bucket)
      val admitted = withBucket.filter(col("bucket") < 95).drop("bucket")
      val retracted = withBucket.filter(col("bucket") >= 90 && col("bucket") < 95)
        .drop("bucket")
      val batch = withBucket.filter(col("bucket") >= 95).drop("bucket")
      val idx = Lineage.cut(fingerprintIndex(admitted, windowTokens = 8))
      val shrunk = Lineage.cut(
        retractFromFingerprintIndex(idx, retracted, windowTokens = 8))
      incrementalSpans(batch, shrunk, windowTokens = 8)
    })

  /** Incremental curation — the production admission pipeline composed
    * from this family's lifecycle pieces: a NEW batch flows
    * quality-filter → exact-dedup-against-the-archive →
    * span-scrub-against-the-archive, with the archive visible ONLY
    * through its two persisted indexes (the distinct text-fingerprint
    * set and the window-fingerprint count index) — no archive text is
    * ever re-scanned. Stage semantics are sequential (a
    * quality-rejected doc never reaches dedup: its `dup_keep` is NULL,
    * "stage not reached"); in-batch exact dups keep the lowest doc_id
    * among quality survivors; admitted docs are rewritten with every
    * span duplicated against archive ∪ admitted-batch removed. Output
    * is one row per batch doc: per-stage attribution flags + the final
    * text (NULL for rejected docs) — the audit trail and the output
    * corpus in one relation.
    *
    * Scale shape: quality + fingerprint are one codegen projection on
    * the batch scan; the exact-dedup stage is a batch-sized left join
    * against the skinny fp set plus a high-cardinality (fp) window; the
    * span stage is [[incrementalSpans]]' probe (cost ∝ batch windows,
    * archive touched only through the index). The two lineage cuts are
    * batch-sized — the d07 AQE lesson applied to a relation with three
    * consumers. */
  def incrementalCuration(batch: DataFrame, textFpIndex: DataFrame,
      spanIndex: DataFrame, windowTokens: Int,
      minQuality: Double): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be positive")
    val scored = Lineage.cut(batch.select(col("doc_id"), col("text"),
        TextStats.qualityScore(col("text")).as("quality"),
        TextStats.fingerprint(col("text")).as("fp"))
      .withColumn("q_keep", col("quality") >= minQuality))
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    val dedupFlags = scored.filter(col("q_keep"))
      .join(textFpIndex.select(col("fp")).distinct()
        .withColumn("known", lit(1)), Seq("fp"), "left")
      .withColumn("rn", row_number().over(byFp))
      .select(col("doc_id"),
        (col("known").isNull && col("rn") === 1).as("dup_keep"))
    val flagged = Lineage.cut(scored.join(dedupFlags, Seq("doc_id"), "left")
      .withColumn("admitted",
        col("q_keep") && coalesce(col("dup_keep"), lit(false))))
    val admitted = flagged.filter(col("admitted"))
      .select(col("doc_id"), col("text"))
    val scrubbed = scrubWithSpans(admitted,
        incrementalSpans(admitted, spanIndex, windowTokens))
      .withColumnRenamed("text", "text_scrubbed")
    flagged.join(scrubbed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality"), col("q_keep"), col("dup_keep"),
        col("admitted"), col("text_scrubbed").as("text"))
  }

  /** Incremental-curation gate: the d24 archive/batch split (95/5 on the
    * md5 `idx:` bucket), quality threshold 0.45 (d30's), window 8
    * (d24's). The oracle replays all three stages — the d03 quality
    * formula (floor@6), the archive-distinct-fp + keep-first rule, and
    * the full span probe/island/rebuild machinery over ADMITTED docs
    * with in-batch counts restricted to admitted survivors — so a stage
    * mis-ordering (dedup before quality, scrub counting rejected docs'
    * windows) diverges, not just a wrong final corpus. */
  val d79IncrementalCuration: Q = Q(
    "d79_incremental_curation",
    Some("""
      WITH t AS (
        SELECT doc_id, text,
               CAST(concat('0x', substr(md5('idx:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
               regexp_split_to_array(trim(text), '\s+') AS toks,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
        FROM documents),
      q AS (
        SELECT doc_id, text, bucket, toks,
               floor((least(n_tok / 100.0, 1.0) * 0.5 +
                      least(length(text) / 500.0, 1.0) * 0.3 +
                      least(CASE WHEN n_tok > 0
                            THEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE) / n_tok
                            ELSE 0.0 END * 5.0, 1.0) * 0.2) * 1e6 + 0.5) / 1e6 AS quality,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM t),
      qb AS (SELECT * FROM q WHERE bucket >= 95),
      arch_fp AS (SELECT DISTINCT fp FROM q WHERE bucket < 95),
      dd AS (
        SELECT doc_id,
               (fp NOT IN (SELECT fp FROM arch_fp))
                 AND row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
                 AS dup_keep
        FROM qb WHERE quality >= 0.45),
      flags AS (
        SELECT qb.doc_id, qb.quality, qb.quality >= 0.45 AS q_keep,
               dd.dup_keep,
               qb.quality >= 0.45 AND coalesce(dd.dup_keep, false) AS admitted,
               qb.toks, qb.text
        FROM qb LEFT JOIN dd ON dd.doc_id = qb.doc_id),
      aw AS (
        SELECT f.doc_id, i AS start,
               CAST(concat('0x', substr(md5(array_to_string(toks[i+1:i+8], ' ')), 1, 15)) AS BIGINT) AS fp
        FROM flags f, unnest(generate_series(0, len(toks) - 8)) AS u(i)
        WHERE f.admitted AND len(toks) >= 8),
      archw AS (
        SELECT CAST(concat('0x', substr(md5(array_to_string(toks[i+1:i+8], ' ')), 1, 15)) AS BIGINT) AS fp,
               count(*) AS cnt
        FROM q, unnest(generate_series(0, len(toks) - 8)) AS u(i)
        WHERE bucket < 95 AND len(toks) >= 8
        GROUP BY 1),
      m AS (
        SELECT doc_id, start FROM (
          SELECT aw.doc_id, aw.start,
                 count(*) OVER (PARTITION BY aw.fp) AS c,
                 coalesce(a.cnt, 0) AS icnt
          FROM aw LEFT JOIN archw a ON a.fp = aw.fp)
        WHERE c + icnt >= 2),
      g AS (
        SELECT doc_id, start,
               CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) > 8
                    THEN 1 ELSE 0 END AS brk
        FROM m),
      isl AS (
        SELECT doc_id, start,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM g),
      spans AS (
        SELECT doc_id, min(start) AS span_start, max(start) + 7 AS span_end
        FROM isl GROUP BY doc_id, island),
      pos AS (
        SELECT f.doc_id, i, toks[i] AS tok
        FROM flags f, unnest(generate_series(1, len(toks))) AS u(i)
        WHERE f.doc_id IN (SELECT doc_id FROM spans)),
      kept AS (
        SELECT p.doc_id, p.i, p.tok FROM pos p
        WHERE NOT EXISTS (
          SELECT 1 FROM spans s
          WHERE s.doc_id = p.doc_id AND p.i - 1 BETWEEN s.span_start AND s.span_end)),
      rebuilt AS (
        SELECT doc_id, coalesce(string_agg(tok, ' ' ORDER BY i), '') AS text
        FROM kept GROUP BY doc_id)
      SELECT f.doc_id, f.quality, f.q_keep, f.dup_keep, f.admitted,
             CASE WHEN NOT f.admitted THEN NULL
                  WHEN f.doc_id IN (SELECT doc_id FROM spans) THEN coalesce(r.text, '')
                  ELSE f.text END AS text
      FROM flags f LEFT JOIN rebuilt r ON r.doc_id = f.doc_id
    """),
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val bucket = conv(substring(md5(concat(lit("idx:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100
      val withBucket = docs.withColumn("bucket", bucket)
      val archive = withBucket.filter(col("bucket") < 95).drop("bucket")
      val batch = withBucket.filter(col("bucket") >= 95).drop("bucket")
      // the two persisted admission indexes, materialized from the
      // archive ONCE (production keeps them as tables; cf. d24/d71)
      val fpIdx = Lineage.cut(archive.select(TextStats.fingerprint(col("text")).as("fp"))
        .distinct())
      val spanIdx = Lineage.cut(fingerprintIndex(archive, windowTokens = 8))
      incrementalCuration(batch, fpIdx, spanIdx, windowTokens = 8,
        minQuality = 0.45)
    })

  /** Content-defined chunking — the rolling-fingerprint boundary rule
    * (Rabin/CDC family): a chunk boundary falls after token `i`
    * whenever the fingerprint of the `windowTokens`-token window ENDING
    * at `i` is ≡ 0 mod `modulus` (expected chunk length ≈ `modulus`
    * tokens), plus a forced boundary at end-of-document. Because a
    * boundary depends only on the window CONTENT, an insertion early in
    * a document shifts only the chunks up to the next surviving
    * boundary — every later chunk keeps its exact (content, fingerprint)
    * — where fixed-size chunking would shift every subsequent chunk.
    * That shift-resistance is what makes chunk-level exact dedup work on
    * near-identical documents (mirrors, quoted mails, versioned pages):
    * the shared run of chunks dedups even though the documents differ.
    *
    * Output: one row per chunk — (doc_id, chunk_idx, chunk_start,
    * chunk_len, chunk_fp, n_dups) where chunk_fp is the 60-bit md5 of
    * the chunk's token text and n_dups is the corpus-wide occurrence
    * count of that fingerprint (≥ 2 ⇒ the chunk is duplicated; feed the
    * fp rows to [[connectedComponents]] or a keep-first rank for the
    * dedup action). Documents shorter than the window emit one
    * whole-document chunk; empty documents emit nothing.
    *
    * Scale shape: the whole per-document pipeline — window
    * fingerprints, boundary selection, chunk slicing — is ONE native
    * codegen'd kernel call ([[graft.plans.CdcChunksExpr]]; the staged
    * higher-order-function formulation was linear but interpreted, a
    * measured 4.5 s at gate scale vs sub-second for the kernel). No
    * join, no shuffle; the only exchange in the operator is the
    * duplicate count on the chunk-fingerprint window — the d21
    * count-over-window shape, carrying ~one row per `modulus` tokens
    * instead of one per token. */
  def contentDefinedChunks(docs: DataFrame, windowTokens: Int,
      modulus: Int): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be positive")
    require(modulus >= 2, "modulus < 2 would cut at every token")
    val shaped = docs
      .select(col("doc_id"),
        graft.plans.CdcChunksExpr.chunks(col("text"), windowTokens, modulus)
          .as("chunks"))
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("chunk_idx", "c")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.chunk_start").cast("long").as("chunk_start"),
        col("c.chunk_len").cast("long").as("chunk_len"),
        col("c.fp").as("chunk_fp"))
    shaped.withColumn("n_dups",
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("chunk_fp"))))
  }

  /** CDC gate: 4-token windows, modulus 8 (expected ~8-token chunks)
    * over the documents table. The oracle rebuilds the window
    * fingerprints, the mod-boundary rule, the chunk slicing and the
    * corpus-wide duplicate count. */
  val d32CdcChunks: Q = Q(
    "d32_cdc_chunks",
    Some("""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
        WHERE length(trim(text)) > 0),
      f AS (
        SELECT doc_id, toks, len(toks) AS n,
               CASE WHEN len(toks) >= 4 THEN
                 list_transform(generate_series(0, len(toks) - 4),
                   i -> CAST(concat('0x', substr(md5(array_to_string(toks[i+1:i+4], ' ')), 1, 15)) AS BIGINT))
               ELSE [] END AS fps
        FROM t),
      bn AS (
        SELECT doc_id, toks, n,
               list_filter(
                 list_transform(fps, (fp, i) ->
                   CASE WHEN fp % 8 = 0 THEN i + 2 ELSE -1 END),
                 e -> e >= 0) AS bends
        FROM f),
      e2 AS (
        -- NOT list_distinct: DuckDB's list_distinct reorders (Spark's
        -- array_distinct is order-preserving) — append the forced EOD
        -- boundary only when it is not already the last content boundary
        SELECT doc_id, toks,
               CASE WHEN len(bends) > 0 AND bends[-1] = n - 1 THEN bends
                    ELSE list_append(bends, n - 1) END AS ends
        FROM bn),
      ch AS (
        SELECT doc_id, toks, ends,
               unnest(list_transform(ends, (e, i) -> {'idx': i - 1, 'e': e})) AS c
        FROM e2),
      shaped AS (
        SELECT doc_id,
               CAST(c.idx AS BIGINT) AS chunk_idx,
               CAST(CASE WHEN c.idx = 0 THEN 0 ELSE ends[c.idx] + 1 END AS BIGINT) AS chunk_start,
               CAST(c.e - (CASE WHEN c.idx = 0 THEN 0 ELSE ends[c.idx] + 1 END) + 1 AS BIGINT) AS chunk_len,
               CAST(concat('0x', substr(md5(array_to_string(
                 toks[(CASE WHEN c.idx = 0 THEN 0 ELSE ends[c.idx] + 1 END) + 1 : c.e + 1], ' ')), 1, 15)) AS BIGINT) AS chunk_fp
        FROM ch)
      SELECT doc_id, chunk_idx, chunk_start, chunk_len, chunk_fp,
             count(*) OVER (PARTITION BY chunk_fp) AS n_dups
      FROM shaped
    """),
    (s, dir) => contentDefinedChunks(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      windowTokens = 4, modulus = 8))

  /** 60-bit md5 content hash of a text column — the cross-engine
    * document identity the exact-dedup incremental posture keys on. */
  private def contentHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The persisted CONTENT-HASH index of an admitted archive: one skinny
    * long row per distinct document text (the exact-dedup analogue of
    * [[minhashBandIndex]] / [[fingerprintIndex]]). Append = union +
    * distinct, so append ≡ rebuild by construction. */
  def contentHashIndex(docs: DataFrame): DataFrame =
    docs.select(contentHash(col("text")).as("h")).distinct()

  /** Exact-dedup admission of a batch against an archive, Bloom-
    * prefiltered: return the batch documents whose content hash is NOT
    * in the archive's [[contentHashIndex]].
    *
    * The 100 TB shape this exists for: the naive form is an anti-join of
    * every daily batch against a billions-row hash index — a full
    * shuffle of the index per batch. Here the index is summarized ONCE
    * into a Bloom filter (`expectedItems`/`fpp` sized; ~1.2 GB per 10⁹
    * hashes at 1% — a broadcastable artifact built once per archive
    * snapshot and reused by every batch), and the batch splits by a
    * zero-shuffle codegen'd membership test ([[graft.plans.BloomMightContainExpr]]):
    *   - bloom-negative rows are DEFINITELY new — admitted with no join
    *     at all (the overwhelming majority of a typical batch);
    *   - bloom-positive rows (true dups + the fpp sliver) verify through
    *     the anti-join, whose left side is now ~(dups + fpp·batch) rows.
    * False positives are eliminated by the verify join and false
    * negatives are impossible, so the answer is EXACT for any fpp — the
    * filter only moves work, never correctness (spec-proven at fpp
    * extremes). */
  def newDocsViaBloom(batch: DataFrame, archiveHashIndex: DataFrame,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    require(expectedItems > 0, "expectedItems must be positive")
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val bloom = archiveHashIndex.stat.bloomFilter("h", expectedItems, fpp)
    val hashed = batch.withColumn("h", contentHash(col("text")))
    val mightBeOld =
      graft.plans.BloomMightContainExpr.mightContainLong(col("h"), bloom)
    val definiteNew = hashed.filter(!mightBeOld)
    val verifiedNew = hashed.filter(mightBeOld)
      .join(archiveHashIndex, Seq("h"), "left_anti")
    definiteNew.unionByName(verifiedNew).select(col("doc_id"), col("h"))
  }

  /** Bloom-prefiltered admission gate: the d24 archive/batch split (95/5
    * on the deterministic md5 bucket); the archive is visible to the
    * batch only through its content-hash index + Bloom summary. Oracle =
    * plain hash-membership against the archive texts — proving the Bloom
    * path changes nothing about the answer. */
  val d27BloomNewDocs: Q = Q(
    "d27_bloom_new_docs",
    Some("""
      WITH b AS (
        SELECT doc_id, text,
               CAST(concat('0x', substr(md5('idx:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        FROM documents)
      SELECT doc_id,
             CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
      FROM b
      WHERE bucket >= 95
        AND md5(text) NOT IN (SELECT md5(text) FROM b WHERE bucket < 95)
    """),
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val bucket = conv(substring(md5(concat(lit("idx:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100
      val withBucket = docs.withColumn("bucket", bucket)
      val archive = withBucket.filter(col("bucket") < 95).drop("bucket")
      val batch = withBucket.filter(col("bucket") >= 95).drop("bucket")
      // production: the index is a persisted table and the bloom a stored
      // per-snapshot artifact; built inline here to stand in for both
      val index = Lineage.cut(contentHashIndex(archive))
      newDocsViaBloom(batch, index, expectedItems = 1000L, fpp = 0.01)
    })

  /** Directed shingle-containment pairs: emit (doc_a, doc_b) where
    * |sh(a) ∩ sh(b)| / |sh(a)| ≥ threshold — the ASYMMETRIC near-dup
    * relation Jaccard cannot see. A 100-token passage quoted verbatim
    * inside a 10k-token page has Jaccard ≈ 0.01 (invisible to d06/d07)
    * but containment ≈ 1.0; quote-inclusion and boilerplate-wrapping
    * dedup need this directed score.
    *
    * Candidate generation is a bottom-`sketchK` MinHash sketch of the
    * CONTAINED side: doc_a's k smallest shingle hashes equi-join any doc
    * that contains one of them. Under MinHash uniformity each of a's
    * bottom-k hashes lands in a∩b with probability ≥ containment, so
    * per-pair recall is ≥ 1−(1−c)^k (≥ 94% at c = 0.5, k = 4; → 1 as
    * c → 1); the DuckDB oracle replays the identical sketch rule, so the
    * gate checks engine == rule exactly, and the recall bound is the
    * analytical property of the rule (the d06 prefix-blocking pattern).
    *
    * Scale shape: corpus text is scanned + shingled + hashed ONCE; the
    * sketch is one partial-aggregatable exchange; the candidate join
    * fans out Σ_h |sketch(h)|·df(h) — sketch side is ≤ k rows per doc,
    * so fan-out is candidate-, not corpus-quadratic. Exact verification
    * touches candidate pairs only. Hot-shingle guard: a shingle that is
    * the bottom-sketch member of MANY docs (boilerplate corpus) inflates
    * df(h) — compose with [[lshCandidatePairs]]'s hot/cold cap or
    * pre-filter stop-shingles when that regime appears. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      nGram: Int = 3, sketchK: Int = 4, threshold: Double = 0.5): DataFrame = {
    require(sketchK > 0 && threshold > 0.0 && threshold <= 1.0,
      "need sketchK > 0 and threshold in (0, 1]")
    // lazy shared-RDD cut: FOUR consumers (the sketch build, the
    // candidate join's contained side, and the two verify sides) would
    // each re-run the corpus scan + shingle kernel otherwise — the
    // formatted plan showed four `Scan parquet`→shinglesexpr branches
    // (the minhashNearDupPairs lesson: ReusedExchange does not survive
    // AQE re-pruning of shared subtrees, and there is no exchange here
    // to reuse anyway). At gate scale the cut only breaks even-plus
    // (min-of-6 A/B: 2.61 → 2.48 s, controls flat) — caching the
    // shingle arrays is itself expensive — but at corpus scale the
    // three re-shingling passes it removes are corpus-bound while the
    // cache is one pass, the same trade d19's composition makes.
    val s = Lineage.cut(docs.select(col(idCol).as("doc_id"),
      shingles(col(textCol), nGram).as("sh")), eager = false)
    val h = s.select(col("doc_id"), explode(col("sh")).as("u"))
      .withColumn("hh",
        conv(substring(md5(col("u")), 1, 15), 16, 10).cast("long"))
      .select("doc_id", "hh")
    val mins = h.groupBy(col("doc_id"))
      .agg(slice(sort_array(collect_set(col("hh"))), 1, sketchK).as("mins"))
    val aexp = mins.select(col("doc_id").as("doc_a"), explode(col("mins")).as("hh"))
    val cand = aexp
      .join(h.select(col("doc_id").as("doc_b"), col("hh")), Seq("hh"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sa = s.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = s.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    cand.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .filter(size(col("sh_a")) > 0)
      .select(col("doc_a"), col("doc_b"),
        (floor(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(col("sh_a")) * 1e4 + 0.5) / 1e4).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** d49 — directed containment pairs on the documents corpus. */
  val d49ContainmentPairs: Q = Q(
    "d49_containment_pairs",
    Some("""
      WITH s AS (
        SELECT doc_id,
               list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END) AS sh
        FROM documents),
      h AS (
        SELECT doc_id, CAST(concat('0x', substr(md5(u), 1, 15)) AS BIGINT) AS hh
        FROM (SELECT doc_id, unnest(sh) AS u FROM s)),
      mins AS (
        SELECT doc_id, list_sort(list_distinct(list(hh)))[1:4] AS mins
        FROM h GROUP BY 1),
      aexp AS (SELECT doc_id AS doc_a, unnest(mins) AS hh FROM mins),
      cand AS (
        SELECT DISTINCT a.doc_a, b.doc_id AS doc_b
        FROM aexp a JOIN h b ON a.hh = b.hh AND a.doc_a <> b.doc_id),
      v AS (
        SELECT c.doc_a, c.doc_b,
               floor(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                     / len(sa.sh) * 1e4 + 0.5) / 1e4 AS containment
        FROM cand c
        JOIN s sa ON sa.doc_id = c.doc_a
        JOIN s sb ON sb.doc_id = c.doc_b
        WHERE len(sa.sh) > 0)
      SELECT doc_a, doc_b, containment FROM v WHERE containment >= 0.5
    """),
    (s, dir) => containmentPairs(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text"))

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): from the stride-1 k-token window
    * fingerprints, keep in each sliding window of `w` consecutive
    * positions the RIGHTMOST MINIMAL fingerprint. The selected set is
    * ~2/(w+1) of all windows yet carries the winnowing guarantee: any
    * match of length ≥ w+k−1 tokens between two documents shares at
    * least one SELECTED fingerprint — so near-dup/plagiarism candidate
    * generation can equi-join the winnowed set (w+1 times smaller)
    * instead of every window, with zero recall loss above the
    * guarantee threshold. This is the local-selection companion to
    * d21's global count test and d07's MinHash: same shared
    * window-fingerprint scan, a different downstream contract.
    *
    * Shape: one corpus scan (the span-family window projection), one
    * doc-key exchange, a bounded ROWS frame min, distinct. The
    * rightmost-minimal rule (min over (fp, −pos)) makes selection
    * deterministic and position-stable under content edits (the
    * robustness property the paper proves). */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "window sizes must be positive")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("start"))
      .rowsBetween(0, w - 1)
    spanWindows(docs, k)
      .withColumn("__sel",
        min(struct(col("fp"), (-col("start")).as("ns"))).over(byDoc))
      .withColumn("__n", count(lit(1)).over(byDoc))
      .filter(col("__n") === w) // only FULL winnow windows select
      .select(col("doc_id"), (-col("__sel.ns")).cast("long").as("pos"),
        col("__sel.fp").as("fp"))
      .distinct()
  }

  /** d59 — winnowed fingerprints of the documents corpus (k=4, w=4). */
  val d59Winnowing: Q = Q(
    "d59_winnowing",
    Some("""
      WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> '') AS toks
        FROM documents),
      wins AS (
        SELECT doc_id,
               unnest(generate_series(0, len(toks) - 4)) AS start, toks
        FROM t WHERE len(toks) >= 4),
      fps AS (
        SELECT doc_id, start,
               CAST(concat('0x', substr(md5(array_to_string(
                 toks[start + 1 : start + 4], ' ')), 1, 15)) AS BIGINT) AS fp
        FROM wins),
      sel AS (
        SELECT doc_id,
               min({'fp': fp, 'ns': -start}) OVER wd AS s,
               count(*) OVER wd AS n
        FROM fps
        WINDOW wd AS (PARTITION BY doc_id ORDER BY start
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
      SELECT DISTINCT doc_id, -s.ns AS pos, s.fp AS fp
      FROM sel WHERE n = 4
    """),
    (s, dir) => winnowFingerprints(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      k = 4, w = 4))

  /** Cross-split leakage report: near-dup `pairs` (doc_a, doc_b, ...)
    * whose endpoints landed in DIFFERENT splits of `splits` (doc_id,
    * split) — the evaluation-integrity check d12's exact-prefix
    * decontamination cannot make: a paraphrased test document leaks
    * into train at Jaccard 0.4 with a different prefix, and every
    * benchmark number trained on it is quietly inflated. Two equi-joins
    * of the O(duplicate rate) pair list against the (small, id→split)
    * assignment — never a corpus-sized shuffle; composes with ANY pair
    * generator (d06 blocked exact, d07 LSH, d08 simhash, d18 probe). */
  def crossSplitLeakage(pairs: DataFrame, splits: DataFrame): DataFrame =
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))

  /** d65 — near-dup leakage across the d11 train/val/test assignment,
    * pairs from the d06 deterministic prefix-blocked exact-Jaccard
    * miner (linear oracle at every gate scale, unlike the d07 wide-band
    * oracle). Detail rows, not counts: a leakage report's consumer is
    * the scrub job that drops one endpoint of each pair. */
  val d65SplitLeakage: Q = Q(
    "d65_split_leakage",
    Some("""
      WITH s AS (
        SELECT doc_id, md5(substr(text, 1, 40)) AS blk,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
               list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END) AS sh
        FROM documents),
      sp AS (
        SELECT doc_id, blk, sh,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        FROM s),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.split AS split_a, b.split AS split_b,
               round(CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
                     THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                          / len(list_distinct(a.sh || b.sh))
                     ELSE 0.0 END, 4) AS jaccard
        FROM sp a JOIN sp b ON a.blk = b.blk AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, split_a, split_b, jaccard
      FROM pairs
      WHERE jaccard >= 0.35 AND split_a <> split_b
    """),
    (s, dir) => {
      val pairs = d06NgramJaccardPairs.run(s, dir)
      val splits = Tables(s, dir, "documents")
        .select(col("doc_id"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long") % 100).as("bucket"))
        .select(col("doc_id"),
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test").as("split"))
      crossSplitLeakage(pairs, splits)
    })

  /** Dedup effectiveness report: the component-size HISTOGRAM of a
    * near-dup pair list plus the keep/drop arithmetic — the
    * observability artifact a dedup run publishes (how much boilerplate
    * is there? is one giant cluster eating the corpus? what fraction
    * survives keep-one?). Rows: one per component size, with the
    * component count, the documents involved, and the documents dropped
    * by keep-one (size − 1 each). Cost is [[connectedComponents]] over
    * the O(dup-rate) pair list + one component-sized aggregate — the
    * corpus itself is never touched. */
  def dedupReport(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("csize"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_components"))
      .select(col("csize"), col("n_components"),
        (col("csize") * col("n_components")).as("n_docs"),
        ((col("csize") - 1) * col("n_components")).as("n_dropped"))

  /** d70 — the report over the d06 blocked exact-Jaccard pairs, so the
    * oracle's transitive closure runs over the (few) blocked pairs and
    * stays LINEAR at every gate scale (d17's oracle is quadratic because
    * its PAIR GENERATION is brute-force; here the closure itself is the
    * only recursive part and it walks pair-list-sized data). */
  val d70DedupReport: Q = Q(
    "d70_dedup_report",
    Some("""
      WITH RECURSIVE s AS (
        SELECT doc_id, md5(substr(text, 1, 40)) AS blk,
               list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END) AS sh
        FROM documents),
      p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
              THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(a.sh || b.sh))
              ELSE 0.0 END >= 0.35),
      e AS (SELECT doc_a AS src, doc_b AS dst FROM p
            UNION SELECT doc_b, doc_a FROM p),
      reach(src, lbl) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM e)
        UNION
        SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.src),
      comp AS (SELECT src AS doc_id, min(lbl) AS component
               FROM reach GROUP BY 1),
      sizes AS (SELECT component, count(*) AS csize FROM comp GROUP BY 1)
      SELECT csize, count(*) AS n_components,
             csize * count(*) AS n_docs,
             (csize - 1) * count(*) AS n_dropped
      FROM sizes GROUP BY 1
    """),
    (s, dir) => dedupReport(
      d06NgramJaccardPairs.run(s, dir).select(col("doc_a"), col("doc_b"))))

  /** Quality-canonical near-dup collapse — d17's connected components
    * with the PRODUCTION survivor policy: each near-dup cluster keeps its
    * highest-QUALITY member (doc_id tiebreak), not its smallest id. This
    * is the selection real curation pipelines run (keep the best copy of
    * a syndicated article, not the first-crawled one); the emitted
    * n_members count is the cluster-size audit column a dedup report
    * wants next to every survivor.
    *
    * Scale shape: pair generation and components are the d17 machinery
    * (banded MinHash join + checkpoint-cut label propagation); the
    * survivor pick and the member count are two windows SHARING one
    * (component) partitioning — a single exchange, no join-back. The
    * ordering key is the floor@6 quality score, so the survivor choice
    * is as deterministic cross-engine as the score itself.
    *
    * Gate-equivalence bound (same asymmetry as d17, but here it moves
    * the SURVIVOR, not just a label): the engine pairs via 48×2 MinHash
    * banding and verifies with Jaccard rounded@4, while the oracle's
    * closure is exact all-pairs ≥ τ (rounded@4 to match the verify
    * predicate). A true pair at J ≥ τ escapes the banding with
    * probability (1 − J²)⁴⁸ ≤ 10⁻⁶ at τ = 0.5 — the quantified,
    * per-pair bound the d89 sweep test exercises; a banding miss would
    * split a cluster and surface as a survivor-set diff in the gate. */
  def canonicalBestQuality(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val pairs = minhashNearDupPairs(docs, nGram = 3, k = 96, bands = 48,
      rowsPerBand = 2, threshold = threshold)
    val cc = connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
    val labeled = docs
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"),
        TextStats.qualityScore(col("text")).as("quality"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
    labeled
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n_members", count(lit(1)).over(wAll))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("kept_doc"),
        col("quality"), col("n_members"))
  }

  val d82CanonicalBestQuality: Q = Q(
    "d82_canonical_best_quality",
    Some("""
      WITH RECURSIVE s AS (
        SELECT doc_id,
               list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END) AS sh
        FROM documents),
      ex AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM s a JOIN s b ON a.doc_id <> b.doc_id
        WHERE round(CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
              THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(a.sh || b.sh))
              ELSE 0.0 END, 4) >= 0.5),
      reach(src, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.doc_a, r.lbl FROM ex e JOIN reach r ON e.doc_b = r.src),
      comp AS (
        SELECT src AS doc_id, min(lbl) AS component
        FROM reach GROUP BY src),
      f AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
               length(text) AS n_ch,
               len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS stop
        FROM documents),
      q AS (
        SELECT doc_id,
               floor((least(n_tok / 100.0, 1.0) * 0.5 +
                      least(n_ch / 500.0, 1.0) * 0.3 +
                      least(CASE WHEN n_tok > 0 THEN CAST(stop AS DOUBLE)/n_tok ELSE 0.0 END * 5.0,
                            1.0) * 0.2) * 1e6 + 0.5) / 1e6 AS quality
        FROM f),
      j AS (
        SELECT c.component, q.doc_id, q.quality,
               row_number() OVER (PARTITION BY c.component
                                  ORDER BY q.quality DESC, q.doc_id ASC) AS rn,
               count(*) OVER (PARTITION BY c.component) AS n_members
        FROM comp c JOIN q USING (doc_id))
      SELECT component, doc_id AS kept_doc, quality,
             CAST(n_members AS BIGINT) AS n_members
      FROM j WHERE rn = 1
    """),
    (s, dir) => canonicalBestQuality(
      Tables(s, dir, "documents").select(col("doc_id"), col("text"))))

  /** Dedup-threshold tuning sweep — the report run BEFORE committing a
    * corpus-wide dedup pass: for each candidate Jaccard threshold, how
    * many near-dup pairs fire and how many distinct documents get
    * involved. Choosing τ on a 100 TB corpus is a one-number decision
    * with corpus-sized consequences (τ too low scrubs real content, too
    * high leaves boilerplate); this makes the dose-response curve a
    * single query. Pairs are generated ONCE by the d06 deterministic
    * prefix-blocked exact-Jaccard miner (unfiltered), then every
    * threshold is a conditional cut over the same pair relation — the
    * d74 sweep pattern applied to dedup tuning; the pair relation is
    * block-bounded, so the sweep costs one block-join regardless of how
    * many thresholds it reports. */
  /** The d06 pair miner WITHOUT the threshold cut — shared by the d06
    * gate and the threshold sweep so the blocking key, shingle width and
    * rounding can never drift apart. */
  def blockedJaccardPairs(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"),
      TextStats.prefixFingerprint(col("text"), 40).as("blk"),
      shingles(col("text"), 3).as("sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("blk"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("blk").as("blk_b"),
      col("sh").as("sh_b"))
    a.join(b, col("blk") === col("blk_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(jaccardDistinct(col("sh_a"), col("sh_b")), 4).as("jaccard"))
  }

  def dedupThresholdSweep(docs: DataFrame,
      thresholds: Seq[Double]): DataFrame =
    thresholdSweepOverPairs(blockedJaccardPairs(docs), thresholds)

  /** The sweep over ANY scored pair relation `(doc_a, doc_b, jaccard)` —
    * the composition point: at 100 TB the pair generator is d07's
    * MinHash+LSH candidate-verify path (or d08's SimHash banding), not
    * the blocked exact miner; the sweep arithmetic is identical either
    * way and costs one conditional aggregate over the pair relation.
    * Every requested threshold appears in the report — a τ no pair
    * reaches emits (τ, 0, 0), so "zero pairs at τ" and "τ never swept"
    * stay distinguishable. */
  def thresholdSweepOverPairs(pairs: DataFrame,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val thrDf = graft.LocalTable.of(pairs.sparkSession,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tau",
          org.apache.spark.sql.types.DoubleType))),
      thresholds.map(t => org.apache.spark.sql.Row(t)))
    val counts = pairs.crossJoin(broadcast(thrDf))
      .filter(col("jaccard") >= col("tau"))
      .select(col("tau"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy(col("tau"))
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct(col("doc")).as("n_docs_involved"))
    thrDf.join(counts, Seq("tau"), "left")
      .select(col("tau"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_involved"), lit(0L)).as("n_docs_involved"))
  }

  /** Threshold-sweep gate over the d06 pair generator at five τ levels;
    * the oracle replays the block join and every cut, so a pair counted
    * under the wrong τ or a doc double-counted in the involvement set
    * diverges on concrete counts. */
  val d89DedupThresholdSweep: Q = Q(
    "d89_dedup_threshold_sweep",
    Some("""
      WITH s AS (
        SELECT doc_id, md5(substr(text, 1, 40)) AS blk,
               list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END) AS sh
        FROM documents),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
                     THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                          / len(list_distinct(a.sh || b.sh))
                     ELSE 0.0 END, 4) AS jaccard
        FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id),
      thr AS (
        SELECT unnest([CAST(0.35 AS DOUBLE), CAST(0.5 AS DOUBLE),
                       CAST(0.65 AS DOUBLE), CAST(0.8 AS DOUBLE),
                       CAST(0.95 AS DOUBLE)]) AS tau),
      hit AS (
        SELECT t.tau, p.doc_a, p.doc_b
        FROM pairs p CROSS JOIN thr t WHERE p.jaccard >= t.tau),
      ex AS (
        SELECT tau, u.doc FROM hit, unnest([doc_a, doc_b]) AS u(doc)),
      cnt AS (
        SELECT tau, CAST(count(*) / 2 AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT doc) AS BIGINT) AS n_docs_involved
        FROM ex GROUP BY tau)
      SELECT thr.tau, coalesce(cnt.n_pairs, 0) AS n_pairs,
             coalesce(cnt.n_docs_involved, 0) AS n_docs_involved
      FROM thr LEFT JOIN cnt USING (tau)
    """),
    (s, dir) => dedupThresholdSweep(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      thresholds = Seq(0.35, 0.5, 0.65, 0.8, 0.95)))

  /** d89b — the SAME sweep arithmetic over the PRODUCTION pair
    * generator: d07's MinHash+LSH candidates-then-verify pipeline (wide
    * 48×2 banding, exact verify at τ₀ = 0.5). d89 prices thresholds
    * over the blocked exact miner — an oracle-friendly regime whose
    * 100× stress ratio deliberately rides d06's quadratic-oracle
    * design; THIS gate prices the path a 100 TB corpus would actually
    * run, so the sweep's production posture is itself driver-gated.
    * Every swept τ is ≥ τ₀, so the verified pair relation is exactly
    * the sweep's support and the banding-recall bound is d07's
    * ((1−J²)⁴⁸ ≤ 10⁻⁶ at the τ₀ boundary). The oracle replays the
    * exact brute-force pair set ≥ τ₀ (round@4, the verify predicate)
    * and every cut — all-pairs lives ONLY in the oracle; the engine
    * side is banded candidates ∝ n, then one conditional aggregate. */
  val d89bLshThresholdSweep: Q = Q(
    "d89b_lsh_threshold_sweep",
    Some("""
      WITH s AS (
        SELECT doc_id,
               list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END) AS sh
        FROM documents),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
                     THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                          / len(list_distinct(a.sh || b.sh))
                     ELSE 0.0 END, 4) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id),
      thr AS (
        SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.65 AS DOUBLE),
                       CAST(0.8 AS DOUBLE), CAST(0.95 AS DOUBLE)]) AS tau),
      hit AS (
        SELECT t.tau, p.doc_a, p.doc_b
        FROM pairs p CROSS JOIN thr t WHERE p.jaccard >= t.tau),
      ex AS (
        SELECT tau, u.doc FROM hit, unnest([doc_a, doc_b]) AS u(doc)),
      cnt AS (
        SELECT tau, CAST(count(*) / 2 AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT doc) AS BIGINT) AS n_docs_involved
        FROM ex GROUP BY tau)
      SELECT thr.tau, coalesce(cnt.n_pairs, 0) AS n_pairs,
             coalesce(cnt.n_docs_involved, 0) AS n_docs_involved
      FROM thr LEFT JOIN cnt USING (tau)
    """),
    (s, dir) => thresholdSweepOverPairs(
      minhashNearDupPairs(
        Tables(s, dir, "documents").select(col("doc_id"), col("text")),
        nGram = 3, k = 96, bands = 48, rowsPerBand = 2, threshold = 0.5),
      thresholds = Seq(0.5, 0.65, 0.8, 0.95)))

  val all: Seq[Q] = Seq(d06NgramJaccardPairs, d07MinhashLsh, d08SimhashPairs,
    d17NeardupComponents, d18IncrementalProbe, d19IncrementalComponents,
    d20ArchiveProbe, d21SpanDedup, d22SpanScrub, d23SpanDedupKeepFirst,
    d24IncrementalSpanDedup, d27BloomNewDocs, d32CdcChunks,
    d49ContainmentPairs, d59Winnowing, d65SplitLeakage, d70DedupReport,
    d71IndexAppendLifecycle, d73BoilerplateScrub, d77BoilerplateLifecycle,
    d78IndexRetract, d79IncrementalCuration, d82CanonicalBestQuality,
    d89DedupThresholdSweep, d89bLshThresholdSweep)
}
