package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.{Lineage, Q, Tables}

/** Text-analysis operators for an LLM training-data pipeline (BASELINE
  * north star): token counting, quality scoring, n-gram-heuristic language
  * ID, and document fingerprinting — all pure codegen'd Column expressions
  * over the `documents` table, verified against the DuckDB oracle.
  *
  * Scale posture: every operator is a stateless per-row projection — no
  * shuffle at all until the final aggregate, so a 100 TB corpus maps to a
  * pure scan→project pipeline with full pushdown.
  */
object TextStats {

  /** Whitespace tokens with an empty-string guard (split("") yields [""],
    * not []). */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Deterministic positional-rebuild aggregate — THE one rebuild function
    * shared by every token-surgery operator that reassembles documents
    * from per-token rows (d38 rare-token scrub, d44 span corruption; the
    * d22 span scrub rebuilds via a higher-order filter because it never
    * explodes). Collects the group's rows as (order..., payload) structs,
    * totally orders them with array_sort — struct comparison is
    * field-by-field, so a UNIQUE ordering prefix yields ONE canonical
    * array regardless of collect_list's arrival order, input partitioning,
    * speculative retries or merge order — and joins the payloads with
    * single spaces. Callers must pass an ordering prefix that is unique
    * within the group (a position, or (position, sub-rank)). */
  def positionalRebuild(payload: Column, order: Column*): Column = {
    val fields = order.zipWithIndex.map { case (c, i) => c.as(s"o$i") } :+
      payload.as("t")
    array_join(
      transform(array_sort(collect_list(struct(fields: _*))),
        x => x.getField("t")),
      " ")
  }

  /** Unicode canonicalization (NFD → strip combining marks → NFC →
    * ROOT-locale lowercase → collapse ASCII whitespace → trim) as the
    * codegen'd kernel [[graft.plans.NormalizeTextExpr]] — the cleaning
    * pass run before dedup/fingerprinting so 'Crème  Brûlée' and
    * 'creme brulee' canonicalize identically. */
  def normalizeText(c: Column): Column =
    graft.plans.NormalizeTextExpr.normalizeText(c)

  /** Per-language stopword regexes for the n-gram language heuristic.
    * Deliberately tiny — the heuristic is argmax of hit counts with a
    * deterministic preference order on ties. */
  val stopwords: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|of|and|to|in|is)\\b",
    "es" -> "\\b(el|la|los|de|que|y|un)\\b",
    "de" -> "\\b(der|die|das|und|ist|ein)\\b",
    "fr" -> "\\b(le|les|des|et|est|une)\\b",
    "zh" -> "(的|了|是|在|和)")

  def langScores(c: Column): Seq[(String, Column)] =
    stopwords.map { case (lang, re) => lang -> regexp_count(lower(c), lit(re)) }

  /** Argmax over language scores, ties resolved by list order (en first). */
  def langId(c: Column): Column = {
    val scores = langScores(c)
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === maxScore && maxScore > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Heuristic quality score in [0,1]: length, token count and stopword
    * density (the reference-style length/punct/stopword family). */
  def qualityScore(c: Column): Column = {
    val nTok = tokenCount(c).cast("double")
    val nCh  = length(c).cast("double")
    val stop = regexp_count(lower(c), lit(stopwords.head._2)).cast("double")
    val stopRatio = when(nTok > 0, stop / nTok).otherwise(lit(0.0))
    // floor@6, not round@6: the stopword term is a ratio of exact
    // integers (stop/nTok), the documented cross-engine round() trap —
    // and d30 compares this value against a threshold, where a midpoint
    // divergence would flip membership.
    floor((
      least(nTok / 100.0, lit(1.0)) * 0.5 +
      least(nCh / 500.0, lit(1.0)) * 0.3 +
      least(stopRatio * 5.0, lit(1.0)) * 0.2) * 1e6 + 0.5) / 1e6
  }

  /** Normalized-content fingerprint (rolling-hash family): md5 of the
    * whitespace-collapsed lowercase text. */
  def fingerprint(c: Column): Column =
    md5(lower(regexp_replace(trim(c), "\\s+", " ")))

  /** Prefix fingerprint used as a dedup blocking key. */
  def prefixFingerprint(c: Column, n: Int): Column =
    md5(substring(c, 1, n))

  // ---- catalog queries -----------------------------------------------

  val d01TokenStats: Q = Q(
    "d01_token_stats",
    Some("""
      SELECT doc_id,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
             CAST(length(text) AS INTEGER) AS n_chars_m,
             round(CASE WHEN length(trim(text)) = 0 THEN 0.0
                   ELSE CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
                        / len(regexp_split_to_array(trim(text), '\s+')) END, 4) AS avg_token_len
      FROM documents
    """),
    (s, dir) => {
      val t = Tables(s, dir, "documents")
      val nTok = tokenCount(col("text"))
      val squashed = length(regexp_replace(trim(col("text")), "\\s+", ""))
      t.select(
        col("doc_id"),
        nTok.as("n_tokens"),
        length(col("text")).as("n_chars_m"),
        round(when(nTok > 0, squashed.cast("double") / nTok.cast("double"))
          .otherwise(lit(0.0)), 4).as("avg_token_len"))
    })

  val d02LangId: Q = Q(
    "d02_lang_id",
    Some("""
      WITH scored AS (
        SELECT lang,
               CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS INTEGER) AS s_en,
               CAST(len(regexp_extract_all(lower(text), '\b(el|la|los|de|que|y|un)\b')) AS INTEGER) AS s_es,
               CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) AS INTEGER) AS s_de,
               CAST(len(regexp_extract_all(lower(text), '\b(le|les|des|et|est|une)\b')) AS INTEGER) AS s_fr,
               CAST(len(regexp_extract_all(lower(text), '(的|了|是|在|和)')) AS INTEGER) AS s_zh
        FROM documents),
      pred AS (
        SELECT lang,
               CASE
                 WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_en > 0 THEN 'en'
                 WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_es > 0 THEN 'es'
                 WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_de > 0 THEN 'de'
                 WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
                 WHEN s_zh = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
                 ELSE 'und' END AS lang_pred
        FROM scored)
      SELECT lang, lang_pred, count(*) AS n
      FROM pred GROUP BY 1, 2
    """),
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("lang"), langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n")))

  val d03QualityScore: Q = Q(
    "d03_quality_score",
    Some("""
      WITH f AS (
        SELECT source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
               length(text) AS n_ch,
               len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS stop
        FROM documents),
      q AS (
        SELECT source,
               floor((least(n_tok / 100.0, 1.0) * 0.5 +
                      least(n_ch / 500.0, 1.0) * 0.3 +
                      least(CASE WHEN n_tok > 0 THEN CAST(stop AS DOUBLE)/n_tok ELSE 0.0 END * 5.0,
                            1.0) * 0.2) * 1e6 + 0.5) / 1e6 AS quality
        FROM f)
      SELECT source, round(avg(quality), 6) AS avg_quality, count(*) AS n_docs
      FROM q GROUP BY source
    """),
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("source"), qualityScore(col("text")).as("quality"))
        .groupBy("source")
        .agg(round(avg(col("quality")), 6).as("avg_quality"), count(lit(1)).as("n_docs")))

  /** Exact-dedup accounting per source: full-text fingerprint distinct
    * counts (hash-groupBy exact dedup — the canonical first pass of a
    * training-data dedup pipeline). */
  val d04ExactDedup: Q = Q(
    "d04_exact_dedup",
    Some("""
      SELECT source,
             count(*) AS n_docs,
             count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS n_unique
      FROM documents GROUP BY source
    """),
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("source"), fingerprint(col("text")).as("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_unique")))

  /** Prefix-fingerprint dedup groups: documents sharing an 80-char prefix
    * collapse to a canonical (min doc_id) — surfaces the injected
    * near-duplicates. */
  val d05PrefixDedupGroups: Q = Q(
    "d05_prefix_dedup_groups",
    Some("""
      SELECT md5(substr(text, 1, 80)) AS fp,
             count(*) AS n_docs,
             min(doc_id) AS canonical_doc_id
      FROM documents
      GROUP BY 1 HAVING count(*) > 1
    """),
    (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(prefixFingerprint(col("text"), 80).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc_id"))
        .filter(col("n_docs") > 1))

  /** PII scrubbing — masking emails / CPF / BR phone numbers before text
    * lands in a training corpus. The corpus is synthetic, so each doc is
    * first salted with DETERMINISTIC PII built from its id (both engines
    * construct the identical string), then scrubbed; counts come from
    * regexp_count. Patterns stay in the Java∩RE2 common subset (character
    * classes only — no lookaround) so Spark and DuckDB agree. */
  val d09PiiScrub: Q = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val cpf = "\\d{3}\\.\\d{3}\\.\\d{3}-\\d{2}"
    val phone = "\\(\\d{2}\\) \\d{4,5}-\\d{4}"
    Q(
      "d09_pii_scrub",
      Some(s"""
        WITH salted AS (
          SELECT doc_id,
                 text || ' contato: user' || CAST(doc_id AS VARCHAR)
                      || '@example.com cpf 123.456.789-0' || CAST(doc_id % 10 AS VARCHAR)
                      || ' tel (85) 9999-000' || CAST(doc_id % 10 AS VARCHAR) AS t
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '$email')) AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(t, '$cpf')) AS INTEGER) AS n_cpfs,
               CAST(len(regexp_extract_all(t, '$phone')) AS INTEGER) AS n_phones,
               substr(regexp_replace(regexp_replace(regexp_replace(t,
                 '$email', '[EMAIL]', 'g'), '$cpf', '[CPF]', 'g'),
                 '$phone', '[PHONE]', 'g'), 1, 80) AS scrubbed_prefix
        FROM salted
      """),
      (s, dir) => {
        val salted = Tables(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(" contato: user"), col("doc_id").cast("string"),
            lit("@example.com cpf 123.456.789-0"), (col("doc_id") % 10).cast("string"),
            lit(" tel (85) 9999-000"), (col("doc_id") % 10).cast("string")).as("t"))
        salted.select(col("doc_id"),
          regexp_count(col("t"), lit(email)).cast("int").as("n_emails"),
          regexp_count(col("t"), lit(cpf)).cast("int").as("n_cpfs"),
          regexp_count(col("t"), lit(phone)).cast("int").as("n_phones"),
          substring(regexp_replace(regexp_replace(regexp_replace(col("t"),
            email, "[EMAIL]"), cpf, "[CPF]"), phone, "[PHONE]"), 1, 80)
            .as("scrubbed_prefix"))
      })
  }

  /** Vocabulary building — the corpus token count table every tokenizer
    * train run starts from: explode tokens → count → deterministic top-50
    * (count desc, token asc). Map-side partial aggregation makes this one
    * shuffle of distinct tokens regardless of corpus size. */
  val d10Vocabulary: Q = Q(
    "d10_vocabulary",
    Some("""
      WITH toks AS (
        SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
               t -> t <> '')) AS token
        FROM documents)
      SELECT token, count(*) AS freq
      FROM toks
      GROUP BY token
      ORDER BY freq DESC, token ASC
      LIMIT 50
    """),
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(50))

  /** Deterministic hash-based train/val/test split — THE canonical
    * training-data assignment: bucket = md5-derived hash of the doc id
    * mod 100 (cross-engine reproducible, stable under reruns and
    * repartitioning, no RNG), 80/10/10. Aggregated per split so the gate
    * checks the whole assignment, not a sample. */
  val d11SplitAssign: Q = Q(
    "d11_split_assign",
    Some("""
      WITH assigned AS (
        SELECT doc_id, n_chars,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        FROM documents)
      SELECT CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
             count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM assigned
      GROUP BY 1
    """),
    (s, dir) => {
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100).as("bucket")
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), bucket)
        .select(
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test").as("split"),
          col("n_chars"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
    })

  /** Train/test contamination check (decontamination pass): d11's test
    * split joined against its train split on the shared-prefix
    * fingerprint (overlap detection by content prefix, the practical
    * decontamination criterion — exact full-text equality misses
    * near-copies). Equi-join on the fingerprint — never a cross-split
    * scan; at 100 TB both sides are one shuffle on the hash. */
  val d12Contamination: Q = Q(
    "d12_contamination",
    Some("""
      WITH assigned AS (
        SELECT doc_id, text,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        FROM documents),
      fp AS (
        SELECT doc_id, bucket, md5(substr(text, 1, 40)) AS fp
        FROM assigned)
      SELECT t.doc_id AS test_doc, tr.doc_id AS train_doc
      FROM fp t JOIN fp tr ON t.fp = tr.fp
      WHERE t.bucket >= 90 AND tr.bucket < 80
    """),
    (s, dir) => {
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100).as("bucket")
      val fp = Tables(s, dir, "documents")
        .select(col("doc_id"), bucket, prefixFingerprint(col("text"), 40).as("fp"))
      val test = fp.filter(col("bucket") >= 90)
        .select(col("doc_id").as("test_doc"), col("fp"))
      val train = fp.filter(col("bucket") < 80)
        .select(col("doc_id").as("train_doc"), col("fp"))
      test.join(train, "fp").select(col("test_doc"), col("train_doc"))
    })

  /** Intra-document repetition ratio — the boilerplate/spam signal every
    * corpus quality filter computes: 1 − distinct/total 3-gram shingles.
    * Pure projection, no shuffle. */
  val d13RepetitionRatio: Q = Q(
    "d13_repetition_ratio",
    Some("""
      WITH t AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
               len(list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END)) AS n_distinct
        FROM documents)
      SELECT doc_id,
             CAST(n_distinct AS INTEGER) AS distinct_shingles,
             round(CASE WHEN n_tok >= 3
                   THEN 1.0 - CAST(n_distinct AS DOUBLE) / (n_tok - 2)
                   ELSE 0.0 END, 4) AS rep_ratio
      FROM t
    """),
    (s, dir) => {
      val t = Tables(s, dir, "documents")
      val nTok = tokenCount(col("text"))
      val nDistinct = size(graft.plans.ShinglesExpr.shingles(col("text"), 3))
      t.select(col("doc_id"),
        nDistinct.cast("int").as("distinct_shingles"),
        round(when(nTok >= 3,
          lit(1.0) - nDistinct.cast("double") / (nTok - 2).cast("double"))
          .otherwise(lit(0.0)), 4).as("rep_ratio"))
    })

  /** Deterministic stratified sampling — the data-mixing primitive of a
    * training-data pipeline: per-stratum keep rates (downsample the
    * dominant language, keep rarer strata fully) applied via a seeded
    * hash bucket, so the sample is reproducible, cluster-order-
    * independent, and retry-safe (no rand()). The rates ride in a tiny
    * broadcast dim exactly as they would from a config table at 100 TB;
    * strata absent from the table default to keep-everything. The hash
    * is salted ('samp:') so sampling stays independent of d11's
    * train/val/test assignment. */
  val d14StratifiedSample: Q = Q(
    "d14_stratified_sample",
    Some("""
      WITH rates AS (
        SELECT * FROM (VALUES ('en', 20), ('zh', 100), ('es', 50), ('de', 50))
               AS r(lang, pct)),
      b AS (
        SELECT doc_id, lang,
               CAST(concat('0x', substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        FROM documents)
      SELECT b.doc_id, b.lang
      FROM b LEFT JOIN rates r ON b.lang = r.lang
      WHERE b.bucket < coalesce(r.pct, 100)
    """),
    (s, dir) => {
      val rates = graft.LocalTable.of(s,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("r_lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("pct",
            org.apache.spark.sql.types.IntegerType))),
        Seq(org.apache.spark.sql.Row("en", 20), org.apache.spark.sql.Row("zh", 100),
          org.apache.spark.sql.Row("es", 50), org.apache.spark.sql.Row("de", 50)))
      val bucket = conv(substring(md5(concat(lit("samp:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), bucket.as("bucket"))
        .join(broadcast(rates), col("lang") === col("r_lang"), "left")
        .filter(col("bucket") < coalesce(col("pct"), lit(100)))
        .select(col("doc_id"), col("lang"))
    })

  /** Per-source document cap — the web-curation quota that stops any one
    * domain from dominating the training mix (the C4/Gopher
    * de-domination pass; d14's rate sampling thins by FRACTION, this
    * caps by ABSOLUTE count): keep at most `cap` documents per source,
    * preferring longer documents with a doc_id tiebreak so the keep set
    * is deterministic. Rank-limit shape: the rank column is dropped, so
    * the [[graft.plans.RankLimitRewrite]] plans this as TopKPerGroupExec
    * — per-source top-K with NO full per-source sort materialization, a
    * bounded heap per group at 100 TB. */
  def domainCap(docs: DataFrame, cap: Int, sourceCol: String = "source",
      sizeCol: String = "n_chars"): DataFrame = {
    require(cap >= 1, "cap must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(col(sizeCol).desc, col("doc_id").asc)
    docs.select(col(sourceCol), col("doc_id"), col(sizeCol))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .drop("rn")
  }

  /** Domain-cap gate: 15 docs max per source, longest-first. */
  val d72DomainCap: Q = Q(
    "d72_domain_cap",
    Some("""
      SELECT source, doc_id, n_chars
      FROM (SELECT source, doc_id, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM documents) t
      WHERE rn <= 15
    """),
    (s, dir) => domainCap(Tables(s, dir, "documents"), cap = 15))

  /** Sliding-window document chunking — the context-window primitive of
    * RAG/pretraining pipelines: token windows of 32 with stride 16, one
    * output row per (doc, chunk) carrying the chunk's token count and a
    * content fingerprint (chunk-level dedup key). Tokenization is
    * materialized in its own projection BEFORE the window transform so
    * the per-chunk lambda references an attribute instead of re-inlining
    * the regexp split per iteration (the HOF re-evaluation trap —
    * see plans.ShinglesExpr). Pure projection + explode: no shuffle,
    * chunk count bounded by ceil(max(n-32,0)/16)+1. */
  val d15Chunking: Q = Q(
    "d15_chunking",
    Some("""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      b AS (
        SELECT doc_id, toks,
               greatest(CAST(ceil((len(toks) - 32) / 16.0) AS INT), 0) AS k
        FROM t),
      c AS (
        SELECT doc_id, i AS chunk_id, toks[i*16+1 : i*16+32] AS chunk
        FROM b, unnest(generate_series(0, k)) u(i))
      SELECT doc_id, chunk_id, CAST(len(chunk) AS BIGINT) AS n_tokens,
             md5(array_to_string(chunk, ' ')) AS fingerprint
      FROM c
    """),
    (s, dir) => {
      val toked = Tables(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val k = greatest(
        ceil((size(col("toks")) - 32).cast("double") / 16.0).cast("int"), lit(0))
      toked
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), k),
            i => slice(col("toks"), i * 16 + 1, lit(32)))).as(Seq("chunk_id", "chunk")))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("chunk"))).as("fingerprint"))
    })

  /** Number of packing shards for an input of `estimatedSizeMb`: one
    * shard per ~`targetShardMb` of input, minimum 1 — writer parallelism
    * scales with data volume instead of a fixed constant (a hard-coded 8
    * is an 8-task ceiling at 100 TB). */
  def packingShards(estimatedSizeMb: Long, targetShardMb: Long = 512L): Int = {
    require(targetShardMb > 0, "targetShardMb must be positive")
    require(estimatedSizeMb >= 0, "estimatedSizeMb must be non-negative")
    // overflow-safe ceil-divide + Int clamp: a stat-less plan can hand
    // this the Long.MaxValue defaultSizeInBytes sentinel, and a naive
    // (mb + target - 1).toInt wraps to 0 or a garbage shard count
    val shards = estimatedSizeMb / targetShardMb +
      (if (estimatedSizeMb % targetShardMb > 0) 1L else 0L)
    math.min(Int.MaxValue.toLong, math.max(1L, shards)).toInt
  }

  /** Reusable concat-and-chop sequence packing over (doc_id, text) with
    * an explicit shard count — see d16 for the shape. Shard count should
    * come from packingShards(estimatedInputMb) in production; the gate
    * query pins 8 for oracle parity. */
  def sequencePacking(docs: DataFrame, seqLen: Int, shards: Int): DataFrame = {
    require(seqLen > 0 && shards > 0, "seqLen and shards must be positive")
    val shard = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % shards).as("shard")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), shard,
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor(col("cum_before") / seqLen).cast("long").as("first_seq"),
        floor((col("cum_before") + col("n_tokens") - 1) / seqLen).cast("long").as("last_seq"))
  }

  /** sequencePacking with the shard count derived from Catalyst's size
    * estimate of the input plan — the auto-scaling entry point: parquet
    * file statistics drive `sizeInBytes`, so a 100 TB scan gets ~200k
    * shards at the default 512 MB target while a toy input packs in one. */
  def sequencePackingAuto(docs: DataFrame, seqLen: Int,
      targetShardMb: Long = 512L): DataFrame = {
    val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    // stat-less leaves (JDBC, streaming, some views) report the
    // spark.sql.defaultSizeInBytes sentinel (Long.MaxValue by default) —
    // that is "unknown", not "huge": fall back to the cluster's default
    // parallelism instead of planning 2^31 shards off garbage stats
    val sentinel = BigInt(
      docs.sparkSession.sessionState.conf.defaultSizeInBytes)
    val shards =
      if (bytes >= sentinel) docs.sparkSession.sparkContext.defaultParallelism
      else packingShards(
        (bytes / (1024L * 1024L)).min(BigInt(Long.MaxValue)).toLong,
        targetShardMb)
    sequencePacking(docs, seqLen, shards)
  }

  /** Concat-and-chop sequence packing — how pretraining pipelines fill
    * fixed context windows: documents are concatenated per shard and the
    * token stream is chopped into 512-token sequences, so each doc maps
    * to a span [first_seq, last_seq] of the sequences it lands in.
    * Sharding is the deterministic md5 bucket (pinned at 8 here for
    * oracle parity; production derives the count via packingShards),
    * packing within a shard is a running token total over doc_id order —
    * one window per shard partition, no global exchange, shards pack in
    * parallel exactly as 8 writer tasks would. */
  val d16SequencePacking: Q = Q(
    "d16_sequence_packing",
    Some("""
      WITH t AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, shard, n_tokens,
               coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM t)
      SELECT doc_id, shard, n_tokens,
             CAST(floor(cum_before / 512) AS BIGINT) AS first_seq,
             CAST(floor((cum_before + n_tokens - 1) / 512) AS BIGINT) AS last_seq
      FROM c
    """),
    (s, dir) => sequencePacking(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      seqLen = 512, shards = 8))

  /** No-split greedy sequence packing — the OTHER standard packing mode
    * next to d16's concat-and-chop: examples never cross a sequence
    * boundary (concat-and-chop splits documents, which some objectives
    * tolerate and instruction tuning does not), so a document that would
    * overflow the current window starts a new one and the unfilled tail
    * is real padding waste. Per shard, docs pack in doc_id order under
    * the single rule `fill + n > seqLen ⇒ new sequence with fill = n`
    * (the first doc of a shard opens sequence 0 unconditionally — an
    * oversized doc gets its own oversized sequence rather than being
    * split or dropped).
    *
    * A running total WITH RESETS is not expressible as a window prefix
    * sum, so this is the engine's one honest tier-(d) operator: per-shard
    * sequential fold via `flatMapGroups` — exactly the computation a
    * writer task performs, with state bounded by ONE shard (production
    * derives the shard count from [[packingShards]], so a shard is one
    * writer-task's worth of docs by construction). Everything is integer
    * arithmetic — no float surface at all. */
  def greedyPacking(docs: DataFrame, seqLen: Int, shards: Int): DataFrame = {
    require(seqLen > 0 && shards > 0, "seqLen and shards must be positive")
    val shard = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % shards).as("shard")
    val base = docs.select(shard, col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    implicit val encIn = org.apache.spark.sql.Encoders.product[(Long, Long, Long)]
    implicit val encOut =
      org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long, Long)]
    base.as[(Long, Long, Long)]
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroups { (sh: Long, it: Iterator[(Long, Long, Long)]) =>
        val docsSorted = it.toArray.sortBy(_._2) // shard-bounded buffer
        var seq = 0L
        var fill = 0L
        var first = true
        docsSorted.iterator.map { case (_, id, n) =>
          if (first) { fill = n; first = false }
          else if (fill + n > seqLen) { seq += 1; fill = n }
          else fill += n
          (sh, id, n, seq, fill)
        }
      }
      .toDF("shard", "doc_id", "n_tokens", "seq_idx", "seq_fill")
  }

  /** Greedy-packing gate (512-token windows, 8 shards — d16's regime, so
    * the two packing modes are directly comparable): the oracle unrolls
    * the per-shard fold as a linear recursive CTE, so a reset taken or
    * skipped at any boundary diverges on every subsequent row of that
    * shard. */
  val d92GreedyPacking: Q = Q(
    "d92_greedy_packing",
    Some("""
      WITH RECURSIVE t AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      r AS (
        SELECT doc_id, shard, n_tokens,
               row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
        FROM t),
      rec(shard, rn, doc_id, n_tokens, seq_idx, fill) AS (
        SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.shard, r.rn, r.doc_id, r.n_tokens,
               CASE WHEN p.fill + r.n_tokens > 512
                    THEN p.seq_idx + 1 ELSE p.seq_idx END,
               CASE WHEN p.fill + r.n_tokens > 512
                    THEN r.n_tokens ELSE p.fill + r.n_tokens END
        FROM rec p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1)
      SELECT shard, doc_id, n_tokens, seq_idx, fill AS seq_fill
      FROM rec
    """),
    (s, dir) => greedyPacking(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      seqLen = 512, shards = 8))

  /** Packing-efficiency report — the decision table for the d16-vs-d92
    * choice: for the SAME corpus, shard count and window size, each
    * packing mode's sequence count, padding cost and token efficiency.
    * Concat-and-chop wastes only shard tails (its selling point);
    * no-split greedy pays real padding per window but never splits an
    * example — this query prices that trade so the context-length /
    * packing-mode decision is one SELECT instead of a hunch.
    *
    * Capacity accounting: a sequence's capacity is max(seqLen, its
    * token total) — an oversized no-split document fills its own
    * oversized sequence exactly, contributing zero padding.
    * `efficiency = tokens / (tokens + padding)`, floor@6 (the one float
    * in the report; everything else is exact integers). */
  def packingReport(docs: DataFrame, seqLen: Int, shards: Int): DataFrame = {
    require(seqLen > 0 && shards > 0, "seqLen and shards must be positive")
    val shard = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % shards).as("shard")
    val base = docs.select(shard, col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    // concat-and-chop: per shard, ceil(total/seqLen) windows as EXACT
    // long ceil-division — a double-division floor would silently lose
    // exactness once a shard's token total passes 2^53, breaking the
    // module's otherwise integer-only packing arithmetic (the d92
    // no-float-surface discipline)
    val chop = base.groupBy(col("shard")).agg(sum(col("n_tokens")).as("tot"))
      .select(col("tot"),
        expr(s"(tot + ${seqLen - 1}) div $seqLen").as("n_seqs"))
      .agg(sum(col("n_seqs")).as("n_seqs"), sum(col("tot")).as("n_tokens"),
        (sum(col("n_seqs")) * seqLen - sum(col("tot"))).as("padding"))
      .select(lit("concat_chop").as("mode"), col("n_seqs"), col("n_tokens"),
        col("padding"))
    // no-split greedy: per (shard, seq) the running fill's max is the
    // sequence total; capacity max(seqLen, total) ⇒ oversized pads zero
    val greedy = greedyPacking(docs, seqLen, shards)
      .groupBy(col("shard"), col("seq_idx"))
      .agg(max(col("seq_fill")).as("seq_tot"))
      .agg(count(lit(1)).as("n_seqs"), sum(col("seq_tot")).as("n_tokens"),
        sum(greatest(lit(seqLen.toLong), col("seq_tot")) - col("seq_tot"))
          .as("padding"))
      .select(lit("greedy_nosplit").as("mode"), col("n_seqs"),
        col("n_tokens"), col("padding"))
    chop.unionByName(greedy)
      .select(col("mode"), col("n_seqs"), col("n_tokens"), col("padding"),
        (floor(col("n_tokens").cast("double") /
          (col("n_tokens") + col("padding")) * 1e6 + 0.5) / 1e6)
          .as("efficiency"))
  }

  /** Packing-report gate at the shared d16/d92 regime (512 tokens,
    * 8 shards); the oracle recomputes both modes' accounting — the chop
    * side from the per-shard ceil arithmetic, the greedy side by
    * re-running the recursive fold and aggregating its windows. */
  val d93PackingReport: Q = Q(
    "d93_packing_report",
    Some("""
      WITH RECURSIVE t AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      sh AS (SELECT shard, sum(n_tokens) AS tot FROM t GROUP BY 1),
      chop AS (
        SELECT 'concat_chop' AS mode,
               CAST(sum((tot + 511) // 512) AS BIGINT) AS n_seqs,
               CAST(sum(tot) AS BIGINT) AS n_tokens,
               CAST(sum((tot + 511) // 512) * 512
                    - sum(tot) AS BIGINT) AS padding
        FROM sh),
      r AS (
        SELECT doc_id, shard, n_tokens,
               row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
        FROM t),
      rec(shard, rn, n_tokens, seq_idx, fill) AS (
        SELECT shard, rn, n_tokens, CAST(0 AS BIGINT), n_tokens
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.shard, r.rn, r.n_tokens,
               CASE WHEN p.fill + r.n_tokens > 512
                    THEN p.seq_idx + 1 ELSE p.seq_idx END,
               CASE WHEN p.fill + r.n_tokens > 512
                    THEN r.n_tokens ELSE p.fill + r.n_tokens END
        FROM rec p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1),
      seqs AS (
        SELECT shard, seq_idx, max(fill) AS seq_tot
        FROM rec GROUP BY 1, 2),
      greedy AS (
        SELECT 'greedy_nosplit' AS mode,
               CAST(count(*) AS BIGINT) AS n_seqs,
               CAST(sum(seq_tot) AS BIGINT) AS n_tokens,
               CAST(sum(greatest(512, seq_tot) - seq_tot) AS BIGINT) AS padding
        FROM seqs),
      u AS (SELECT * FROM chop UNION ALL SELECT * FROM greedy)
      SELECT mode, n_seqs, n_tokens, padding,
             floor(CAST(n_tokens AS DOUBLE) / (n_tokens + padding) * 1e6 + 0.5) / 1e6 AS efficiency
      FROM u
    """),
    (s, dir) => packingReport(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      seqLen = 512, shards = 8))

  /** Deterministic global training-order shuffle + round-robin shard
    * assignment — the step between a curated corpus and its training
    * shards: every epoch-0 data order must be reproducible (same seed ⇒
    * same order, different seed ⇒ an independent order), and the order
    * must be a GLOBAL permutation, not a per-partition one.
    *
    * The shuffle key is a seeded 60-bit md5 hash of the doc id (the
    * corpus' cross-engine RNG — changing `seed` re-deals the permutation);
    * the global position comes from [[graft.operators.GlobalOrder]]'s
    * two-pass range-partitioned ranking, so no single-partition window
    * exchange appears at any scale (the naive `row_number() OVER (ORDER
    * BY h)` funnels 100 TB through one task). Shards interleave round-
    * robin over the shuffled order — each of the `nShards` data-loader
    * files sees a statistically identical slice of the corpus. */
  def shuffleShards(docs: DataFrame, seed: String, nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val h = conv(substring(md5(concat(lit(seed + ":"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val ranked = graft.operators.GlobalOrder.withRanks(
      docs.select(col("doc_id")).withColumn("h", h),
      Seq(col("h").asc, col("doc_id").asc),
      Seq(col("h"), col("doc_id"))).df
    ranked.select(col("doc_id"), (col("rn") - 1).as("shuffle_pos"),
      ((col("rn") - 1) % nShards).as("shard_id"))
  }

  /** Shuffle-shards gate: seed "s7", 8 shards; the oracle replays the
    * seeded hash order with a plain global window (fine at oracle scale). */
  val d26ShuffleShards: Q = Q(
    "d26_shuffle_shards",
    Some("""
      WITH h AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5('s7:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
        FROM documents)
      SELECT doc_id,
             row_number() OVER (ORDER BY hh, doc_id) - 1 AS shuffle_pos,
             (row_number() OVER (ORDER BY hh, doc_id) - 1) % 8 AS shard_id
      FROM h
    """),
    (s, dir) => shuffleShards(
      Tables(s, dir, "documents").select(col("doc_id")), seed = "s7", nShards = 8))

  /** N-gram test-set contamination scoring — the published n-gram-overlap
    * decontamination method (the "13-gram" family): a training document
    * is contaminated when a large-enough fraction of its distinct word
    * n-grams also appears anywhere in the held-out evaluation set.
    * [[d12Contamination]] is the exact-prefix form (whole-document
    * collisions); this is the fuzzy, industry-standard one that catches
    * partial inclusion — a test question quoted inside a larger page.
    *
    * Scale shape: the test side collapses to its DISTINCT n-gram set —
    * evaluation sets are MBs against a 100 TB corpus, so it broadcasts;
    * the train side is ONE scan whose exploded n-grams broadcast-hash-
    * join the test set with zero shuffle, and the per-doc hit/total
    * counts collapse map-side (a doc's exploded rows are contiguous, so
    * the partial aggregate emits one row per doc per partition before
    * the only exchange — corpus text bytes never shuffle). Docs with
    * fewer than n tokens survive via explode_outer and score 0.0. */
  def ngramContamination(train: DataFrame, test: DataFrame, n: Int,
      threshold: Double): DataFrame =
    ngramContaminationAgainst(train,
      test.select(explode(Dedup.shingles(col("text"), n)).as("ng")),
      n, threshold)

  /** The scoring half of [[ngramContamination]] against an
    * ALREADY-BUILT benchmark n-gram relation (one `ng` string column,
    * duplicates tolerated — de-duplicated here) — the persisted-artifact
    * posture ([[graft.streaming.ContaminationStreaming]]): evaluation
    * sets are admitted ONCE into a versioned distinct-n-gram index, and
    * training batches score against the committed index forever after,
    * benchmark text never re-read. `n` must match the width the
    * relation was built with. Same broadcast join + map-side per-doc
    * collapse as the end-to-end form. */
  def ngramContaminationAgainst(train: DataFrame, benchmarkNgrams: DataFrame,
      n: Int, threshold: Double): DataFrame = {
    require(n > 0, "n must be positive")
    val testNg = benchmarkNgrams.select(col("ng")).distinct()
      .withColumn("hit", lit(1))
    train.select(col("doc_id"),
        explode_outer(Dedup.shingles(col("text"), n)).as("ng"))
      .join(broadcast(testNg), Seq("ng"), "left")
      .groupBy("doc_id")
      .agg(count(col("ng")).as("total_ngrams"), count(col("hit")).as("hit_ngrams"))
      .withColumn("overlap_frac",
        when(col("total_ngrams") > 0,
          round(col("hit_ngrams").cast("double") / col("total_ngrams"), 4))
          .otherwise(lit(0.0)))
      .withColumn("contaminated", col("overlap_frac") >= threshold)
  }

  /** Shared DuckDB oracle for the two n-gram contamination gates (d28
    * end-to-end, d96 persisted-index lifecycle): the d12 bucket split
    * (train < 80, test ≥ 90), 3-gram overlap, τ = 0.2. The score must
    * be posture-independent, so a benchmark n-gram lost or duplicated
    * across index admissions diverges on d96 while d28 stays green. */
  private val ngramContaminationOracle: String = """
      WITH assigned AS (
        SELECT doc_id, text,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        FROM documents),
      sh AS (
        SELECT doc_id, bucket,
               list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END) AS ngs
        FROM assigned),
      test_set AS (
        SELECT list(DISTINCT ng) AS tngs
        FROM (SELECT unnest(ngs) AS ng FROM sh WHERE bucket >= 90)),
      scored AS (
        SELECT t.doc_id,
               CAST(len(t.ngs) AS BIGINT) AS total_ngrams,
               CAST(len(list_intersect(t.ngs, ts.tngs)) AS BIGINT) AS hit_ngrams
        FROM sh t CROSS JOIN test_set ts WHERE t.bucket < 80)
      SELECT doc_id, total_ngrams, hit_ngrams,
             CASE WHEN total_ngrams > 0
                  THEN round(CAST(hit_ngrams AS DOUBLE) / total_ngrams, 4)
                  ELSE 0.0 END AS overlap_frac,
             (CASE WHEN total_ngrams > 0
                   THEN round(CAST(hit_ngrams AS DOUBLE) / total_ngrams, 4)
                   ELSE 0.0 END) >= 0.2 AS contaminated
      FROM scored
    """

  private def bucketedDocs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 100).as("bucket")
    Tables(s, dir, "documents").select(col("doc_id"), col("text"), bucket)
  }

  /** N-gram contamination gate — the end-to-end form. */
  val d28NgramContamination: Q = Q(
    "d28_ngram_contamination",
    Some(ngramContaminationOracle),
    (s, dir) => {
      val docs = bucketedDocs(s, dir)
      ngramContamination(
        docs.filter(col("bucket") < 80).select(col("doc_id"), col("text")),
        docs.filter(col("bucket") >= 90).select(col("text")),
        n = 3, threshold = 0.2)
    })

  /** Decontaminate-on-ingest gate — d28 through the persisted-benchmark
    * lifecycle ([[graft.streaming.ContaminationStreaming]]): the
    * evaluation split is admitted as TWO index batches (buckets 90–94,
    * then 95–99), and the training split scores as TWO ingest batches
    * against the committed index. Same oracle as d28: the verdicts must
    * be posture-independent, so an n-gram lost/duplicated across index
    * versions, a batch scored against the wrong committed version, or a
    * doc double-scored across ingest batches diverges here. */
  val d96ContaminationStream: Q = Q(
    "d96_contamination_stream",
    Some(ngramContaminationOracle),
    (s, dir) => {
      import graft.streaming.ContaminationStreaming
      val docs = bucketedDocs(s, dir)
      // clean slate within an application (the d95 pattern): markers at
      // the root ARE the index state
      val root = graft.SessionArtifacts.dir(s, "graft-d96")
      val hPath = new org.apache.hadoop.fs.Path(root)
      hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(hPath, true)
      val idx = root + "/benchmark"
      ContaminationStreaming.admitBenchmarkBatch(
        docs.filter(col("bucket") >= 90 && col("bucket") < 95)
          .select(col("text")), 0L, idx, n = 3)
      ContaminationStreaming.admitBenchmarkBatch(
        docs.filter(col("bucket") >= 95).select(col("text")), 1L, idx, n = 3)
      val ingest1 = ContaminationStreaming.scoreBatch(
        docs.filter(col("bucket") < 40).select(col("doc_id"), col("text")),
        idx, n = 3, threshold = 0.2)
      val ingest2 = ContaminationStreaming.scoreBatch(
        docs.filter(col("bucket") >= 40 && col("bucket") < 80)
          .select(col("doc_id"), col("text")),
        idx, n = 3, threshold = 0.2)
      ingest1.unionByName(ingest2)
    })

  /** Deterministic source mixing — the corpus-weighting step of every
    * LLM training run: each source (domain, crawl, curated set) gets a
    * repeat factor f; every document emits floor(f) guaranteed copies
    * plus one more iff its seeded hash falls under the fractional part
    * (f < 1 ⇒ deterministic down-sampling, f > 1 ⇒ oversampling with
    * fractional repeats). Same inputs ⇒ the same mixture, on any
    * cluster layout — no RNG.
    *
    * Scale shape: a pure projection + generator — the factor lookup is
    * a config-sized map LITERAL in the plan (no dim-table join, nothing
    * broadcast), the copy fan-out is a codegen'd explode of a bounded
    * sequence. Zero shuffles, zero exchanges; composes with
    * [[shuffleShards]] downstream for the epoch order. */
  def sourceMixing(docs: DataFrame, factors: Map[String, Double],
      default: Double = 1.0): DataFrame = {
    require(factors.values.forall(_ >= 0) && default >= 0,
      "repeat factors must be non-negative")
    val f =
      if (factors.isEmpty) lit(default)
      else coalesce(element_at(typedLit(factors), col("source")), lit(default))
    val hmod = conv(substring(md5(concat(lit("mix:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 1000000L
    val copies = floor(f).cast("long") +
      when(hmod < round((f - floor(f)) * 1e6).cast("long"), 1L).otherwise(0L)
    docs.select(col("doc_id"), col("source"), copies.as("copies"))
      .filter(col("copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("copies") - 1)).as("copy"))
  }

  /** Source-mixing gate: src0 oversampled 2.5×, src1 kept at 0.4,
    * src2 at 1.75, everything else 1.0. */
  val d29SourceMixing: Q = Q(
    "d29_source_mixing",
    Some("""
      WITH f AS (
        SELECT doc_id, source,
               CAST(CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.4
                                WHEN 'src2' THEN 1.75 ELSE 1.0 END AS DOUBLE) AS fac,
               CAST(concat('0x', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS hmod
        FROM documents),
      c AS (
        SELECT doc_id, source,
               CAST(floor(fac) AS BIGINT) +
               CASE WHEN hmod < CAST(round((fac - floor(fac)) * 1e6) AS BIGINT)
                    THEN 1 ELSE 0 END AS copies
        FROM f)
      SELECT doc_id, source, CAST(u.copy AS BIGINT) AS copy
      FROM c, unnest(generate_series(0, copies - 1)) AS u(copy)
      WHERE copies > 0
    """),
    (s, dir) => sourceMixing(
      Tables(s, dir, "documents").select(col("doc_id"), col("source")),
      Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 1.75)))

  /** The end-to-end corpus-curation pipeline, composed from the family's
    * own operators: quality filter → exact dedup (min-doc_id survivor
    * per normalized fingerprint) → per-source mixing
    * ([[sourceMixing]]) → deterministic training-order shuffle + shard
    * assignment ([[shuffleShards]] over the (doc, copy) mixture). One
    * call takes a raw corpus to its epoch-0 training order — the
    * sequence a real ingest runs, as a single declarative plan.
    *
    * Scale shape: each stage keeps its own audited plan — the filter is
    * a codegen'd projection over the scan, the dedup is one
    * rank-limit window on the fingerprint exchange (TopKPerGroup
    * partial top-k), mixing is a joinless projection+generator, and the
    * shuffle is GlobalOrder's two-pass range ranking. The mixture keys
    * the shuffle as doc_id·100+copy, so no join-back is needed to
    * recover (doc_id, copy) from the ranked rows. */
  def curationPipeline(docs: DataFrame, minQuality: Double,
      factors: Map[String, Double], default: Double = 1.0,
      seed: String = "epoch0", nShards: Int = 8): DataFrame = {
    require(factors.values.forall(_ < 99) && default < 99,
      "repeat factors must stay below 99 (copy index is packed base-100)")
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id").asc)
    val deduped = docs
      .filter(qualityScore(col("text")) >= minQuality)
      .withColumn("fp", fingerprint(col("text")))
      .withColumn("rn", row_number().over(wf)).filter(col("rn") === 1)
      .select(col("doc_id"), col("source"))
    val mixed = sourceMixing(deduped, factors, default)
      .select((col("doc_id") * 100 + col("copy")).as("doc_id"))
    shuffleShards(mixed, seed, nShards)
      .select((col("doc_id") / 100).cast("long").as("doc_id"),
        (col("doc_id") % 100).as("copy"), col("shuffle_pos"), col("shard_id"))
  }

  /** Curation-pipeline gate: quality ≥ 0.45, the d29 factors, seed
    * "epoch0", 8 shards. The oracle replays all four stages in SQL. */
  val d30CurationPipeline: Q = Q(
    "d30_curation_pipeline",
    Some("""
      WITH f AS (
        SELECT doc_id, source, text,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
               length(text) AS n_ch,
               len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS stop
        FROM documents),
      q AS (
        SELECT doc_id, source, text,
               floor((least(n_tok / 100.0, 1.0) * 0.5 +
                      least(n_ch / 500.0, 1.0) * 0.3 +
                      least(CASE WHEN n_tok > 0 THEN CAST(stop AS DOUBLE)/n_tok ELSE 0.0 END * 5.0,
                            1.0) * 0.2) * 1e6 + 0.5) / 1e6 AS quality
        FROM f),
      dd AS (
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                   ORDER BY doc_id ASC) AS rn
          FROM q WHERE quality >= 0.45) t WHERE rn = 1),
      fac AS (
        SELECT doc_id, source,
               CAST(CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.4
                                WHEN 'src2' THEN 1.75 ELSE 1.0 END AS DOUBLE) AS fac,
               CAST(concat('0x', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS hmod
        FROM dd),
      cc AS (
        SELECT doc_id,
               CAST(floor(fac) AS BIGINT) +
               CASE WHEN hmod < CAST(round((fac - floor(fac)) * 1e6) AS BIGINT)
                    THEN 1 ELSE 0 END AS copies
        FROM fac),
      mix AS (
        SELECT doc_id * 100 + CAST(u.copy AS BIGINT) AS mix_id
        FROM cc, unnest(generate_series(0, copies - 1)) AS u(copy)
        WHERE copies > 0),
      h AS (
        SELECT mix_id,
               CAST(concat('0x', substr(md5('epoch0:' || CAST(mix_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
        FROM mix)
      SELECT mix_id // 100 AS doc_id, mix_id % 100 AS copy,
             row_number() OVER (ORDER BY hh, mix_id) - 1 AS shuffle_pos,
             (row_number() OVER (ORDER BY hh, mix_id) - 1) % 8 AS shard_id
      FROM h
    """),
    (s, dir) => curationPipeline(
      Tables(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
      minQuality = 0.45,
      factors = Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 1.75),
      seed = "epoch0", nShards = 8))

  /** Raw (multiplicity-preserving) word bigrams — [[Dedup.shingles]]
    * deduplicates for Jaccard, which would corrupt LANGUAGE-MODEL
    * counts, so the LM path uses the native [[graft.plans.NgramsExpr]]
    * kernel (the HOF formulation re-inlines the tokenizer into the
    * lambda — O(tokens²) per row, a measured 20 s model build at gate
    * scale). Empty for docs under two tokens. */
  private def rawBigrams(c: Column): Column =
    graft.plans.NgramsExpr.ngrams(c, 2)

  /** N-gram language-model quality scoring — the CCNet/KenLM-style
    * perplexity filter: train a smoothed bigram LM on a REFERENCE slice
    * (a trusted corpus — wiki-like text), score every candidate
    * document by its mean bigram log-probability, and filter/bucket on
    * the score (fluent text scores high, gibberish and boilerplate
    * score low). Complements the d03 heuristic score with the
    * distribution-matched one the published pipelines actually rank by.
    *
    * Model: `P(w2|w1) = (c(w1 w2) + α) / (c(w1·) + α·V)` — add-α
    * smoothing where `c(w1·)` is the CONTEXT count (Σ over following
    * words, derived from the bigram counts — the reference text is
    * scanned exactly once) and `V` is the context vocabulary size.
    * A document's score is the mean `ln P` over its bigrams, rounded
    * to 4; documents with fewer than two tokens score 0.0 with
    * `n_bigrams = 0`.
    *
    * Scale shape: the model is a vocabulary-sized aggregate (bigram
    * counts collapse map-side — a Zipf-hot bigram partial-aggregates
    * per map task, never funneling one key through one reducer); the
    * scoring pass is ONE candidate-corpus scan whose exploded bigrams
    * equi-join the model tables (broadcast when the model fits, as any
    * α-smoothed counts table from a curated reference does; hash join
    * otherwise) and collapse back to one row per doc map-side. */
  def ngramLmScore(reference: DataFrame, docs: DataFrame,
      alpha: Double = 0.5): DataFrame =
    // the bigram-count table feeds three consumers (scoring join, the
    // context roll-up, the vocabulary scalar) — left lazy, each would
    // re-scan the reference text (ReusedExchange does not survive AQE's
    // per-consumer re-pruning). Materialized once: the model IS the
    // persisted artifact of this operator in production.
    ngramLmScoreFromCounts(Lineage.cut(lmBigramCounts(reference)), docs, alpha)

  /** The LM model artifact: reference bigram counts `(bg, c12)` — the
    * ONLY state [[ngramLmScoreFromCounts]] needs (context counts and
    * vocabulary size re-derive from it), so this is what production
    * persists, appends to, and retracts from. One reference scan, counts
    * collapse map-side (a Zipf-hot bigram partial-aggregates per map
    * task). */
  def lmBigramCounts(reference: DataFrame): DataFrame =
    reference
      .select(explode(rawBigrams(lower(col("text")))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))

  /** LM-model maintenance: counts add associatively, so admitting a new
    * reference slice is a sum-merge — the grown model is provably ≡ a
    * from-scratch rebuild over archive ∪ batch (the d71 index algebra
    * on the CCNet model artifact; slices need not be disjoint in
    * CONTENT, only admitted once each). The touched state is
    * model-sized, never archive-text-sized. */
  def appendToLmCounts(counts: DataFrame, newReference: DataFrame): DataFrame =
    counts.unionByName(lmBigramCounts(newReference))
      .groupBy(col("bg")).agg(sum(col("c12")).as("c12"))

  /** [[ngramLmScore]] against an ALREADY-BUILT counts relation — the
    * production posture (the model is a persisted, append-maintained
    * artifact; candidate batches arrive forever after). Same smoothing
    * algebra, zero reference-text access. */
  def ngramLmScoreFromCounts(counts: DataFrame, docs: DataFrame,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, "alpha must be positive (unsmoothed zeros break ln)")
    val big = counts
    val ctx = big
      .select(substring_index(col("bg"), " ", 1).as("w1"), col("c12"))
      .groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = ctx.agg(count(lit(1)).cast("double").as("v"))
    val logp = when(col("bg").isNull, lit(null).cast("double"))
      .otherwise(log(
        (coalesce(col("c12"), lit(0L)) + alpha) /
        (coalesce(col("c1"), lit(0L)) + lit(alpha) * col("v"))))
    docs
      .select(col("doc_id"),
        explode_outer(rawBigrams(lower(col("text")))).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(big, Seq("bg"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(col("bg")).as("n_bigrams"),
        coalesce(round(avg(logp), 4), lit(0.0)).as("avg_logprob"))
  }

  /** LM-scoring gate: the md5 "lm:" bucket's low half (< 50) is the
    * reference slice; EVERY document is scored against it (reference
    * docs naturally score high — they are in-distribution by
    * construction — which is itself a useful spec property). α = 0.5. */
  val d31NgramLmScore: Q = Q(
    "d31_ngram_lm_score",
    Some("""
      WITH b AS (
        SELECT doc_id, text,
               CAST(concat('0x', substr(md5('lm:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        FROM documents),
      tok AS (
        SELECT doc_id, bucket,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        FROM b),
      bg AS (
        SELECT doc_id, bucket,
               CASE WHEN len(toks) < 2 THEN []
                    ELSE list_transform(generate_series(1, len(toks) - 1),
                                        i -> toks[i] || ' ' || toks[i+1]) END AS bgs
        FROM tok),
      refbg AS (
        SELECT u.bg AS bg, count(*) AS c12
        FROM (SELECT bgs FROM bg WHERE bucket < 50) r, unnest(r.bgs) AS u(bg)
        GROUP BY 1),
      ctx AS (
        SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
        FROM refbg GROUP BY 1),
      voc AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM ctx),
      ex AS (
        SELECT bg.doc_id, u.bg AS dbg
        FROM bg, unnest(bg.bgs) AS u(bg)),
      scored AS (
        SELECT ex.doc_id,
               count(*) AS n_bigrams,
               round(avg(ln((coalesce(r.c12, 0) + 0.5) /
                            (coalesce(c.c1, 0) + 0.5 * voc.v))), 4) AS avg_logprob
        FROM ex
        LEFT JOIN refbg r ON r.bg = ex.dbg
        LEFT JOIN ctx c ON c.w1 = split_part(ex.dbg, ' ', 1)
        CROSS JOIN voc
        GROUP BY 1)
      SELECT t.doc_id,
             coalesce(s.n_bigrams, 0) AS n_bigrams,
             coalesce(s.avg_logprob, 0.0) AS avg_logprob
      FROM tok t LEFT JOIN scored s ON s.doc_id = t.doc_id
    """),
    (s, dir) => {
      val bucket = (conv(substring(md5(concat(lit("lm:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100)
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), bucket.as("bucket"))
      ngramLmScore(
        docs.filter(col("bucket") < 50).select(col("text")),
        docs.select(col("doc_id"), col("text")),
        alpha = 0.5)
    })

  /** CCNet-style perplexity bucketing — the published pipelines don't
    * just SCORE documents with the reference LM (d31), they rank the
    * corpus by that score and split it into head/middle/tail terciles
    * (CCNet trains on head+middle, studies tail). The split must be by
    * GLOBAL rank, not a fixed threshold: the score distribution shifts
    * per snapshot, the tercile boundaries don't.
    *
    * Scale shape: scoring is d31's one-scan pipeline; the global rank is
    * [[graft.operators.GlobalOrder]]'s two-pass range-partitioned
    * ranking — a naive `Window.orderBy` would Exchange the whole scored
    * corpus into ONE partition. The tercile label is then exact-NTILE
    * arithmetic from the row number and the driver-known total — no
    * further shuffle. Ties break on doc_id so the bucketing is
    * deterministic and cross-engine reproducible. */
  val d41PerplexityBuckets: Q = Q(
    "d41_perplexity_buckets",
    Some("""
      WITH b AS (
        SELECT doc_id, text,
               CAST(concat('0x', substr(md5('lm:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        FROM documents),
      tok AS (
        SELECT doc_id, bucket,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        FROM b),
      bg AS (
        SELECT doc_id, bucket,
               CASE WHEN len(toks) < 2 THEN []
                    ELSE list_transform(generate_series(1, len(toks) - 1),
                                        i -> toks[i] || ' ' || toks[i+1]) END AS bgs
        FROM tok),
      refbg AS (
        SELECT u.bg AS bg, count(*) AS c12
        FROM (SELECT bgs FROM bg WHERE bucket < 50) r, unnest(r.bgs) AS u(bg)
        GROUP BY 1),
      ctx AS (
        SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
        FROM refbg GROUP BY 1),
      voc AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM ctx),
      ex AS (
        SELECT bg.doc_id, u.bg AS dbg
        FROM bg, unnest(bg.bgs) AS u(bg)),
      scored AS (
        SELECT ex.doc_id,
               round(avg(ln((coalesce(r.c12, 0) + 0.5) /
                            (coalesce(c.c1, 0) + 0.5 * voc.v))), 4) AS avg_logprob
        FROM ex
        LEFT JOIN refbg r ON r.bg = ex.dbg
        LEFT JOIN ctx c ON c.w1 = split_part(ex.dbg, ' ', 1)
        CROSS JOIN voc
        GROUP BY 1),
      full_scored AS (
        SELECT t.doc_id, coalesce(s.avg_logprob, 0.0) AS avg_logprob
        FROM tok t LEFT JOIN scored s ON s.doc_id = t.doc_id)
      SELECT doc_id, avg_logprob,
             row_number() OVER w AS rn,
             CASE ntile(3) OVER w WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS ppl_bucket
      FROM full_scored
      WINDOW w AS (ORDER BY avg_logprob DESC, doc_id ASC)
    """),
    (s, dir) => pplBucketed(s, dir))

  /** The d41 scoring+tercile pass, shared with the d75 ensemble:
    * (doc_id, avg_logprob, rn, ppl_bucket). */
  private def pplBucketed(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val bucket = (conv(substring(md5(concat(lit("lm:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100)
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), bucket.as("bucket"))
    val scored = ngramLmScore(
      docs.filter(col("bucket") < 50).select(col("text")),
      docs.select(col("doc_id"), col("text")),
      alpha = 0.5).select(col("doc_id"), col("avg_logprob"))
    val ranked = graft.operators.GlobalOrder.withRanks(scored,
      Seq(col("avg_logprob").desc, col("doc_id").asc),
      Seq(col("avg_logprob"), col("doc_id")))
    val tile = graft.operators.GlobalOrder
      .ntileFromRowNumber(col("rn"), 3, ranked.totalRows)
    ranked.df.select(col("doc_id"), col("avg_logprob"), col("rn"),
      when(tile === 1, lit("head")).when(tile === 2, lit("middle"))
        .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** Entropy quality signals — bits per character and per token via the
    * native [[graft.plans.EntropyExpr]] kernel (see its scaladoc for why
    * the explode/HOF formulations lose): low char entropy flags
    * keyboard-mash/repetition spam, low token entropy flags template
    * text whose vocabulary is a handful of words; both ride next to the
    * d03/d39 rule signals in published quality stacks. A pure codegen'd
    * projection — zero exchanges before the write (PlanSpec-pinned). */
  val d42EntropySignals: Q = Q(
    "d42_entropy_signals",
    Some("""
      WITH base AS (SELECT doc_id, text FROM documents),
      ci AS (
        SELECT doc_id, unnest(generate_series(1, length(text))) AS i, text
        FROM base),
      cc AS (SELECT doc_id, substr(text, i, 1) AS ch FROM ci),
      ccnt AS (SELECT doc_id, ch, count(*) AS c FROM cc GROUP BY 1, 2),
      ctot AS (SELECT doc_id, sum(c) AS n FROM ccnt GROUP BY 1),
      cent AS (
        SELECT ccnt.doc_id,
               -sum((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
                    ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) / ln(2)) AS h
        FROM ccnt JOIN ctot ON ccnt.doc_id = ctot.doc_id GROUP BY 1),
      tk AS (
        SELECT doc_id,
               unnest(CASE WHEN length(trim(text)) = 0 THEN []
                           ELSE regexp_split_to_array(trim(text), '\s+') END) AS tok
        FROM base),
      tcnt AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
      ttot AS (SELECT doc_id, sum(c) AS n FROM tcnt GROUP BY 1),
      tent AS (
        SELECT tcnt.doc_id,
               -sum((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
                    ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) / ln(2)) AS h
        FROM tcnt JOIN ttot ON tcnt.doc_id = ttot.doc_id GROUP BY 1)
      SELECT b.doc_id,
             coalesce(abs(round(cent.h, 4)), 0.0) AS char_entropy,
             coalesce(abs(round(tent.h, 4)), 0.0) AS token_entropy
      FROM base b
      LEFT JOIN cent ON cent.doc_id = b.doc_id
      LEFT JOIN tent ON tent.doc_id = b.doc_id
    """),
    (s, dir) => Tables(s, dir, "documents").select(
      col("doc_id"),
      abs(round(graft.plans.EntropyExpr.entropy(col("text"),
        tokenLevel = false), 4)).as("char_entropy"),
      abs(round(graft.plans.EntropyExpr.entropy(col("text"),
        tokenLevel = true), 4)).as("token_entropy")))

  /** T5-style span corruption — the denoising-objective data prep
    * (Raffel et al. 2020): deterministic seeded masking of aligned
    * `spanLen`-token spans; each masked span is replaced by an ordered
    * sentinel `<extra_id_k>` in the input and emitted sentinel-prefixed
    * in the target. The mask decision is the engine's cross-engine
    * 60-bit md5 bucket on (seed, doc_id, span) — reproducible across
    * engines, partitionings and reruns (training-data generation must
    * be replayable, never `rand()`).
    *
    * Scale shape: the d38 positional-rebuild family — one posexplode
    * scan, every exchange on the doc key (the sentinel-numbering
    * window, the group join, the two ordered rebuilds), span flags
    * codegen'd per token row. `n_masked_spans` derives from max(k)+1,
    * NOT a countDistinct, so the rebuild aggregate stays a single
    * hash aggregate (the q40 Expand/SortAggregate trap). */
  def spanCorruption(docs: DataFrame, spanLen: Int, ratePerMillion: Int,
      seed: String): DataFrame = {
    require(spanLen >= 1, "spanLen must be >= 1")
    require(ratePerMillion >= 0 && ratePerMillion <= 1000000,
      "ratePerMillion must be in [0, 1e6]")
    // ONE exchange-free projection (guide §2.4, the d40 kernel lesson):
    // every decision here — the md5 span mask, the gap-free sentinel
    // numbering, both ordered rebuilds, the span count — depends only on
    // the document's own tokens and id, so
    // [[graft.plans.SpanCorruptionExpr]] computes the full (input,
    // target, n_masked_spans) struct in-row, replacing the previous
    // posexplode → sentinel window → span join → three positional
    // rebuilds → three spine joins (five exchanges on the doc key).
    // Strings and counts are exact, so output is bit-identical
    // (TextStatsSpec's hand-checked masking pins it; oracle unchanged).
    val sig = graft.plans.SpanCorruptionExpr.spanCorrupt(
      col("text"), col("doc_id").cast("string"), spanLen, ratePerMillion,
      seed)
    docs.select(col("doc_id"), sig.as("__sc"))
      .select(col("doc_id"),
        col("__sc.input_text").as("input_text"),
        col("__sc.target_text").as("target_text"),
        col("__sc.n_masked_spans").as("n_masked_spans"))
  }

  /** Span-corruption gate: 4-token aligned spans, 30% mask rate. */
  val d44SpanCorruption: Q = Q(
    "d44_span_corruption",
    Some("""
      WITH base AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        FROM documents),
      tok AS (
        SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        FROM base, unnest(generate_series(1, len(toks))) AS g(i)),
      fm AS (
        SELECT doc_id, pos, tok, pos // 4 AS grp,
               (CAST(concat('0x', substr(md5('sc7:' || CAST(doc_id AS VARCHAR)
                  || ':' || CAST(pos // 4 AS VARCHAR)), 1, 15)) AS BIGINT)
                % 1000000) < 300000 AS masked
        FROM tok),
      mg AS (
        SELECT doc_id, grp,
               row_number() OVER (PARTITION BY doc_id ORDER BY grp) - 1 AS k
        FROM (SELECT DISTINCT doc_id, grp FROM fm WHERE masked)),
      inp AS (
        SELECT fm.doc_id,
               string_agg(CASE WHEN fm.masked
                 THEN '<extra_id_' || CAST(mg.k AS VARCHAR) || '>'
                 ELSE fm.tok END, ' ' ORDER BY fm.pos) AS input_text
        FROM fm LEFT JOIN mg ON mg.doc_id = fm.doc_id AND mg.grp = fm.grp
        WHERE NOT fm.masked OR fm.pos % 4 = 0
        GROUP BY 1),
      tgtrows AS (
        SELECT doc_id, pos, 1 AS sub, tok AS t FROM fm WHERE masked
        UNION ALL
        SELECT doc_id, grp * 4 AS pos, 0 AS sub,
               '<extra_id_' || CAST(k AS VARCHAR) || '>' AS t
        FROM mg),
      tgt AS (
        SELECT doc_id, string_agg(t, ' ' ORDER BY pos, sub) AS target_text
        FROM tgtrows GROUP BY 1),
      ks AS (SELECT doc_id, max(k) + 1 AS n_masked_spans FROM mg GROUP BY 1)
      SELECT b.doc_id,
             coalesce(inp.input_text, '') AS input_text,
             coalesce(tgt.target_text, '') AS target_text,
             CAST(coalesce(ks.n_masked_spans, 0) AS BIGINT) AS n_masked_spans
      FROM base b
      LEFT JOIN inp ON inp.doc_id = b.doc_id
      LEFT JOIN tgt ON tgt.doc_id = b.doc_id
      LEFT JOIN ks ON ks.doc_id = b.doc_id
    """),
    (s, dir) => spanCorruption(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      spanLen = 4, ratePerMillion = 300000, seed = "sc7"))

  /** Per-source corpus length profile with EXACT percentiles — the
    * distribution dashboard a curation run reads before picking filter
    * thresholds (d39's word-count bounds, d15's chunk length, d16's
    * seqLen are all chosen off this profile). q40's sketches are the
    * approximate mergeable path; this is the exact complement, and the
    * interpolation (R-7, `pos = q·(n−1)`) is the one both Spark's
    * `percentile` and DuckDB's `quantile_cont` implement, which is what
    * makes an exact-percentile gate cross-engine checkable at all.
    *
    * Scale shape: one scan, one exchange on the source key; the
    * percentile aggregate holds ONE source's token counts per reducer —
    * group-bounded, not corpus-bounded (for corpus-wide percentiles at
    * 100 TB prefer the q40 sketch path). */
  val d45LengthProfile: Q = Q(
    "d45_length_profile",
    Some("""
      WITH tc AS (
        SELECT source,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+'))
                    END AS DOUBLE) AS t
        FROM documents)
      SELECT source, count(*) AS n_docs,
             round(avg(t), 4) AS mean_tokens,
             round(quantile_cont(t, 0.5), 4) AS p50_tokens,
             round(quantile_cont(t, 0.9), 4) AS p90_tokens,
             round(quantile_cont(t, 0.99), 4) AS p99_tokens,
             min(t) AS min_tokens, max(t) AS max_tokens
      FROM tc GROUP BY source
    """),
    (s, dir) => lengthProfile(
      Tables(s, dir, "documents").select(col("source"), col("text"))))

  /** See [[d45LengthProfile]]: per-`source` token-length distribution
    * with exact R-7 percentiles. */
  def lengthProfile(docs: DataFrame): DataFrame = {
    val t = tokenCount(col("text")).cast("double")
    docs
      .select(col("source"), t.as("t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("t")), 4).as("mean_tokens"),
        round(percentile(col("t"), lit(0.5)), 4).as("p50_tokens"),
        round(percentile(col("t"), lit(0.9)), 4).as("p90_tokens"),
        round(percentile(col("t"), lit(0.99)), 4).as("p99_tokens"),
        min(col("t")).as("min_tokens"), max(col("t")).as("max_tokens"))
  }

  /** BPE-ish pre-tokenizer regex (the GPT-2 pretokenizer family,
    * restricted to a subset RE2 and java.util.regex count identically:
    * no lookahead, ASCII classes): a token is an optionally
    * space-prefixed letter run, digit run, or punctuation run.
    * Whitespace itself is never a token. */
  val BpeTokenRe: String = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  /** Subword-style token count under [[BpeTokenRe]] — the LLM-cost
    * tokenizer proxy ("BPE-ish regex" counting next to d01's whitespace
    * counting). */
  def bpeTokenCount(c: Column): Column = regexp_count(c, lit(BpeTokenRe))

  /** Tokenizer-fertility gate: whitespace words vs BPE-ish tokens per
    * document plus their ratio — the tokens-per-word fertility metric
    * tokenizer QA and training-cost estimates rank corpora by (digit-
    * and punctuation-heavy text fragments; prose stays near 1.0). A
    * pure codegen'd projection, zero exchanges before the write. */
  val d33BpeTokenStats: Q = Q(
    "d33_bpe_token_stats",
    Some("""
      SELECT doc_id,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS n_words,
             CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS INTEGER) AS n_bpe,
             round(CASE WHEN length(trim(text)) = 0 THEN 0.0
                   ELSE CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS DOUBLE)
                        / len(regexp_split_to_array(trim(text), '\s+')) END, 4) AS fertility
      FROM documents
    """),
    (s, dir) => {
      val nWords = tokenCount(col("text"))
      val nBpe = bpeTokenCount(col("text"))
      Tables(s, dir, "documents").select(
        col("doc_id"),
        nWords.as("n_words"),
        nBpe.as("n_bpe"),
        round(when(nWords > 0, nBpe.cast("double") / nWords.cast("double"))
          .otherwise(lit(0.0)), 4).as("fertility"))
    })

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023 — public):
    * score every raw document by how target-like its hashed n-gram
    * distribution is. Features are uni+bigram occurrences hashed into
    * `buckets` cells; bucket unigram models of the target and raw
    * corpora (add-α smoothed) give each document the log importance
    * weight `Σ_g ln p_tgt(bucket(g)) − ln p_raw(bucket(g))`. Selecting
    * top-weight (or Gumbel-resampling on the weight) yields the
    * target-matched subcorpus.
    *
    * Scale shape: each corpus is scanned ONCE into a `buckets`-long
    * count VECTOR — bucket counts in-row
    * ([[graft.plans.HashedBucketCountsExpr]] at maxN = 2, the uni+bigram
    * space), collapsed by a single zero-key aggregate whose exchange
    * carries one `buckets`-long partial per partition (no gram explode,
    * no (bucket) shuffle — guide §2.4). The B-cell log-weight model is
    * then a driver-side array (a bounded MODEL artifact, the k-means
    * centroid pattern) carried into the scoring scan as a
    * generated-code reference object: the per-doc weight is an in-row
    * dot product ([[graft.plans.DotProductLitExpr]]), so scoring is one
    * exchange-free scan→project pass. ln is `StrictMath.log` — the
    * exact function Spark's `log` codegen calls, so the model values
    * are bit-identical to the old in-plan formulation. */
  def dsirWeights(raw: DataFrame, target: DataFrame, docs: DataFrame,
      buckets: Int = 64, alpha: Double = 0.5): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(alpha > 0, "alpha must be positive (unsmoothed zeros break ln)")
    def dist(df: DataFrame): Array[Long] = {
      val aggs = (0 until buckets).map(b => sum(col("x").getItem(b)).as(s"c$b"))
      val row = df
        .select(graft.plans.HashedBucketCountsExpr.hashedBucketCounts(
          lower(col("text")), buckets, maxN = 2).as("x"))
        .agg(aggs.head, aggs.tail: _*).head()
      Array.tabulate(buckets)(b => if (row.isNullAt(b)) 0L else row.getLong(b))
    }
    val cRaw = dist(raw)
    val cTgt = dist(target)
    val nRaw = cRaw.sum.toDouble
    val nTgt = cTgt.sum.toDouble
    val aB = alpha * buckets
    val lw = Array.tabulate(buckets) { b =>
      StrictMath.log((cTgt(b) + alpha) / (nTgt + aB)) -
        StrictMath.log((cRaw(b) + alpha) / (nRaw + aB))
    }
    docs
      .select(col("doc_id"),
        graft.plans.HashedBucketCountsExpr.hashedBucketCounts(
          lower(col("text")), buckets, maxN = 2).as("x"))
      .select(col("doc_id"),
        graft.plans.ArraySumLongExpr.arraySumLong(col("x")).as("n_feats"),
        round(graft.plans.DotProductLitExpr.dotProduct(col("x"), lw), 4)
          .as("log_weight"))
  }

  /** DSIR gate: target distribution = the English slice, raw = the whole
    * corpus; every document scored. English documents score high by
    * construction — the resampling filter this feeds would recover an
    * English-like mixture from the multilingual corpus. */
  val d34DsirWeights: Q = Q(
    "d34_dsir_weights",
    Some("""
      WITH tok AS (
        SELECT doc_id, lang,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        FROM documents),
      f AS (
        SELECT doc_id, lang,
               toks || CASE WHEN len(toks) < 2 THEN []
                            ELSE list_transform(generate_series(1, len(toks) - 1),
                                                i -> toks[i] || ' ' || toks[i+1]) END AS fs
        FROM tok),
      ex AS (
        SELECT doc_id, lang,
               CAST(concat('0x', substr(md5(u.g), 1, 15)) AS BIGINT) % 64 AS bucket
        FROM f, unnest(f.fs) AS u(g)),
      rawd AS (SELECT bucket, count(*) AS c_raw FROM ex GROUP BY 1),
      tgtd AS (SELECT bucket, count(*) AS c_tgt FROM ex WHERE lang = 'en' GROUP BY 1),
      tot AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM ex) AS n_raw,
                     (SELECT CAST(count(*) AS DOUBLE) FROM ex WHERE lang = 'en') AS n_tgt),
      scored AS (
        SELECT ex.doc_id, count(*) AS n_feats,
               round(sum(ln((coalesce(t.c_tgt, 0) + 0.5) / (tot.n_tgt + 0.5 * 64))
                       - ln((coalesce(r.c_raw, 0) + 0.5) / (tot.n_raw + 0.5 * 64))), 4) AS log_weight
        FROM ex LEFT JOIN rawd r USING (bucket)
                LEFT JOIN tgtd t USING (bucket)
        CROSS JOIN tot
        GROUP BY 1)
      SELECT k.doc_id, coalesce(s.n_feats, 0) AS n_feats,
             coalesce(s.log_weight, 0.0) AS log_weight
      FROM documents k LEFT JOIN scored s ON s.doc_id = k.doc_id
    """),
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      dsirWeights(
        raw = docs.select(col("text")),
        target = docs.filter(col("lang") === "en").select(col("text")),
        docs = docs.select(col("doc_id"), col("text")))
    })

  /** Hashed-feature logistic-regression text classifier — the
    * fastText-style quality/domain classifier of published curation
    * pipelines (CCNet wiki-vs-crawl, Llama-style quality filters),
    * trained IN the engine with full-batch gradient descent expressed
    * as DataFrame aggregates. Features: hashed unigram counts
    * (`buckets` cells, the same 60-bit md5 identity as every other
    * operator), computed IN-ROW by [[graft.plans.HashedBucketCountsExpr]]
    * — a document's feature vector depends only on its own tokens, so
    * featurization is one projection, never an explode + (doc, bucket)
    * exchange (guide §2.4). Each iteration is then ONE distributed job
    * over the materialized feature table: margins and residuals are
    * in-row (the plan-literal weight vector rides into the scan via
    * [[graft.plans.DotProductLitExpr]], like the k-means centroid
    * matrices), and the whole gradient — `buckets` per-bucket sums plus
    * the bias sum — is a single zero-key aggregate whose exchange
    * carries one 65-double partial per partition. The collected gradient
    * is a bounded model artifact (≤ buckets+1 doubles/iteration), never
    * corpus data.
    *
    * Cross-engine determinism: the per-doc margin is rounded to 9
    * decimals before the sigmoid, per-doc probabilities to 6 before the
    * gradient, and the mean gradient to 9 before the weight update —
    * double-summation order can therefore never leak past rounding, so
    * the trained weights are bit-identical across engines and partition
    * counts (the property the gate's unrolled-SQL oracle checks). */
  def trainHashedLogReg(labeled: DataFrame, textCol: String,
      labelCol: String, idCol: String = "doc_id", buckets: Int = 64,
      iters: Int = 2, lr: Double = 0.1): (Array[Double], Double) = {
    require(iters >= 1 && buckets > 0 && lr > 0)
    // featurization is ONE in-row projection (no explode, no exchange);
    // the skinny (id, y, x[buckets]) table is cut once and scanned once
    // per iteration. LAZY: the count below reads every partition, so it
    // materializes the cut — an eager cut would add a job doing the same
    val feats = Lineage.cut(labeled
      .select(col(idCol), col(labelCol).cast("double").as("y"),
        graft.plans.HashedBucketCountsExpr.hashedBucketCounts(
          lower(col(textCol)), buckets).as("x")), eager = false)
    val nDocs = feats.count().toDouble
    val w = Array.fill(buckets)(0.0)
    var bias = 0.0
    for (_ <- 1 to iters) {
      // one job per iteration: residuals in-row, then a single zero-key
      // aggregate carrying every per-bucket gradient sum + the bias sum
      // (r·0 terms contribute nothing, exactly the buckets absent from
      // the old exploded feature rows)
      val scored = feats
        .withColumn("z", round(
          graft.plans.DotProductLitExpr.dotProduct(col("x"), w), 9))
        .withColumn("p", round(
          lit(1.0) / (lit(1.0) + exp(-(col("z") + lit(bias)))), 6))
        .withColumn("r", col("p") - col("y"))
      val aggs = (0 until buckets).map(b =>
        sum(col("r") * col("x").getItem(b).cast("double")).as(s"g$b")) :+
        sum(col("r")).as("rsum")
      val row = scored.agg(aggs.head, aggs.tail: _*).head()
      // same HALF_UP@9 the old in-plan round applied — the rounding
      // contract holds whether the mean gradient is computed in-plan or
      // here
      def mean9(gradSum: Double): Double = BigDecimal(gradSum / nDocs)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      var b = 0
      while (b < buckets) {
        if (!row.isNullAt(b)) w(b) = w(b) - lr * mean9(row.getDouble(b))
        b += 1
      }
      bias = bias - lr * mean9(row.getDouble(buckets))
    }
    (w, bias)
  }

  /** Score documents under a trained hashed-LR model — one exchange-free
    * scan→project pass: bucket counts in-row
    * ([[graft.plans.HashedBucketCountsExpr]]), the weight vector a
    * generated-code reference object ([[graft.plans.DotProductLitExpr]]),
    * margin and sigmoid in the same projection. */
  private[graft] def scoreHashedLogReg(docs: DataFrame, textCol: String,
      weights: Array[Double], bias: Double,
      idCol: String = "doc_id"): DataFrame = {
    docs
      .select(col(idCol), round(graft.plans.DotProductLitExpr.dotProduct(
          graft.plans.HashedBucketCountsExpr.hashedBucketCounts(
            lower(col(textCol)), weights.length), weights), 9).as("z"))
      .select(col(idCol),
        round(lit(1.0) / (lit(1.0) + exp(-(col("z") + lit(bias)))), 4).as("score"))
  }

  /** Shared oracle for d35/d74: the two unrolled GD iterations as CTEs
    * plus the final scored SELECT (d74 wraps it as one more CTE). */
  private val logRegOracleCtes = """
      WITH d AS (
        SELECT doc_id,
               CAST(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y,
               text
        FROM documents),
      tok AS (
        SELECT doc_id, y,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        FROM d),
      fx AS (
        SELECT doc_id, y, bucket, CAST(count(*) AS DOUBLE) AS x
        FROM (SELECT doc_id, y,
                     CAST(concat('0x', substr(md5(u.t), 1, 15)) AS BIGINT) % 64 AS bucket
              FROM tok, unnest(toks) AS u(t))
        GROUP BY 1, 2, 3),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
      r1 AS (SELECT doc_id, y, 0.5 - y AS r FROM d),
      g1 AS (SELECT bucket, round(sum(r1.r * fx.x) / n.n, 9) AS g
             FROM fx JOIN r1 USING (doc_id) CROSS JOIN n GROUP BY bucket, n.n),
      b1 AS (SELECT round(sum(r) / n.n, 9) AS g0 FROM r1 CROSS JOIN n GROUP BY n.n),
      z2 AS (SELECT fx.doc_id, round(sum(fx.x * (-0.1 * g1.g)), 9) AS z
             FROM fx JOIN g1 USING (bucket) GROUP BY 1),
      p2 AS (SELECT d.doc_id, d.y,
                    round(1.0 / (1.0 + exp(-(coalesce(z2.z, 0.0) + (-0.1 * b1.g0)))), 6) AS p
             FROM d LEFT JOIN z2 USING (doc_id) CROSS JOIN b1),
      r2 AS (SELECT doc_id, y, p - y AS r FROM p2),
      g2 AS (SELECT bucket, round(sum(r2.r * fx.x) / n.n, 9) AS g
             FROM fx JOIN r2 USING (doc_id) CROSS JOIN n GROUP BY bucket, n.n),
      b2 AS (SELECT round(sum(r) / n.n, 9) AS g0 FROM r2 CROSS JOIN n GROUP BY n.n),
      w2 AS (SELECT g1.bucket, (-0.1 * g1.g) - (0.1 * g2.g) AS w
             FROM g1 JOIN g2 USING (bucket)),
      z3 AS (SELECT fx.doc_id, round(sum(fx.x * w2.w), 9) AS z
             FROM fx JOIN w2 USING (bucket) GROUP BY 1),
      bias AS (SELECT (-0.1 * b1.g0) - (0.1 * b2.g0) AS bb
               FROM b1 CROSS JOIN b2)"""

  private val logRegOracleSelect = """
      SELECT d.doc_id, d.y AS label,
             round(1.0 / (1.0 + exp(-(coalesce(z3.z, 0.0) + bias.bb))), 4) AS score
      FROM d LEFT JOIN z3 USING (doc_id) CROSS JOIN bias"""

  /** The d35/d74 Spark-side training + scoring pass. */
  private def logRegScored(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val labeled = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("label"))
    val (w, b) = trainHashedLogReg(labeled, "text", "label",
      buckets = 64, iters = 2, lr = 0.1)
    // scoring is in-row (the scoreHashedLogReg kernels verbatim), so the
    // label rides the same projection — no join to re-attach it
    val z = round(graft.plans.DotProductLitExpr.dotProduct(
      graft.plans.HashedBucketCountsExpr.hashedBucketCounts(
        lower(col("text")), w.length), w), 9)
    labeled.select(col("doc_id"), col("label"),
      round(lit(1.0) / (lit(1.0) + exp(-(z + lit(b)))), 4).as("score"))
  }

  /** Classifier gate: learn "is this document English?" from hashed
    * unigrams (2 GD iterations, lr 0.1, 64 buckets), score every doc.
    * The oracle unrolls the identical two iterations in SQL — proving
    * the distributed training loop, not just the scoring pass. */
  val d35HashedLogReg: Q = Q(
    "d35_hashed_logreg",
    Some(logRegOracleCtes + logRegOracleSelect),
    (s, dir) => logRegScored(s, dir))

  /** Rank-based classifier evaluation — the report a quality-filter
    * pipeline ends with before committing a threshold: AUC via the
    * Mann-Whitney statistic with AVERAGE ranks on score ties, plus a
    * fixed-threshold sweep (tp/fp/fn/tn, precision, recall).
    *
    * Scale shape: rows are never ranked individually — scores collapse
    * to a per-distinct-score (cnt, pos) table first (one partial-agg
    * shuffle), and the tie-aware rank sum is a prefix sum over THAT
    * table; with scores rounded to 4 decimals the table is ≤ ~10⁴ rows
    * regardless of corpus size, so the single-partition ordered window
    * is bounded by construction (same argument as q33's rank family).
    * Single-class input (no positives or no negatives) yields a NULL
    * auc — the statistic is undefined there, and NULL is more honest
    * than a sentinel.
    *
    * INTEGER-EXACT END-TO-END: scores arrive rounded to 4 decimals, so
    * `s4 = round(score·10⁴)` is a lossless BIGINT key; thresholds map
    * the same way, so every comparison, rank prefix sum, the doubled
    * Mann-Whitney sum `rsum2 = Σ pos·(2·cum_below + cnt + 1)` (doubling
    * clears the average-rank (cnt+1)/2 halves) and the floor@6 metrics
    *   auc       = ((2U)·2·10⁶ + 2·np·nn) div (4·np·nn) / 10⁶,
    *   precision = (tp·2·10⁶ + (tp+fp)) div (2·(tp+fp)) / 10⁶
    * are pure BIGINT arithmetic — floor(x·10⁶+0.5) computed as exact
    * integer division, immune to any engine's float summation order or
    * rounding mode. The one division by 10⁶ at the end is an IEEE
    * correctly-rounded op on an exact integer, bit-identical in every
    * engine. Exactness holds while np·nn < 2⁶³/4·10⁻⁶ ≈ 2.3·10¹²
    * (corpora to ~3M labeled eval rows — an EVAL set bound, not a
    * corpus bound; larger eval sets would shard the U-statistic).
    * The sweep is one conditional aggregate over a broadcast threshold
    * relation carrying both the reported DOUBLE thr and its s4-scale
    * BIGINT twin. */
  def classifierEval(scored: DataFrame, thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    // Score-domain guard: the boundedness argument above (distinct s4 ≤
    // 10,001 rows ⇒ the single-partition prefix-sum window is safe at any
    // corpus size) only holds for scores in [0,1]. An unclamped caller
    // would silently make the window data-sized, so out-of-range (or
    // NULL) scores are a per-row ERROR, not a quiet merge. The 4-decimal
    // quantization itself is the documented API contract: scores carrying
    // more precision rank and threshold at s4 resolution.
    val s4Guarded = when(
      col("score").isNotNull && col("score") >= 0 && col("score") <= 1,
      round(col("score") * 1e4).cast("long"))
      .otherwise(raise_error(concat(
        lit("classifierEval: score must be in [0,1], got "),
        coalesce(col("score").cast("string"), lit("NULL")))))
    val si = scored.select(
      s4Guarded.as("s4"),
      col("label").cast("long").as("label"))
    // Aggregate before the sweep (guide §2.3): the corpus collapses to
    // the ≤ 10,001-row per-distinct-score table here, and BOTH downstream
    // consumers (the AUC rank sum and the threshold sweep) read that
    // table — previously the sweep consumed the raw `scored` rows through
    // a 9-way threshold cross join, expanding the corpus 9× before its
    // conditional aggregate. Deliberately NOT materialized: a lazy
    // localCheckpoint here was MEASURED SLOWER at gate scale (min-of-6
    // A/B: d74 1.57 → 1.81 s, d75 2.95 → 3.79 s) — the ExistingRDD cut
    // forfeits codegen fusion and buys nothing while the scoring subtree
    // is cheap; the two consumers re-derive it exactly as the old shape's
    // two passes did, minus the 9× expansion.
    val perScore = si.groupBy(col("s4"))
      .agg(count(lit(1)).as("cnt"), sum(col("label")).as("pos"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("s4"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val rk = perScore.withColumn("cum_below",
      coalesce(sum(col("cnt")).over(w), lit(0L)))
    val aucDf = rk.agg(
        sum(col("pos")).as("np"),
        sum(col("cnt") - col("pos")).as("nn"),
        sum(col("pos") * (lit(2L) * col("cum_below") + col("cnt") + lit(1L)))
          .as("rsum2"))
      .select((col("rsum2") - col("np") * (col("np") + lit(1L))).as("num"),
        (lit(2L) * col("np") * col("nn")).as("den"))
      .select(when(col("den") > 0,
        expr("(num * 2000000 + den) div (den * 2)").cast("double") / 1e6)
        .as("auc"))
    val thrDf = graft.LocalTable.of(scored.sparkSession,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("thr",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("thr4",
          org.apache.spark.sql.types.LongType))),
      thresholds.map(t =>
        org.apache.spark.sql.Row(t, math.round(t * 1e4))))
    // sweep over the per-score table, not the corpus: tp/fp/fn/tn are
    // sums of the SAME {0,1} labels, just pre-grouped by distinct score
    // (pos = rows with label 1 at that score, cnt − pos = rows with
    // label 0) — exact integer arithmetic, bit-identical to the per-row
    // sums, over ≤ 10,001 × |thresholds| rows instead of N × |thresholds|.
    perScore.crossJoin(broadcast(thrDf))
      .groupBy(col("thr"), col("thr4"))
      .agg(
        sum(when(col("s4") >= col("thr4"), col("pos"))
          .otherwise(0L)).as("tp"),
        sum(when(col("s4") >= col("thr4"), col("cnt") - col("pos"))
          .otherwise(0L)).as("fp"),
        sum(when(col("s4") < col("thr4"), col("pos"))
          .otherwise(0L)).as("fn"),
        sum(when(col("s4") < col("thr4"), col("cnt") - col("pos"))
          .otherwise(0L)).as("tn"))
      .drop("thr4")
      .withColumn("precision_m", when(col("tp") + col("fp") > 0,
        expr("(tp * 2000000 + (tp + fp)) div ((tp + fp) * 2)").cast("double")
          / 1e6))
      .withColumn("recall_m", when(col("tp") + col("fn") > 0,
        expr("(tp * 2000000 + (tp + fn)) div ((tp + fn) * 2)").cast("double")
          / 1e6))
      .crossJoin(broadcast(aucDf))
  }

  /** Classifier-eval gate: d35's trained scores through the AUC +
    * 9-threshold sweep; the oracle replays the training CTEs and the
    * identical INTEGER rank arithmetic (s4-scaled scores, doubled
    * Mann-Whitney sum, floor@6 as exact BIGINT division — see
    * [[classifierEval]]'s docstring), so no DuckDB version's float
    * summation order can perturb a floor midpoint. */
  val d74ClassifierEval: Q = Q(
    "d74_classifier_eval",
    Some(logRegOracleCtes + ", scored AS (" + logRegOracleSelect + """),
      si AS (
        SELECT CAST(round(score * 1e4) AS BIGINT) AS s4,
               CAST(label AS BIGINT) AS label
        FROM scored),
      ps AS (
        SELECT s4, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(label) AS BIGINT) AS pos
        FROM si GROUP BY 1),
      rk AS (
        SELECT s4, cnt, pos,
               CAST(coalesce(sum(cnt) OVER (ORDER BY s4
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_below
        FROM ps),
      aucn AS (
        SELECT CAST(sum(pos * (2 * cum_below + cnt + 1))
                    - sum(pos) * (sum(pos) + 1) AS BIGINT) AS num,
               CAST(2 * sum(pos) * sum(cnt - pos) AS BIGINT) AS den
        FROM rk),
      aucv AS (
        SELECT CASE WHEN den > 0 THEN
                 CAST((num * 2000000 + den) // (den * 2) AS DOUBLE) / 1e6
               END AS auc
        FROM aucn),
      thr AS (
        SELECT thr, CAST(round(thr * 1e4) AS BIGINT) AS thr4 FROM (
          SELECT unnest([CAST(0.1 AS DOUBLE), CAST(0.2 AS DOUBLE),
                         CAST(0.3 AS DOUBLE), CAST(0.4 AS DOUBLE),
                         CAST(0.5 AS DOUBLE), CAST(0.6 AS DOUBLE),
                         CAST(0.7 AS DOUBLE), CAST(0.8 AS DOUBLE),
                         CAST(0.9 AS DOUBLE)]) AS thr)),
      sweep AS (
        SELECT t.thr,
               CAST(sum(CASE WHEN s.s4 >= t.thr4 AND s.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN s.s4 >= t.thr4 AND s.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN s.s4 < t.thr4 AND s.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN s.s4 < t.thr4 AND s.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM si s CROSS JOIN thr t GROUP BY 1)
      SELECT sweep.thr, tp, fp, fn, tn,
             CASE WHEN tp + fp > 0 THEN
               CAST((tp * 2000000 + (tp + fp)) // ((tp + fp) * 2) AS DOUBLE) / 1e6
             END AS precision_m,
             CASE WHEN tp + fn > 0 THEN
               CAST((tp * 2000000 + (tp + fn)) // ((tp + fn) * 2) AS DOUBLE) / 1e6
             END AS recall_m,
             aucv.auc AS auc
      FROM sweep CROSS JOIN aucv
    """),
    (s, dir) => classifierEval(logRegScored(s, dir),
      thresholds = (1 to 9).map(_ / 10.0)))

  /** Calibration report (reliability diagram + ECE) — the companion to
    * [[classifierEval]]: d74 asks "does the score RANK well" (AUC),
    * this asks "does the score MEAN what it says" — a doc scored 0.8
    * should be positive ~80% of the time, or thresholding on the raw
    * score (d75's consumer posture) systematically over/under-admits.
    * Scores bin into `bins` equal-width buckets; per non-empty bin:
    * count, positives, mean score (confidence) and positive rate
    * (accuracy); the scalar expected calibration error
    * `ECE = Σ_b (n_b/N)·|acc_b − conf_b|` rides every row (the d74 auc
    * pattern).
    *
    * Scale shape: ONE conditional aggregate collapses the corpus to ≤
    * `bins` rows map-side; everything downstream is bins-sized. Float
    * discipline: the bin id floors a cross-engine-identical score
    * (d35's gate proves bit-equality), acc is ratio-of-integers
    * (floor@6 — the documented round() trap), conf/ece are floor@6
    * over float sums on BOTH sides. */
  def calibrationReport(scored: DataFrame, bins: Int): DataFrame = {
    require(bins > 0, "bins must be positive")
    // clamp BOTH range edges: score 1.0 folds into the top bin and any
    // out-of-range score clamps into an edge bin instead of minting a
    // phantom negative/overflow bin that silently skews ECE
    val bin = greatest(
      least(floor(col("score") * bins).cast("int"), lit(bins - 1)), lit(0))
    val per = scored.select(bin.as("bin"), col("label"), col("score"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("label")).cast("long").as("pos"),
        sum(col("score")).as("ssum"))
    val enriched = per
      .withColumn("conf", floor(col("ssum") / col("n") * 1e6 + 0.5) / 1e6)
      .withColumn("acc",
        floor(col("pos").cast("double") / col("n") * 1e6 + 0.5) / 1e6)
    val tot = per.agg(sum(col("n")).cast("double").as("n_total"))
    val ece = enriched.crossJoin(broadcast(tot))
      .agg((floor(sum(col("n") / col("n_total") *
        abs(col("acc") - col("conf"))) * 1e6 + 0.5) / 1e6).as("ece"))
    enriched.select(col("bin"), col("n"), col("pos"), col("conf"), col("acc"))
      .crossJoin(broadcast(ece))
  }

  /** Calibration gate: d35's trained scores through 10 equal-width
    * bins; the oracle replays the training CTEs, the binning, and the
    * identical floor-disciplined bin/ECE arithmetic. */
  val d86CalibrationReport: Q = Q(
    "d86_calibration_report",
    Some(logRegOracleCtes + ", scored AS (" + logRegOracleSelect + """),
      per AS (
        SELECT greatest(least(CAST(floor(score * 10) AS INT), 9), 0) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(label) AS BIGINT) AS pos,
               sum(score) AS ssum
        FROM scored GROUP BY 1),
      enr AS (
        SELECT bin, n, pos,
               floor(ssum / n * 1e6 + 0.5) / 1e6 AS conf,
               floor(CAST(pos AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS acc
        FROM per),
      tot AS (SELECT CAST(sum(n) AS DOUBLE) AS n_total FROM per),
      e AS (
        SELECT floor(sum(n / tot.n_total * abs(acc - conf)) * 1e6 + 0.5) / 1e6 AS ece
        FROM enr, tot)
      SELECT enr.bin, enr.n, enr.pos, enr.conf, enr.acc, e.ece
      FROM enr, e
    """),
    (s, dir) => calibrationReport(logRegScored(s, dir), bins = 10))

  /** Quality-ensemble keep/drop — the end-stage every curation pipeline
    * ships: the engine's four independent quality signals combined into
    * ONE calibrated decision per document, with per-signal attribution
    * columns (production pipelines log WHICH signal dropped a doc —
    * that's how threshold drift and signal rot are caught):
    *   - `ok_quality`   — d03 heuristic score ≥ 0.45 (the d30 bar)
    *   - `ok_gopher`    — the d39 Gopher-rule conjunction
    *   - `ok_ppl`       — d41 perplexity tercile ∉ tail (CCNet trains
    *                      on head+middle)
    *   - `ok_clf`       — d35 classifier score ≥ thr*, where thr* is
    *                      CALIBRATED from the d74 sweep: the threshold
    *                      maximizing F1 (floor@6 both engines, ties to
    *                      the smallest thr) — the d74 report's consumer
    *   - `keep`         — the conjunction
    *
    * Scale shape: quality + gopher flags are ONE codegen projection on
    * the document spine (no exchange); the perplexity tercile is d41's
    * range-partitioned two-pass global rank (never a single-partition
    * window); the classifier score is one scan with literal weights;
    * the spine then takes two doc_id-keyed joins plus a ONE-ROW
    * broadcast for thr*. Nothing here is quadratic and every aggregate
    * collapses map-side, so the ensemble costs ~the sum of its signals
    * at any corpus size. */
  def qualityEnsemble(spine: DataFrame, ppl: DataFrame, clf: DataFrame,
      thrStar: DataFrame, minQuality: Double): DataFrame = {
    val flagged = spine
      .select(col("doc_id"),
        qualityScore(col("text")).as("quality"),
        gopherRules(col("text")).map(_._2).reduce(_ && _).as("ok_gopher"))
    flagged
      .join(ppl.select(col("doc_id"), col("ppl_bucket")), Seq("doc_id"))
      .join(clf.select(col("doc_id"), col("score").as("clf_score")),
        Seq("doc_id"))
      .crossJoin(broadcast(thrStar))
      .select(col("doc_id"), col("quality"),
        (col("quality") >= minQuality).as("ok_quality"),
        col("ok_gopher"),
        col("ppl_bucket"),
        (col("ppl_bucket") =!= "tail").as("ok_ppl"),
        col("clf_score"), col("thr_star"),
        (col("clf_score") >= col("thr_star")).as("ok_clf"))
      .withColumn("keep",
        col("ok_quality") && col("ok_gopher") && col("ok_ppl") &&
          col("ok_clf"))
  }

  /** Ensemble gate: the full signal stack over the corpus; the oracle
    * replays all four signal pipelines (d03/d39/d41/d35 CTEs, the d41
    * block prefixed `p_` to avoid CTE collisions with the shared logreg
    * CTEs) plus the F1 calibration over the d74 sweep. */
  val d75QualityEnsemble: Q = Q(
    "d75_quality_ensemble",
    Some(logRegOracleCtes + ", scored AS (" + logRegOracleSelect + """),
      sweep AS (
        SELECT t.thr,
               sum(CASE WHEN s.score >= t.thr AND s.label = 1 THEN 1 ELSE 0 END) AS tp,
               sum(CASE WHEN s.score >= t.thr AND s.label = 0 THEN 1 ELSE 0 END) AS fp,
               sum(CASE WHEN s.score < t.thr AND s.label = 1 THEN 1 ELSE 0 END) AS fn
        FROM scored s CROSS JOIN (
          SELECT unnest([CAST(0.1 AS DOUBLE), CAST(0.2 AS DOUBLE),
                         CAST(0.3 AS DOUBLE), CAST(0.4 AS DOUBLE),
                         CAST(0.5 AS DOUBLE), CAST(0.6 AS DOUBLE),
                         CAST(0.7 AS DOUBLE), CAST(0.8 AS DOUBLE),
                         CAST(0.9 AS DOUBLE)]) AS thr) t
        GROUP BY 1),
      f1 AS (
        SELECT thr,
               CASE WHEN 2 * tp + fp + fn > 0
                 THEN floor(2.0 * tp / (2 * tp + fp + fn) * 1e6 + 0.5) / 1e6
                 ELSE 0.0 END AS f1
        FROM sweep),
      thrstar AS (SELECT thr AS thr_star FROM f1
                  ORDER BY f1 DESC, thr ASC LIMIT 1),
      qg AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks,
               text
        FROM documents),
      qm AS (
        SELECT doc_id, len(toks) AS n,
               floor((least(len(toks) / 100.0, 1.0) * 0.5 +
                      least(length(text) / 500.0, 1.0) * 0.3 +
                      least(CASE WHEN len(toks) > 0
                              THEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE) / len(toks)
                              ELSE 0.0 END * 5.0,
                            1.0) * 0.2) * 1e6 + 0.5) / 1e6 AS quality,
               CASE WHEN len(toks) > 0
                    THEN CAST(length(list_aggregate(toks, 'string_agg', '')) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS mean_len,
               CASE WHEN len(toks) > 0
                    THEN CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS alpha_frac,
               CASE WHEN len(toks) > 0
                    THEN CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS sym_ratio,
               len(list_intersect(list_transform(toks, t -> lower(t)),
                   ['the','be','to','of','and','that','have','with'])) AS stop_hits
        FROM qg),
      flags AS (
        SELECT doc_id, quality,
               (n >= 5 AND n <= 100000) AND (mean_len >= 3.0 AND mean_len <= 10.0)
                 AND alpha_frac >= 0.8 AND sym_ratio <= 0.1 AND stop_hits >= 2
                 AS ok_gopher
        FROM qm),
      p_b AS (
        SELECT doc_id, text,
               CAST(concat('0x', substr(md5('lm:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        FROM documents),
      p_tok AS (
        SELECT doc_id, bucket,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        FROM p_b),
      p_bg AS (
        SELECT doc_id, bucket,
               CASE WHEN len(toks) < 2 THEN []
                    ELSE list_transform(generate_series(1, len(toks) - 1),
                                        i -> toks[i] || ' ' || toks[i+1]) END AS bgs
        FROM p_tok),
      p_refbg AS (
        SELECT u.bg AS bg, count(*) AS c12
        FROM (SELECT bgs FROM p_bg WHERE bucket < 50) r, unnest(r.bgs) AS u(bg)
        GROUP BY 1),
      p_ctx AS (
        SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
        FROM p_refbg GROUP BY 1),
      p_voc AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM p_ctx),
      p_ex AS (
        SELECT p_bg.doc_id, u.bg AS dbg
        FROM p_bg, unnest(p_bg.bgs) AS u(bg)),
      p_scored AS (
        SELECT p_ex.doc_id,
               round(avg(ln((coalesce(r.c12, 0) + 0.5) /
                            (coalesce(c.c1, 0) + 0.5 * p_voc.v))), 4) AS avg_logprob
        FROM p_ex
        LEFT JOIN p_refbg r ON r.bg = p_ex.dbg
        LEFT JOIN p_ctx c ON c.w1 = split_part(p_ex.dbg, ' ', 1)
        CROSS JOIN p_voc
        GROUP BY 1),
      p_full AS (
        SELECT t.doc_id, coalesce(s.avg_logprob, 0.0) AS avg_logprob
        FROM p_tok t LEFT JOIN p_scored s ON s.doc_id = t.doc_id),
      p_bucketed AS (
        SELECT doc_id,
               CASE ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id ASC)
                 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
               END AS ppl_bucket
        FROM p_full)
      SELECT f.doc_id, f.quality,
             f.quality >= 0.45 AS ok_quality,
             f.ok_gopher,
             p.ppl_bucket,
             p.ppl_bucket <> 'tail' AS ok_ppl,
             s.score AS clf_score,
             t.thr_star,
             s.score >= t.thr_star AS ok_clf,
             f.quality >= 0.45 AND f.ok_gopher AND p.ppl_bucket <> 'tail'
               AND s.score >= t.thr_star AS keep
      FROM flags f
      JOIN p_bucketed p USING (doc_id)
      JOIN scored s USING (doc_id)
      CROSS JOIN thrstar t
    """),
    (s, dir) => {
      // NOT materialized: a lazy cut of the scored table (shared by the
      // sweep and the clf join) was MEASURED SLOWER here too (min-of-6:
      // 2.95 → 3.31 s control-normalized 2.25→2.47×) — the third
      // localCheckpoint experiment in this family to lose at gate scale;
      // re-deriving the scoring pass is cheaper than the RDD cut.
      val scored = logRegScored(s, dir)
      val sweep = classifierEval(scored, (1 to 9).map(_ / 10.0))
      val thrStar = sweep
        .select(col("thr"),
          when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
            floor(lit(2.0) * col("tp") /
              (lit(2) * col("tp") + col("fp") + col("fn")) * 1e6 + 0.5) / 1e6)
            .otherwise(lit(0.0)).as("f1"))
        .orderBy(col("f1").desc, col("thr").asc).limit(1)
        .select(col("thr").as("thr_star"))
      qualityEnsemble(
        Tables(s, dir, "documents").select(col("doc_id"), col("text")),
        pplBucketed(s, dir), scored, thrStar, minQuality = 0.45)
    })

  /** Gopher quality rules (Rae et al., "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", 2021 — the
    * published heuristic filter suite most curation stacks start from),
    * as one exchange-free projection emitting per-rule flags plus the
    * conjunction (the array lambdas are interpreted but strictly linear
    * per token — no nested HOF re-inlining, the d31 kernel lesson's
    * trap):
    *   - word count within [minWords, maxWords]
    *   - mean word length within [3, 10]
    *   - fraction of words containing an alphabetic character ≥ 0.8
    *   - symbol-to-word ratio (# and ellipsis) ≤ 0.1
    *   - at least two distinct common-stopword hits (the "real prose"
    *     signal)
    * Per-rule flags (not just the verdict) are what production
    * pipelines log — filter-rate dashboards per rule are how threshold
    * drift is caught. */
  def gopherRules(c: Column, minWords: Int = 5, maxWords: Int = 100000)
      : Seq[(String, Column)] = {
    val toks = tokens(c)
    val nWords = size(toks)
    val meanLen = when(nWords > 0,
      (length(concat_ws("", toks)).cast("double")) / nWords).otherwise(lit(0.0))
    val alphaWords = size(filter(toks, t => t.rlike("[A-Za-z]")))
    val alphaFrac = when(nWords > 0,
      alphaWords.cast("double") / nWords).otherwise(lit(0.0))
    val symbols = regexp_count(c, lit("#|\\.\\.\\.")).cast("double")
    val symbolRatio = when(nWords > 0, symbols / nWords).otherwise(lit(0.0))
    val stopHits = size(array_intersect(
      transform(toks, t => lower(t)),
      typedLit(Seq("the", "be", "to", "of", "and", "that", "have", "with"))))
    Seq(
      "ok_word_count" -> (nWords >= minWords && nWords <= maxWords),
      "ok_mean_word_len" -> (meanLen >= 3.0 && meanLen <= 10.0),
      "ok_alpha_ratio" -> (alphaFrac >= 0.8),
      "ok_symbol_ratio" -> (symbolRatio <= 0.1),
      "ok_stopwords" -> (stopHits >= 2))
  }

  /** Gopher-rules gate: every rule flag + the conjunction per doc. */
  val d39GopherRules: Q = Q(
    "d39_gopher_rules",
    Some("""
      WITH tok AS (
        SELECT doc_id, text,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        FROM documents),
      m AS (
        SELECT doc_id, text, toks, len(toks) AS n,
               CASE WHEN len(toks) > 0
                    THEN CAST(length(list_aggregate(toks, 'string_agg', '')) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS mean_len,
               CASE WHEN len(toks) > 0
                    THEN CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS alpha_frac,
               CASE WHEN len(toks) > 0
                    THEN CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS sym_ratio,
               len(list_intersect(list_transform(toks, t -> lower(t)),
                   ['the','be','to','of','and','that','have','with'])) AS stop_hits
        FROM tok)
      SELECT doc_id,
             n >= 5 AND n <= 100000 AS ok_word_count,
             mean_len >= 3.0 AND mean_len <= 10.0 AS ok_mean_word_len,
             alpha_frac >= 0.8 AS ok_alpha_ratio,
             sym_ratio <= 0.1 AS ok_symbol_ratio,
             stop_hits >= 2 AS ok_stopwords,
             (n >= 5 AND n <= 100000) AND (mean_len >= 3.0 AND mean_len <= 10.0)
               AND alpha_frac >= 0.8 AND sym_ratio <= 0.1 AND stop_hits >= 2 AS passed
      FROM m
    """),
    (s, dir) => {
      val rules = gopherRules(col("text"))
      val flags = rules.map { case (n, c) => c.as(n) }
      val passed = rules.map(_._2).reduce(_ && _).as("passed")
      Tables(s, dir, "documents")
        .select(col("doc_id") +: flags :+ passed: _*)
    })

  /** Gopher repetition signals — the second half of the published
    * heuristic suite (d39 covers the composition rules): per document,
    *   - `top_tok_frac`: frequency of the most common token / total
    *     tokens (a page that is 40% one word is boilerplate);
    *   - `dup2_frac` / `dup3_frac`: fraction of n-gram-occurrence
    *     characters belonging to n-grams that appear ≥ 2 times within
    *     the document (char-weighted, per the paper — long repeated
    *     phrases count more than short ones).
    *
    * Scale shape: ONE text scan — all three n-gram levels ride a single
    * tagged explode (the kernel builds each level's grams; the tagging
    * transform is a linear lambda, no nested-HOF re-inlining) — then
    * two hash aggregations keyed by doc, both map-side combinable, and
    * a final per-doc pivot. No joins except the keep-empty-docs left
    * join against the doc-id spine. */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    // ONE exchange-free projection (guide §2.4): every gram of a document
    // lives in one row, so the native kernel
    // ([[graft.plans.RepetitionSignalsExpr]]) computes all three
    // fractions in-row — replacing the previous
    // explode(1+2+3-grams) → groupBy(doc, n, gram) → groupBy(doc, n) →
    // pivot → spine-join pipeline (two shuffles of every distinct gram
    // occurrence plus a join, at any corpus size). Counts are exact
    // longs and each fraction one IEEE division + floor@4, evaluated
    // exactly as the aggregate formulation did — bit-identical output
    // (TextStatsSpec's hand-checked fractions pin it).
    val sig = graft.plans.RepetitionSignalsExpr
      .repetitionSignals(lower(col("text")))
    docs.select(col("doc_id"), sig.as("__sig"))
      .select(col("doc_id"),
        col("__sig.top_tok_frac").as("top_tok_frac"),
        col("__sig.dup2_frac").as("dup2_frac"),
        col("__sig.dup3_frac").as("dup3_frac"))
  }

  /** Repetition-signals gate: all three fractions per document. */
  val d40RepetitionSignals: Q = Q(
    "d40_repetition_signals",
    Some("""
      WITH tok AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        FROM documents),
      lv AS (
        SELECT doc_id, 1 AS n, u.g AS gram
        FROM tok, unnest(toks) AS u(g)
        UNION ALL
        SELECT doc_id, 2, toks[i] || ' ' || toks[i+1]
        FROM tok, unnest(generate_series(1, len(toks) - 1)) AS s(i)
        WHERE len(toks) >= 2
        UNION ALL
        SELECT doc_id, 3, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        FROM tok, unnest(generate_series(1, len(toks) - 2)) AS s(i)
        WHERE len(toks) >= 3),
      c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM lv GROUP BY 1, 2, 3),
      p AS (
        SELECT doc_id, n,
               CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top_frac,
               CAST(sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) END) AS DOUBLE)
                 / sum(cnt * length(gram)) AS dup_frac
        FROM c GROUP BY 1, 2),
      piv AS (
        SELECT doc_id,
               floor(coalesce(max(CASE WHEN n = 1 THEN top_frac END), 0.0) * 10000 + 0.5) / 10000 AS top_tok_frac,
               floor(coalesce(max(CASE WHEN n = 2 THEN dup_frac END), 0.0) * 10000 + 0.5) / 10000 AS dup2_frac,
               floor(coalesce(max(CASE WHEN n = 3 THEN dup_frac END), 0.0) * 10000 + 0.5) / 10000 AS dup3_frac
        FROM p GROUP BY 1)
      SELECT t.doc_id,
             coalesce(piv.top_tok_frac, 0.0) AS top_tok_frac,
             coalesce(piv.dup2_frac, 0.0) AS dup2_frac,
             coalesce(piv.dup3_frac, 0.0) AS dup3_frac
      FROM tok t LEFT JOIN piv ON piv.doc_id = t.doc_id
    """),
    (s, dir) => repetitionSignals(
      Tables(s, dir, "documents").select(col("doc_id"), col("text"))))

  /** Blocklist term filtering — the C4-style "bad words" document
    * filter: flag and count word-boundary occurrences of any blocklist
    * term. The list compiles into ONE alternation regex evaluated by a
    * codegen'd `regexp_count` in the scan projection — zero joins, zero
    * exchanges, and the regex stays in the RE2 ∩ java.util.regex common
    * subset (plain literal alternation + \b) so the oracle counts
    * identically. For blocklists too large for one regex, the explode +
    * broadcast-semi-join shape (d28's) composes instead — this operator
    * is the common small-list fast path.
    *
    * Terms must be lowercase word-characters (enforced) — quoting
    * arbitrary metacharacters portably across regex engines is NOT
    * attempted. */
  def blocklistFilter(docs: DataFrame, terms: Seq[String],
      textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "empty blocklist")
    require(terms.forall(_.matches("[a-z0-9']+")),
      s"blocklist terms must be lowercase word characters: $terms")
    val re = "\\b(" + terms.mkString("|") + ")\\b"
    docs
      .withColumn("n_blocked", regexp_count(lower(col(textCol)), lit(re)))
      .withColumn("blocked", col("n_blocked") > 0)
  }

  /** Blocklist gate: three corpus terms, every doc scored. */
  val d37BlocklistFilter: Q = Q(
    "d37_blocklist_filter",
    Some("""
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\b(slow|dup|broken)\b')) AS INTEGER) AS n_blocked,
             len(regexp_extract_all(lower(text), '\b(slow|dup|broken)\b')) > 0 AS blocked
      FROM documents
    """),
    (s, dir) => blocklistFilter(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      Seq("slow", "dup", "broken"))
      .select(col("doc_id"), col("n_blocked"), col("blocked")))

  /** Rare-token scrubbing (vocabulary truncation): replace every token
    * whose GLOBAL corpus frequency is below `minCount` with `unk` — the
    * closed-vocabulary primitive of tokenizer pipelines, and the
    * memorization/privacy mitigation that retires one-off strings
    * (ids, emails, typos) from the training corpus while keeping
    * sentence structure.
    *
    * Scale shape: the token count table is a map-side-combinable
    * aggregate (Zipf-hot tokens partial-aggregate per task); the
    * rewrite pass re-joins positions to counts on the token key and
    * reassembles each doc with one per-doc sorted collect — the d22
    * rebuild shape, applied to EVERY tokenized doc (unlike span
    * scrubbing there is no cheap affected-docs prefilter: the rare set
    * is the unbounded Zipf tail, so "contains a rare token" is the
    * common case, and the kept-vocab membership test costs the same
    * join either way). All output is single-spaced by construction
    * (documented contract, same as span scrubbing).
    * The count table is the persisted artifact at production scale
    * (build once per corpus snapshot, reuse across scrub runs —
    * `appendToFingerprintIndex`-style maintenance applies since
    * counting is associative). */
  def rareTokenScrub(docs: DataFrame, minCount: Long,
      unk: String = "<unk>"): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val tok = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val counts = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val rebuilt = tok
      .join(counts, Seq("tok"))
      .select(col("doc_id"), col("pos"),
        when(col("cnt") >= minCount, col("tok")).otherwise(lit(unk)).as("tok2"),
        (col("cnt") < minCount).cast("int").as("is_unk"))
      .groupBy(col("doc_id"))
      .agg(
        positionalRebuild(col("tok2"), col("pos")).as("scrubbed"),
        sum(col("is_unk")).as("n_unk"))
    docs.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"),
        coalesce(col("n_unk"), lit(0L)).as("n_unk"))
  }

  /** Rare-token gate: minCount 100 — the corpus' single sub-100 token
    * is scrubbed everywhere it appears, everything else passes.
    *
    * The oracle deliberately avoids every positional-SQL construct
    * (lateral `unnest(generate_series(...))`, ordered `string_agg`) the
    * d76 tokenizer canary does NOT cover: the rebuild is a
    * `list_transform` over the ORIGINAL token array (order preserved by
    * construction) against the small rare-vocabulary list, so the only
    * cross-engine surfaces left are tokenization (pinned green by d76)
    * and plain counting (pinned by the d38a canary). The engine side is
    * unchanged — posexplode → count join → positional rebuild, the
    * shape that scales; the d38a/b/c canaries decompose the pipeline
    * into independently-hashed stages so a driver-side red names the
    * diverging stage instead of the whole operator. */
  val d38RareTokenScrub: Q = Q(
    "d38_rare_token_scrub",
    Some("""
      WITH base AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        FROM documents),
      counts AS (
        SELECT tok, count(*) AS cnt
        FROM (SELECT unnest(toks) AS tok FROM base) GROUP BY 1),
      rare AS (SELECT coalesce(list(tok), []) AS rv FROM counts WHERE cnt < 100)
      SELECT b.doc_id,
             array_to_string(list_transform(b.toks,
               t -> CASE WHEN list_contains(rare.rv, t) THEN '<unk>' ELSE t END),
               ' ') AS scrubbed,
             CAST(len(list_filter(b.toks,
               t -> list_contains(rare.rv, t))) AS BIGINT) AS n_unk
      FROM base b CROSS JOIN rare
    """),
    (s, dir) => rareTokenScrub(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      minCount = 100L))

  /** Shared base CTE of the d38 canary family — identical to d38's (and
    * d76's) tokenization so the three stages decompose exactly the
    * gated pipeline. */
  private val d38BaseCte = """
      WITH base AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        FROM documents),
      counts AS (
        SELECT tok, count(*) AS cnt
        FROM (SELECT unnest(toks) AS tok FROM base) GROUP BY 1),
      rare AS (SELECT coalesce(list(tok), []) AS rv FROM counts WHERE cnt < 100)"""

  /** d38a — STAGE CANARY 1 of the rare-token pipeline: the global
    * (tok, cnt) table itself. d38 went driver-red three rounds with
    * rows+schema green and every local replica green, while the d76
    * tokenizer canary stayed driver-GREEN — so the divergence (if it is
    * real at all) lives downstream of tokenization. This canary hashes
    * the counting stage alone: if it reds, the count table diverges; if
    * it greens while d38 reds, counting is exonerated too. */
  val d38aTokenCounts: Q = Q(
    "d38a_token_counts",
    Some("""
      WITH base AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        FROM documents)
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(toks) AS tok FROM base)
      GROUP BY 1
    """),
    (s, dir) => Tables(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt")))

  /** d38b — STAGE CANARY 2: per-doc `n_unk` only. Pure integers end to
    * end (no strings in the hashed output), so a red here isolates the
    * rare-membership accounting; a green here plus a red d38 pins the
    * divergence to the rebuilt STRING column (content or comparison). */
  val d38bRareTokenNunk: Q = Q(
    "d38b_rare_token_nunk",
    Some(d38BaseCte + """
      SELECT b.doc_id,
             CAST(len(list_filter(b.toks,
               t -> list_contains(rare.rv, t))) AS BIGINT) AS n_unk
      FROM base b CROSS JOIN rare
    """),
    (s, dir) => rareTokenScrub(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      minCount = 100L).select(col("doc_id"), col("n_unk")))

  /** d38c — STAGE CANARY 3: `md5(scrubbed)` per doc. The full rebuilt
    * content, hashed INSIDE both engines before the driver ever
    * compares — so d38c green + d38 red means the scrubbed strings are
    * byte-identical in both engines and the divergence is in the
    * driver's own comparison of the long string column; d38c red means
    * the rebuild content genuinely differs in that environment. */
  val d38cRareTokenScrubMd5: Q = Q(
    "d38c_rare_token_scrub_md5",
    Some(d38BaseCte + """
      SELECT b.doc_id,
             md5(array_to_string(list_transform(b.toks,
               t -> CASE WHEN list_contains(rare.rv, t) THEN '<unk>' ELSE t END),
               ' ')) AS scrub_md5
      FROM base b CROSS JOIN rare
    """),
    (s, dir) => rareTokenScrub(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      minCount = 100L)
      .select(col("doc_id"), md5(col("scrubbed")).as("scrub_md5")))

  /** d76 — tokenizer-parity canary. The whole token family (d38 and
    * every count/vocab query) rests on one cross-engine equivalence:
    * Java-regex `split(trim(text), "\\s+")` on the engine side must
    * tokenize identically to DuckDB/RE2
    * `regexp_split_to_array(trim(text), '\s+')` on the oracle side
    * (the known edge: Java \s includes \x0B vertical-tab, RE2's does
    * not — absent from this corpus, but a DuckDB version could move
    * the line). This gate asserts per-doc token count, first/last
    * token, and an md5 over the full token array (US-separated) BOTH
    * ways over the full corpus, so a tokenization divergence in ANY
    * environment fails loudly here and pins d38-family reds to (or
    * away from) tokenization. */
  val d76TokenizerCanary: Q = Q(
    "d76_tokenizer_canary",
    Some("""
      WITH base AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        FROM documents)
      SELECT doc_id,
             len(toks) AS n_tok,
             CASE WHEN len(toks) > 0 THEN toks[1] END AS first_tok,
             CASE WHEN len(toks) > 0 THEN toks[len(toks)] END AS last_tok,
             md5(array_to_string(toks, chr(31))) AS tok_md5
      FROM base
    """),
    (s, dir) => {
      val toks = tokens(col("text"))
      Tables(s, dir, "documents").select(
        col("doc_id"),
        size(toks).cast("long").as("n_tok"),
        when(size(toks) > 0, element_at(toks, 1)).as("first_tok"),
        when(size(toks) > 0, element_at(toks, -1)).as("last_tok"),
        md5(concat_ws("\u001f", toks)).as("tok_md5"))
    })

  /** Heavy-hitters gate: top-5 tokens per language through the
    * [[graft.plans.MisraGriesAgg]] sketch. Capacity 256 covers the gate
    * vocabulary, so the sketch is provably exact here and the DuckDB
    * oracle is plain counting; the bounded-error regime (capacity ≪
    * distinct — the 100 TB posture, where the shuffle moves 256
    * counters per partition instead of the key universe) is pinned by
    * SketchSpec's Misra-Gries bound tests. */
  val d36HeavyHitters: Q = Q(
    "d36_heavy_hitters",
    Some("""
      WITH tk AS (
        SELECT lang, u.t AS token
        FROM (SELECT lang,
                     CASE WHEN length(trim(text)) = 0 THEN []
                          ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
              FROM documents) d, unnest(d.toks) AS u(t)),
      c AS (SELECT lang, token, count(*) AS est FROM tk GROUP BY 1, 2),
      r AS (SELECT lang, token, est,
                   row_number() OVER (PARTITION BY lang ORDER BY est DESC, token) AS rank
            FROM c)
      SELECT lang, token, est, CAST(rank AS INTEGER) AS rank
      FROM r WHERE rank <= 5
    """),
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("lang"),
          explode(graft.plans.NgramsExpr.ngrams(lower(col("text")), 1)).as("token"))
        .groupBy(col("lang"))
        .agg(graft.plans.MisraGriesAgg.freqItems(col("token"), 256).as("hh"))
        .select(col("lang"), posexplode(col("hh")))
        .select(col("lang"), col("col.item").as("token"),
          col("col.est").as("est"), (col("pos") + 1).cast("int").as("rank"))
        .filter(col("rank") <= 5)
    })

  /** Per-source token-distribution divergence: KL(source ‖ corpus) over
    * the unigram distributions, plus token/type totals — the
    * data-mixing diagnostic that tells you which source is an outlier
    * before you pick d29's repeat factors (a source whose distribution
    * diverges hard from the mixture needs down-weighting or its own
    * curriculum stage; CCNet/DSIR weight by exactly this kind of ratio).
    * No smoothing is needed: every source token is a corpus token, so
    * q(t) > 0 wherever p(t) > 0 and the sum is finite by construction.
    *
    * Scale shape: corpus text explodes ONCE into (source, token) counts
    * (partial-aggregatable); everything downstream operates on the
    * vocabulary-sized count table — the per-source totals broadcast, the
    * final KL is one more partial-aggregatable sum. round(4) absorbs the
    * cross-engine summation-order ulps of the double term sum. */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"), explode(tokens(col("text"))).as("token"))
    val sc = tok.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c_st"))
    val st = sc.groupBy(col("source"))
      .agg(sum(col("c_st")).as("n_tokens"), count(lit(1)).as("n_types"))
    val tt = sc.groupBy(col("token")).agg(sum(col("c_st")).as("c_t"))
    val n = sc.agg(sum(col("c_st")).as("n_total"))
    val p = col("c_st").cast("double") / col("n_tokens")
    val q = col("c_t").cast("double") / col("n_total")
    sc.join(tt, Seq("token"))
      .join(broadcast(st), Seq("source"))
      .crossJoin(broadcast(n))
      .groupBy(col("source"), col("n_tokens"), col("n_types"))
      .agg(round(sum(p * log(p / q)), 4).as("kl"))
  }

  /** d50 — source divergence over the documents corpus. */
  val d50SourceDivergence: Q = Q(
    "d50_source_divergence",
    Some("""
      WITH tok AS (
        SELECT source, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
               t -> t <> '')) AS token
        FROM documents),
      sc AS (SELECT source, token, count(*) AS c_st FROM tok GROUP BY 1, 2),
      st AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_tokens,
                    count(*) AS n_types
             FROM sc GROUP BY 1),
      tt AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t FROM sc GROUP BY 1),
      n AS (SELECT CAST(sum(c_st) AS BIGINT) AS n_total FROM sc)
      SELECT sc.source, st.n_tokens, st.n_types,
             round(sum((CAST(sc.c_st AS DOUBLE) / st.n_tokens) *
                       ln((CAST(sc.c_st AS DOUBLE) / st.n_tokens) /
                          (CAST(tt.c_t AS DOUBLE) / n.n_total))), 4) AS kl
      FROM sc JOIN tt USING (token) JOIN st USING (source) CROSS JOIN n
      GROUP BY 1, 2, 3
    """),
    (s, dir) => sourceDivergence(
      Tables(s, dir, "documents").select(col("source"), col("text"))))

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis A-ES): each row draws u ∈ (0,1] from the
    * seeded 60-bit md5 of its id (the corpus RNG — replayable, never
    * rand()) and scores skey = −ln(u)/w; the k SMALLEST keys are a
    * weighted sample without replacement, exactly (the classic
    * exponential-race argument). This is the importance-sampling member
    * of the sampling family: d14 stratifies by group, s11 balances by
    * cluster, s12/s14 mine negatives — this one biases by a per-row
    * weight (length, quality score, d34's DSIR weight) in one pass.
    *
    * Scale shape: a pure projection (hash + ln per row) and a
    * TakeOrderedAndProject top-k — per-partition heads merge on the
    * driver, no global sort, no shuffle of the corpus. Cross-engine:
    * u is exact ((h AS DOUBLE + 1) / 2^60 — IEEE-identical rounding,
    * exact power-of-two division); ln carries ≤ 1 ulp libm variance,
    * absorbed by the floor@9 rounding of the emitted key and
    * vanishingly unlikely to flip a rank boundary. */
  def weightedSample(rows: DataFrame, idCol: String, weightCol: String,
      k: Int, seed: String): DataFrame = {
    require(k > 0, "k must be positive")
    val h = conv(substring(md5(concat(lit(seed + ":"),
      col(idCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val u = (h.cast("double") + 1.0) / 1.152921504606846976e18
    val skey = -log(u) / col(weightCol)
    rows.filter(col(weightCol) > 0)
      .select(col(idCol), col(weightCol), skey.as("__skey"))
      .orderBy(col("__skey").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col(weightCol),
        (floor(col("__skey") * 1e9 + 0.5) / 1e9).as("skey"))
  }

  /** BPE tokenizer training IN the engine — the vocabulary-learning
    * step every published pipeline runs beside curation (GPT-2/RoBERTa
    * BPE, SentencePiece): learn the top-`k` byte-pair merges from the
    * corpus. The corpus collapses ONCE into a (word, freq) vocabulary
    * (corpus-sized work ends there — BPE training is vocabulary-sized,
    * the whole reason it scales); each round then
    *   (1) counts adjacent symbol pairs weighted by word frequency
    *       (one explode+sum over the vocab through the codegen'd
    *       [[graft.plans.NgramsExpr]] bigram kernel),
    *   (2) takes the global argmax (count desc, pair asc — a 1-row
    *       TakeOrdered model artifact, the KMeans-centroid collect
    *       pattern), and
    *   (3) rewrites every word's symbol string through the greedy
    *       left-to-right [[graft.plans.BpeApplyExpr]] kernel (a run of
    *       three A's under merge (A,A) yields [AA, A] — cursor skips
    *       both consumed symbols).
    * Deterministic end-to-end (integer counts, lexicographic ties), so
    * the DuckDB oracle UNROLLS the training loop — the merge
    * application replays relationally as position explode +
    * gaps-and-islands parity selection (greedy non-overlap ≡ every
    * other position within each consecutive-occurrence run), the d35
    * unrolled-training pattern. Words are restricted to [a-z0-9]+ so
    * char splitting is byte-safe across engines.
    *
    * Returns the learned merge table (rank, a, b, pair_count) — the
    * tokenizer model artifact a 100 TB run persists and ships. */
  def bpeMerges(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = docs.sparkSession
    val vocab = docs.select(explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    var state = Lineage.cut(vocab.select(col("freq"),
      concat_ws(" ", filter(split(col("w"), ""), x => x =!= "")).as("sym")))
    val merges = Seq.newBuilder[Row]
    for (r <- 1 to k) {
      val top = state
        .select(explode(graft.plans.NgramsExpr.ngrams(col("sym"), 2)).as("pair"),
          col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val pair = top(0).getString(0)
        val cnt = top(0).getLong(1)
        val Array(a, b) = pair.split(" ", 2)
        merges += Row(r, a, b, cnt)
        state = Lineage.cut(state.select(col("freq"),
          graft.plans.BpeApplyExpr.bpeApply(col("sym"), lit(pair)).as("sym")))
      }
    }
    graft.LocalTable.of(spark, StructType(Seq(
      StructField("rank", IntegerType), StructField("a", StringType),
      StructField("b", StringType), StructField("pair_count", LongType))),
      merges.result())
  }

  /** d57 — the first 3 BPE merges learned from the documents corpus.
    * The oracle unrolls all three training rounds in SQL. */
  val d57BpeMerges: Q = Q(
    "d57_bpe_merges",
    Some("""
      WITH vocab AS (
        SELECT w, count(*) AS freq FROM (
          SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> t <> '')) AS w
          FROM documents)
        WHERE regexp_matches(w, '^[a-z0-9]+$')
        GROUP BY 1),
      s0 AS (SELECT w, freq, string_split(w, '') AS sy FROM vocab),
      p1 AS (
        SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
               i -> sy[i] || ' ' || sy[i+1])) AS pair, freq
        FROM s0),
      m1 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p1
             GROUP BY 1 ORDER BY cnt DESC, pair ASC LIMIT 1),
      e1 AS (SELECT w, freq, sy, unnest(generate_series(1, len(sy))) AS i FROM s0),
      hit1 AS (SELECT e1.w, e1.i FROM e1, m1
               WHERE e1.i < len(e1.sy)
                 AND e1.sy[e1.i] || ' ' || e1.sy[e1.i+1] = m1.pair),
      isl1 AS (SELECT w, i,
                      i - row_number() OVER (PARTITION BY w ORDER BY i) AS grp
               FROM hit1),
      sel1 AS (SELECT w, i FROM (
                 SELECT w, i, min(i) OVER (PARTITION BY w, grp) AS s FROM isl1)
               WHERE (i - s) % 2 = 0),
      s1 AS (SELECT e.w, any_value(e.freq) AS freq,
                    list(CASE WHEN sel.i IS NOT NULL
                              THEN e.sy[e.i] || e.sy[e.i+1]
                              ELSE e.sy[e.i] END ORDER BY e.i) AS sy
             FROM e1 e
             LEFT JOIN sel1 sel ON sel.w = e.w AND sel.i = e.i
             LEFT JOIN sel1 prv ON prv.w = e.w AND prv.i = e.i - 1
             WHERE prv.i IS NULL
             GROUP BY e.w),
      p2 AS (
        SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
               i -> sy[i] || ' ' || sy[i+1])) AS pair, freq
        FROM s1),
      m2 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p2
             GROUP BY 1 ORDER BY cnt DESC, pair ASC LIMIT 1),
      e2 AS (SELECT w, freq, sy, unnest(generate_series(1, len(sy))) AS i FROM s1),
      hit2 AS (SELECT e2.w, e2.i FROM e2, m2
               WHERE e2.i < len(e2.sy)
                 AND e2.sy[e2.i] || ' ' || e2.sy[e2.i+1] = m2.pair),
      isl2 AS (SELECT w, i,
                      i - row_number() OVER (PARTITION BY w ORDER BY i) AS grp
               FROM hit2),
      sel2 AS (SELECT w, i FROM (
                 SELECT w, i, min(i) OVER (PARTITION BY w, grp) AS s FROM isl2)
               WHERE (i - s) % 2 = 0),
      s2 AS (SELECT e.w, any_value(e.freq) AS freq,
                    list(CASE WHEN sel.i IS NOT NULL
                              THEN e.sy[e.i] || e.sy[e.i+1]
                              ELSE e.sy[e.i] END ORDER BY e.i) AS sy
             FROM e2 e
             LEFT JOIN sel2 sel ON sel.w = e.w AND sel.i = e.i
             LEFT JOIN sel2 prv ON prv.w = e.w AND prv.i = e.i - 1
             WHERE prv.i IS NULL
             GROUP BY e.w),
      p3 AS (
        SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
               i -> sy[i] || ' ' || sy[i+1])) AS pair, freq
        FROM s2),
      m3 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p3
             GROUP BY 1 ORDER BY cnt DESC, pair ASC LIMIT 1)
      SELECT CAST(1 AS INT) AS rank, string_split(pair, ' ')[1] AS a,
             string_split(pair, ' ')[2] AS b, cnt AS pair_count FROM m1
      UNION ALL
      SELECT CAST(2 AS INT), string_split(pair, ' ')[1],
             string_split(pair, ' ')[2], cnt FROM m2
      UNION ALL
      SELECT CAST(3 AS INT), string_split(pair, ' ')[1],
             string_split(pair, ' ')[2], cnt FROM m3
    """),
    (s, dir) => bpeMerges(
      Tables(s, dir, "documents").select(col("text")), k = 3))

  /** The ENCODE half of BPE: segment a vocabulary with an already-
    * learned merge list (apply merges in rank order — the standard
    * tokenizer inference rule). Each merge is one pass of the
    * [[graft.plans.BpeApplyExpr]] kernel over the vocabulary-sized
    * state, so encoding cost is O(|vocab| · |merges|) symbol scans,
    * never corpus-sized; the corpus maps onto the segmented vocabulary
    * by the same word key. Returns (w, freq, n_symbols, segmented). */
  def bpeSegment(docs: DataFrame, merges: Seq[String]): DataFrame = {
    val vocab = docs.select(explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val init = vocab.select(col("w"), col("freq"),
      concat_ws(" ", filter(split(col("w"), ""), x => x =!= "")).as("segmented"))
    val segmented = merges.foldLeft(init) { (st, pair) =>
      st.withColumn("segmented",
        graft.plans.BpeApplyExpr.bpeApply(col("segmented"), lit(pair)))
    }
    segmented.select(col("w"), col("freq"),
      (size(split(col("segmented"), " "))).as("n_symbols"), col("segmented"))
  }

  /** d58 — segment the corpus vocabulary with the 3 merges d57 learns
    * (train → encode, end to end in one plan). The oracle extends the
    * d57 unrolled chain by the third application round and emits the
    * final segmentation. */
  val d58BpeSegment: Q = Q(
    "d58_bpe_segment",
    Some("""
      WITH vocab AS (
        SELECT w, count(*) AS freq FROM (
          SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> t <> '')) AS w
          FROM documents)
        WHERE regexp_matches(w, '^[a-z0-9]+$')
        GROUP BY 1),
      s0 AS (SELECT w, freq, string_split(w, '') AS sy FROM vocab),
      p1 AS (
        SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
               i -> sy[i] || ' ' || sy[i+1])) AS pair, freq
        FROM s0),
      m1 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p1
             GROUP BY 1 ORDER BY cnt DESC, pair ASC LIMIT 1),
      e1 AS (SELECT w, freq, sy, unnest(generate_series(1, len(sy))) AS i FROM s0),
      hit1 AS (SELECT e1.w, e1.i FROM e1, m1
               WHERE e1.i < len(e1.sy)
                 AND e1.sy[e1.i] || ' ' || e1.sy[e1.i+1] = m1.pair),
      isl1 AS (SELECT w, i,
                      i - row_number() OVER (PARTITION BY w ORDER BY i) AS grp
               FROM hit1),
      sel1 AS (SELECT w, i FROM (
                 SELECT w, i, min(i) OVER (PARTITION BY w, grp) AS s FROM isl1)
               WHERE (i - s) % 2 = 0),
      s1 AS (SELECT e.w, any_value(e.freq) AS freq,
                    list(CASE WHEN sel.i IS NOT NULL
                              THEN e.sy[e.i] || e.sy[e.i+1]
                              ELSE e.sy[e.i] END ORDER BY e.i) AS sy
             FROM e1 e
             LEFT JOIN sel1 sel ON sel.w = e.w AND sel.i = e.i
             LEFT JOIN sel1 prv ON prv.w = e.w AND prv.i = e.i - 1
             WHERE prv.i IS NULL
             GROUP BY e.w),
      p2 AS (
        SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
               i -> sy[i] || ' ' || sy[i+1])) AS pair, freq
        FROM s1),
      m2 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p2
             GROUP BY 1 ORDER BY cnt DESC, pair ASC LIMIT 1),
      e2 AS (SELECT w, freq, sy, unnest(generate_series(1, len(sy))) AS i FROM s1),
      hit2 AS (SELECT e2.w, e2.i FROM e2, m2
               WHERE e2.i < len(e2.sy)
                 AND e2.sy[e2.i] || ' ' || e2.sy[e2.i+1] = m2.pair),
      isl2 AS (SELECT w, i,
                      i - row_number() OVER (PARTITION BY w ORDER BY i) AS grp
               FROM hit2),
      sel2 AS (SELECT w, i FROM (
                 SELECT w, i, min(i) OVER (PARTITION BY w, grp) AS s FROM isl2)
               WHERE (i - s) % 2 = 0),
      s2 AS (SELECT e.w, any_value(e.freq) AS freq,
                    list(CASE WHEN sel.i IS NOT NULL
                              THEN e.sy[e.i] || e.sy[e.i+1]
                              ELSE e.sy[e.i] END ORDER BY e.i) AS sy
             FROM e2 e
             LEFT JOIN sel2 sel ON sel.w = e.w AND sel.i = e.i
             LEFT JOIN sel2 prv ON prv.w = e.w AND prv.i = e.i - 1
             WHERE prv.i IS NULL
             GROUP BY e.w),
      p3 AS (
        SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
               i -> sy[i] || ' ' || sy[i+1])) AS pair, freq
        FROM s2),
      m3 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p3
             GROUP BY 1 ORDER BY cnt DESC, pair ASC LIMIT 1),
      e3 AS (SELECT w, freq, sy, unnest(generate_series(1, len(sy))) AS i FROM s2),
      hit3 AS (SELECT e3.w, e3.i FROM e3, m3
               WHERE e3.i < len(e3.sy)
                 AND e3.sy[e3.i] || ' ' || e3.sy[e3.i+1] = m3.pair),
      isl3 AS (SELECT w, i,
                      i - row_number() OVER (PARTITION BY w ORDER BY i) AS grp
               FROM hit3),
      sel3 AS (SELECT w, i FROM (
                 SELECT w, i, min(i) OVER (PARTITION BY w, grp) AS s FROM isl3)
               WHERE (i - s) % 2 = 0),
      s3 AS (SELECT e.w, any_value(e.freq) AS freq,
                    list(CASE WHEN sel.i IS NOT NULL
                              THEN e.sy[e.i] || e.sy[e.i+1]
                              ELSE e.sy[e.i] END ORDER BY e.i) AS sy
             FROM e3 e
             LEFT JOIN sel3 sel ON sel.w = e.w AND sel.i = e.i
             LEFT JOIN sel3 prv ON prv.w = e.w AND prv.i = e.i - 1
             WHERE prv.i IS NULL
             GROUP BY e.w)
      SELECT w, freq, CAST(len(sy) AS INT) AS n_symbols,
             array_to_string(sy, ' ') AS segmented
      FROM s3
    """),
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("text"))
      val merges = bpeMerges(docs, k = 3).collect()
        .sortBy(_.getInt(0)).map(r => r.getString(1) + " " + r.getString(2)).toSeq
      bpeSegment(docs, merges)
    })

  /** Zipf-fit vocabulary diagnostics: least-squares slope/intercept of
    * ln(freq) vs ln(rank) over the unigram rank–frequency curve — a
    * natural-language corpus sits near slope −1; a slope far off flags
    * machine-generated/boilerplate-heavy or truncated-vocabulary data
    * before training. One token explode into vocabulary-sized counts;
    * ranks come from GlobalOrder's two-pass range-partitioned ranking
    * (never a single-partition window over the vocabulary — at 100 TB
    * the vocabulary is itself huge); the fit is one partial-aggregatable
    * moment sum. round(4) absorbs summation-order ulps. */
  def zipfFit(docs: DataFrame): DataFrame = {
    val counts = docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val ranked = graft.operators.GlobalOrder.withRanks(counts,
      Seq(col("freq").desc, col("tok").asc), Seq(col("freq"), col("tok"))).df
    val xy = ranked.select(log(col("rn").cast("double")).as("x"),
      log(col("freq").cast("double")).as("y"), col("freq"))
    val slope = (col("n_types") * col("sxy") - col("sx") * col("sy")) /
      (col("n_types") * col("sxx") - col("sx") * col("sx"))
    xy.agg(count(lit(1)).as("n_types"), sum(col("freq")).as("n_tokens"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n_types"), col("n_tokens"),
        round(slope, 4).as("zipf_slope"),
        round(col("sy") / col("n_types") - slope * col("sx") / col("n_types"), 4)
          .as("zipf_intercept"))
  }

  /** d52 — Zipf fit of the documents corpus vocabulary. */
  val d52ZipfFit: Q = Q(
    "d52_zipf_fit",
    Some("""
      WITH toks AS (
        SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
               t -> t <> '')) AS tok
        FROM documents),
      c AS (SELECT tok, count(*) AS freq FROM toks GROUP BY 1),
      r AS (SELECT tok, freq,
                   row_number() OVER (ORDER BY freq DESC, tok ASC) AS rn
            FROM c),
      xy AS (SELECT ln(CAST(rn AS DOUBLE)) AS x,
                    ln(CAST(freq AS DOUBLE)) AS y, freq
             FROM r),
      s AS (SELECT count(*) AS n_types, CAST(sum(freq) AS BIGINT) AS n_tokens,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM xy)
      SELECT n_types, n_tokens,
             round((n_types * sxy - sx * sy) / (n_types * sxx - sx * sx), 4)
               AS zipf_slope,
             round(sy / n_types -
                   (n_types * sxy - sx * sy) / (n_types * sxx - sx * sx)
                   * sx / n_types, 4) AS zipf_intercept
      FROM s
    """),
    (s, dir) => zipfFit(Tables(s, dir, "documents").select(col("text"))))

  /** d51 — 100 length-weighted documents (longer docs proportionally
    * likelier, the token-budget-aware sampling prior). */
  val d51WeightedSample: Q = Q(
    "d51_weighted_sample",
    Some("""
      WITH s AS (
        SELECT doc_id, n_chars,
               -ln((CAST(CAST(concat('0x', substr(md5('ws7:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE) + 1.0)
                   / 1152921504606846976.0) / n_chars AS skey
        FROM documents WHERE n_chars > 0),
      top AS (SELECT * FROM s ORDER BY skey ASC, doc_id ASC LIMIT 100)
      SELECT doc_id, n_chars, floor(skey * 1e9 + 0.5) / 1e9 AS skey
      FROM top
    """),
    (s, dir) => weightedSample(
      Tables(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", k = 100, seed = "ws7"))

  /** KMV cross-source vocabulary overlap: per-(source, lang) bounded
    * sketches rolled up per source through the pure-Column merge, then
    * every source pair's distinct/union/INTERSECTION estimated from the
    * artifacts alone — the overlap analytics HLL cannot provide (q42
    * unions; KMV also intersects). Capacity 256 covers the gate
    * vocabulary, so every estimator runs in its provably-exact branch
    * and the oracle is plain distinct counting; SketchSpec pins the
    * bounded-error regime and the merge algebra. Scale: the corpus
    * collapses map-side to ≤ 256 longs per (source, lang) partition;
    * everything after the first aggregate is sources-sized. */
  val d63KmvOverlap: Q = Q(
    "d63_kmv_overlap",
    Some("""
      WITH tk AS (
        SELECT DISTINCT source,
               unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> t <> '')) AS tok
        FROM documents),
      n AS (SELECT source, count(*) AS n FROM tk GROUP BY 1),
      inter AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS i
        FROM tk a JOIN tk b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2)
      SELECT na.source AS source_a, nb.source AS source_b,
             na.n AS n_a, nb.n AS n_b,
             na.n + nb.n - coalesce(i.i, 0) AS union_n,
             coalesce(i.i, 0) AS inter_n
      FROM n na JOIN n nb ON na.source < nb.source
      LEFT JOIN inter i
        ON i.source_a = na.source AND i.source_b = nb.source
    """),
    (s, dir) => {
      import graft.plans.KmvAgg._
      val k = 256
      val sketches = Tables(s, dir, "documents")
        .select(col("source"), col("lang"),
          explode(tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("lang"))
        .agg(kmvSketch(col("tok"), k).as("sk"))
        .groupBy(col("source"))
        .agg(collect_list(col("sk")).as("sks"))
        .select(col("source"), kmvMergeAll(col("sks"), k).as("sk"))
      val a = sketches.select(col("source").as("source_a"), col("sk").as("ska"))
      val b = sketches.select(col("source").as("source_b"), col("sk").as("skb"))
      a.join(b, col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"),
          kmvDistinctEstimate(col("ska"), k).cast("long").as("n_a"),
          kmvDistinctEstimate(col("skb"), k).cast("long").as("n_b"),
          kmvDistinctEstimate(kmvMerge(col("ska"), col("skb"), k), k)
            .cast("long").as("union_n"),
          kmvIntersectEstimate(col("ska"), col("skb"), k)
            .cast("long").as("inter_n"))
    })

  /** d66 — unicode canonicalization parity with an independent engine:
    * accents/case/whitespace are INJECTED deterministically (the corpus
    * is lowercase single-spaced ASCII, so an un-injected gate would be
    * vacuous), then the kernel's normalization must hash-match DuckDB's
    * own nfc_normalize/strip_accents/lower/regexp chain per document.
    * Pure exchange-free projection — the cleaning pass adds ZERO shuffle
    * at any scale. */
  val d66NormalizeText: Q = Q(
    "d66_normalize_text",
    Some("""
      WITH inj AS (
        SELECT doc_id,
               upper(translate(regexp_replace(text, ' ', chr(9) || '  ', 'g'),
                               'aeio', 'áéíó')) AS t
        FROM documents),
      n AS (
        SELECT doc_id,
               trim(regexp_replace(lower(strip_accents(nfc_normalize(t))),
                                   '\s+', ' ', 'g')) AS nt
        FROM inj)
      SELECT doc_id, md5(nt) AS norm_md5,
             CAST(length(nt) AS BIGINT) AS n_norm_chars
      FROM n
    """),
    (s, dir) => {
      val injected = upper(translate(
        regexp_replace(col("text"), " ", "\t  "), "aeio", "áéíó"))
      val norm = normalizeText(injected)
      Tables(s, dir, "documents")
        .select(col("doc_id"), md5(norm).as("norm_md5"),
          length(norm).cast("long").as("n_norm_chars"))
    })

  /** n-gram novelty against a reference slice: the fraction of a
    * document's distinct n-grams ABSENT from the reference vocabulary —
    * the memorization/novelty screen (a near-zero-novelty document is a
    * paraphrase or copy of reference material; the inverse of d28's
    * contamination overlap, scored per document instead of gated per
    * hit). Reference n-grams collapse to a distinct set once
    * (vocabulary-sized); each scored doc's grams LEFT-join it and count
    * misses — two exchanges on the gram hash, linear at any scale. */
  def ngramNovelty(docs: DataFrame, refDocs: DataFrame, n: Int): DataFrame = {
    val refGrams = refDocs
      .select(explode(graft.ext.Dedup.shingles(col("text"), n)).as("gram"))
      .distinct()
      .withColumn("seen", lit(1))
    docs
      .select(col("doc_id"), explode(graft.ext.Dedup.shingles(col("text"), n)).as("gram"))
      .join(refGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("seen").isNull, 1)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (floor(col("n_novel") / col("n_grams") * 1e6 + 0.5) / 1e6).as("novelty"))
  }

  /** d67 — 3-gram novelty of the corpus against its own md5 "nov:"
    * 20% reference slice (every scored doc with ≥ 1 trigram emits;
    * novelty is one IEEE division of exact counts, floor@6). */
  val d67NgramNovelty: Q = Q(
    "d67_ngram_novelty",
    Some("""
      WITH s AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5('nov:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
               list_distinct(CASE
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN []
                 ELSE list_transform(
                   generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
                   i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))
                 END) AS sh
        FROM documents),
      ref AS (
        SELECT DISTINCT unnest(sh) AS gram FROM s WHERE bucket < 20),
      g AS (
        SELECT doc_id, unnest(sh) AS gram FROM s WHERE bucket >= 20),
      agg AS (
        SELECT g.doc_id, count(*) AS n_grams,
               count(CASE WHEN r.gram IS NULL THEN 1 END) AS n_novel
        FROM g LEFT JOIN ref r ON g.gram = r.gram
        GROUP BY 1)
      SELECT doc_id, n_grams, n_novel,
             floor(CAST(n_novel AS DOUBLE) / n_grams * 1e6 + 0.5) / 1e6 AS novelty
      FROM agg
    """),
    (s, dir) => {
      val bucket = conv(substring(md5(concat(lit("nov:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).withColumn("bucket", bucket)
      ngramNovelty(
        docs.filter(col("bucket") >= 20).drop("bucket"),
        docs.filter(col("bucket") < 20).drop("bucket"), n = 3)
    })

  /** Global token-budget selection — the corpus-sizing step of a
    * training-data pipeline: keep the highest-quality documents, in
    * quality order, until a global TOKEN budget is exhausted ("give me
    * the best 2T tokens"). Selection is exact and deterministic: docs
    * ordered by (quality desc, doc_id asc) — a total order — and a doc is
    * kept iff the running token total THROUGH it stays ≤ budget (the doc
    * that would cross the budget is excluded, as is everything after it).
    *
    * Scale shape: the running total is
    * [[graft.operators.GlobalOrder.withPrefixSum]] — range-partition on
    * the sort keys, local cumulative sums, per-partition value totals
    * collected in one tiny aggregate and broadcast back as exclusive
    * offsets. No single-partition window anywhere: the naive
    * `SUM(...) OVER (ORDER BY ...)` funnels the whole corpus through one
    * task, which at 100 TB is the job. Token counts accumulate as LONGs,
    * so the prefix sum is exact under any partitioning. */
  def tokenBudgetSelect(docs: DataFrame, budget: Long): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val scored = docs.select(col("doc_id"),
      qualityScore(col("text")).as("quality"),
      tokenCount(col("text")).cast("long").as("n_tokens"))
    val summed = graft.operators.GlobalOrder.withPrefixSum(
      scored, col("n_tokens"),
      Seq(col("quality").desc, col("doc_id").asc),
      outCol = "cum_tokens").df
    summed.filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        col("cum_tokens"))
  }

  /** Token-budget gate: best documents up to 10 000 tokens (~37% of the
    * sf0.01 corpus — the boundary lands mid-corpus, so the crossing doc
    * and everything below it must be excluded on both sides). */
  val d80TokenBudgetSelect: Q = Q(
    "d80_token_budget_select",
    Some("""
      WITH f AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
               length(text) AS n_ch,
               len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS stop
        FROM documents),
      q AS (
        SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
               floor((least(n_tok / 100.0, 1.0) * 0.5 +
                      least(n_ch / 500.0, 1.0) * 0.3 +
                      least(CASE WHEN n_tok > 0 THEN CAST(stop AS DOUBLE)/n_tok ELSE 0.0 END * 5.0,
                            1.0) * 0.2) * 1e6 + 0.5) / 1e6 AS quality
        FROM f),
      c AS (
        SELECT doc_id, quality, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS cum_tokens
        FROM q)
      SELECT doc_id, quality, n_tokens, cum_tokens
      FROM c WHERE cum_tokens <= 10000
    """),
    (s, dir) => tokenBudgetSelect(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      budget = 10000L))

  /** Temperature-based mixture schedule — the multilingual/multi-source
    * sampling knob of LLM training (the "unimax / τ-sampling" family):
    * source i with token share p_i is sampled with probability
    * q_i ∝ p_i^τ, so τ = 1 reproduces natural proportions and τ → 0
    * flattens toward uniform (rare sources upweighted, dominant ones
    * down). The per-source repeat factor falls out analytically as
    * f_i = q_i / p_i = T · tok_i^(τ−1) / Σ_j tok_j^τ (T = total tokens),
    * which preserves expected total token mass (Σ tok_i·f_i = T); the
    * schedule then drives the same deterministic fractional-repeat
    * arithmetic as [[sourceMixing]] under an independent hash salt.
    *
    * Scale shape: the schedule derivation is ONE map-side-combinable
    * aggregate to a config-sized (per-source) relation plus a 1-row
    * grand total — both broadcast; application is a broadcast join +
    * generator projection over the corpus scan. Zero wide shuffles.
    * Float discipline: f_i and Σ tok^τ involve pow() — floor@6 on both
    * engines before the copies arithmetic, so a last-ULP pow/summation
    * divergence cannot flip a copy count. Sources with zero tokens are
    * excluded from the schedule (pow(0, τ−1) diverges); their docs carry
    * no token mass to re-weight. */
  def temperatureMixture(docs: DataFrame, tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, "tau must be in (0, 1]")
    val scored = docs.select(col("doc_id"), col("source"),
      tokenCount(col("text")).cast("long").as("n_tok"))
    val per = scored.groupBy(col("source"))
      .agg(sum(col("n_tok")).cast("double").as("tok"))
      .filter(col("tok") > 0)
    val g = per.agg(sum(col("tok")).as("t_tot"),
      (floor(sum(pow(col("tok"), lit(tau))) * 1e6 + 0.5) / 1e6).as("t_pow"))
    val fac = per.crossJoin(broadcast(g))
      .select(col("source"),
        (floor(col("t_tot") * pow(col("tok"), lit(tau - 1)) / col("t_pow")
          * 1e6 + 0.5) / 1e6).as("fac"))
    val hmod = conv(substring(md5(concat(lit("tmix:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 1000000L
    val copies = floor(col("fac")).cast("long") +
      when(hmod < round((col("fac") - floor(col("fac"))) * 1e6).cast("long"),
        1L).otherwise(0L)
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(fac), Seq("source"))
      .select(col("doc_id"), col("source"), col("fac"), copies.as("copies"))
      .filter(col("copies") > 0)
      .select(col("doc_id"), col("source"), col("fac"),
        explode(sequence(lit(0L), col("copies") - 1)).as("copy"))
  }

  /** Temperature-mixture gate: τ = 0.5 (square-root sampling — the
    * common multilingual default) over the 20-source corpus. */
  val d81TemperatureMixture: Q = Q(
    "d81_temperature_mixture",
    Some("""
      WITH f AS (
        SELECT doc_id, source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
        FROM documents),
      per AS (
        SELECT source, CAST(sum(n_tok) AS DOUBLE) AS tok
        FROM f GROUP BY source HAVING sum(n_tok) > 0),
      g AS (
        SELECT sum(tok) AS t_tot,
               floor(sum(pow(tok, 0.5)) * 1e6 + 0.5) / 1e6 AS t_pow
        FROM per),
      fac AS (
        SELECT source,
               floor(t_tot * pow(tok, -0.5) / t_pow * 1e6 + 0.5) / 1e6 AS fac
        FROM per CROSS JOIN g),
      c AS (
        SELECT d.doc_id, d.source, fa.fac,
               CAST(floor(fa.fac) AS BIGINT) +
               CASE WHEN CAST(concat('0x', substr(md5('tmix:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
                         < CAST(round((fa.fac - floor(fa.fac)) * 1e6) AS BIGINT)
                    THEN 1 ELSE 0 END AS copies
        FROM documents d JOIN fac fa ON d.source = fa.source)
      SELECT doc_id, source, fac, CAST(u.copy AS BIGINT) AS copy
      FROM c, unnest(generate_series(0, copies - 1)) AS u(copy)
      WHERE copies > 0
    """),
    (s, dir) => temperatureMixture(
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text")),
      tau = 0.5))

  /** Incremental token-budget admission — [[tokenBudgetSelect]]'s
    * production posture: the corpus arrives in batches, and each batch
    * greedily fills whatever budget the PREVIOUS batches left (within a
    * batch the fill order is still (quality desc, doc_id) with the
    * strict-prefix contract — the doc that would cross the remaining
    * budget is excluded along with everything ranked after it). The
    * documented trade against the batch operator: admission quality is
    * arrival-order dependent — a later batch's excellent doc cannot evict
    * an earlier batch's mediocre one. `cum_tokens` restarts per batch
    * (each batch's running total against ITS remaining budget).
    *
    * Scale shape: each batch admission is the d80 prefix-sum machinery
    * over BATCH-sized data only; the carried state between batches is one
    * spent-token LONG (a 1-row aggregate, the watermark pattern) —
    * nothing archive-sized is ever rescanned. */
  def budgetAdmitLifecycle(batches: Seq[DataFrame], budget: Long): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    require(batches.nonEmpty, "need at least one batch")
    var remaining = budget
    batches.zipWithIndex.map { case (b, i) =>
      // materialize each admission once: the spent aggregate below AND
      // the returned union both consume it, and tokenBudgetSelect's
      // prefix-sum machinery must not re-run per consumer. LAZY: the
      // spent aggregate reads every partition, so its job materializes
      // the cut — an eager cut would add a job doing the same
      val admitted = Lineage.cut(tokenBudgetSelect(b, remaining), eager = false)
      val spent = admitted.agg(coalesce(sum(col("n_tokens")), lit(0L)))
        .collect()(0).getLong(0)
      remaining -= spent
      admitted.select(lit(i.toLong).as("batch_id"), col("doc_id"),
        col("quality"), col("n_tokens"), col("cum_tokens"))
    }.reduce(_ unionByName _)
  }

  /** Budget-lifecycle gate: budget 12 000 over three arrival batches
    * (doc_id mod 3). Batch 0 (9 513 tokens) admits whole; batch 1 crosses
    * the remaining 2 487 mid-batch; batch 2 sees what little is left. The
    * oracle replays the sequential arithmetic, so a lifecycle that leaked
    * budget (or re-admitted against the full budget) diverges. */
  val d84BudgetLifecycle: Q = Q(
    "d84_budget_lifecycle",
    Some("""
      WITH f AS (
        SELECT doc_id, doc_id % 3 AS b,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
               length(text) AS n_ch,
               len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS stop
        FROM documents),
      q AS (
        SELECT doc_id, b, CAST(n_tok AS BIGINT) AS n_tokens,
               floor((least(n_tok / 100.0, 1.0) * 0.5 +
                      least(n_ch / 500.0, 1.0) * 0.3 +
                      least(CASE WHEN n_tok > 0 THEN CAST(stop AS DOUBLE)/n_tok ELSE 0.0 END * 5.0,
                            1.0) * 0.2) * 1e6 + 0.5) / 1e6 AS quality
        FROM f),
      c AS (
        SELECT doc_id, b, quality, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY b
                 ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS cum_tokens
        FROM q),
      a0 AS (SELECT * FROM c WHERE b = 0 AND cum_tokens <= 12000),
      s0 AS (SELECT coalesce(sum(n_tokens), 0) AS sp FROM a0),
      a1 AS (SELECT c.* FROM c, s0 WHERE b = 1 AND cum_tokens <= 12000 - s0.sp),
      s1 AS (SELECT coalesce(sum(n_tokens), 0) AS sp FROM a1),
      a2 AS (SELECT c.* FROM c, s0, s1
             WHERE b = 2 AND cum_tokens <= 12000 - s0.sp - s1.sp)
      SELECT CAST(b AS BIGINT) AS batch_id, doc_id, quality, n_tokens, cum_tokens
      FROM (SELECT * FROM a0 UNION ALL SELECT * FROM a1 UNION ALL SELECT * FROM a2)
    """),
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      budgetAdmitLifecycle(
        (0 to 2).map(i => docs.filter(pmod(col("doc_id"), lit(3)) === i)),
        budget = 12000L)
    })

  /** Per-document out-of-vocabulary rate — the tokenizer/vocab-fit metric
    * that pairs with [[d10Vocabulary]]: fix the vocabulary to the corpus'
    * top-`vocabSize` tokens (count desc, token asc — the d10 order, so
    * the boundary tie-break is deterministic cross-engine), then score
    * every document by the fraction of its token OCCURRENCES falling
    * outside it. High-OOV documents are the ones a fixed tokenizer
    * fragments worst (code, other languages, boilerplate markup) — the
    * screen that runs before committing a vocab size.
    *
    * Scale shape: the vocabulary build is one explode → map-side-
    * combinable count → TakeOrdered (a bounded, vocab-sized artifact —
    * production persists it like the band index); scoring broadcasts the
    * vocabulary into a second corpus scan whose per-doc aggregate
    * collapses map-side (docs are contiguous within scan partitions).
    * Corpus text never shuffles; the only wide exchange carries
    * (token, count) rows. The OOV fraction is a ratio of exact integers
    * — floor@6 on both sides, the documented round() trap. */
  def oovRate(docs: DataFrame, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val vocab = tok.groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(vocabSize)
      .select(col("token"), lit(1).as("__in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tok"), col("n_oov"),
        (floor(col("n_oov").cast("double") / col("n_tok") * 1e6 + 0.5) / 1e6)
          .as("oov_rate"))
  }

  /** OOV gate: vocabulary = corpus top-200 tokens. Zero-token documents
    * carry no occurrences and drop out on both sides. */
  val d83OovRate: Q = Q(
    "d83_oov_rate",
    Some("""
      WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> t <> '')) AS token
        FROM documents),
      cnt AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
      v AS (SELECT token FROM cnt ORDER BY freq DESC, token ASC LIMIT 200),
      j AS (
        SELECT t.doc_id,
               CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
        FROM tok t LEFT JOIN v ON t.token = v.token)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             CAST(sum(oov) AS BIGINT) AS n_oov,
             floor(CAST(sum(oov) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS oov_rate
      FROM j GROUP BY doc_id
    """),
    (s, dir) => oovRate(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      vocabSize = 200))

  /** Per-source top-p token-mass cut — the third mixture-shaping knob
    * next to d72 (absolute doc-count cap) and d80 (global token budget):
    * within EACH source keep the largest documents while the running
    * token total stays within fraction `num/den` of the source's mass
    * (strict-prefix contract — the crossing doc is excluded). Dominant
    * sources shed their long tail, small sources keep nearly everything
    * — mass-proportional de-domination where d72's count cap is
    * mass-blind.
    *
    * The fraction is a RATIONAL: the keep test is
    * `den·cum_tokens ≤ num·total_tokens` — pure integer arithmetic, no
    * float boundary anywhere (the d74 round() trap has no surface).
    * Scale shape: both windows (per-source total, per-source running
    * sum) share one partitioning on source → ONE sort, no
    * single-partition exchange; a skewed source is one partition, the
    * d72 regime. */
  def sourceTopP(docs: DataFrame, num: Long, den: Long): DataFrame = {
    require(num >= 0 && den > 0 && num <= den,
      "need a fraction 0 <= num/den <= 1")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val wOrd = w.orderBy(col("n_tokens").desc, col("doc_id").asc)
    docs.select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("src_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wOrd))
      .filter(col("cum_tokens") * den <= col("src_tokens") * num)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("cum_tokens"), col("src_tokens"))
  }

  /** Top-p gate: keep half of every source's token mass (p = 1/2). */
  val d90SourceTopP: Q = Q(
    "d90_source_top_p",
    Some("""
      WITH f AS (
        SELECT doc_id, source,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, source, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY source) AS BIGINT) AS src_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY source
                 ORDER BY n_tokens DESC, doc_id ASC) AS BIGINT) AS cum_tokens
        FROM f)
      SELECT source, doc_id, n_tokens, cum_tokens, src_tokens
      FROM c WHERE cum_tokens * 2 <= src_tokens * 1
    """),
    (s, dir) => sourceTopP(
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text")),
      num = 1L, den = 2L))

  /** Pairwise source vocabulary overlap — the corpus-understanding
    * matrix next to d50's source↔corpus KL: for every source PAIR, the
    * Jaccard similarity of their distinct-token vocabularies. High
    * overlap between two sources flags mirrored/scraped-twice content
    * at the SOURCE level before any per-document dedup runs; near-zero
    * overlap justifies treating them as independent mixture components.
    *
    * Scale shape: the corpus collapses ONCE to the distinct
    * (source, token) relation (vocabulary-sized — corpus text never
    * joins); per-source vocab sizes are one count; the intersection
    * join is token-keyed equi (each token fans out only to the sources
    * that contain it). Jaccard is a ratio of exact integers — floor@6
    * both engines. */
  def sourceOverlapMatrix(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val common = st.alias("a")
      .join(st.alias("b"),
        col("a.token") === col("b.token") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")),
        Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_common"),
        (floor(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")) * 1e6 + 0.5) / 1e6)
          .as("jaccard"))
  }

  /** Source-overlap gate: the full pairwise matrix over the documents
    * table; the oracle replays the distinct relation, the token-keyed
    * intersection, and the floor-disciplined Jaccard. */
  val d91SourceOverlap: Q = Q(
    "d91_source_overlap",
    Some("""
      WITH st AS (
        SELECT DISTINCT source, u.token
        FROM (SELECT source,
                list_filter(regexp_split_to_array(trim(text), '\s+'),
                  t -> t <> '') AS toks
              FROM documents) x, unnest(x.toks) AS u(token)),
      sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY 1),
      cm AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
        GROUP BY 1, 2)
      SELECT cm.src_a, cm.src_b, sa.n AS n_a, sb.n AS n_b, cm.n_common,
             floor(CAST(cm.n_common AS DOUBLE)
                   / (sa.n + sb.n - cm.n_common) * 1e6 + 0.5) / 1e6 AS jaccard
      FROM cm JOIN sz sa ON sa.source = cm.src_a
              JOIN sz sb ON sb.source = cm.src_b
    """),
    (s, dir) => sourceOverlapMatrix(
      Tables(s, dir, "documents").select(col("source"), col("text"))))

  /** Corpus data card — the one-row release artifact every published
    * dataset ships (docs/tokens/vocabulary/source+language spread/
    * dominant source): the summary a consumer reads before training and
    * the regression surface a release pipeline diffs against the
    * previous card. Composes the engine's per-doc token kernel with
    * three bounded aggregates:
    *   - ONE corpus scan for the scalar counts (doc count, token sum,
    *     empty docs, distinct sources/langs — the multi-distinct Expand
    *     collapses map-side like d48's),
    *   - ONE explode scan for the distinct-token vocabulary size
    *     (token rows shuffle on the skinny token key, text never
    *     shuffles),
    *   - a groups-sized TakeOrdered for the dominant source.
    * Ratios (mean tokens/doc, top-source share) are integer ratios —
    * floor@6 both engines. */
  def dataCard(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), col("lang"),
      tokenCount(col("text")).cast("long").as("n_tok"), col("text"))
    val scalars = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      sum(when(col("n_tok") === 0, 1L).otherwise(0L)).as("n_empty"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"))
    val vocab = base
      .select(explode(tokens(col("text"))).as("token"))
      .agg(countDistinct(col("token")).as("vocab_size"))
    // dominant source as a global struct-min aggregate (min over
    // (-cnt, source) ≡ ORDER BY cnt DESC, source ASC LIMIT 1) — an
    // aggregate, unlike limit(1), still yields its ONE (null-field) row
    // on an empty corpus, so the card keeps its one-row contract
    val top = base.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
      .agg(min(struct((-col("cnt")).as("nc"), col("source").as("s"))).as("t"))
      .select(col("t").getField("s").as("top_source"),
        (-col("t").getField("nc")).as("__top_cnt"))
    scalars.crossJoin(broadcast(vocab)).crossJoin(broadcast(top))
      .select(col("n_docs"), col("n_tokens"), col("n_empty"),
        col("n_sources"), col("n_langs"), col("vocab_size"),
        when(col("n_docs") > 0,
          floor(col("n_tokens").cast("double") / col("n_docs") * 1e6 + 0.5)
            / 1e6).otherwise(lit(0.0)).as("mean_doc_tokens"),
        col("top_source"),
        when(col("n_docs") > 0,
          floor(col("__top_cnt").cast("double") / col("n_docs") * 1e6 + 0.5)
            / 1e6).otherwise(lit(0.0)).as("top_source_share"))
  }

  /** Data-card gate: the full release card over the documents table;
    * the oracle recomputes every field, so a drifting tokenizer, a
    * broken distinct, or a tiebreak slip on the dominant source all
    * diverge. */
  val d88DataCard: Q = Q(
    "d88_data_card",
    Some("""
      WITH f AS (
        SELECT doc_id, source, lang,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
               text
        FROM documents),
      s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN n_tok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM f),
      v AS (
        SELECT CAST(count(DISTINCT u.token) AS BIGINT) AS vocab_size
        FROM (SELECT list_filter(regexp_split_to_array(trim(text), '\s+'),
                t -> t <> '') AS toks FROM f) x, unnest(x.toks) AS u(token)),
      t AS (
        SELECT source AS top_source, CAST(count(*) AS BIGINT) AS top_cnt
        FROM f GROUP BY 1 ORDER BY count(*) DESC, source ASC LIMIT 1)
      SELECT s.n_docs, s.n_tokens, s.n_empty, s.n_sources, s.n_langs,
             v.vocab_size,
             floor(CAST(s.n_tokens AS DOUBLE) / s.n_docs * 1e6 + 0.5) / 1e6 AS mean_doc_tokens,
             t.top_source,
             floor(CAST(t.top_cnt AS DOUBLE) / s.n_docs * 1e6 + 0.5) / 1e6 AS top_source_share
      FROM s, v, t
    """),
    (s, dir) => dataCard(Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))))

  /** LM-model lifecycle gate — the d71 index algebra on the CCNet model
    * artifact: the archive reference slice (md5 "lm:" buckets 0-29)
    * builds the persisted bigram counts, every candidate (buckets ≥ 50)
    * is scored against that model (stage 0), then a NEW reference slice
    * (buckets 30-49) is admitted via [[appendToLmCounts]] — a
    * model-sized sum-merge, the archive reference text never re-scanned
    * — and the same candidates re-score against the grown model
    * (stage 1). The oracle rebuilds BOTH models from scratch, so append
    * drift (lost/doubled counts, stale vocabulary or context totals)
    * diverges on stage-1 rows while stage 0 stays green. */
  val d85LmLifecycle: Q = Q(
    "d85_lm_lifecycle",
    Some("""
      WITH b AS (
        SELECT doc_id, text,
               CAST(concat('0x', substr(md5('lm:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        FROM documents),
      tok AS (
        SELECT doc_id, bucket,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        FROM b),
      bg AS (
        SELECT doc_id, bucket,
               CASE WHEN len(toks) < 2 THEN []
                    ELSE list_transform(generate_series(1, len(toks) - 1),
                                        i -> toks[i] || ' ' || toks[i+1]) END AS bgs
        FROM tok),
      ref0 AS (
        SELECT u.bg AS bg, count(*) AS c12
        FROM (SELECT bgs FROM bg WHERE bucket < 30) r, unnest(r.bgs) AS u(bg)
        GROUP BY 1),
      ref1 AS (
        SELECT u.bg AS bg, count(*) AS c12
        FROM (SELECT bgs FROM bg WHERE bucket < 50) r, unnest(r.bgs) AS u(bg)
        GROUP BY 1),
      ctx0 AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
               FROM ref0 GROUP BY 1),
      ctx1 AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
               FROM ref1 GROUP BY 1),
      voc0 AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM ctx0),
      voc1 AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM ctx1),
      ex AS (
        SELECT bg.doc_id, u.bg AS dbg
        FROM bg, unnest(bg.bgs) AS u(bg)
        WHERE bg.bucket >= 50),
      s0 AS (
        SELECT ex.doc_id, count(*) AS n_bigrams,
               round(avg(ln((coalesce(r.c12, 0) + 0.5) /
                            (coalesce(c.c1, 0) + 0.5 * voc0.v))), 4) AS avg_logprob
        FROM ex
        LEFT JOIN ref0 r ON r.bg = ex.dbg
        LEFT JOIN ctx0 c ON c.w1 = split_part(ex.dbg, ' ', 1)
        CROSS JOIN voc0
        GROUP BY 1),
      s1 AS (
        SELECT ex.doc_id, count(*) AS n_bigrams,
               round(avg(ln((coalesce(r.c12, 0) + 0.5) /
                            (coalesce(c.c1, 0) + 0.5 * voc1.v))), 4) AS avg_logprob
        FROM ex
        LEFT JOIN ref1 r ON r.bg = ex.dbg
        LEFT JOIN ctx1 c ON c.w1 = split_part(ex.dbg, ' ', 1)
        CROSS JOIN voc1
        GROUP BY 1),
      spine AS (SELECT doc_id FROM bg WHERE bucket >= 50)
      SELECT CAST(0 AS BIGINT) AS stage, t.doc_id,
             coalesce(s0.n_bigrams, 0) AS n_bigrams,
             coalesce(s0.avg_logprob, 0.0) AS avg_logprob
      FROM spine t LEFT JOIN s0 ON s0.doc_id = t.doc_id
      UNION ALL
      SELECT CAST(1 AS BIGINT) AS stage, t.doc_id,
             coalesce(s1.n_bigrams, 0) AS n_bigrams,
             coalesce(s1.avg_logprob, 0.0) AS avg_logprob
      FROM spine t LEFT JOIN s1 ON s1.doc_id = t.doc_id
    """),
    (s, dir) => {
      val bucket = (conv(substring(md5(concat(lit("lm:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100)
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), bucket.as("bucket"))
      val candidates = docs.filter(col("bucket") >= 50)
        .select(col("doc_id"), col("text"))
      val archiveCounts = Lineage.cut(lmBigramCounts(
        docs.filter(col("bucket") < 30).select(col("text"))))
      val grownCounts = Lineage.cut(appendToLmCounts(archiveCounts,
        docs.filter(col("bucket") >= 30 && col("bucket") < 50)
          .select(col("text"))))
      ngramLmScoreFromCounts(archiveCounts, candidates, alpha = 0.5)
        .select(lit(0L).as("stage"), col("doc_id"), col("n_bigrams"),
          col("avg_logprob"))
        .unionByName(
          ngramLmScoreFromCounts(grownCounts, candidates, alpha = 0.5)
            .select(lit(1L).as("stage"), col("doc_id"), col("n_bigrams"),
              col("avg_logprob")))
    })

  /** Count-Min sketch gate: per-source depth-3 × width-32 token
    * sketches through [[graft.plans.CountMinAgg]], probed with the 20
    * globally most frequent tokens. Width 32 is far BELOW the gate
    * vocabulary, so this runs the sketch in its collision regime on
    * purpose — the md5 row hashes are SQL-replayable, so the DuckDB
    * oracle rebuilds the identical counters and the gate pins every
    * estimate (including the inflation), plus the one-sided
    * `est ≥ true` guarantee that makes Count-Min usable as a
    * never-undercount frequency oracle at 100 TB (a 96-long summary
    * per source instead of a vocabulary-sized count table). */
  val d97CmsCounts: Q = Q(
    "d97_cms_counts",
    Some("""
      WITH tok AS (
        SELECT source, u.t AS token
        FROM (SELECT source,
                     CASE WHEN length(trim(text)) = 0 THEN []
                          ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
              FROM documents) d, unnest(d.toks) AS u(t)),
      rs AS (SELECT unnest(generate_series(0, 2)) AS r),
      th AS (
        SELECT source, token,
               CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h1,
               CAST('0x' || substr(md5(token), 17, 15) AS BIGINT) AS h2
        FROM tok),
      counters AS (
        SELECT source, rs.r, (h1 + rs.r * h2) % 32 AS col, count(*) AS cnt
        FROM th CROSS JOIN rs
        GROUP BY 1, 2, 3),
      cnts AS (SELECT source, token, count(*) AS c_true FROM tok GROUP BY 1, 2),
      probe AS (
        SELECT token FROM (
          SELECT token, count(*) AS c_g FROM tok GROUP BY 1
          ORDER BY c_g DESC, token LIMIT 20) p)
      SELECT c.source, c.token, c.c_true, min(ct.cnt) AS est,
             min(ct.cnt) >= c.c_true AS over_ok
      FROM cnts c
      JOIN probe USING (token)
      CROSS JOIN rs
      JOIN counters ct
        ON ct.source = c.source AND ct.r = rs.r
       AND ct.col = (CAST('0x' || substr(md5(c.token), 1, 15) AS BIGINT)
                     + rs.r * CAST('0x' || substr(md5(c.token), 17, 15) AS BIGINT)) % 32
      GROUP BY 1, 2, 3
    """),
    (s, dir) => {
      import graft.plans.CountMinAgg
      val toks = Tables(s, dir, "documents")
        .select(col("source"),
          explode(graft.plans.NgramsExpr.ngrams(lower(col("text")), 1)).as("token"))
      val sketches = toks.groupBy(col("source"))
        .agg(CountMinAgg.cmSketch(col("token"), depth = 3, width = 32).as("sk"))
      // one corpus pass feeds both the exact counts and the probe set —
      // the global top-20 rolls up from the (source, token) counts
      // instead of re-exploding the text
      val counts = Lineage.cut(toks.groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("c_true")))
      val probe = counts.groupBy(col("token")).agg(sum(col("c_true")).as("c_g"))
        .orderBy(col("c_g").desc, col("token").asc).limit(20).select("token")
      counts.join(broadcast(probe), Seq("token"))
        .join(broadcast(sketches), Seq("source"))
        .select(col("source"), col("token"), col("c_true"),
          CountMinAgg.cmEstimate(col("sk"), col("token"), 3, 32).as("est"))
        .withColumn("over_ok", col("est") >= col("c_true"))
    })

  val all: Seq[Q] = Seq(d01TokenStats, d02LangId, d03QualityScore,
    d04ExactDedup, d05PrefixDedupGroups, d09PiiScrub, d10Vocabulary,
    d11SplitAssign, d12Contamination, d13RepetitionRatio, d14StratifiedSample,
    d72DomainCap,
    d15Chunking, d16SequencePacking, d92GreedyPacking, d93PackingReport,
    d26ShuffleShards, d28NgramContamination, d96ContaminationStream,
    d29SourceMixing, d30CurationPipeline, d31NgramLmScore, d33BpeTokenStats,
    d41PerplexityBuckets, d42EntropySignals, d44SpanCorruption,
    d45LengthProfile,
    d34DsirWeights, d35HashedLogReg, d74ClassifierEval, d86CalibrationReport,
    d75QualityEnsemble,
    d36HeavyHitters,
    d37BlocklistFilter,
    d38RareTokenScrub, d38aTokenCounts, d38bRareTokenNunk,
    d38cRareTokenScrubMd5, d76TokenizerCanary, d39GopherRules,
    d40RepetitionSignals,
    d50SourceDivergence, d51WeightedSample, d52ZipfFit, d57BpeMerges,
    d58BpeSegment, d63KmvOverlap, d66NormalizeText, d67NgramNovelty,
    d80TokenBudgetSelect, d81TemperatureMixture, d83OovRate,
    d84BudgetLifecycle, d85LmLifecycle, d88DataCard, d90SourceTopP,
    d91SourceOverlap, d97CmsCounts)
}
