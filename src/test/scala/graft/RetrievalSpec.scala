package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.ext.Retrieval

/** BM25 semantics on a hand-checkable corpus: idf ordering, tf
  * saturation, length normalization, absent-term behavior, the k cap
  * and the deterministic rank boundary. */
class RetrievalSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val qSchema = StructType(Seq(
    StructField("query_id", LongType), StructField("text", StringType)))

  // dl: 3, 2, 3, 2 → avgdl 2.5; df: apple 3, banana 1, cherry 2, durian 1
  private def corpus = LocalTable.of(spark, docSchema, Seq(
    Row(1L, "apple banana banana"),
    Row(2L, "apple cherry"),
    Row(3L, "cherry cherry cherry"),
    Row(4L, "durian apple")))

  private def queries(rows: (Long, String)*) =
    LocalTable.of(spark, qSchema, rows.map { case (k, v) => Row(k, v) })

  /** The exact scoring formula, re-derived independently of the
    * operator's Column expressions. */
  private def bm25(idfN: Double, df: Double, tf: Double, dl: Double,
      avgdl: Double, k1: Double = 1.2, b: Double = 0.75): Double =
    math.log(1.0 + (idfN - df + 0.5) / (df + 0.5)) *
      tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

  private def results(qs: (Long, String)*) =
    Retrieval.bm25TopK(corpus, queries(qs: _*), k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))

  test("single-posting term retrieves exactly its document") {
    val rows = results(10L -> "banana")
    assert(rows.toSeq === Seq(
      (10L, 1L,
        BigDecimal(bm25(4, 1, 2, 3, 2.5)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        1L)))
  }

  test("rare-term match outranks a saturated common-term match") {
    // banana (df 1, tf 2 in doc 1) vs cherry (df 2, tf 3 in doc 3) —
    // idf beats tf saturation, so doc 1 ranks first
    val rows = results(11L -> "banana cherry")
    assert(rows.map(_._2).toSeq === Seq(1L, 3L, 2L))
    val expected = Seq(
      bm25(4, 1, 2, 3, 2.5), // doc 1: banana tf 2
      bm25(4, 2, 3, 3, 2.5), // doc 3: cherry tf 3
      bm25(4, 2, 1, 2, 2.5)) // doc 2: cherry tf 1
      .map(s => BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(rows.map(_._3).toSeq === expected)
    assert(rows.map(_._4).toSeq === Seq(1L, 2L, 3L))
  }

  test("length normalization: same tf, shorter document scores higher") {
    // apple tf 1 everywhere it appears; docs 2/4 (dl 2) beat doc 1 (dl 3),
    // and the dl-2 tie breaks by ascending doc_id
    val rows = results(12L -> "apple")
    assert(rows.map(_._2).toSeq === Seq(2L, 4L, 1L))
    assert(rows.head._3 > rows.last._3)
  }

  test("terms absent from the corpus contribute nothing; fully-absent queries vanish") {
    val present = results(13L -> "banana zzz")
    val bare = results(14L -> "banana")
    assert(present.map(r => (r._2, r._3)).toSeq === bare.map(r => (r._2, r._3)).toSeq)
    assert(results(15L -> "zzz qqq").isEmpty)
  }

  test("k caps each query independently; duplicate query terms count once") {
    val two = Retrieval.bm25TopK(corpus, queries(16L -> "apple cherry"), k = 2)
      .collect()
    assert(two.length === 2)
    assert(two.map(_.getLong(3)).toSeq === Seq(1L, 2L))
    val dup = results(17L -> "banana banana")
    assert(dup.map(r => (r._2, r._3)).toSeq ===
      results(18L -> "banana").map(r => (r._2, r._3)).toSeq)
  }

  test("maxDfFrac prunes dense terms: equal to querying without them") {
    // "the" appears in every document (df 4/4); at maxDfFrac 0.5 a query
    // mentioning it must score exactly as if the term were never asked
    val dense = LocalTable.of(spark, docSchema, Seq(
      Row(1L, "the apple banana banana"),
      Row(2L, "the apple cherry"),
      Row(3L, "the cherry cherry cherry"),
      Row(4L, "the durian apple")))
    val pruned = Retrieval.bm25TopK(dense, queries(20L -> "the banana"),
      k = 5, maxDfFrac = 0.5).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    val without = Retrieval.bm25TopK(dense, queries(20L -> "banana"), k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(pruned.toSeq === without.toSeq)
    // and untouched (default 1.0) still scores the dense term
    val full = Retrieval.bm25TopK(dense, queries(20L -> "the banana"), k = 5)
      .collect()
    assert(full.length === 4, "dense term matches every doc when not pruned")
  }

  test("appendToPostings: grown index is the union-corpus postings row-for-row; scoring is posture-independent") {
    import org.apache.spark.sql.functions.col
    val archive = corpus.filter(col("doc_id") <= 2L)
    val batch = corpus.filter(col("doc_id") > 2L)
    val grown = Retrieval.appendToPostings(Retrieval.postings(archive), batch)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // disjoint doc_ids make the append a pure union: the grown index IS
    // the from-scratch postings of the whole corpus, not merely
    // probe-equivalent
    assert(rows(grown) === rows(Retrieval.postings(corpus)))
    // BM25 over the appended index ≡ BM25 built fresh from the corpus:
    // every corpus statistic (df, dl, N, avgdl) re-derives correctly
    val q = queries((100L, "apple cherry"))
    val viaIndex = Retrieval.bm25TopKFromPostings(grown, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val fresh = Retrieval.bm25TopK(corpus, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(viaIndex === fresh)
  }

  test("rrfFuse: hand-checked fusion of overlapping and disjoint rankings") {
    val rankSchema = StructType(Seq(
      StructField("query_id", LongType), StructField("doc_id", LongType),
      StructField("rank", LongType)))
    def ranking(rows: (Long, Long, Long)*) =
      LocalTable.of(spark, rankSchema,
        rows.map { case (q, d, r) => Row(q, d, r) })
    // ranking A: doc 1 first, doc 2 second; ranking B: doc 2 first, doc 3 second
    val fused = Retrieval.rrfFuse(Seq(
      ranking((1L, 1L, 1L), (1L, 2L, 2L)),
      ranking((1L, 2L, 1L), (1L, 3L, 2L))), kRrf = 60, topK = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 2 appears in both (ranks 2 and 1) and must fuse to the top
    assert(fused.toSeq === Seq(
      (2L, r6(1.0 / 62 + 1.0 / 61), 1L),
      (1L, r6(1.0 / 61), 2L),
      (3L, r6(1.0 / 62), 3L)))
    // equal single contributions tie-break by ascending doc_id
    val tie = Retrieval.rrfFuse(Seq(
      ranking((1L, 7L, 1L), (1L, 4L, 2L)),
      ranking((1L, 9L, 1L))), kRrf = 60, topK = 2)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(tie.toSeq === Seq((7L, 1L), (9L, 2L)))
  }

  test("ngramOverlapTopK: distinct-n-gram overlap ranking") {
    val docs = LocalTable.of(spark, docSchema, Seq(
      Row(1L, "alpha beta gamma delta"),
      Row(2L, "alpha beta gamma zzz"),
      Row(3L, "totally unrelated words here")))
    val out = Retrieval.ngramOverlapTopK(docs,
      queries(1L -> "alpha beta gamma delta"), n = 3, k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // doc 1 shares both 3-grams, doc 2 one, doc 3 none (absent)
    assert(out.toSeq === Seq((1L, 1L), (2L, 2L)))
  }

  test("postings: tokenization is lowercased, multiplicity-preserving counts") {
    val p = Retrieval.postings(LocalTable.of(spark, docSchema,
      Seq(Row(9L, "The the  THE cat"))))
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(p === Map("the" -> 3L, "cat" -> 1L))
  }

  test("tfidfKeywords: rare terms outrank common ones, k caps per doc, ties break on term") {
    // df: apple 3, banana 1, cherry 2, durian 1; N = 4
    def idf(df: Double) = math.log(5.0 / (1.0 + df)) + 1.0
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = Retrieval.tfidfKeywords(corpus, k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3).toInt))
      .groupBy(_._1)
    // doc 1: banana tf2·idf(1) beats apple tf1·idf(3)
    assert(out(1L).sortBy(_._4).toSeq === Seq(
      (1L, "banana", r4(2 * idf(1)), 1), (1L, "apple", r4(idf(3)), 2)))
    // doc 4: durian (idf 1) vs apple (idf 3) — same tf, rarer term first
    assert(out(4L).sortBy(_._4).map(_._2).toSeq === Seq("durian", "apple"))
    // doc 3 has one distinct term: rank list is just cherry, no padding
    assert(out(3L).map(_._2).toSeq === Seq("cherry"))
    // k caps: no doc emits more than 2 rows
    assert(out.values.forall(_.length <= 2))
    // equal scores tie-break lexicographically by term
    val tied = Retrieval.tfidfKeywords(LocalTable.of(spark, docSchema,
      Seq(Row(1L, "beta alpha"))), k = 2)
      .collect().map(r => (r.getString(1), r.getLong(3).toInt)).toSeq
    assert(tied === Seq(("alpha", 1), ("beta", 2)))
  }

  test("pmiCollocations: hand-computed PMI, bound phrases outrank free co-occurrence") {
    val docs = LocalTable.of(spark, docSchema, Seq(
      Row(1L, "new york is big"), Row(2L, "new york is old")))
    val got = graft.ext.Retrieval.pmiCollocations(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // N_uni=8, N_big=6; (new,york) and (york,is): ln((2/6)/((2/8)·(2/8))) = ln(16/3)
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = r4(math.log(16.0 / 3.0))
    assert(got.toSeq === Seq(
      ("new", "york", 2L, expected), ("york", "is", 2L, expected)))
    // a phrase always bound beats tokens that also occur apart
    val mixed = LocalTable.of(spark, docSchema, Seq(
      Row(1L, "san francisco the cat"), Row(2L, "san francisco the dog"),
      Row(3L, "the end the start")))
    val ranked = graft.ext.Retrieval.pmiCollocations(mixed)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(ranked.head === (("san", "francisco")),
      s"bound phrase must rank first: ${ranked.toSeq}")
  }

  // ---- MMR diversified re-ranking --------------------------------------

  private val mmrSchema = StructType(Seq(
    StructField("qid", LongType), StructField("vec_id", LongType),
    StructField("rel", DoubleType),
    StructField("embedding", ArrayType(FloatType))))

  private def mmrPool(rows: (Long, Long, Double, Seq[Float])*) =
    LocalTable.of(spark, mmrSchema,
      rows.map { case (q, v, r, e) => Row(q, v, r, e) })

  test("mmrRerank: diversity beats relevance — the near-duplicate is skipped") {
    // A (rel .99) and B (rel .98) are identical directions; C (rel .5)
    // is orthogonal. Step 1 takes A; step 2 must take C, because B's
    // redundancy penalty (max-sim 1.0) sinks it below C at lambda 0.5.
    val pool = mmrPool(
      (1L, 10L, 0.99, Seq(1f, 0f)),
      (1L, 11L, 0.98, Seq(1f, 0f)),
      (1L, 12L, 0.5, Seq(0f, 1f)))
    val got = Retrieval.mmrRerank(pool, k = 2, lambda = 0.5)
      .orderBy("step").collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(got === Seq((1, 10L), (2, 12L)))
  }

  test("mmrRerank: lambda 1 degrades to pure relevance order") {
    val pool = mmrPool(
      (1L, 10L, 0.9, Seq(1f, 0f)),
      (1L, 11L, 0.8, Seq(1f, 0f)),
      (1L, 12L, 0.7, Seq(0f, 1f)))
    val got = Retrieval.mmrRerank(pool, k = 3, lambda = 1.0)
      .orderBy("step").collect().map(_.getLong(2)).toSeq
    assert(got === Seq(10L, 11L, 12L))
  }

  test("mmrRerank: per-query isolation and vec_id tiebreak") {
    val pool = mmrPool(
      (1L, 20L, 0.9, Seq(1f, 0f)), (1L, 21L, 0.9, Seq(0f, 1f)), // tie -> 20
      (2L, 30L, 0.4, Seq(1f, 0f)))
    val got = Retrieval.mmrRerank(pool, k = 1, lambda = 0.7)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 20L, 2L -> 30L))
  }

  test("mmrRerank: k beyond the pool emits the whole pool once; arg guards") {
    val pool = mmrPool((1L, 10L, 0.9, Seq(1f, 0f)), (1L, 11L, 0.5, Seq(0f, 1f)))
    val got = Retrieval.mmrRerank(pool, k = 5, lambda = 0.7).collect()
    // steps 3..5 have an empty remaining set -> no rows, no failure
    assert(got.map(_.getLong(2)).toSet === Set(10L, 11L))
    assert(got.length === 2)
    intercept[IllegalArgumentException](Retrieval.mmrRerank(pool, 0, 0.5))
    intercept[IllegalArgumentException](Retrieval.mmrRerank(pool, 1, 1.5))
    intercept[IllegalArgumentException](
      Retrieval.mmrRerank(pool.drop("embedding"), 1, 0.5))
  }

  test("mmrRerank: deterministic under repartitioning") {
    val pool = mmrPool((1 to 12).map(i =>
      (1L, i.toLong, 1.0 - i * 0.05, Seq(math.cos(i * 0.5).toFloat,
        math.sin(i * 0.5).toFloat))): _*)
    def run(df: org.apache.spark.sql.DataFrame) =
      Retrieval.mmrRerank(df, k = 4, lambda = 0.6)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(run(pool) === run(pool.repartition(7)))
  }
}
