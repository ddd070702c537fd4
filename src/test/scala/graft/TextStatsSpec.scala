package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.TextStats

/** Sequence-packing semantics: shard-count derivation scales with input
  * size (the 100 TB writer-parallelism knob), packing invariants hold at
  * any shard count, and the auto entry point wires Catalyst's size
  * estimate through the same formula. */
class TextStatsSpec extends SparkSpec {

  private def docsDf(rows: (Long, String)*) =
    LocalTable.of(spark,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      rows.map { case (k, v) => Row(k, v) })

  test("packingShards scales with estimated input size") {
    assert(TextStats.packingShards(0) === 1)
    assert(TextStats.packingShards(512) === 1)
    assert(TextStats.packingShards(513) === 2)
    assert(TextStats.packingShards(512L * 100) === 100)
    // 100 TB at the default 512 MB target → ~200k writer tasks, not 8
    assert(TextStats.packingShards(100L * 1024 * 1024) === 204800)
    assert(TextStats.packingShards(1024, targetShardMb = 256) === 4)
    val sizes = Seq(1L, 1000L, 10000L, 100000L, 1000000L)
    val shards = sizes.map(TextStats.packingShards(_))
    assert(shards === shards.sorted, "shard count must be monotonic in size")
  }

  test("packingShards clamps sentinel-sized inputs instead of overflowing Int") {
    // Long.MaxValue is the defaultSizeInBytes "unknown" sentinel divided
    // down to MB — the old ceil-divide wrapped it to 0 or garbage
    assert(TextStats.packingShards(Long.MaxValue) === Int.MaxValue)
    assert(TextStats.packingShards(Long.MaxValue, targetShardMb = 1L) === Int.MaxValue)
    assert(TextStats.packingShards(Long.MaxValue - 1, targetShardMb = Long.MaxValue) === 1)
    intercept[IllegalArgumentException](TextStats.packingShards(-1))
  }

  test("sequencePackingAuto: stat-less plans fall back to defaultParallelism, not 2^31 shards") {
    // a DataFrame over a raw RDD has no size statistics — its leaf
    // reports the spark.sql.defaultSizeInBytes sentinel
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val rdd = spark.sparkContext.parallelize(
      (1L to 20L).map(i => Row(i, s"a b c doc$i")))
    val docs = spark.createDataFrame(rdd, schema)
    val sentinel = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    assert(docs.queryExecution.optimizedPlan.stats.sizeInBytes >= sentinel,
      "precondition: the plan must carry the unknown-size sentinel")
    val out = TextStats.sequencePackingAuto(docs, seqLen = 10) // must not throw
    val maxShards = spark.sparkContext.defaultParallelism
    val shardsSeen = out.select(col("shard")).distinct()
      .collect().map(_.getLong(0))
    assert(shardsSeen.forall(s => s >= 0 && s < maxShards))
  }

  test("sequencePacking: packing invariants hold for a non-default shard count") {
    val docs = docsDf((1L to 50L).map(i =>
      (i, (1 to (i % 7 + 1).toInt).map(j => s"t$j").mkString(" "))): _*)
    val rows = TextStats.sequencePacking(docs, seqLen = 10, shards = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length === 50)
    assert(rows.forall { case (_, shard, _, _, _) => shard >= 0 && shard < 3 })
    // recompute the concat-and-chop spans per shard from doc_id order
    rows.groupBy(_._2).foreach { case (_, members) =>
      var cum = 0L
      members.sortBy(_._1).foreach { case (_, _, n, firstSeq, lastSeq) =>
        assert(firstSeq === cum / 10)
        assert(lastSeq === (cum + n - 1) / 10)
        cum += n
      }
    }
  }

  test("sequencePackingAuto scales shards with real parquet statistics") {
    // a multi-MB parquet of incompressible text: the scan's sizeInBytes
    // alone must spread packing over several shards at a 1 MB target
    val dir = java.nio.file.Files.createTempDirectory("graft-pack-").toString + "/docs"
    spark.range(8000).select(col("id").as("doc_id"),
      concat_ws(" ", (1 to 20).map(i => md5(concat(col("id"), lit(i)))): _*).as("text"))
      .write.parquet(dir)
    val docs = spark.read.parquet(dir)
    val mb = (docs.queryExecution.optimizedPlan.stats.sizeInBytes / (1024L * 1024L)).toLong
    assert(mb >= 2, s"expected a multi-MB scan estimate, got ${mb}MB")
    val shardsSeen = TextStats.sequencePackingAuto(docs, seqLen = 512, targetShardMb = 1L)
      .select(col("shard")).distinct().collect().map(_.getLong(0)).toSet
    assert(shardsSeen.size > 1)
    assert(shardsSeen.max < TextStats.packingShards(mb, 1L))
  }

  test("sequencePackingAuto derives the shard count from plan statistics") {
    val docs = docsDf((1L to 20L).map(i => (i, s"a b c doc$i")): _*)
    val mb = (docs.queryExecution.optimizedPlan.stats.sizeInBytes / (1024L * 1024L)).toLong
    val expected = TextStats.packingShards(mb, targetShardMb = 512L)
    val auto = TextStats.sequencePackingAuto(docs, seqLen = 10)
    val shardsSeen = auto.select(col("shard")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(shardsSeen.forall(s => s >= 0 && s < expected))
    // tiny local input → single shard; the formula, not a constant, said so
    assert(expected === 1)
    assert(shardsSeen === Set(0L))
  }

  private def sourcedDf(rows: (Long, String)*) =
    LocalTable.of(spark,
      StructType(Seq(StructField("doc_id", LongType), StructField("source", StringType))),
      rows.map { case (k, v) => Row(k, v) })

  test("tokenBudgetSelect: kept set is the maximal quality-ordered prefix under the budget; crossing doc excluded") {
    val docs = docsDf(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a b"),
      (3L, "the cat and the dog and the bird and the fish went to the lake in the morning sun"),
      (4L, "x"),
      (5L, "one two three four five six seven eight nine ten of the and in is to a"))
    // expected: simulate the greedy fill over the engine's own scores
    val scored = docs.select(
      org.apache.spark.sql.functions.col("doc_id"),
      TextStats.qualityScore(org.apache.spark.sql.functions.col("text")).as("q"),
      TextStats.tokenCount(org.apache.spark.sql.functions.col("text"))
        .cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy { case (id, q, _) => (-q, id) }
    val total = scored.map(_._3).sum
    for (budget <- Seq(0L, scored.head._3 - 1, scored.head._3,
        total - 1, total, total + 100)) {
      var cum = 0L
      val expected = scored.takeWhile { case (_, _, n) =>
        cum += n; cum <= budget
      }.map(_._1).toSet
      val got = TextStats.tokenBudgetSelect(docs, budget)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === expected, s"budget=$budget")
    }
    // budget ≥ total keeps everything; the running totals are exact
    val all = TextStats.tokenBudgetSelect(docs, total)
      .orderBy("cum_tokens").collect()
    assert(all.length === 5)
    assert(all.last.getAs[Long]("cum_tokens") === total)
  }

  test("tokenBudgetSelect: result is invariant under input partitioning") {
    val docs = docsDf((1L to 40L).map(i =>
      (i, Seq.fill((i % 7).toInt + 1)(s"tok$i the of").mkString(" "))): _*)
    val base = TextStats.tokenBudgetSelect(docs, 60L)
      .collect().map(_.toSeq).toSet
    for (p <- Seq(1, 3, 13)) {
      val re = TextStats.tokenBudgetSelect(docs.repartition(p), 60L)
        .collect().map(_.toSeq).toSet
      assert(re === base, s"partitions=$p")
    }
  }

  test("oovRate: rates against the deterministic top-V vocabulary; boundary tie breaks by token asc; empty docs drop out") {
    val docs = docsDf(
      (1L, "a a a b x"),
      (2L, "b b c"),
      (3L, "a c c z z"),
      (4L, "   "))
    // counts: a=4, b=3, c=3, x=1, z=2 → top-2 = {a, b} (b beats c on
    // the token-asc tiebreak at freq 3)
    val got = TextStats.oovRate(docs, vocabSize = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_tok"), r.getAs[Long]("n_oov"),
         r.getAs[Double]("oov_rate")))).toMap
    assert(got.keySet === Set(1L, 2L, 3L), "whitespace-only doc must drop out")
    assert(got(1L) === ((5L, 1L, 0.2)))
    assert(got(2L) === ((3L, 1L, 0.333333)))
    assert(got(3L) === ((5L, 4L, 0.8)))
  }

  test("oovRate: invariant under input partitioning") {
    val docs = docsDf((1L to 30L).map(i =>
      (i, (1L to i).map(j => s"t${j % 9}").mkString(" "))): _*)
    val base = TextStats.oovRate(docs, vocabSize = 4)
      .collect().map(_.toSeq).toSet
    for (p <- Seq(1, 5, 11)) {
      val re = TextStats.oovRate(docs.repartition(p), vocabSize = 4)
        .collect().map(_.toSeq).toSet
      assert(re === base, s"partitions=$p")
    }
  }

  test("budgetAdmitLifecycle: each batch greedily fills the budget its predecessors left; crossing doc excluded; cum restarts per batch") {
    val mk = (rows: Seq[(Long, String)]) => docsDf(rows: _*)
    val b0 = mk(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (4L, "a b c d e")))
    val b1 = mk(Seq(
      (2L, "one two three four five six seven eight of the and"),
      (5L, "tiny doc"),
      (8L, "x y z w")))
    val b2 = mk(Seq((3L, "short text here"), (6L, "q r")))
    // simulate with the engine's own scores, sequentially across batches
    def scored(df: org.apache.spark.sql.DataFrame) = df.select(
      org.apache.spark.sql.functions.col("doc_id"),
      TextStats.qualityScore(org.apache.spark.sql.functions.col("text")).as("q"),
      TextStats.tokenCount(org.apache.spark.sql.functions.col("text"))
        .cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy { case (id, q, _) => (-q, id) }
    for (budget <- Seq(0L, 5L, 14L, 18L, 23L, 100L)) {
      var remaining = budget
      val expected = Seq(b0, b1, b2).zipWithIndex.flatMap { case (b, i) =>
        var cum = 0L
        val adm = scored(b).takeWhile { case (_, _, n) =>
          cum += n; cum <= remaining }
        remaining -= adm.map(_._3).sum
        adm.map { case (id, _, _) => (i.toLong, id) }
      }.toSet
      val got = TextStats.budgetAdmitLifecycle(Seq(b0, b1, b2), budget)
        .select("batch_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"budget=$budget")
    }
    intercept[IllegalArgumentException] {
      TextStats.budgetAdmitLifecycle(Seq.empty, 23L)
    }
    // cum_tokens restarts per batch: each batch's max cum ≤ what it was given
    val out = TextStats.budgetAdmitLifecycle(Seq(b0, b1, b2), 23L).collect()
    val byBatch = out.groupBy(_.getAs[Long]("batch_id"))
    for ((_, rows) <- byBatch) {
      val cums = rows.map(_.getAs[Long]("cum_tokens")).sorted
      val toks = rows.map(_.getAs[Long]("n_tokens")).sum
      assert(cums.last === toks, "per-batch running total must restart at 0")
    }
  }

  test("greedyPacking: docs never split, reset on overflow, oversized doc gets its own sequence, fill never exceeds seqLen except oversized") {
    val docs = docsDf(
      (1L, (1 to 5).map(i => s"a$i").mkString(" ")),   // 5 tokens
      (2L, (1 to 4).map(i => s"b$i").mkString(" ")),   // 4 → 5+4=9 > 8: reset
      (3L, (1 to 3).map(i => s"c$i").mkString(" ")),   // 3 → 4+3=7 ≤ 8: same
      (4L, (1 to 12).map(i => s"d$i").mkString(" ")),  // oversized 12 > 8
      (5L, "e1 e2"))                                   // after oversized: reset
    val got = TextStats.greedyPacking(docs, seqLen = 8, shards = 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("seq_idx"), r.getAs[Long]("seq_fill")))).toMap
    assert(got === Map(
      1L -> ((0L, 5L)),
      2L -> ((1L, 4L)),
      3L -> ((1L, 7L)),
      4L -> ((2L, 12L)), // own oversized sequence, never split
      5L -> ((3L, 2L))))
    // conservation + partitioning invariance at multiple shard counts
    val corpus = docsDf((1L to 40L).map(i =>
      (i, (1L to (i % 7 + 1)).map(j => s"t$j").mkString(" "))): _*)
    for (sh <- Seq(1, 4)) {
      val out = TextStats.greedyPacking(corpus, seqLen = 6, shards = sh)
      assert(out.agg(sum(col("n_tokens"))).collect()(0).getLong(0)
        === corpus.select(TextStats.tokenCount(col("text")).cast("long").as("n"))
          .agg(sum(col("n"))).collect()(0).getLong(0),
        "token mass preserved")
      val a = out.collect().map(_.toSeq).toSet
      val b = TextStats.greedyPacking(corpus.repartition(7), seqLen = 6,
        shards = sh).collect().map(_.toSeq).toSet
      assert(a === b, s"shards=$sh")
    }
    intercept[IllegalArgumentException] {
      TextStats.greedyPacking(docs, seqLen = 0, shards = 1)
    }
  }

  test("packingReport: hand-computed accounting for both modes; oversized doc pads zero under greedy; chop only pays the tail") {
    // one shard: docs of 5, 4, 3, 12, 2 tokens (the greedyPacking corpus)
    val docs = docsDf(
      (1L, (1 to 5).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 4).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 3).map(i => s"c$i").mkString(" ")),
      (4L, (1 to 12).map(i => s"d$i").mkString(" ")),
      (5L, "e1 e2"))
    val got = TextStats.packingReport(docs, seqLen = 8, shards = 1)
      .collect().map(r => r.getAs[String]("mode") ->
        ((r.getAs[Long]("n_seqs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("padding"), r.getAs[Double]("efficiency")))).toMap
    // chop: 26 tokens → ceil(26/8)=4 windows, padding 32−26=6
    assert(got("concat_chop") === ((4L, 26L, 6L, 0.8125)))
    // greedy (from the traced packing): seqs totals 5, 7, 12(oversized), 2
    // → padding (8−5)+(8−7)+0+(8−2)=10; eff 26/36
    assert(got("greedy_nosplit") === ((4L, 26L, 10L, 0.722222)))
    // chop can never pad more than greedy on the same inputs
    assert(got("concat_chop")._3 <= got("greedy_nosplit")._3)
  }

  test("sourceOverlapMatrix: hand-computed pairwise vocabulary Jaccard; multiplicity ignored; pair orientation canonical") {
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("text", StringType)))
    val docs = LocalTable.of(spark, schema, Seq(
      Row("A", "a b c"), Row("A", "a a b"),   // vocab A = {a,b,c}
      Row("B", "b c d"),                       // vocab B = {b,c,d}
      Row("C", "x y")))                        // vocab C = {x,y} — disjoint
    val got = TextStats.sourceOverlapMatrix(docs).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("n_common"), r.getAs[Double]("jaccard")))).toMap
    // A∩B = {b,c} → 2/(3+3−2) = 0.5; disjoint pairs emit no row
    assert(got === Map(("A", "B") -> ((3L, 3L, 2L, 0.5))))
    // partitioning invariance
    val again = TextStats.sourceOverlapMatrix(docs.repartition(5)).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b"))).toSet
    assert(again === Set(("A", "B")))
  }

  test("sourceTopP: per-source mass cut with the strict-prefix contract; sources are independent; integer boundary exact") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = LocalTable.of(spark, schema, Seq(
      // srcA total 20: docs of 10, 6, 4 → half-mass 10: keep ONLY the 10
      // (10+6=16 > 10 excludes the 6 and everything after)
      Row(1L, "A", words(10)), Row(2L, "A", words(6)), Row(3L, "A", words(4)),
      // srcB total 4: docs 2, 2 → half-mass 2: keep the first (doc_id
      // tiebreak at equal length), 2+2=4 > 2 excludes the second
      Row(10L, "B", words(2)), Row(11L, "B", words(2)),
      // srcC: one doc of 8 → half-mass 4 < 8: keep NOTHING
      Row(20L, "C", words(8))))
    val kept = TextStats.sourceTopP(docs, 1L, 2L).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"))).toSet
    assert(kept === Set(("A", 1L), ("B", 10L)))
    // p = 1 keeps everything
    assert(TextStats.sourceTopP(docs, 1L, 1L).count() === 6L)
    // p = 0 keeps nothing
    assert(TextStats.sourceTopP(docs, 0L, 1L).count() === 0L)
    // invariant under partitioning
    val again = TextStats.sourceTopP(docs.repartition(5), 1L, 2L).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"))).toSet
    assert(again === kept)
    intercept[IllegalArgumentException] {
      TextStats.sourceTopP(docs, 3L, 2L)
    }
  }

  test("dataCard: hand-computed release fields including the dominant-source tiebreak and empty docs") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("lang", StringType), StructField("text", StringType)))
    val docs = LocalTable.of(spark, schema, Seq(
      Row(1L, "web", "en", "a b c"),
      Row(2L, "web", "en", "a a"),
      Row(3L, "books", "de", "b c d e"),
      Row(4L, "apis", "en", "   ")))  // empty; ties apis/books at 1 doc
    val r = TextStats.dataCard(docs).collect()
    assert(r.length === 1)
    val row = r(0)
    assert(row.getAs[Long]("n_docs") === 4L)
    assert(row.getAs[Long]("n_tokens") === 9L)
    assert(row.getAs[Long]("n_empty") === 1L)
    assert(row.getAs[Long]("n_sources") === 3L)
    assert(row.getAs[Long]("n_langs") === 2L)
    assert(row.getAs[Long]("vocab_size") === 5L) // a b c d e
    assert(row.getAs[Double]("mean_doc_tokens") === 2.25)
    assert(row.getAs[String]("top_source") === "web")
    assert(row.getAs[Double]("top_source_share") === 0.5)
    // dominance tiebreak: drop doc 1 so web ties books/apis at 1 — apis wins asc
    val tied = TextStats.dataCard(docs.filter(col("doc_id") > 2L))
      .collect()(0)
    assert(tied.getAs[String]("top_source") === "apis")
    // one-row contract survives an empty corpus (release pipelines diff
    // card-over-card; a missing card breaks the diff)
    val empty = TextStats.dataCard(docs.filter(col("doc_id") < 0L)).collect()
    assert(empty.length === 1)
    assert(empty(0).getAs[Long]("n_docs") === 0L)
    assert(empty(0).getAs[Double]("mean_doc_tokens") === 0.0)
    assert(empty(0).getAs[String]("top_source") === null)
  }

  test("calibrationReport: hand-computed bins, score 1.0 clamps into the top bin, ECE weighted by bin mass") {
    val schema = StructType(Seq(
      StructField("label", org.apache.spark.sql.types.DoubleType),
      StructField("score", org.apache.spark.sql.types.DoubleType)))
    val scored = LocalTable.of(spark, schema, Seq(
      Row(0.0, 0.05),              // bin 0
      Row(1.0, 0.15), Row(0.0, 0.18), // bin 1: conf 0.165, acc 0.5
      Row(1.0, 0.95), Row(1.0, 1.0))) // bin 9 (1.0 clamped): conf 0.975, acc 1.0
    val out = TextStats.calibrationReport(scored, bins = 10).collect()
    val byBin = out.map(r => r.getAs[Int]("bin") ->
      ((r.getAs[Long]("n"), r.getAs[Long]("pos"),
        r.getAs[Double]("conf"), r.getAs[Double]("acc")))).toMap
    assert(byBin === Map(
      0 -> ((1L, 0L, 0.05, 0.0)),
      1 -> ((2L, 1L, 0.165, 0.5)),
      9 -> ((2L, 2L, 0.975, 1.0))))
    // ECE = 1/5·|0−.05| + 2/5·|.5−.165| + 2/5·|1−.975| = .01+.134+.01
    val eces = out.map(_.getAs[Double]("ece")).distinct
    assert(eces === Array(0.154), "one ECE scalar rides every row")
    // out-of-range scores clamp into the edge bins, never phantom bins
    val weird = LocalTable.of(spark, schema,
      Seq(Row(0.0, -0.25), Row(1.0, 1.75)))
    val bins = TextStats.calibrationReport(weird, bins = 10).collect()
      .map(_.getAs[Int]("bin")).sorted
    assert(bins.toSeq === Seq(0, 9))
  }

  test("LM counts algebra: append equals rebuild, scoring from counts equals the inline model") {
    val archive = docsDf(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"))
    val batch = docsDf(
      (3L, "a cat and a dog"),
      (4L, "the cat sat again"))
    val candidates = docsDf(
      (10L, "the cat sat"),
      (11L, "unseen words entirely"),
      (12L, "one"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("bg"), r.getAs[Long]("c12"))).toSet
    val archiveCounts = TextStats.lmBigramCounts(archive.select(col("text")))
    // append ≡ rebuild over archive ∪ batch
    val grown = TextStats.appendToLmCounts(archiveCounts,
      batch.select(col("text")))
    val rebuilt = TextStats.lmBigramCounts(
      archive.unionByName(batch).select(col("text")))
    assert(rows(grown) === rows(rebuilt))
    // scoring against persisted counts ≡ the inline build (both stages)
    def scored(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_logprob")))).toMap
    val viaCounts = scored(TextStats.ngramLmScoreFromCounts(
      rebuilt, candidates, alpha = 0.5))
    val inline = scored(TextStats.ngramLmScore(
      archive.unionByName(batch).select(col("text")), candidates, alpha = 0.5))
    assert(viaCounts === inline)
    assert(viaCounts(12L) === ((0L, 0.0)), "sub-two-token doc scores 0 with no bigrams")
    assert(viaCounts(10L)._2 > viaCounts(11L)._2,
      "in-distribution text must outscore unseen text")
  }

  test("temperatureMixture: tau=1 is the identity schedule — every factor exactly 1.0, one copy per doc") {
    val docs = LocalTable.of(spark,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType))),
      Seq(Row(1L, "big", "a b c d e f g h"), Row(2L, "big", "i j k l m n"),
        Row(3L, "small", "x y"), Row(4L, "mid", "p q r s")))
    val out = TextStats.temperatureMixture(docs, tau = 1.0).collect()
    assert(out.length === 4)
    assert(out.forall(_.getAs[Double]("fac") === 1.0))
    assert(out.forall(_.getAs[Long]("copy") === 0L))
  }

  test("temperatureMixture: tau<1 upweights rare sources, downweights dominant ones; zero-token sources are excluded") {
    val docs = LocalTable.of(spark,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType))),
      (1L to 30L).map(i => Row(i, "big", "w1 w2 w3 w4 w5 w6 w7 w8")) ++
        Seq(Row(31L, "rare", "a b"), Row(32L, "empty", "   ")))
    val facs = TextStats.temperatureMixture(docs, tau = 0.5)
      .select("source", "fac").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(!facs.contains("empty"), "zero-token source must be excluded")
    assert(facs("rare") > 1.0, s"rare source must be upweighted: $facs")
    assert(facs("big") < 1.0, s"dominant source must be downweighted: $facs")
    // expected token mass is preserved: sum(tok_i * fac_i) == total tokens
    // (up to the floor@6 on the factors)
    val tokBySource = Map("big" -> 30L * 8, "rare" -> 2L)
    val mass = tokBySource.map { case (s, t) => t * facs(s) }.sum
    val total = tokBySource.values.sum.toDouble
    assert(math.abs(mass - total) / total < 1e-4,
      s"token mass drifted: $mass vs $total")
  }

  test("ngramContamination: quoted test content scores high, disjoint text scores zero, short docs survive") {
    val train = docsDf(
      (1L, "the exam question about rivers and lakes appears here verbatim"),
      (2L, "completely unrelated prose with none of those words present today"),
      (3L, "partial overlap the exam question about nothing else in common with it"),
      (4L, "tiny doc"))                       // < n tokens → 0 n-grams
    val test = docsDf(
      (100L, "the exam question about rivers and lakes appears here verbatim"))
    val out = TextStats.ngramContamination(train, test, n = 3, threshold = 0.2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    assert(out(1L) === ((8L, 8L, 1.0, true)), "verbatim copy: every n-gram hits")
    assert(out(2L)._2 === 0L && out(2L)._3 === 0.0 && !out(2L)._4)
    assert(out(3L)._2 === 2L && out(3L)._4,
      "the quoted 4-token phrase contributes exactly its 2 interior 3-grams")
    assert(out(4L) === ((0L, 0L, 0.0, false)), "short docs score 0.0, not dropped")
    // train-side text must not shuffle: the test set broadcasts
    val plan = TextStats.ngramContamination(train, test, 3, 0.2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("sourceMixing: floor copies guaranteed, fractional part deterministic, zero factor drops") {
    val docs = sourcedDf((1L to 200L).map(i =>
      (i, if (i <= 50) "a" else if (i <= 100) "b" else if (i <= 150) "c" else "d")): _*)
    val out = TextStats.sourceMixing(docs,
      Map("a" -> 2.0, "b" -> 0.5, "c" -> 0.0), default = 1.0).collect()
    val byDoc = out.groupBy(_.getLong(0))
    val copiesOf = (s: String) => byDoc.collect {
      case (id, rows) if rows.head.getString(1) == s => id -> rows.length
    }
    assert(copiesOf("a").values.toSet === Set(2), "f=2.0 → exactly two copies each")
    assert(copiesOf("c") === Map.empty, "f=0.0 → source dropped entirely")
    assert(copiesOf("d").values.toSet === Set(1), "default 1.0 → exactly one copy")
    val bKept = copiesOf("b").size
    assert(bKept > 5 && bKept < 45, s"f=0.5 keeps roughly half, kept $bKept")
    assert(copiesOf("b").values.toSet === Set(1))
    // copy indices are 0..k-1 per doc
    val aCopies = out.filter(_.getString(1) == "a").groupBy(_.getLong(0))
    assert(aCopies.values.forall(_.map(_.getLong(2)).toSet === Set(0L, 1L)))
    // deterministic: a second run emits the identical multiset
    val again = TextStats.sourceMixing(docs,
      Map("a" -> 2.0, "b" -> 0.5, "c" -> 0.0), default = 1.0).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq ===
      again.map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq)
    // pure projection + generator: no join, no exchange anywhere
    val plan = TextStats.sourceMixing(docs, Map("a" -> 2.0))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("curationPipeline: packed (doc, copy) keys survive the round trip; stages compose") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    // long stopword-rich texts pass any reasonable quality bar; doc 2 is
    // a whitespace-variant duplicate of doc 1 (same normalized
    // fingerprint) and must lose to the lower id
    val good = ("the quick brown fox is a friend of the lazy dog and " * 12).trim
    val docs = LocalTable.of(spark, schema, Seq(
      Row(1L, "a", good),
      Row(2L, "a", good.replace("  ", " ") + "  "),  // normalized-equal dup
      Row(3L, "b", good + " extra tail tokens here"),
      Row(4L, "b", "tiny")))                          // fails the quality bar
    val out = TextStats.curationPipeline(docs, minQuality = 0.45,
      factors = Map("a" -> 2.0), default = 1.0, seed = "t", nShards = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // survivor set: doc 1 (dup 2 dropped), doc 3; doc 4 filtered.
    // factors: a→2.0 ⇒ doc 1 twice; b default ⇒ doc 3 once
    assert(out.map(t => (t._1, t._2)).sorted.toSeq ===
      Seq((1L, 0L), (1L, 1L), (3L, 0L)))
    assert(out.map(_._3).sorted.toSeq === Seq(0L, 1L, 2L), "global permutation")
    assert(out.forall(t => t._4 === t._3 % 2), "round-robin shard over the order")
  }

  test("shuffleShards: a reproducible seeded global permutation with balanced round-robin shards") {
    val docs = docsDf((1L to 100L).map(i => (i, s"doc $i")): _*)
    val out = TextStats.shuffleShards(docs, seed = "a", nShards = 8).collect()
    assert(out.map(_.getLong(1)).sorted.toSeq === (0L until 100L))   // a permutation
    val bySizes = out.groupBy(_.getLong(2)).view.mapValues(_.length).values.toSet
    assert(bySizes.subsetOf(Set(12, 13)))                            // round-robin balance
    // same seed reproduces the order; a different seed re-deals it
    val again = TextStats.shuffleShards(docs, seed = "a", nShards = 8).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      again.map(r => (r.getLong(0), r.getLong(1))).toSet)
    val other = TextStats.shuffleShards(docs, seed = "b", nShards = 8).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet !==
      other.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("bpeTokenCount: letter/digit/punctuation runs with optional space prefix") {
    val out = docsDf((1L, "don't stop 123 now!!"), (2L, ""), (3L, "   "),
      (4L, "abc"))
      .select(col("doc_id"), TextStats.bpeTokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // don | ' | t | " stop" | " 123" | " now" | !!
    assert(out(1L) === 7)
    assert(out(2L) === 0)
    assert(out(3L) === 0)
    assert(out(4L) === 1)
  }

  test("ngramLmScore: hand-checked smoothed bigram probabilities") {
    // reference bigrams: "the cat"×2, "cat sat", "cat ran";
    // contexts: the→2, cat→2; V = 2; α = 0.5
    val ref = docsDf((1L, "the cat sat"), (2L, "the cat ran"))
    val out = TextStats.ngramLmScore(ref,
      docsDf((10L, "the cat sat"), (11L, "zz qq"), (12L, "the"), (13L, "")),
      alpha = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // "the cat": (2+.5)/(2+1) = 5/6; "cat sat": (1+.5)/3 = 1/2
    assert(out(10L) === ((2L, r4((math.log(5.0 / 6) + math.log(0.5)) / 2))))
    // both OOV bigrams in unseen contexts: (0+.5)/(0+1) = 1/2
    assert(out(11L) === ((1L, r4(math.log(0.5)))))
    // under two tokens → no bigrams, score pinned to 0.0
    assert(out(12L) === ((0L, 0.0)))
    assert(out(13L) === ((0L, 0.0)))
  }

  test("ngramLmScore: in-distribution text outscores shuffled out-of-vocabulary text") {
    val ref = docsDf((1L to 20L).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog")): _*)
    val out = TextStats.ngramLmScore(ref,
      docsDf((100L, "the quick brown fox"), (101L, "xq zv qqq wz pf")))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(100L) > out(101L))
  }

  test("dsirWeights: target-like documents get positive log weight, off-target negative") {
    // raw = even mixture of two disjoint vocabularies, target = vocab A only
    val aDocs = (1L to 10L).map(i => (i, "alpha beta gamma delta alpha beta"))
    val bDocs = (11L to 20L).map(i => (i, "uno dos tres cuatro uno dos"))
    val raw = docsDf(aDocs ++ bDocs: _*)
    val target = docsDf(aDocs: _*)
    val out = TextStats.dsirWeights(raw, target, raw)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert((1L to 10L).forall(out(_) > 0), s"A docs must score positive: $out")
    assert((11L to 20L).forall(out(_) < 0), s"B docs must score negative: $out")
    // empty doc scores 0 with 0 features
    val withEmpty = TextStats.dsirWeights(raw, target, docsDf((99L, "  ")))
      .collect()(0)
    assert(withEmpty.getLong(1) === 0L && withEmpty.getDouble(2) === 0.0)
  }

  test("blocklistFilter: word-boundary matches only, occurrence counts, term validation") {
    val out = TextStats.blocklistFilter(docsDf(
      (1L, "a bad bad day"),          // two occurrences
      (2L, "badge is not bad-ge"),    // substring 'bad' inside 'badge' must NOT match
      (3L, "clean text entirely"),
      (4L, "BAD uppercase")),         // case-insensitive via lower()
      Seq("bad"))
      .select(col("doc_id"), col("n_blocked"), col("blocked"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(out(1L) === ((2, true)))
    // 'badge' guarded by \b; 'bad-ge' has a boundary before the hyphen
    assert(out(2L) === ((1, true)))
    assert(out(3L) === ((0, false)))
    assert(out(4L) === ((1, true)))
    intercept[IllegalArgumentException](
      TextStats.blocklistFilter(docsDf((1L, "x")), Seq("a.b")))
    intercept[IllegalArgumentException](
      TextStats.blocklistFilter(docsDf((1L, "x")), Nil))
  }

  test("rareTokenScrub: global threshold, order-preserving rebuild, empty-doc guard") {
    val out = TextStats.rareTokenScrub(docsDf(
      (1L, "the cat sat"),
      (2L, "the cat ran zq9"),   // zq9 appears once globally
      (3L, "the   the\tcat"),    // odd whitespace collapses to single spaces
      (4L, "  ")),
      minCount = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // counts: the=4, cat=3, sat=1, ran=1, zq9=1
    assert(out(1L) === (("the cat <unk>", 1L)))
    assert(out(2L) === (("the cat <unk> <unk>", 2L)))
    assert(out(3L) === (("the the cat", 0L)))
    assert(out(4L) === (("", 0L)))
    intercept[IllegalArgumentException](
      TextStats.rareTokenScrub(docsDf((1L, "x")), minCount = 0))
  }

  test("gopherRules: prose passes, each rule fails on its own pathology") {
    val out = TextStats.d39GopherRules.run(spark, "/root/testdata/sf0.001")
    assert(out.columns.toSeq === Seq("doc_id", "ok_word_count",
      "ok_mean_word_len", "ok_alpha_ratio", "ok_symbol_ratio",
      "ok_stopwords", "passed"))
    // hand cases through the rule columns directly
    val docs = docsDf(
      (1L, "the data and the batch have to be sorted with care today"),
      (2L, "too short"),                                   // word count < 5
      (3L, "the 111 222 333 444 555 666 777 888 999 000"), // digits: alpha ratio
      (4L, "the # batch # and # scan # have # to # work"), // symbol ratio
      (5L, "zz qq ww ee rr tt yy uu ii oo"))               // no stopwords
    val rules = TextStats.gopherRules(col("text"))
    val flags = docs.select(col("doc_id") +:
      rules.map { case (n, c) => c.as(n) } :+
      rules.map(_._2).reduce(_ && _).as("passed"): _*)
      .collect().map(r => r.getLong(0) ->
        (1 to 6).map(r.getBoolean).toSeq).toMap
    assert(flags(1L).forall(identity), s"prose must pass all: ${flags(1L)}")
    assert(!flags(2L)(0) && !flags(2L)(5))
    assert(!flags(3L)(2) && !flags(3L)(5))
    assert(!flags(4L)(3) && !flags(4L)(5))
    assert(!flags(5L)(4) && !flags(5L)(5))
  }

  test("repetitionSignals: hand-checked fractions, boilerplate vs varied text") {
    val out = TextStats.repetitionSignals(docsDf(
      (1L, "spam spam spam spam"),       // one token 4× — maximal repetition
      (2L, "all words here are unique"),
      (3L, "one two one two one two"),   // "one two"(len 7) 3x, "two one"(7) 2x
      (4L, "solo"),                      // single token: no 2/3-grams
      (5L, " ")))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((1.0, 1.0, 1.0)))
    assert(out(2L) === ((0.2, 0.0, 0.0)))
    // top token "one" 3/6; bigrams: all 5 occurrences belong to grams
    // seen >=2 times -> dup2 = 1.0; trigrams "one two one"(2x of 4 occ,
    // len 11) + "two one two"(2x, len 11) -> all 4 duplicated -> 1.0
    assert(out(3L) === ((0.5, 1.0, 1.0)))
    assert(out(4L) === ((1.0, 0.0, 0.0)))
    assert(out(5L) === ((0.0, 0.0, 0.0)))
  }

  private def labeledDf(rows: (Long, String, Double)*) =
    LocalTable.of(spark,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("label", DoubleType))),
      rows.map { case (k, t, y) => Row(k, t, y) })

  test("hashed logreg: learns a separable vocabulary split") {
    val pos = (1L to 15L).map(i => (i, "good great fine excellent solid", 1.0))
    val neg = (16L to 30L).map(i => (i, "bad awful broken terrible junk", 0.0))
    val labeled = labeledDf(pos ++ neg: _*)
    val (w, b) = TextStats.trainHashedLogReg(labeled, "text", "label",
      buckets = 64, iters = 20, lr = 0.5)
    val scores = TextStats.scoreHashedLogReg(labeled, "text", w, b)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert((1L to 15L).forall(scores(_) > 0.5), s"positives must score > 0.5: $scores")
    assert((16L to 30L).forall(scores(_) < 0.5), s"negatives must score < 0.5: $scores")
  }

  test("hashed logreg: training is deterministic across runs and partitionings") {
    val labeled = labeledDf(
      (1L to 40L).map(i => (i,
        if (i % 2 == 0) s"even tokens here ${i % 5}" else s"odd words there ${i % 7}",
        (i % 2).toDouble)): _*)
    val (w1, b1) = TextStats.trainHashedLogReg(labeled, "text", "label", iters = 3)
    val (w2, b2) = TextStats.trainHashedLogReg(labeled.repartition(7), "text", "label", iters = 3)
    // the rounding contract (z@9, p@6, grad@9) makes double-summation
    // order invisible: identical weights bit-for-bit at any parallelism
    assert(w1.toSeq === w2.toSeq)
    assert(b1 === b2)
  }

  private def entropyOf(text: String, tokenLevel: Boolean): java.lang.Double = {
    val r = docsDf((1L, text))
      .select(graft.plans.EntropyExpr.entropy(col("text"), tokenLevel).as("h"))
      .collect()(0)
    if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
  }

  test("EntropyExpr: character entropy of known distributions") {
    val h0 = entropyOf("aaaa", tokenLevel = false)
    // single-symbol text: exactly 0.0 with a POSITIVE sign — the naive
    // -sum form yields IEEE -0.0, which the two engines format apart
    assert(h0.doubleValue() === 0.0 && 1.0 / h0.doubleValue() > 0)
    assert(entropyOf("ab", tokenLevel = false) === 1.0)
    assert(entropyOf("aabb", tokenLevel = false) === 1.0)
    assert(entropyOf("abcd", tokenLevel = false) === 2.0)
    assert(entropyOf("", tokenLevel = false) === 0.0)
  }

  test("EntropyExpr: token entropy over whitespace tokens") {
    assert(entropyOf("x y x y", tokenLevel = true) === 1.0)
    assert(entropyOf("x x x", tokenLevel = true) === 0.0)
    assert(entropyOf("a b c d", tokenLevel = true) === 2.0)
    assert(entropyOf("   ", tokenLevel = true) === 0.0)
  }

  test("EntropyExpr: iterates codepoints, not UTF-16 units") {
    // a supplementary-plane char is TWO UTF-16 units but ONE character;
    // counting units would see {high surrogate, low surrogate, 'a'} and
    // report log2(3)-ish garbage instead of 1 bit
    assert(entropyOf("😀a", tokenLevel = false) === 1.0)
    assert(entropyOf("😀😀", tokenLevel = false) === 0.0)
  }

  test("d41: terciles partition the corpus by global score rank") {
    val rows = SparkEntry.queries("d41_perplexity_buckets")(
      spark, "/root/testdata/sf0.001").collect()
    val n = rows.length
    assert(n > 0)
    // rn is a permutation of 1..n (the two-pass global rank is total)
    assert(rows.map(_.getLong(2)).sorted.toSeq === (1L to n.toLong))
    // tercile sizes differ by at most one, head tiles first
    val sizes = rows.groupBy(_.getString(3)).view.mapValues(_.length).toMap
    assert(sizes.keySet === Set("head", "middle", "tail"))
    assert(sizes.values.max - sizes.values.min <= 1)
    // rank ordering respects the score: every head score ≥ every middle
    // score ≥ every tail score (ties may straddle the boundary — hence ≥)
    def scores(b: String) = rows.filter(_.getString(3) == b).map(_.getDouble(1))
    assert(scores("head").min >= scores("middle").max)
    assert(scores("middle").min >= scores("tail").max)
  }

  test("lengthProfile: exact R-7 percentiles per source") {
    val df = LocalTable.of(spark,
      StructType(Seq(StructField("source", StringType),
        StructField("text", StringType))),
      Seq(Row("a", "t"), Row("a", "t t"), Row("a", "t t t"), Row("a", "t t t t"),
        Row("b", ""), Row("b", "x y z")))
    val got = TextStats.lengthProfile(df).collect()
      .map(r => r.getString(0) -> r.toSeq.tail).toMap
    // source a: counts [1,2,3,4] — p50 = 2.5, p90 = 1+0.9*3 = 3.7,
    // p99 = 1+0.99*3 = 3.97 (linear interpolation on pos = q*(n-1))
    assert(got("a") === Seq(4L, 2.5, 2.5, 3.7, 3.97, 1.0, 4.0))
    // source b: [0, 3] — empty text counts 0 tokens
    assert(got("b") === Seq(2L, 1.5, 1.5, 2.7, 2.97, 0.0, 3.0))
  }

  test("spanCorruption: rate extremes, sentinel numbering, empty docs") {
    val docs = docsDf(
      (1L, "a b c d e f g h i j"), // 10 tokens → groups of 4: [a-d][e-h][i j]
      (2L, ""))
    // rate 0: input is the single-spaced original, nothing masked
    val none = TextStats.spanCorruption(docs, spanLen = 4,
      ratePerMillion = 0, seed = "s").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3)))).toMap
    assert(none(1L) === (("a b c d e f g h i j", "", 0L)))
    assert(none(2L) === (("", "", 0L)))
    // rate 1e6: every span masked — ordered sentinels in input, full
    // sentinel-prefixed text in target
    val full = TextStats.spanCorruption(docs, spanLen = 4,
      ratePerMillion = 1000000, seed = "s").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3)))).toMap
    assert(full(1L) === (("<extra_id_0> <extra_id_1> <extra_id_2>",
      "<extra_id_0> a b c d <extra_id_1> e f g h <extra_id_2> i j", 3L)))
    assert(full(2L) === (("", "", 0L)))
  }

  test("spanCorruption: substituting targets back into the input reconstructs the document") {
    val docs = docsDf(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "one two three"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"))
    val out = TextStats.spanCorruption(docs, spanLen = 3,
      ratePerMillion = 500000, seed = "roundtrip").collect()
    val original = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      val (id, input, target) = (r.getLong(0), r.getString(1), r.getString(2))
      // parse the target into k -> span tokens
      val spans = scala.collection.mutable.Map.empty[Int, Vector[String]]
      var cur = -1
      target.split(" ").filter(_.nonEmpty).foreach { t =>
        if (t.startsWith("<extra_id_")) { cur = t.stripPrefix("<extra_id_").stripSuffix(">").toInt; spans(cur) = Vector.empty }
        else spans(cur) = spans(cur) :+ t
      }
      val rebuilt = input.split(" ").filter(_.nonEmpty).flatMap { t =>
        if (t.startsWith("<extra_id_"))
          spans(t.stripPrefix("<extra_id_").stripSuffix(">").toInt)
        else Vector(t)
      }.mkString(" ")
      assert(rebuilt === original(id), s"doc $id did not round-trip")
    }
    // determinism: same seed twice is bit-identical, a different seed is not forced to be
    val again = TextStats.spanCorruption(docs, spanLen = 3,
      ratePerMillion = 500000, seed = "roundtrip").collect()
    assert(out.map(_.toSeq).toSet === again.map(_.toSeq).toSet)
  }

  test("sourceDivergence: hand-computed KL, zero for a lone source, empty text ignored") {
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("text", StringType)))
    val docs = LocalTable.of(spark, schema, Seq(
      Row("a", "x x y"), Row("b", "x y y"), Row("b", "y"), Row("b", "")))
    val got = graft.ext.TextStats.sourceDivergence(docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // corpus: x3 y4, N=7; a: x2 y1 n=3; b: x1 y3 n=4
    def kl(ps: Seq[(Double, Double)]): Double =
      math.floor(ps.map { case (p, q) => p * math.log(p / q) }.sum * 1e4 + 0.5) / 1e4
    val klA = kl(Seq((2.0 / 3, 3.0 / 7), (1.0 / 3, 4.0 / 7)))
    val klB = kl(Seq((1.0 / 4, 3.0 / 7), (3.0 / 4, 4.0 / 7)))
    assert(got("a") === ((3L, 2L, klA)))
    assert(got("b") === ((4L, 2L, klB)))
    // a source alone IS the corpus: divergence exactly zero
    val lone = graft.ext.TextStats.sourceDivergence(
      LocalTable.of(spark, schema, Seq(Row("only", "p q r p"))))
      .collect()(0)
    assert(lone.getDouble(3) === 0.0)
  }

  test("weightedSample: heavy weights dominate, without replacement, seeded determinism, guards") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("w", LongType)))
    val rows = Row(0L, 1000000000000L) +:
      (1L to 30L).map(i => Row(i, 1L)) :+ Row(99L, 0L) :+ Row(98L, -5L)
    val d = LocalTable.of(spark, schema, rows)
    val got = graft.ext.TextStats.weightedSample(d, "id", "w", k = 5, seed = "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === 5)
    assert(got.map(_._1).distinct.length === 5, "without replacement")
    // skey = -ln(u)/w: the 1e12-weight row's key is ~12 orders smaller
    assert(got.head._1 === 0L, "the dominant weight must win rank 1")
    assert(!got.map(_._1).contains(99L) && !got.map(_._1).contains(98L),
      "non-positive weights are excluded")
    assert(got.map(_._3).toSeq === got.map(_._3).sortBy(identity).toSeq,
      "output arrives in key order")
    val again = graft.ext.TextStats.weightedSample(
      d.repartition(7), "id", "w", k = 5, seed = "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.toSeq === got.toSeq, "seeded + partitioning-invariant")
    // k larger than the eligible population returns everyone once
    val all = graft.ext.TextStats.weightedSample(d, "id", "w", k = 100, seed = "s")
    assert(all.count() === 31)
  }

  test("BpeApplyExpr kernel: greedy left-to-right non-overlapping merges") {
    import org.apache.spark.unsafe.types.UTF8String
    def ap(sym: String, pair: String): String =
      graft.plans.BpeApplyExpr.applyMerge(
        UTF8String.fromString(sym), UTF8String.fromString(pair)).toString
    assert(ap("a a a a", "a a") === "aa aa")   // even run: both pairs merge
    assert(ap("a a a", "a a") === "aa a")      // odd run: trailing singleton
    assert(ap("x a b y", "a b") === "x ab y")
    assert(ap("a b a b", "a b") === "ab ab")
    assert(ap("q r s", "a b") === "q r s")     // no occurrence
    assert(ap("aa ab", "aa ab") === "aaab")    // multi-char symbols fuse
    assert(ap("a ab", "a a") === "a ab")       // prefix of a symbol is NOT a match
  }

  test("bpeMerges: hand-traced 3-round training; partitioning invariant") {
    val docs = docsDf((1L, "aaab aaab aaab ab ab"))
    val got = graft.ext.TextStats.bpeMerges(docs, k = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (a,a) 6 occurrences beats (a,b) 5; round 2: after [aa,a,b]
    // the pair (a,b) totals 3+2=5 vs (aa,a) 3; round 3: (aa,ab) remains
    assert(got.toSeq === Seq((1, "a", "a", 6L), (2, "a", "b", 5L), (3, "aa", "ab", 3L)))
    val again = graft.ext.TextStats.bpeMerges(docs.repartition(5), k = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(again.toSeq === got.toSeq)
    // non-[a-z0-9] words are excluded from the vocabulary entirely
    val filtered = graft.ext.TextStats.bpeMerges(
      docsDf((1L, "zz zz Zz !! zz")), k = 1).collect()
    assert(filtered.map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq ===
      Seq(("z", "z", 3L)))
  }

  test("bpeSegment: merges apply in rank order; symbols concatenate back to the word") {
    val docs = docsDf((1L, "aaab aaab aaab ab ab cd"))
    val got = graft.ext.TextStats.bpeSegment(docs, Seq("a a", "a b", "aa ab"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getInt(2), r.getString(3))).toMap
    assert(got("aaab") === ((3L, 1, "aaab"))) // a a a b → aa a b → aa ab → aaab
    assert(got("ab") === ((2L, 1, "ab")))
    assert(got("cd") === ((1L, 2, "c d")))    // untouched by these merges
    // round-trip: removing spaces reconstructs every word
    got.foreach { case (w, (_, _, seg)) => assert(seg.replace(" ", "") === w) }
  }

  test("zipfFit: hand-computed least squares on a tiny vocabulary; no single-partition exchange") {
    val docs = docsDf((1L, "a a a a b b c"))
    val df = graft.ext.TextStats.zipfFit(docs)
    val got = df.collect()(0)
    // freqs a:4 b:2 c:1 → ranks 1,2,3; x=ln(rank), y=ln(freq)
    val x = Seq(1.0, 2.0, 3.0).map(math.log)
    val y = Seq(4.0, 2.0, 1.0).map(math.log)
    val n = 3.0
    val (sx, sy) = (x.sum, y.sum)
    val sxy = x.zip(y).map { case (a, b) => a * b }.sum
    val sxx = x.map(v => v * v).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(0) === 3L)
    assert(got.getLong(1) === 7L)
    assert(got.getDouble(2) === r4(slope))
    assert(got.getDouble(3) === r4(sy / n - slope * sx / n))
    assert(slope < 0, "frequency decays with rank")
    val p = df.queryExecution.sparkPlan.toString
    assert(!p.contains("Exchange SinglePartition"), p.take(1000))
  }

  test("ngramNovelty: copied docs score 0, fresh docs score 1, mixtures in between; short docs absent") {
    val ref = docsDf((100L, "a b c d e"))           // ref trigrams: abc bcd cde
    val docs = docsDf(
      (1L, "a b c d e"),        // all 3 grams seen → novelty 0
      (2L, "x y z w"),          // xyz yzw novel → novelty 1
      (3L, "a b c x y"),        // abc seen; bcx cxy novel → 2/3
      (4L, "a b"))              // < 3 tokens → no grams → absent
    val got = TextStats.ngramNovelty(docs, ref, n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) === ((3L, 0L, 0.0)))
    assert(got(2L) === ((2L, 2L, 1.0)))
    assert(got(3L) === ((3L, 2L, math.floor(2.0 / 3 * 1e6 + 0.5) / 1e6)))
    assert(!got.contains(4L))
    assert(got.size === 3)
  }

  test("embeddingProfile: hand-computed moments per group and dimension") {
    val schema = StructType(Seq(
      StructField("label", IntegerType),
      StructField("embedding", ArrayType(FloatType))))
    val df = LocalTable.of(spark, schema, Seq(
      Row(0, Seq(1.0f, 2.0f)), Row(0, Seq(3.0f, 2.0f)), Row(1, Seq(5.0f, 0.0f))))
    val got = graft.ext.Similarity.embeddingProfile(df, "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got((0, 0)) === ((2L, 2.0, 1.0)))   // mean(1,3)=2, var=1
    assert(got((0, 1)) === ((2L, 2.0, 0.0)))
    assert(got((1, 0)) === ((1L, 5.0, 0.0)))
    assert(got((1, 1)) === ((1L, 0.0, 0.0)))
  }

  test("normalizeText: accents fold, case folds, whitespace collapses, non-accent letters survive") {
    val df = docsDf(
      (1L, "Crème  BRÛLÉE\t à-la-mode "),
      (2L, "søren's STRAßE œuvre łódź"),
      (3L, "  plain ascii  text "),
      (4L, ""),
      (5L, "ñandú\n\níçé"))
    val got = df.select(col("doc_id"), TextStats.normalizeText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "creme brulee a-la-mode")
    // ø, ß, œ, ł are letters, not accented forms — they must survive
    // (char-for-char the DuckDB strip_accents behavior the oracle
    // replays); ó/ź inside łódź ARE accents and fold
    assert(got(2L) === "søren's straße œuvre łodz")
    assert(got(3L) === "plain ascii text")
    assert(got(4L) === "")
    assert(got(5L) === "nandu ice")
  }

  test("normalizeText: idempotent, null-safe, exchange-free codegen projection") {
    val df = docsDf((1L, "Crème  BRÛLÉE"), (2L, "x y"))
    val once = df.select(TextStats.normalizeText(col("text")).as("n"))
    val twice = once.select(TextStats.normalizeText(col("n")).as("n"))
    assert(once.collect().map(_.getString(0)).toSeq ===
      twice.collect().map(_.getString(0)).toSeq)
    val withNull = LocalTable.of(spark,
      StructType(Seq(StructField("text", StringType))), Seq(Row(null), Row("A")))
    val r = withNull.select(TextStats.normalizeText(col("text")).as("n")).collect()
    assert(r(0).isNullAt(0) && r(1).getString(0) === "a")
    // plan pin on a real parquet scan (a LocalRelation constant-folds
    // away before codegen): exchange-free, inside whole-stage codegen
    val onParquet = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(TextStats.normalizeText(col("text")).as("n"))
    val plan = onParquet.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
    assert(plan.contains("*(1) Project"), // the codegen'd-stage marker
      plan.take(800))
    // SQL surface
    graft.plans.GraftFunctions.register(spark)
    df.createOrReplaceTempView("norm_in")
    val viaSql = spark.sql("SELECT normalize_text(text) AS n FROM norm_in ORDER BY n")
      .collect().map(_.getString(0)).toSeq
    assert(viaSql === Seq("creme brulee", "x y"))
  }

  test("qualityEnsemble: each signal attributes independently; keep is the conjunction") {
    val prose = "the data and the batch have to be sorted with care today " +
      "because the scan of the table is long and the work is real " * 3
    val spine = docsDf(
      (1L, prose),            // passes quality + gopher
      (2L, prose),            // same text — fails only on ppl (tail)
      (3L, prose),            // same text — fails only on clf (score < thr*)
      (4L, "too short"))      // fails quality AND gopher
    def kv(rows: (Long, Any)*)(name: String, t: DataType) =
      LocalTable.of(spark, StructType(Seq(
        StructField("doc_id", LongType), StructField(name, t))),
        rows.map { case (k, v) => Row(k, v) })
    val ppl = kv(1L -> "head", 2L -> "tail", 3L -> "middle",
      4L -> "head")("ppl_bucket", StringType)
    val clf = kv(1L -> 0.9, 2L -> 0.9, 3L -> 0.2,
      4L -> 0.9)("score", DoubleType)
    val thr = LocalTable.of(spark,
      StructType(Seq(StructField("thr_star", DoubleType))), Seq(Row(0.5)))
    val out = TextStats.qualityEnsemble(spine, ppl, clf, thr,
        minQuality = 0.45)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(Seq("ok_quality", "ok_gopher", "ok_ppl", "ok_clf")
      .forall(out(1L).getAs[Boolean](_)))
    assert(!out(2L).getAs[Boolean]("keep") &&
      !out(2L).getAs[Boolean]("ok_ppl") &&
      out(2L).getAs[Boolean]("ok_quality") &&
      out(2L).getAs[Boolean]("ok_clf"))
    assert(!out(3L).getAs[Boolean]("keep") &&
      !out(3L).getAs[Boolean]("ok_clf") && out(3L).getAs[Boolean]("ok_ppl"))
    assert(!out(4L).getAs[Boolean]("keep") &&
      !out(4L).getAs[Boolean]("ok_quality") &&
      !out(4L).getAs[Boolean]("ok_gopher"))
    // attribution must ride every row — the drop REASON is the product
    assert(out.values.forall(r =>
      !r.isNullAt(r.fieldIndex("thr_star")) &&
        r.getAs[Double]("thr_star") === 0.5))
  }

  test("classifierEval: hand-computed tie-aware AUC + sweep; the [0,1] score-domain guard errors on out-of-range and NULL scores") {
    val schema = StructType(Seq(
      StructField("label", DoubleType), StructField("score", DoubleType)))
    // tie at 0.6 across classes — exercises the average-rank arithmetic
    val scored = LocalTable.of(spark, schema, Seq(
      Row(1.0, 0.8), Row(1.0, 0.6), Row(0.0, 0.6), Row(0.0, 0.4)))
    val out = TextStats.classifierEval(scored, thresholds = Seq(0.5)).collect()
    assert(out.length === 1)
    val r = out(0)
    // ranks: .4→1, .6→(2+3)/2=2.5 each, .8→4; U = (2.5+4) − 2·3/2 = 3.5;
    // auc = U/(np·nn) = 3.5/4 = 0.875
    assert(r.getAs[Double]("auc") === 0.875)
    assert((r.getAs[Long]("tp"), r.getAs[Long]("fp"),
      r.getAs[Long]("fn"), r.getAs[Long]("tn")) === ((2L, 1L, 0L, 1L)))
    assert(r.getAs[Double]("precision_m") === 0.666667) // floor@6 of 2/3
    assert(r.getAs[Double]("recall_m") === 1.0)
    // the boundedness contract (distinct s4 ≤ 10,001 ⇒ safe global
    // window) requires scores in [0,1]: out-of-range and NULL scores
    // are per-row errors, not silent clamps/merges
    def chain(t: Throwable): String =
      if (t == null) "" else t.toString + "|" + chain(t.getCause)
    val over = LocalTable.of(spark, schema, Seq(Row(1.0, 1.5), Row(0.0, 0.2)))
    val e1 = intercept[Throwable] {
      TextStats.classifierEval(over, Seq(0.5)).collect()
    }
    assert(chain(e1).contains("must be in [0,1]"), chain(e1).take(500))
    val nul = LocalTable.of(spark, schema, Seq(Row(1.0, null), Row(0.0, 0.2)))
    val e2 = intercept[Throwable] {
      TextStats.classifierEval(nul, Seq(0.5)).collect()
    }
    assert(chain(e2).contains("must be in [0,1]"), chain(e2).take(500))
  }
}
