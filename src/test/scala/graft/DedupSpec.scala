package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.SessionCheckpointDir.{filesUnder, onGraftfs}

import graft.ext.Dedup

/** Near-dup semantics: shingling, exact Jaccard, MinHash+LSH recall
  * against the exact answer on the real corpus, SimHash locality. */
class DedupSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def strDf(rows: (Long, String)*) =
    LocalTable.of(spark,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      rows.map { case (k, v) => Row(k, v) })

  test("shingles: distinct word n-grams, short-text and empty guards") {
    val df = strDf((1L, "a b c d"), (2L, "a b"), (3L, ""), (4L, "x x x x"))
    val got = df.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) === Seq("a b c", "b c d"))
    assert(got(2L) === Seq())
    assert(got(3L) === Seq())
    assert(got(4L) === Seq("x x x")) // distinct collapses repeats
  }

  test("canonicalBestQuality: each cluster keeps its highest-quality member; quality ties break by doc_id; singletons pass through") {
    // cluster A: identical short texts (Jaccard 1.0) — quality tie, so
    // the SMALLER doc_id must win; cluster B: one member carries extra
    // stopword-rich content (higher quality) and must win despite the
    // LARGER doc_id; doc 9 is a singleton.
    val baseA = "alpha beta gamma delta epsilon zeta eta theta"
    // B's texts share 20 of B-long's 23 trigrams → Jaccard 20/23 ≈ 0.87;
    // the 5-stopword suffix lifts doc 12's token/char/stopword terms, so
    // its quality is strictly higher
    val baseB = (1 to 22).map(i => s"word$i").mkString(" ")
    val docs = strDf(
      (3L, baseA), (7L, baseA),
      (10L, baseB),
      (12L, baseB + " of the and in is"),
      (9L, "lonely document with completely different words entirely"))
    val got = Dedup.canonicalBestQuality(docs)
      .collect()
      .map(r => (r.getAs[Long]("component"), r.getAs[Long]("kept_doc"),
        r.getAs[Long]("n_members")))
      .toSet
    // doc 12 strictly contains doc 10's shingles plus more, so their
    // Jaccard is |10| / |union|; verify they actually clustered before
    // asserting the survivor (guards the fixture, not the operator)
    assert(got.exists { case (_, kept, n) => kept === 12L && n === 2L },
      s"cluster B must keep the higher-quality doc 12: $got")
    assert(got.exists { case (_, kept, n) => kept === 3L && n === 2L },
      s"cluster A tie must break to the smaller doc_id: $got")
    assert(got.exists { case (_, kept, n) => kept === 9L && n === 1L },
      s"singleton must survive with n_members=1: $got")
    assert(got.size === 3)
  }

  test("jaccard on known sets") {
    val df = strDf((1L, "unused"))
      .select(Dedup.jaccard(
        array(lit("a"), lit("b"), lit("c")),
        array(lit("b"), lit("c"), lit("d"))).as("j"))
    assert(df.collect()(0).getDouble(0) === 0.5)
  }

  test("jaccard is duplicate-safe; jaccardDistinct is the documented fast path") {
    // [a,a,b] vs [b,a]: as SETS both are {a,b} → Jaccard 1.0. The
    // duplicate-blind |a|+|b|−|a∩b| identity would count 'a' twice in the
    // union (3+2−2 = 3 → 2/3) — the safe wrapper must distinct first
    val r = strDf((1L, "unused")).select(
      Dedup.jaccard(array(lit("a"), lit("a"), lit("b")),
        array(lit("b"), lit("a"))).as("j"),
      Dedup.jaccardDistinct(array(lit("a"), lit("b")),
        array(lit("b"), lit("a"))).as("jd")).collect()(0)
    assert(r.getDouble(0) === 1.0) // {a,b} vs {a,b}
    assert(r.getDouble(1) === 1.0)
  }

  test("minhash+LSH finds exactly the exact-Jaccard>=0.5 pairs on the corpus") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    // exact brute-force answer (test-only; the operator itself never does this)
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val exact = sh.as("a").join(sh.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        Dedup.jaccard(col("a.sh"), col("b.sh")).as("j"))
      .filter(col("j") >= 0.5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDupPairs(docs, 3, 16, 8, 2, 0.5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain injected near-dups")
    assert(lsh === exact)
  }

  /** Connected components by union-find over collected pairs (test-only;
    * the operators never collect). */
  private def components(pairs: Set[(Long, Long)], nodes: Set[Long]): Set[Set[Long]] = {
    val parent = scala.collection.mutable.Map[Long, Long](nodes.map(n => n -> n).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    nodes.groupBy(find).values.map(_.toSet).toSet
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("bucketCap: capped default equals fully-uncapped run on the gate corpus") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val capped = pairSet(Dedup.minhashNearDupPairs(docs, 3, 16, 8, 2, 0.5))
    val uncapped = pairSet(
      Dedup.minhashNearDupPairs(docs, 3, 16, 8, 2, 0.5, bucketCap = Int.MaxValue))
    assert(capped.nonEmpty)
    assert(capped === uncapped)
  }

  test("bucketCap: hot bucket takes star pairing — bounded output, identical components") {
    // 30 identical docs: every band puts all 30 in ONE bucket, so with
    // cap=8 every bucket is hot and ONLY the m−1 representative star
    // edges are emitted (the uncapped run emits all m(m−1)/2).
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val cluster = (1L to 30L).map(i => (i, text))
    val others = (100L to 104L).map(i =>
      (i, (1 to 12).map(j => s"only${i}word$j").mkString(" ")))
    val docs = strDf((cluster ++ others): _*)
    val nodes = (cluster ++ others).map(_._1).toSet
    val uncapped = pairSet(
      Dedup.minhashNearDupPairs(docs, 3, 96, 48, 2, 0.5, bucketCap = Int.MaxValue))
    val capped = pairSet(
      Dedup.minhashNearDupPairs(docs, 3, 96, 48, 2, 0.5, bucketCap = 8))
    assert(uncapped.size === 30 * 29 / 2)
    assert(capped === (2L to 30L).map(i => (1L, i)).toSet) // the star, nothing else
    assert(components(capped, nodes) === components(uncapped, nodes))
  }

  test("bucketCap: near-identical cluster with partial bucket splits keeps components") {
    // unique suffix per doc → sigs differ slightly → buckets split into a
    // mix of hot and cold sub-buckets at cap=8; emitted pairs are a
    // subset of the uncapped pairs but the components must not split.
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val cluster = (1L to 30L).map(i => (i, s"$base uniq$i"))
    val others = (100L to 104L).map(i =>
      (i, (1 to 12).map(j => s"only${i}word$j").mkString(" ")))
    val docs = strDf((cluster ++ others): _*)
    val nodes = (cluster ++ others).map(_._1).toSet
    val uncapped = pairSet(
      Dedup.minhashNearDupPairs(docs, 3, 96, 48, 2, 0.5, bucketCap = Int.MaxValue))
    val capped = pairSet(
      Dedup.minhashNearDupPairs(docs, 3, 96, 48, 2, 0.5, bucketCap = 8))
    assert(capped.subsetOf(uncapped))
    assert(components(capped, nodes) === components(uncapped, nodes))
    assert(components(capped, nodes).exists(_ === (1L to 30L).toSet))
  }

  test("verifySampleRate: verified subset is exact, trusted remainder preserves recall") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val full = pairSet(Dedup.minhashNearDupPairs(docs, 3, 16, 8, 2, 0.5))
    val sampled = Dedup.minhashNearDupPairs(docs, 3, 16, 8, 2, 0.5,
      verifySampleRate = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), !r.isNullAt(2))).toMap
    // partition with filter, NOT `collect { case (p, true) => p }`: that
    // pattern deterministically dropped entries of this very map on this
    // box's JVM (C2 applyOrElse pathology — filter/get on the same map
    // disagreed with collect; see NOTES.md round 6)
    val verified = sampled.filter(_._2).keySet
    val trusted = sampled.filterNot(_._2).keySet
    assert(verified.subsetOf(full))           // verified pairs passed the exact gate
    assert(full.subsetOf(verified ++ trusted)) // no true pair is lost by sampling
    assert(trusted.nonEmpty)                   // the sample actually split
    assert(verified.nonEmpty)
  }

  test("simhash hot-band cap: star pairing bounds output, components match uncapped") {
    // 20 identical docs → identical sigs → all 4 band buckets hold all 20
    // members; bandCap=4 makes every bucket hot → exactly the 19 star
    // pairs come out (uncapped emits all 190).
    val cluster = (1L to 20L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta"))
    val others = Seq(
      (100L, "completely different payload words over here now"),
      (101L, "another unrelated document entirely about engines"))
    val df = strDf((cluster ++ others): _*)
    val nodes = (cluster ++ others).map(_._1).toSet
    val sigs = Dedup.simhashSignatures(df, "doc_id", "text")
    val uncapped = pairSet(Dedup.simhashNearDupPairs(sigs, 3))
    val capped = pairSet(Dedup.simhashNearDupPairs(sigs, 3, bandCap = 4))
    val clusterIds = (1L to 20L).toSet
    assert(uncapped.filter(p => clusterIds(p._1) && clusterIds(p._2)).size === 190)
    assert(capped.filter(p => clusterIds(p._1) && clusterIds(p._2)) ===
      (2L to 20L).map(i => (1L, i)).toSet)
    assert(components(capped, nodes) === components(uncapped, nodes))
  }

  test("connectedComponents: chains, cliques and isolated pairs label by component min") {
    // graph: chain 1-2-3-4 (diameter 3), clique {10,11,12}, pair {20,21},
    // bridge 4-10 merging chain+clique into one component
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 10L),
      (10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L))
    val df = LocalTable.of(spark,
      StructType(Seq(StructField("doc_a", LongType), StructField("doc_b", LongType))),
      pairs.map { case (a, b) => Row(a, b) })
    val got = Dedup.connectedComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 1L, 11L -> 1L, 12L -> 1L,
      20L -> 20L, 21L -> 20L)
    assert(got === expected)
    // agreement with the test-side union-find on the same graph
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val uf = components(pairs.toSet, nodes)
    val byCc = got.groupBy(_._2).values.map(_.keySet).toSet
    assert(byCc === uf)
  }

  test("connectedComponents: empty input yields empty labels; deep chain needs maxIter") {
    val schema = StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType)))
    val empty = LocalTable.of(spark, schema, Seq.empty)
    assert(Dedup.connectedComponents(empty).collect().isEmpty)
    // chain of 12 nodes has diameter 11: maxIter=2 must refuse to emit a
    // half-propagated labeling rather than silently under-merge
    val chain = LocalTable.of(spark, schema,
      (1L until 12L).map(i => Row(i, i + 1)))
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2)
    }
    val full = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full === (1L to 12L).map(_ -> 1L).toMap)
  }

  test("incremental probe: index+probe equals brute-force cross pairs; hot index bucket caps") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val indexed = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val exact = sh.alias("n").join(sh.alias("o"),
        col("n.doc_id") % 2 === 1 && col("o.doc_id") % 2 === 0)
      .select(col("n.doc_id").as("doc_new"), col("o.doc_id").as("doc_old"),
        Dedup.jaccard(col("n.sh"), col("o.sh")).as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val index = Dedup.minhashBandIndex(indexed, 3, 96, 48, 2)
    val probed = Dedup.minhashProbePairs(incoming, indexed, index, 3, 96, 48, 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && probed === exact)

    // archive-side prefilter: restricting the verify corpus to the
    // probed buckets' members changes nothing about the emitted pairs —
    // the archive-scale posture where the big side is never scanned whole
    val members = Dedup.probedBucketMembers(index, incoming, 3, 96, 48, 2)
    val prefiltered = indexed.join(members, Seq("doc_id"), "left_semi")
    val viaPrefilter = Dedup.minhashProbePairs(incoming, prefiltered, index,
        3, 96, 48, 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPrefilter === probed)
    // and the prefilter is a strict subset of the archive on this corpus
    // (otherwise the test proves nothing)
    assert(members.count() < indexed.count())

    // hot index bucket: 20 identical indexed docs + 2 identical probes →
    // cap 4 pairs each probe with the representative (id 1) only
    val text = (1 to 30).map(i => s"h$i").mkString(" ")
    val idxDocs = strDf((1L to 20L).map(i => (i, text)): _*)
    val newDocs = strDf((100L, text), (101L, text))
    val hotIdx = Dedup.minhashBandIndex(idxDocs, 3, 96, 48, 2)
    val capped = Dedup.minhashProbePairs(newDocs, idxDocs, hotIdx,
        3, 96, 48, 2, 0.5, bucketCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((100L, 1L), (101L, 1L)))
  }

  test("partitioning invariance: pairs and components identical at 1, 3 and 7 partitions") {
    // cluster-layout independence is the distributed-correctness
    // property: a different executor count must never change results
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val results = Seq(1, 3, 7).map { n =>
      val d = docs.repartition(n)
      val pairs = Dedup.minhashNearDupPairs(d, 3, 16, 8, 2, 0.5)
      val cc = Dedup.connectedComponents(pairs.select("doc_a", "doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (pairSet(pairs), cc)
    }
    assert(results.distinct.size === 1)
    assert(results.head._1.nonEmpty && results.head._2.nonEmpty)
  }

  test("hot-cluster stress: 10k-doc identical cluster resolves via star pairs, not 50M expansions") {
    // the degenerate shape the cap exists for: every band puts all 10k
    // docs in ONE bucket. Uncapped, the cold path would expand ~50M
    // pairs per band (~2.4B rows before distinct); the count gate routes
    // the bucket to star pairing and the whole query stays linear.
    val n = 10000
    val text = (1 to 25).map(i => s"stress$i").mkString(" ")
    val docs = spark.range(1, n + 1)
      .select(col("id").as("doc_id"), lit(text).as("text"))
    val pairs = Dedup.minhashNearDupPairs(docs, 3, 16, 8, 2, 0.5, bucketCap = 1000)
    assert(pairs.count() === (n - 1).toLong)
    val comp = Dedup.connectedComponents(pairs.select("doc_a", "doc_b"))
    assert(comp.select(countDistinct(col("component"))).head.getLong(0) === 1L)
  }

  test("updateComponents: incremental relabel equals from-scratch CC on the union") {
    val schema = StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType)))
    def pairsDf(ps: Seq[(Long, Long)]) =
      LocalTable.of(spark, schema, ps.map { case (a, b) => Row(a, b) })
    // archive: comp {1,2,3}, comp {10,11}, comp {20,21,22}, pair {30,31}
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (21L, 22L), (30L, 31L))
    val labels = Dedup.connectedComponents(pairsDf(oldPairs))
    // batch: merges {1..3} with {10,11} via 3-10; a brand-new component
    // {100,101}; new doc 102 joining {20..22}; {30,31} untouched
    val newPairs = Seq((3L, 10L), (100L, 101L), (102L, 22L))
    val got = Dedup.updateComponents(labels, pairsDf(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Dedup.connectedComponents(pairsDf(oldPairs ++ newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === scratch)
    assert(got(10L) === 1L)   // merged across the bridge
    assert(got(100L) === 100L) // brand-new component labels by its min
    assert(got(102L) === 20L)  // new doc takes the old component's label
    assert(got(30L) === 30L && got(31L) === 30L) // untouched passes through
    // untouched components must pass through WITHOUT relabeling work:
    // empty batch is the degenerate case — labels come back identical
    val idle = Dedup.updateComponents(labels, pairsDf(Seq.empty))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idle === labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("updateComponents on the corpus: batch+probe pairs reproduce whole-corpus components") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val indexed = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val labels = Dedup.connectedComponents(
      Dedup.minhashNearDupPairs(indexed, 3, 96, 48, 2, 0.5).select("doc_a", "doc_b"))
    val batchPairs = Dedup.minhashNearDupPairs(incoming, 3, 96, 48, 2, 0.5)
      .select("doc_a", "doc_b")
    val index = Dedup.minhashBandIndex(indexed, 3, 96, 48, 2)
    val cross = Dedup.minhashProbePairs(incoming, indexed, index, 3, 96, 48, 2, 0.5)
      .select(col("doc_new").as("doc_a"), col("doc_old").as("doc_b"))
    val incremental = Dedup.updateComponents(labels, batchPairs.union(cross))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Dedup.connectedComponents(
      Dedup.minhashNearDupPairs(docs, 3, 96, 48, 2, 0.5).select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incremental === scratch)
    assert(incremental.nonEmpty)
  }

  test("verifyJaccardPairs: verifies exactly the threshold-passing candidates") {
    val docs = strDf(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words in this document"),
      (4L, "alpha beta gamma delta unrelated tail words here"))
    val schema = StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType)))
    // hand-built candidate list: a true dup pair, a sub-threshold pair,
    // and an unrelated pair — only the first survives at 0.5
    val cands = LocalTable.of(spark, schema,
      Seq(Row(1L, 2L), Row(1L, 4L), Row(2L, 3L)))
    val got = Dedup.verifyJaccardPairs(docs, cands, nGram = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 2L, 1.0)))
  }

  test("duplicatedSpans: cross-doc shared phrase yields merged spans in both docs") {
    val docs = strDf(
      (1L, "a b one two three four c"),
      (2L, "x one two three four y z"))
    val got = Dedup.duplicatedSpans(docs, windowTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the shared 4-token phrase contributes two overlapping duplicated
    // windows per doc, merging into one span covering the phrase
    assert(got === Set((1L, 2L, 5L, 2L), (2L, 1L, 4L, 2L)))
  }

  test("duplicatedSpans: within-doc repetition marks both occurrences as separate islands") {
    val docs = strDf((3L, "p q r z1 z2 p q r"))
    val got = Dedup.duplicatedSpans(docs, windowTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((3L, 0L, 2L, 1L), (3L, 5L, 7L, 1L)))
  }

  test("duplicatedSpans: exactly-adjacent duplicated windows merge into one contiguous span") {
    // "m n o" duplicates at starts 0 and 3 — gap == window width, the
    // covered text [0,2][3,5] is contiguous → ONE span
    val docs = strDf((4L, "m n o m n o"))
    val got = Dedup.duplicatedSpans(docs, windowTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((4L, 0L, 5L, 2L)))
  }

  test("duplicatedSpans: short docs, null text and unique corpora produce no spans") {
    val docs = strDf(
      (5L, "a b"),                     // fewer tokens than the window
      (6L, null.asInstanceOf[String]), // null-safe
      (7L, "entirely unique words without any repetition here"))
    assert(Dedup.duplicatedSpans(docs, windowTokens = 3).isEmpty)
  }

  test("duplicatedSpans keepFirst: the globally-first occurrence survives") {
    val docs = strDf((5L, "r1 r2 r3 r4"), (6L, "r1 r2 r3 r4"))
    val got = Dedup.duplicatedSpans(docs, windowTokens = 3, keepFirst = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // both windows' first occurrence lives in doc 5 (min doc_id) — only
    // doc 6 is marked
    assert(got === Set((6L, 0L, 3L, 2L)))
    // within one doc the earlier start survives
    val self = strDf((3L, "p q r z1 z2 p q r"))
    val got2 = Dedup.duplicatedSpans(self, windowTokens = 3, keepFirst = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got2 === Set((3L, 5L, 7L, 1L)))
  }

  test("scrubDuplicatedSpans keepFirst: one copy of the duplicated passage remains") {
    val docs = strDf((5L, "r1 r2 r3 r4"), (6L, "r1 r2 r3 r4"))
    val got = Dedup.scrubDuplicatedSpans(docs, windowTokens = 3, keepFirst = true)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === Map(5L -> "r1 r2 r3 r4", 6L -> ""))
  }

  test("scrubDuplicatedSpans: removes the shared phrase, keeps surrounding tokens") {
    val docs = strDf(
      (1L, "a b one two three four c"),
      (2L, "x one two three four y z"))
    val got = Dedup.scrubDuplicatedSpans(docs, windowTokens = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === Map(1L -> "a b c", 2L -> "x y z"))
  }

  test("scrubDuplicatedSpans: span-less docs pass through byte-identical") {
    val docs = strDf(
      (8L, "unique  doublespace   and trailing words here"),
      (9L, "other totally different tokens entirely"))
    val got = Dedup.scrubDuplicatedSpans(docs, windowTokens = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // no duplicated window anywhere: original whitespace survives
    assert(got(8L) === "unique  doublespace   and trailing words here")
    assert(got(9L) === "other totally different tokens entirely")
  }

  test("scrubDuplicatedSpans: fully-duplicated docs scrub to empty text") {
    val docs = strDf((5L, "r1 r2 r3 r4"), (6L, "r1 r2 r3 r4"))
    val got = Dedup.scrubDuplicatedSpans(docs, windowTokens = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === Map(5L -> "", 6L -> ""))
  }

  test("newDocsViaBloom: exact answer at both fpp extremes; planted dups excluded, new docs admitted") {
    val archive = strDf(
      (1L, "shared text one"),
      (2L, "shared text two"),
      (3L, "archive only text"))
    val batch = strDf(
      (10L, "shared text one"),     // exact dup of archive doc 1 → excluded
      (11L, "genuinely new text"),
      (12L, "another new text"),
      (13L, "shared text two"))     // dup of archive doc 2 → excluded
    val index = Dedup.contentHashIndex(archive)
    // plain anti-join ground truth on the same content hash
    val expected = batch
      .withColumn("h", conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long"))
      .join(index, Seq("h"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expected === Set(11L, 12L))
    // tight fpp (FPs unlikely) and an absurdly small filter (2 items at
    // fpp 0.5 → a couple of bits: nearly every hash collides, forcing
    // the whole batch through the verify join) must both be exact
    for ((items, fpp) <- Seq((1000L, 0.01), (2L, 0.5))) {
      val got = Dedup.newDocsViaBloom(batch, index, items, fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === expected, s"items=$items fpp=$fpp")
    }
    // batch docs carry their content hash through
    val hs = Dedup.newDocsViaBloom(batch, index, 1000L, 0.01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs.keySet === Set(11L, 12L))
  }

  test("newDocsViaBloom: a bloom-negative batch needs no verify-join rows at all") {
    val archive = strDf((1L, "old a"), (2L, "old b"))
    val batch = strDf((10L, "new x"), (11L, "new y"), (12L, "new z"))
    val index = Dedup.contentHashIndex(archive)
    val out = Dedup.newDocsViaBloom(batch, index, expectedItems = 1000L, fpp = 0.001)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet === Set(10L, 11L, 12L))
    // the membership test is a codegen'd scan-side filter, not a join:
    // the plan contains exactly one join (the verify anti-join), and the
    // definite-new branch reaches the union join-free
    val joins = out.queryExecution.executedPlan.toString
      .linesIterator.count(l => l.contains("Join"))
    assert(joins <= 2, s"expected the single verify anti-join, got:\n$joins")
  }

  test("incrementalSpans: probe against the fingerprint index equals from-scratch on the union") {
    val archive = strDf(
      (1L, "hdr1 hdr2 hdr3 body one two"),   // shares the header with batch doc 10
      (2L, "only archive words in here"),    // archive-only
      (3L, "dup1 dup2 dup3 x"), (4L, "dup1 dup2 dup3 y")) // archive-internal dup
    val batch = strDf(
      (10L, "intro hdr1 hdr2 hdr3 tail"),     // dup via the archive header
      (11L, "b1 b2 b3 filler"), (12L, "b1 b2 b3 other"), // batch-internal dup
      (13L, "totally fresh unseen content"))  // unique
    val index = Dedup.fingerprintIndex(archive, windowTokens = 3)
    val got = Dedup.incrementalSpans(batch, index, windowTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fromScratch = Dedup.duplicatedSpans(
        archive.unionByName(batch), windowTokens = 3)
      .filter(col("doc_id") >= 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === fromScratch)
    assert(got.map(_._1) === Set(10L, 11L, 12L)) // 13 stays clean
  }

  test("appendToFingerprintIndex: probe after append equals probe against a rebuilt index") {
    val archive = strDf((1L, "a1 a2 a3 a4"), (2L, "c1 c2 c3 c4"))
    val day1 = strDf((10L, "a1 a2 a3 fresh"), (11L, "n1 n2 n3 n4"))
    val day2 = strDf((20L, "n1 n2 n3 probe"), (21L, "c1 c2 c3 hit"))
    val grown = Dedup.appendToFingerprintIndex(
      Dedup.fingerprintIndex(archive, 3), day1, windowTokens = 3)
    val rebuilt = Dedup.fingerprintIndex(archive.unionByName(day1), 3)
    def probe(ix: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalSpans(day2, ix, windowTokens = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe(grown) === probe(rebuilt))
    assert(probe(grown).map(_._1) === Set(20L, 21L)) // day-2 hits via day-1 AND archive fps
    // and the index ARTIFACT itself is identical, not just probe-equivalent
    def rows(ix: org.apache.spark.sql.DataFrame) =
      ix.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(grown) === rows(rebuilt))
  }

  test("retractFromFingerprintIndex: exact inverse of append; rebuild-equivalent; vanished fps stop matching") {
    val archive = strDf((1L, "a1 a2 a3 a4"), (2L, "c1 c2 c3 c4"))
    val removed = strDf((5L, "r1 r2 r3 r4"), (6L, "a1 a2 a3 gone"))
    def rows(ix: org.apache.spark.sql.DataFrame) =
      ix.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // retract ∘ append ≡ identity on the index artifact
    val grown = Dedup.appendToFingerprintIndex(
      Dedup.fingerprintIndex(archive, 3), removed, windowTokens = 3)
    val back = Dedup.retractFromFingerprintIndex(grown, removed, windowTokens = 3)
    assert(rows(back) === rows(Dedup.fingerprintIndex(archive, 3)))
    // retract ≡ rebuild-without: fps unique to the retracted docs VANISH
    // (zero rows survive, not zero counts), shared fps decrement
    val rebuilt = Dedup.fingerprintIndex(archive, 3)
    assert(rows(back) === rows(rebuilt))
    // full retraction empties the index
    assert(Dedup.retractFromFingerprintIndex(
      Dedup.fingerprintIndex(archive, 3), archive, windowTokens = 3).isEmpty)
    // a probe that matched only via a retracted doc stops matching
    val probe = strDf((20L, "r1 r2 r3 probe"))
    assert(Dedup.incrementalSpans(probe, back, windowTokens = 3).isEmpty)
    assert(!Dedup.incrementalSpans(probe, grown, windowTokens = 3).isEmpty)
  }

  test("admitBoilerplateBatch: fused scrub+append equals the public pair; batch windows computed once") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    def docs(rs: (Long, String, String)*) = LocalTable.of(spark, schema,
      rs.map { case (i, s, t) => Row(i, s, t) })
    val archive = docs((1L, "srcA", "h1 h2 h3 body one"),
      (2L, "srcA", "h1 h2 h3 body two"),
      (3L, "srcB", "n1 n2 n3 other"))
    // batch: one doc sharing srcA's boilerplate, one srcB doc pushing a
    // batch-internal window over the threshold with the archive's count,
    // one clean doc
    val batch = docs((10L, "srcA", "h1 h2 h3 fresh"),
      (11L, "srcB", "n1 n2 n3 more"),
      (12L, "srcC", "clean text entirely new"))
    val idx = Dedup.boilerplateIndex(archive, 3)
    val (scrubbed, newIdx) = Dedup.admitBoilerplateBatch(batch, idx,
      windowTokens = 3, minDocs = 2)
    val scrubbedPair = Dedup.incrementalBoilerplateScrub(batch, idx,
      windowTokens = 3, minDocs = 2)
    // admit-once counts add, so the appended index equals a rebuild
    val appendedPair = Dedup.boilerplateIndex(archive.unionByName(batch), 3)
    def texts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(texts(scrubbed) === texts(scrubbedPair))
    assert(counts(newIdx) === counts(appendedPair))
    // the shared windows really scrub: the srcA batch doc lost its header
    val byId = texts(scrubbed).toMap
    assert(byId(10L) === "fresh")
    assert(byId(12L) === "clean text entirely new")
  }

  test("incrementalCuration: stage attribution, sequential semantics, index-only archive access") {
    val archive = strDf(
      (1L, "h1 h2 h3 h4 filler words here"),   // span source
      (2L, "dupflag same exact text body"))    // exact-dup source
    val batch = strDf(
      (10L, ""),                                  // quality-rejected
      (11L, "dupflag same exact text body"),      // exact dup of archive
      (12L, "brand new duplicate pair here now"), // in-batch dup, keeps (min id)
      (13L, "brand new duplicate pair here now"), // in-batch dup, rejected
      (14L, "intro h1 h2 h3 h4 tail words"),      // admitted, span-scrubbed
      (15L, "totally fresh unique content words"))// admitted untouched
    val fpIdx = archive.select(
      graft.ext.TextStats.fingerprint(col("text")).as("fp")).distinct()
    val spanIdx = Dedup.fingerprintIndex(archive, windowTokens = 3)
    val out = Dedup.incrementalCuration(batch, fpIdx, spanIdx,
        windowTokens = 3, minQuality = 0.03)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size === 6)
    def flags(id: Long) = (out(id).getBoolean(2),
      if (out(id).isNullAt(3)) None else Some(out(id).getBoolean(3)),
      out(id).getBoolean(4))
    assert(flags(10L) === ((false, None, false)))        // stage 1 reject → stage 2 not reached
    assert(flags(11L) === ((true, Some(false), false)))  // archive dup
    assert(flags(12L) === ((true, Some(true), true)))
    assert(flags(13L) === ((true, Some(false), false)))  // in-batch dup beyond first
    assert(flags(14L) === ((true, Some(true), true)))
    assert(flags(15L) === ((true, Some(true), true)))
    // final text: NULL for rejected; admitted docs scrubbed against the
    // archive index ∪ admitted batch; untouched docs keep raw spacing
    assert(out(10L).isNullAt(5) && out(11L).isNullAt(5) && out(13L).isNullAt(5))
    assert(out(12L).getString(5) === "brand new duplicate pair here now")
    assert(out(14L).getString(5) === "intro tail words")
    assert(out(15L).getString(5) === "totally fresh unique content words")
    // both index probes are equi-joins — no cartesian anywhere in the
    // composed pipeline's plan
    val plan = Dedup.incrementalCuration(batch, fpIdx, spanIdx,
        windowTokens = 3, minQuality = 0.03)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("incrementalSpans on the corpus: index probe equals whole-corpus spans for batch docs") {
    val docs = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val bucket = conv(substring(md5(concat(lit("idx:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100
    val withBucket = docs.withColumn("bucket", bucket)
    val archive = withBucket.filter(col("bucket") < 80).drop("bucket")
    val batch = withBucket.filter(col("bucket") >= 80).drop("bucket")
    val index = Dedup.fingerprintIndex(archive, windowTokens = 8)
    val got = Dedup.incrementalSpans(batch, index, windowTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fromScratch = Dedup.duplicatedSpans(docs, windowTokens = 8)
      .join(batch.select("doc_id"), Seq("doc_id"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === fromScratch)
    assert(got.nonEmpty) // the real corpus has cross-split duplicated spans
  }

  test("null text: excluded from pairs, labeled as singleton — never a throw or wrong row") {
    val df = strDf((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .union(LocalTable.of(spark,
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
        Seq(Row(3L, null))))
    val pairs = Dedup.minhashNearDupPairs(df, 3, 16, 8, 2, 0.5)
    val got = pairSet(pairs)
    assert(got === Set((1L, 2L))) // the null doc pairs with nothing
    val labeled = df.select(col("doc_id")).alias("d")
      .join(Dedup.connectedComponents(pairs.select("doc_a", "doc_b")).alias("c"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labeled === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("connectedComponents: reliable-checkpoint strategy agrees with localCheckpoint, incl. on graftfs://") {
    val schema = StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType)))
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // chain (diameter 5) + clique + isolated pair — several rounds needed
    val pairs = (1L until 6L).map(i => Row(i, i + 1)) ++
      Seq(Row(10L, 11L), Row(10L, 12L), Row(11L, 12L), Row(20L, 21L))
    val df = LocalTable.of(spark, schema, pairs)
    val batch = LocalTable.of(spark, schema,
      Seq(Row(6L, 10L), Row(30L, 31L), Row(32L, 21L)))
    val chain = LocalTable.of(spark, schema, (1L until 12L).map(i => Row(i, i + 1)))
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    def cc() = labelMap(Dedup.connectedComponents(df))
    def update() = labelMap(
      Dedup.updateComponents(Dedup.connectedComponents(df), batch))
    def nearDups() = pairSet(Dedup.minhashNearDupPairs(docs, 3, 16, 8, 2, 0.5))
    // each operator cuts lineage through the graftfs session dir: its
    // checkpoint files land there (onGraftfs asserts it)
    val (ccReliable, ccDir) = onGraftfs(spark, "cc") {
      // fail-loudly parity: the reliable path refuses an under-propagated
      // labeling exactly like the local path
      intercept[IllegalStateException] {
        Dedup.connectedComponents(chain, maxIter = 2)
      }
      cc()
    }
    val (updateReliable, _) = onGraftfs(spark, "update")(update())
    val (nearDupsReliable, _) = onGraftfs(spark, "minhash")(nearDups())
    // the helper cleared the session dir: the same calls cut locally (a
    // reliable cut would now throw for want of a dir) and write nothing
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val written = filesUnder(ccDir)
    assert(cc() === ccReliable)
    assert(update() === updateReliable)
    assert(nearDups() === nearDupsReliable)
    assert(filesUnder(ccDir) === written)
    assert(ccReliable(6L) === 1L && updateReliable(12L) === 1L)
    assert(nearDupsReliable.nonEmpty)
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2)
    }
  }

  test("hotBuckets/simhashHotBands surface exactly the buckets the cap star-pairs") {
    val text = (1 to 30).map(i => s"hb$i").mkString(" ")
    val cluster = (1L to 20L).map(i => (i, text))
    val others = Seq((100L, "one unrelated small document body here"),
      (101L, "another distinct body of words entirely"))
    val docs = strDf((cluster ++ others): _*)
    val idx = Dedup.minhashBandIndex(docs, 3, 96, 48, 2)
    // 20 identical docs land all 48 bands in one bucket each → 48 hot rows
    val hot = Dedup.hotBuckets(idx, bucketCap = 8).collect()
    assert(hot.length === 48)
    assert(hot.forall(_.getAs[Long]("bucket_m") === 20L))
    assert(Dedup.hotBuckets(idx).collect().isEmpty) // default cap: nothing hot
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text")
    val hotBands = Dedup.simhashHotBands(sigs, bandCap = 8).collect()
    assert(hotBands.length === Dedup.SimhashBands)
    assert(hotBands.forall(_.getAs[Long]("bucket_m") === 20L))
    assert(Dedup.simhashHotBands(sigs).collect().isEmpty)
  }

  test("simhash kernel: tab/newline-leading text tokenizes like the oracle's t <> '' filter") {
    import graft.plans.Simhash60Expr
    // the old space-only-trim formulation kept a leading EMPTY token for
    // docs starting with \t/\n (voting md5("")); the kernel must match
    // the DuckDB oracle's list_filter(t <> '') shape instead
    val base = Simhash60Expr.simhashOf(
      org.apache.spark.unsafe.types.UTF8String.fromString("foo bar baz"))
    Seq("\tfoo bar baz", "\nfoo bar baz", "  foo bar baz",
        "foo bar baz\t", "\t \n foo  bar\tbaz \n").foreach { t =>
      assert(Simhash60Expr.simhashOf(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)) === base, t)
    }
  }

  test("simhash: identical texts collide, perturbed text stays close, unrelated far") {
    val df = strDf(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "completely different words about spark query engines at scale"))
    val sig = Dedup.simhashSignatures(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) === 0)
    assert(ham(sig(1L), sig(3L)) < ham(sig(1L), sig(4L)))
  }

  // ---- content-defined chunking (d32) --------------------------------

  /** Deterministic pseudo-text: token i is a function of (seed, i), so
    * corpora are reproducible but content-varied. */
  private def cdcText(seed: String, n: Int): String =
    (0 until n).map(i => s"$seed${(i * 7) % 13}t$i").mkString(" ")

  test("cdc chunks partition every document exactly") {
    val docs = strDf((1L, cdcText("a", 100)), (2L, cdcText("b", 37)),
      (3L, "a b"), (4L, ""))
    val out = Dedup.contentDefinedChunks(docs, windowTokens = 4, modulus = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(!out.contains(4L), "empty document emits no chunks")
    // doc 3 is shorter than the window: one whole-document chunk
    assert(out(3L).toSeq === Seq((3L, 0L, 0L, 2L)))
    for ((doc, n) <- Seq(1L -> 100L, 2L -> 37L)) {
      val chunks = out(doc).sortBy(_._2)
      assert(chunks.head._3 === 0L, "first chunk starts at token 0")
      assert(chunks.map(_._4).sum === n, "chunk lengths cover the doc")
      chunks.sliding(2).foreach {
        case Array(a, b) => assert(b._3 === a._3 + a._4, "chunks are contiguous")
        case _ =>
      }
    }
  }

  test("cdc chunking is shift-resistant: a prepended token leaves later chunks intact") {
    val base = cdcText("shift", 300)
    val docs = strDf((1L, base), (2L, "zzz " + base))
    val out = Dedup.contentDefinedChunks(docs, windowTokens = 4, modulus = 8)
      .collect().map(r => (r.getLong(0), r.getLong(4))).groupBy(_._1)
    val fpsA = out(1L).map(_._2).toSet
    val fpsB = out(2L).map(_._2).toSet
    // every chunk of the original except (at most) the first survives
    // the edit with an identical fingerprint — fixed-size chunking
    // would shift and change every chunk after the insertion point
    assert((fpsA -- fpsB).size <= 1, s"lost ${(fpsA -- fpsB).size} chunks")
    assert(out(1L).length >= 10, "corpus long enough to make the property meaningful")
  }

  test("cdc duplicate counts see cross-document repeats") {
    val shared = cdcText("dup", 80)
    val docs = strDf((1L, shared), (2L, shared), (3L, cdcText("other", 80)))
    val rows = Dedup.contentDefinedChunks(docs, windowTokens = 4, modulus = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5)))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc(1L).forall(_._3 >= 2L), "identical docs: every chunk duplicated")
    assert(byDoc(1L).map(_._2).toSet === byDoc(2L).map(_._2).toSet)
    // the unrelated doc shares no fingerprints with the duplicated pair
    assert(byDoc(3L).map(_._2).toSet.intersect(byDoc(1L).map(_._2).toSet).isEmpty)
    assert(byDoc(3L).forall(_._3 === 1L))
  }

  test("containmentPairs: directed quote-inclusion invisible to Jaccard; no symmetric false positive") {
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val page = ((1 to 80).map(i => s"w$i") ++ (1 to 12).map(i => s"q$i") ++
      (81 to 160).map(i => s"w$i")).mkString(" ")
    val other = (1 to 40).map(i => s"z$i").mkString(" ")
    val docs = strDf((1L, quote), (2L, page), (3L, other))
    val got = Dedup.containmentPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // quote ⊂ page: containment(1 → 2) = 1.0 (all 10 of quote's 3-grams in page)
    assert(got((1L, 2L)) === 1.0)
    // page ⊄ quote: the reverse direction is far below threshold and absent
    assert(!got.contains((2L, 1L)))
    // Jaccard of the same pair is tiny — this is the relation d06 cannot emit
    val j = docs.filter(col("doc_id").isin(1L, 2L))
      .agg(collect_list(Dedup.shingles(col("text"), 3)).as("s"))
      .select(Dedup.jaccardDistinct(element_at(col("s"), 1), element_at(col("s"), 2)))
      .collect()(0).getDouble(0)
    assert(j < 0.1, s"jaccard was $j")
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc stays out")
  }

  test("containmentPairs: identical docs contain each other both ways; partitioning-invariant") {
    val t = (1 to 30).map(i => s"t$i").mkString(" ")
    val docs = strDf((10L, t), (11L, t), (12L, "lone " + (1 to 5).map("u" + _).mkString(" ")))
    val got = Dedup.containmentPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((10L, 11L)) === 1.0 && got((11L, 10L)) === 1.0)
    val re = Dedup.containmentPairs(docs.repartition(5), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(re === got)
  }

  test("winnowing: shared blocks above the guarantee length share a selected fingerprint") {
    val shared = (10 to 25).map(i => s"t$i") // 16 tokens >= w+k-1 = 7
    val docA = ((1 to 9).map(i => s"t$i") ++ shared ++ (26 to 40).map(i => s"t$i")).mkString(" ")
    val docB = ((1 to 10).map(i => s"u$i") ++ shared ++ (11 to 20).map(i => s"u$i")).mkString(" ")
    val docC = (1 to 30).map(i => s"z$i").mkString(" ")
    val docs = strDf((1L, docA), (2L, docB), (3L, docC))
    val sel = Dedup.winnowFingerprints(docs, k = 4, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val byDoc = sel.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the winnowing theorem: the 16-token shared block must surface in both
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty)
    // the unrelated doc shares nothing with either
    assert(byDoc(3L).intersect(byDoc(1L) ++ byDoc(2L)).isEmpty)
    // density: expected 2/(w+1) = 0.4 of windows selected; assert well under 1
    val windowsA = 40 - 4 + 1
    assert(byDoc(1L).size <= (windowsA * 0.6).toInt, s"density too high: ${byDoc(1L).size}")
    // deterministic under repartitioning
    val again = Dedup.winnowFingerprints(docs.repartition(5), k = 4, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sorted
    assert(again.toSeq === sel.sorted.toSeq)
  }

  test("winnowing: selection is edit-robust away from the edit") {
    val base = (1 to 30).map(i => s"w$i")
    val edited = base.updated(2, "EDIT") // token 3 changes
    val docs = strDf((1L, base.mkString(" ")), (2L, edited.mkString(" ")))
    val sel = Dedup.winnowFingerprints(docs, k = 4, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val a = sel.filter(_._1 == 1L).map(t => (t._2, t._3)).toSet
    val b = sel.filter(_._1 == 2L).map(t => (t._2, t._3)).toSet
    // windows not touching position 2 fingerprint identically; selections
    // in the untouched tail must coincide exactly
    val tailA = a.filter(_._1 > 6)
    val tailB = b.filter(_._1 > 6)
    assert(tailA === tailB, "selection differs in the untouched region")
  }

  test("crossSplitLeakage: keeps only pairs straddling splits, any pair generator composes") {
    val pairs = LocalTable.of(spark,
      StructType(Seq(StructField("doc_a", LongType), StructField("doc_b", LongType),
        StructField("jaccard", DoubleType))),
      Seq(Row(1L, 2L, 0.9), Row(1L, 3L, 0.8), Row(2L, 4L, 0.7), Row(3L, 4L, 0.6)))
    val splits = LocalTable.of(spark,
      StructType(Seq(StructField("doc_id", LongType), StructField("split", StringType))),
      Seq(Row(1L, "train"), Row(2L, "train"), Row(3L, "test"), Row(4L, "val")))
    val got = Dedup.crossSplitLeakage(pairs, splits)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[String]("split_a"), r.getAs[String]("split_b"))).sorted
    // (1,2) same split dropped; the three crossing pairs survive with
    // their endpoint splits attached
    assert(got.toSeq === Seq(
      (1L, 3L, "train", "test"),
      (2L, 4L, "train", "val"),
      (3L, 4L, "test", "val")))
  }

  test("boilerplate scrub: per-source distinct-doc windows, scrubbed from EVERY occurrence") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("text", StringType)))
    val docs = LocalTable.of(spark, schema, Seq(
      Row(1L, "sa", "nav home about x1 y1 z1"),
      Row(2L, "sa", "nav home about x2 y2"),
      Row(3L, "sb", "nav home about unique words"), // same window, OTHER source
      Row(4L, "sa", "totally different content here")))
    val got = Dedup.scrubBoilerplate(docs, windowTokens = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the shared sa header is scrubbed from BOTH docs (not keep-first)
    assert(got(1L) === "x1 y1 z1")
    assert(got(2L) === "x2 y2")
    // sb's identical window is furniture of a different source — untouched,
    // byte-identical pass-through
    assert(got(3L) === "nav home about unique words")
    assert(got(4L) === "totally different content here")
  }

  test("dedupReport: component-size histogram with keep-one arithmetic") {
    val pairs = LocalTable.of(spark,
      StructType(Seq(StructField("doc_a", LongType), StructField("doc_b", LongType))),
      Seq(Row(1L, 2L), Row(2L, 3L),   // chain {1,2,3} → size 3
        Row(10L, 11L),                // pair {10,11} → size 2
        Row(20L, 21L)))               // pair {20,21} → size 2
    val got = Dedup.dedupReport(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq === Seq((2L, 2L, 4L, 2L), (3L, 1L, 3L, 2L)),
      "two size-2 components (4 docs, 2 dropped) and one size-3 (3 docs, 2 dropped)")
  }

  test("dedupThresholdSweep: counts monotone in tau, the d06 cut reproduced exactly, involvement bounded, partitioning-invariant") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val taus = Seq(0.35, 0.5, 0.65, 0.8, 0.95)
    val sweep = Dedup.dedupThresholdSweep(docs, taus).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // EVERY requested threshold reports — a tau no pair reaches is
    // (tau, 0, 0), not a missing row
    assert(sweep.keySet === taus.toSet)
    assert(Dedup.dedupThresholdSweep(docs, Seq(1.1)).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((1.1, 0L, 0L)), "unreachable tau still reports a zero row")
    // dose-response: pair and involvement counts never increase with tau
    for (Seq(lo, hi) <- taus.sliding(2).toSeq) {
      assert(sweep(lo)._1 >= sweep(hi)._1, s"pairs at $lo vs $hi")
      assert(sweep(lo)._2 >= sweep(hi)._2, s"docs at $lo vs $hi")
    }
    // tau = 0.35 is exactly the d06 gate cut
    val d06Pairs = Dedup.d06NgramJaccardPairs.run(spark, sfDir)
    assert(sweep(0.35)._1 === d06Pairs.count(), "0.35 row ≡ d06's pair count")
    val d06Docs = d06Pairs.select(col("doc_a").as("doc")).unionByName(
      d06Pairs.select(col("doc_b").as("doc"))).distinct().count()
    assert(sweep(0.35)._2 === d06Docs)
    // involvement can never exceed 2 pairs' worth of docs
    for ((t, (p, d)) <- sweep)
      assert(d <= 2 * p && (p == 0 || d >= 2), s"tau $t")
    // deterministic under input partitioning
    val again = Dedup.dedupThresholdSweep(docs.repartition(7), taus).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(again === sweep)
    // composition point: the sweep over the LSH pair generator agrees
    // with the blocked miner wherever both generators emit the pair set
    // (at the 0.5+ range the 48x2 banding's miss bound is ~1e-6)
    val lshPairs = Dedup.d07MinhashLsh.run(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val overLsh = Dedup.thresholdSweepOverPairs(lshPairs, Seq(0.5, 0.8))
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    for (t <- Seq(0.5, 0.8) if sweep.contains(t) || overLsh.contains(t)) {
      // the blocked miner only sees same-prefix pairs, LSH sees all
      // banded candidates — LSH counts dominate at equal tau
      assert(overLsh.getOrElse(t, (0L, 0L))._1 >= sweep.getOrElse(t, (0L, 0L))._1,
        s"tau $t")
    }
  }
}
