package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.Similarity

/** Vector-similarity semantics: cosine math, brute-force vs ANN-LSH
  * agreement on the real corpus. */
class SimilaritySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("cosine on known vectors") {
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType)), StructField("b", ArrayType(FloatType))))
    val df = LocalTable.of(spark, schema, Seq(
      Row(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),   // orthogonal → 0
      Row(Seq(1.0f, 2.0f), Seq(2.0f, 4.0f)),   // parallel → 1
      Row(Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f)),  // opposite → -1
      Row(Seq(0.0f, 0.0f), Seq(1.0f, 1.0f))))  // zero vector → 0 guard
    val got = df.select(round(Similarity.cosine(col("a"), col("b")), 9)).collect()
      .map(_.getDouble(0)).toSeq
    assert(got === Seq(0.0, 1.0, -1.0, 0.0))
  }

  test("lshSignature is deterministic and in range") {
    val e = Tables(spark, sfDir, "embeddings").limit(50)
    val sigs = e.select(Similarity.lshSignature(col("embedding"), 12).as("s"))
      .collect().map(_.getLong(0))
    assert(sigs.forall(s => s >= 0 && s < (1L << 12)))
    val again = e.select(Similarity.lshSignature(col("embedding"), 12).as("s"))
      .collect().map(_.getLong(0))
    assert(sigs.toSeq === again.toSeq)
  }

  test("ANN-LSH on corpus: bounded, deterministic, never beats exact best") {
    val e = Tables(spark, sfDir, "embeddings")
    val ann = Similarity.annTopK(e, 0, 10, 12, 3)
      .select("vec_id", "cos_sim").collect()
    assert(ann.length <= 10 && ann.nonEmpty)
    val exactBest = Similarity.s01CosineTopk.run(spark, sfDir)
      .agg(max("cos_sim")).collect()(0).getDouble(0)
    assert(ann.map(_.getDouble(1)).max <= exactBest + 1e-9)
    // the probe is a pruned IN-lookup on the signature, not a computed
    // hamming filter over every row
    val plan = Similarity.annTopK(e, 0, 10, 12, 3)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("INSET"), plan.take(800))
    assert(!plan.contains("bit_count"), plan.take(800))
  }

  test("LSH signature kernel matches a driver-side recomputation") {
    import graft.plans.HyperplaneSignatureExpr
    val signs = HyperplaneSignatureExpr.md5Signs(12, 64)
    val e = Tables(spark, sfDir, "embeddings").limit(50)
    val rows = e.select(org.apache.spark.sql.functions.col("embedding"),
      Similarity.lshSignature(
        org.apache.spark.sql.functions.col("embedding"), 12).as("sig"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0).toArray
      assert(r.getLong(1) === HyperplaneSignatureExpr.signature(v, signs))
      assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 12))
    }
    // the md5-derived matrix is deterministic and genuinely mixed-sign
    val flat = signs.flatten
    assert(flat.count(_ > 0) > 200 && flat.count(_ < 0) > 200)
  }

  test("hammingBall enumerates exactly the ≤h-flip neighborhood") {
    val ball = Similarity.hammingBall(0L, 12, 3)
    assert(ball.length === 1 + 12 + 66 + 220) // C(12,0..3)
    assert(ball.forall(s => java.lang.Long.bitCount(s) <= 3))
    assert(Similarity.hammingBall(5L, 12, 0) === Seq(5L))
  }

  test("ANN-LSH recall is high on clustered data (planted near-neighbors)") {
    // 4 planted clusters of 25 points each: center ± small noise. True NNs
    // of vec 0 are its cluster (cos ≈ 0.99) — LSH must recover them.
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(4)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = (0 until 100).map { i =>
      val c = centers(i % 4)
      Row(i.toLong, c.map(v => v + 0.05f * rnd.nextGaussian().toFloat).toSeq, i % 4)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val planted = LocalTable.of(spark, schema, rows)
    val ann = Similarity.annTopK(planted, 0, 10, 12, 3).collect()
    // all 10 hits should come from vec 0's own cluster (label 0)
    val clusterHits = ann.count(_.getInt(1) === 0)
    assert(ann.length === 10)
    assert(clusterHits >= 9, s"expected >=9 same-cluster hits, got $clusterHits")

    // IVF variant: k-means-fit quantizer, 4-probe query must recover its
    // own cluster exactly
    val ivf = Similarity.annTopKIvf(planted, 0, 10, nCentroids = 16, nProbe = 4)
      .collect()
    assert(ivf.length === 10)
    assert(ivf.count(_.getInt(1) === 0) === 10,
      s"IVF should return only cluster-0 neighbors")

    // PQ+ADC variant (trained codebook, 3 Lloyd iterations): the additive
    // approximation must still rank vec 0's own cluster on top
    val pq = Similarity.pqAdcTopK(planted, 0, topK = 10, subspaces = 8,
      codebookSize = 16, fitIters = 3).collect()
    assert(pq.length === 10)
    assert(pq.count(_.getInt(1) === 0) >= 9,
      s"PQ-ADC should recover the planted cluster")
  }

  test("sqrtGridCentroids: integer-exact power-of-two grid in (sqrt(n)/2, sqrt(n)], floor 16, monotone — and the auto sentinel resolves through the IVF entry points") {
    import Similarity.sqrtGridCentroids
    // the bit-length identity the DuckDB ksel twin rides:
    // floor(log2(sqrt(n))) == (bitlen(n) - 1) / 2, pure integers both
    // sides — no float log/sqrt boundary can disagree cross-engine
    (1L to 5000L).foreach { n =>
      val k = sqrtGridCentroids(n)
      val viaBinStr = math.max(16,
        1 << ((java.lang.Long.toBinaryString(n).length - 1) / 2))
      assert(k === viaBinStr, s"n=$n")
      assert(Integer.bitCount(k) === 1, s"n=$n k=$k not a power of two")
      if (k > 16) { // above the floor: the (sqrt/2, sqrt] bracket holds
        assert(k <= math.sqrt(n.toDouble), s"n=$n k=$k exceeds sqrt")
        assert(2 * k > math.sqrt(n.toDouble), s"n=$n k=$k below sqrt/2")
      }
    }
    // the gate corpora land where the round-15 sizing expects
    assert(sqrtGridCentroids(500L) === 16)   // sf0.01 → unchanged gates
    assert(sqrtGridCentroids(2000L) === 32)  // sf0.1
    assert(sqrtGridCentroids(20000L) === 128) // sf1
    // monotone non-decreasing (an appended corpus never shrinks k)
    (2L to 100000L by 997L).foreach { n =>
      assert(sqrtGridCentroids(n) >= sqrtGridCentroids(n - 1))
    }
    // no Int overflow at the extreme: the shift caps at 30
    assert(sqrtGridCentroids(Long.MaxValue) === (1 << 30))
    assert(sqrtGridCentroids(1L << 62) === (1 << 30))
    // the sentinel resolves: auto-sized IVF classify ≡ the explicitly
    // sized call at the corpus' own grid point
    val planted = plantedClusters(nClusters = 4, perCluster = 25)
    val labeled = planted.filter(col("vec_id") < 80)
    val unlabeled = planted.filter(col("vec_id") >= 80)
      .drop("label")
    val auto = Similarity.knnClassifyIvf(labeled, unlabeled, k = 3,
      nCentroids = Similarity.SqrtGridCentroids, nProbe = 2,
      kmeansIters = 0).collect().map(_.toSeq).toSet
    val explicit = Similarity.knnClassifyIvf(labeled, unlabeled, k = 3,
      nCentroids = sqrtGridCentroids(labeled.count()), nProbe = 2,
      kmeansIters = 0).collect().map(_.toSeq).toSet
    assert(auto === explicit && auto.nonEmpty)
  }

  test("k-means fit is deterministic and separates planted clusters") {
    val planted = plantedClusters(nClusters = 4, perCluster = 25)
    val cs1 = graft.ext.KMeans.fit(planted, "vec_id", "embedding", k = 8, maxIters = 3)
    val cs2 = graft.ext.KMeans.fit(planted, "vec_id", "embedding", k = 8, maxIters = 3)
    assert(cs1.map(_.toSeq).toSeq === cs2.map(_.toSeq).toSeq)
    // every planted cluster captures at least one centroid: each cluster's
    // center must be near-parallel (cos > 0.9) to some fitted centroid
    val centers = plantedCenters(4)
    centers.foreach { c =>
      val best = cs1.map(graft.plans.CosineSimilarityExpr.cosine(c, _)).max
      assert(best > 0.9, s"no centroid near a planted center (best=$best)")
    }
  }

  test("persisted IVF index: probe is partition-pruned and recall >= 0.9 vs exact") {
    val planted = plantedClusters(nClusters = 4, perCluster = 25)
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivf-spec-").toString + "/lists"
    graft.ext.IvfIndex.build(planted, "embedding", k = 16, iters = 3, path)
    val qv = planted.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

    val probeDf = graft.ext.IvfIndex.probe(spark, path, qv, k = 10,
      nProbe = 4, excludeVecId = Some(0L))
    probeDf.collect()
    // partition pruning: the executed scan read files from at most nProbe
    // of the 16 centroid_id=... list directories (numFiles metric)
    val scan = findScan(probeDf.queryExecution.executedPlan)
      .getOrElse(fail("no FileSourceScanExec in probe plan"))
    assert(scan.metadata("PartitionFilters").contains("centroid_id"),
      scan.metadata("PartitionFilters"))
    val filesRead = scan.metrics("numFiles").value
    val totalFiles = spark.read.parquet(path).inputFiles.length
    assert(totalFiles > 4, s"index only has $totalFiles list files")
    assert(filesRead <= 4, s"probe read $filesRead of $totalFiles files")

    // recall vs the exact brute-force top-10
    val exactTop = planted.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(Similarity.cosine(col("embedding"), typedlit(qv.toIndexedSeq)), 6)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(10).collect().map(_.getLong(0)).toSet
    val annTop = probeDf.collect().map(_.getLong(0)).toSet
    val recall = (exactTop & annTop).size.toDouble / exactTop.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("IVF append: frozen-model append equals rebuild, grown probe finds batch vectors, pruning survives") {
    val planted = plantedClusters(nClusters = 4, perCluster = 25)
    val archive = planted.filter(col("vec_id") < 80)
    val batch = planted.filter(col("vec_id") >= 80)
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivf-append-spec-").toString + "/lists"
    val cs = graft.ext.IvfIndex.build(archive, "embedding", k = 8, iters = 3, path)
    graft.ext.IvfIndex.append(batch, "embedding", path)

    // append did not refit: stored centroids are the archive fit
    val stored = graft.ext.IvfIndex.loadCentroids(spark, path)
    assert(stored.map(_.toSeq).toSeq === cs.map(_.toSeq).toSeq)

    // grown layout ≡ assigning EVERY vector under the frozen model
    val grown = spark.read.parquet(path)
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val rebuilt = Similarity.ivfAssignments(planted, cs)
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(grown === rebuilt)

    // a probe against the grown index can return appended vectors, and
    // the scan stays partition-pruned (appended files land INSIDE the
    // existing centroid_id= directories)
    val qv = planted.filter(col("vec_id") === 95)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val probeDf = graft.ext.IvfIndex.probe(spark, path, qv, k = 10,
      nProbe = 4, excludeVecId = Some(95L))
    val hits = probeDf.collect().map(_.getLong(0)).toSet
    assert(hits.exists(_ >= 80), s"no appended vector among probe hits: $hits")
    val scan = findScan(probeDf.queryExecution.executedPlan)
      .getOrElse(fail("no FileSourceScanExec in probe plan"))
    assert(scan.metadata("PartitionFilters").contains("centroid_id"))
    assert(scan.metrics("numFiles").value <= 8,
      s"probe read ${scan.metrics("numFiles").value} files")
  }

  test("semanticDedup: one survivor per dense direction group, isolated vectors untouched") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    def axis(d: Int, scale: Float): Seq[Float] =
      Seq.tabulate(8)(i => if (i == d) scale else 0.0f)
    // scale-only copies share an EXACT direction (cosine 1.0), so whatever
    // clusters the seeded init produces, a whole group always lands in one
    // cluster and cross-group cosines stay 0 — the assertions below hold
    // for every possible init
    val rows =
      (0 until 5).map(j => Row(j.toLong, axis(0, 1.0f + j))) ++
      (10 until 13).map(j => Row(j.toLong, axis(1, 1.0f + j))) ++
      Seq(Row(20L, axis(2, 1.0f)), Row(21L, axis(3, 1.0f)))
    val e = LocalTable.of(spark, schema, rows)
    val out = Similarity.semanticDedup(e, k = 4, threshold = 0.95, fitIters = 2)
      .collect()
    assert(out.length === 10)
    val kept = out.filter(_.getLong(3) == 1L).map(_.getLong(0)).toSet
    assert(kept.count(_ < 10) === 1)                    // group on axis 0
    assert(kept.count(id => id >= 10 && id < 20) === 1) // group on axis 1
    assert(Set(20L, 21L).subsetOf(kept))                // isolated: never removed
    // deterministic end-to-end
    val again = Similarity.semanticDedup(e, k = 4, threshold = 0.95, fitIters = 2)
      .collect().filter(_.getLong(3) == 1L).map(_.getLong(0)).toSet
    assert(again === kept)
  }

  test("semanticDedup plan: within-cluster pairs are an equi-join, never a cartesian") {
    val e = Tables(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
    val p = Similarity.semanticDedup(e, k = 8, threshold = 0.4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("semanticDedupIncremental: archive near-dup evicted with evidence, fresh direction admitted") {
    val planted = plantedClusters(nClusters = 4, perCluster = 25) // archive
    val e0 = planted.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val fresh = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val batch = LocalTable.of(spark, schema, Seq(
      Row(1000L, e0, 0),          // verbatim copy of archive vec 0
      Row(1001L, fresh.toSeq, 9))) // axis direction, far from every cluster
    // nProbe = k → the probe is exhaustive, so decisions are brute-force
    val res = Similarity.semanticDedupIncremental(batch, planted,
        k = 8, nProbe = 8, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(res.size === 2)
    assert(res(1000L).getLong(1) === 0L)       // evicted
    assert(res(1000L).getLong(2) === 0L)       // by its archive twin
    assert(res(1000L).getDouble(3) === 1.0)
    assert(res(1001L).getLong(1) === 1L)       // admitted
    assert(!res(1001L).isNullAt(3) && res(1001L).getDouble(3) < 0.95)
    // the reported neighbor similarity IS the brute-force max
    val brute = planted
      .select(round(Similarity.cosine(col("embedding"),
        typedlit(fresh.toIndexedSeq)), 6).as("s"))
      .agg(max(col("s"))).head().getDouble(0)
    assert(res(1001L).getDouble(3) === brute)
    // the candidate stage is an equi-join on cluster id — never a
    // cartesian against the archive
    val plan = Similarity.semanticDedupIncremental(batch, planted,
      k = 8, nProbe = 2, threshold = 0.95).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("knnClassify: planted clusters recover their labels unanimously; kernel shape has no join and no exchange") {
    val all = plantedClusters(4, 12)                    // 48 vectors, labels 0-3
    val labeled = all.filter(col("vec_id") < 32)        // 8 seeds per cluster
    val unlabeled = all.filter(col("vec_id") >= 32).drop("label")
    val out = Similarity.knnClassify(labeled, unlabeled, k = 5)
    val rows = out.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.map(_._1).toSet === (32L until 48L).toSet, "every unlabeled vec classified")
    // 0.05σ noise against unit-Gaussian centers ⇒ all 5 neighbors share
    // the cluster: the vote is unanimous and correct
    rows.foreach { case (id, pred, votes) =>
      assert(pred === (id % 4).toInt, s"vec $id")
      assert(votes === 5L, s"vec $id")
    }
    // kernel shape: the seed set rides as a reference object inside one
    // codegen'd projection — no join of any kind, the score matrix never
    // exists as rows; the only exchange is the round-robin input spread
    // (N skinny rows, never the N×M matrix)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("roundrobin") || p.contains("RoundRobin"), p.take(800))
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      p.take(800))
  }

  test("knnClassify: kernel ≡ exchange shape bit-exactly on the gate corpus split") {
    val e = Tables(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val bucket = (conv(substring(md5(concat(lit("lbl:"),
      col("vec_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100)
    val withB = e.withColumn("bucket", bucket)
    val labeled = withB.filter(col("bucket") < 80).drop("bucket")
    val unlabeled = withB.filter(col("bucket") >= 80).drop("bucket", "label")
    def key(r: Row) = (r.getLong(0), r.getInt(1), r.getLong(2))
    val kernel = Similarity.knnClassify(labeled, unlabeled, 5)
      .collect().map(key).toSet
    val exchange = Similarity.knnClassifyExchange(labeled, unlabeled, 5)
      .collect().map(key).toSet
    assert(kernel === exchange, "kernel and exchange shapes must agree exactly")
  }

  test("knnClassify: a repeated unlabeled vec_id is classified once per row, by the kernel and the exchange shape alike") {
    val lSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    val uSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val labeled = LocalTable.of(spark, lSchema, Seq(
      Row(0L, Seq(1.0f, 0.0f), 0), Row(1L, Seq(0.9f, 0.1f), 0),
      Row(2L, Seq(0.0f, 1.0f), 1), Row(3L, Seq(0.1f, 0.9f), 1)))
    // id 10 twice, once near each label's seeds; id 12's null vector
    // ranks the seeds by id alone in both shapes
    val unlabeled = LocalTable.of(spark, uSchema, Seq(
      Row(10L, Seq(1.0f, 0.0f)), Row(10L, Seq(0.0f, 1.0f)), Row(11L, Seq(1.0f, 0.05f)),
      Row(12L, null)))
    def key(r: Row) = (r.getLong(0), r.getInt(1), r.getLong(2))
    val want = Seq((10L, 0, 2L), (10L, 1, 2L), (11L, 0, 2L), (12L, 0, 2L))
    assert(Similarity.knnClassify(labeled, unlabeled, 2).collect().map(key).sorted.toSeq === want)
    assert(Similarity.knnClassifyExchange(labeled, unlabeled, 2)
      .collect().map(key).sorted.toSeq === want)
  }

  test("marginMine: kernel ≡ exchange shape bit-exactly on the gate split; zero exchanges in the mining plan") {
    val e = Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val src = e.filter(col("vec_id") % 2 === 0)
    val tgt = e.filter(col("vec_id") % 2 === 1)
    def key(r: Row) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    val kernel = Similarity.marginMine(src, tgt, k = 4, tau = 1.0)
    val got = kernel.collect().map(key).toSet
    val exchange = Similarity.marginMineExchange(src, tgt, k = 4, tau = 1.0)
      .collect().map(key).toSet
    assert(got === exchange,
      "kernel margins/cosines must be bit-identical to the window shape")
    // the pass-B plan is one projection over the src scan: no join, no
    // window, no N²-row checkpoint scan; the only exchange is the
    // round-robin input spread (N skinny src rows)
    val p = kernel.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.take(800))
    assert(!p.contains("Window"), p.take(800))
    assert(p.contains("roundrobin") || p.contains("RoundRobin"), p.take(800))
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      p.take(800))
  }

  test("marginMine: duplicate vec_ids on either side agree with the exchange shape") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def key(r: Row) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    val src = LocalTable.of(spark, schema, Seq(
      Row(0L, Seq(1.0f, 0.0f)), Row(1L, Seq(0.0f, 1.0f))))
    // target 10 appears twice with different vectors: its kNN average is
    // taken over both rows' cosines, as the exchange shape windows them
    val tgt = LocalTable.of(spark, schema, Seq(
      Row(10L, Seq(1.0f, 0.0f)), Row(10L, Seq(0.0f, 1.0f)),
      Row(11L, Seq(1.0f, 1.0f))))
    def same(s: org.apache.spark.sql.DataFrame, t: org.apache.spark.sql.DataFrame) =
      assert(Similarity.marginMine(s, t, k = 2, tau = 1.0).collect().map(key).toSet ===
        Similarity.marginMineExchange(s, t, k = 2, tau = 1.0).collect().map(key).toSet)
    same(src, tgt)
    same(tgt, src)
  }

  test("marginMine: the margin kernel runs once per source, above the round-robin spread") {
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val e = Tables(spark, sfDir, "embeddings")
    val mined = Similarity.marginMine(e.filter(col("vec_id") % 2 === 0),
      e.filter(col("vec_id") % 2 === 1), k = 4, tau = 1.0)
    mined.collect()
    // the executed adaptive plan, query stages unwrapped
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }).flatMap(nodes)
    def kernels(p: SparkPlan) = p.expressions.flatMap(_.collect {
      case s: StaticInvoke if s.functionName == "best" &&
        s.staticObject == graft.plans.MarginBestExpr.getClass => s })
    val plan = mined.queryExecution.executedPlan
    val all = nodes(plan)
    assert(all.map(kernels(_).size).sum === 1, s"one margin kernel in:\n$plan")
    val spread = all.collect { case x: ShuffleExchangeExec
      if x.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => x }
    assert(spread.size === 1, plan.toString)
    val owner = all.find(kernels(_).nonEmpty).get
    assert(nodes(owner).exists(_ eq spread.head),
      s"the kernel must run above the spread, not below it:\n$plan")
    // single evaluation comes from the plan shape, not from a flag that
    // hides the kernel from the optimizer
    assert(kernels(owner).forall(_.deterministic), plan.toString)
    val flagged = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") &&
        "isDeterministic\\s*=\\s*false".r.findFirstIn(Files.readString(f)).isDefined)
      .map(_.toString).toSeq
    assert(flagged.isEmpty, s"non-deterministic StaticInvoke in: ${flagged.mkString(", ")}")
  }

  test("s05: a second execution reclaims the first execution's temp index") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def ivfDirs(): Set[String] = Files.list(tmp).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft-ivf-")).toSet
    val before = ivfDirs()
    Similarity.s05AnnIvf.run(spark, sfDir).collect()
    Similarity.s05AnnIvf.run(spark, sfDir).collect()
    assert((ivfDirs() -- before).size === 1)
  }

  test("Round6: exact twin of Spark's round(_, 6) incl. .5-micro boundaries; micros inverts it") {
    import graft.plans.Round6
    def oracle(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val rnd = new scala.util.Random(42)
    (0 until 300000).foreach { _ =>
      val x = rnd.nextDouble() * 2 - 1
      assert(java.lang.Double.compare(Round6.round6(x), oracle(x)) === 0, s"x=$x")
    }
    // exact micro grid points, .5-micro boundaries (the s17 incident
    // class) and their ulp neighbors, both signs
    (0 until 20000).foreach { _ =>
      val m = rnd.nextInt(2000001) - 1000000
      Seq(m / 1e6, (m + 0.5) / 1e6, -((m + 0.5) / 1e6)).foreach { b =>
        Seq(b, Math.nextUp(b), Math.nextDown(b)).foreach { x =>
          assert(java.lang.Double.compare(Round6.round6(x), oracle(x)) === 0,
            s"x=$x (m=$m)")
        }
      }
    }
    // moderate magnitudes whose shortest decimal sits on a .5-micro
    // boundary the product x·1e6 misses by more than the fast path's
    // margin
    Seq(16.6896225, 64.8506475, -16.6896225, -64.8506475).foreach { x =>
      assert(java.lang.Double.compare(Round6.round6(x), oracle(x)) === 0, s"x=$x")
    }
    assert(Round6.round6(Double.NaN).isNaN)
    assert(Round6.round6(Double.PositiveInfinity) === Double.PositiveInfinity)
    // micros: on round6 outputs it recovers the exact integer micro the
    // engine's round(r*1e6) cast would
    (0 until 50000).foreach { _ =>
      val r = Round6.round6(rnd.nextDouble() * 2 - 1)
      val viaBd = java.math.BigDecimal.valueOf(r * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      assert(Round6.micros(r) === viaBd, s"r=$r")
    }
    // and through a real Spark round() expression on a sample
    val xs = (0 until 3000).map(i => (i.toLong, rnd.nextDouble() * 2 - 1))
    val df = LocalTable.of(spark, StructType(Seq(
      StructField("i", LongType), StructField("x", DoubleType))),
      xs.map { case (i, x) => Row(i, x) })
    val viaSpark = df.select(col("i"), round(col("x"), 6).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    xs.foreach { case (i, x) =>
      assert(java.lang.Double.compare(Round6.round6(x), viaSpark(i)) === 0,
        s"x=$x")
    }
  }

  test("knnClassifyIvf: agrees with the brute-force classifier on planted clusters; candidates are list-scoped") {
    val all = plantedClusters(4, 12)
    val labeled = all.filter(col("vec_id") < 32)
    val unlabeled = all.filter(col("vec_id") >= 32).drop("label")
    val brute = Similarity.knnClassify(labeled, unlabeled, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // a fitted quantizer (2 Lloyd iterations) separates the 4 planted
    // directions, so probing 2 of 4 lists still contains every true
    // neighbor — the approximate path must equal the exact one here
    val ivf = Similarity.knnClassifyIvf(labeled, unlabeled, k = 5,
      nCentroids = 4, nProbe = 2, kmeansIters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ivf === brute)
    // no cross join survives: the candidate stage is an equi-join on the
    // probed centroid id
    val p = Similarity.knnClassifyIvf(labeled, unlabeled, 5, 4, 2, 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
  }

  test("nearestCentroids kernel: best-first order, lowest-id ties, nProbe clamped to k") {
    import graft.plans.NearestCentroidsExpr
    val cs = Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 0f), Array(-1f, 0f))
    val got = NearestCentroidsExpr.nearestN(Array(1f, 0.1f), cs, 3)
      .toIntArray().toSeq
    // ids 0 and 2 tie at the top (identical centroids) → lower id first
    assert(got === Seq(0, 2, 1))
    assert(NearestCentroidsExpr.nearestN(Array(1f, 0f), cs, 10)
      .toIntArray().length === 4, "nProbe beyond k returns all k")
  }

  private def findScan(p: org.apache.spark.sql.execution.SparkPlan)
      : Option[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      findScan(a.executedPlan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Some(f)
    case other => other.children.flatMap(findScan).headOption
  }

  private def plantedCenters(nClusters: Int): Array[Array[Float]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(nClusters)(Array.fill(64)(rnd.nextGaussian().toFloat))
  }

  test("nnDescentGraph converges on planted clusters and is deterministic") {
    val planted = plantedClusters(nClusters = 4, perCluster = 25)
      .select(col("vec_id"), col("embedding"))
    val g = Similarity.nnDescentGraph(planted, k = 8, iters = 2, reverseCap = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // shape: every vector has exactly k neighbors, none itself
    assert(g.length === 100 * 8)
    assert(g.forall { case (s, d) => s != d })
    // convergence: on 4 well-separated clusters of 25, a vector's true
    // k=8 neighbors are all same-cluster; after 2 NN-descent rounds the
    // overwhelming share of edges must be intra-cluster (the md5 ring
    // init is label-agnostic, so this is the descent's doing: ~75% of
    // ring edges start OUT of cluster)
    val intra = g.count { case (s, d) => s % 4 == d % 4 }
    assert(intra >= (g.length * 0.95).toInt,
      s"only $intra/${g.length} intra-cluster edges after 2 rounds")
    // determinism: a second run builds the identical graph
    val g2 = Similarity.nnDescentGraph(planted, k = 8, iters = 2, reverseCap = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(g.toSeq.sorted === g2.toSeq.sorted)
  }

  test("nnDescentGraph recall vs brute force is high and rounds improve it") {
    val planted = plantedClusters(nClusters = 4, perCluster = 25)
      .select(col("vec_id"), col("embedding"))
    // brute-force true top-8 per vector (100×100 — test-sized only)
    val a = planted.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(round(Similarity.cosine(col("qe"), col("embedding")), 6).desc,
        col("vec_id").asc)
    val truth = planted.crossJoin(a).filter(col("vec_id") =!= col("qid"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 8)
      .select(col("qid"), col("vec_id").as("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(iters: Int): Double = {
      val g = Similarity.nnDescentGraph(planted, k = 8, iters = iters,
          reverseCap = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      g.count(truth.contains).toDouble / truth.size
    }
    val r1 = recall(1)
    val r2 = recall(2)
    val r3 = recall(3)
    info(f"recall@8 by round: $r1%.3f / $r2%.3f / $r3%.3f")
    assert(r2 >= r1 - 1e-9, s"round 2 ($r2) must not lose recall vs 1 ($r1)")
    assert(r3 >= r2 - 1e-9, s"round 3 ($r3) must not lose recall vs 2 ($r2)")
    assert(r3 >= 0.85, s"3-round recall@8 on separable clusters was $r3")
  }

  private def plantedClusters(nClusters: Int, perCluster: Int) = {
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(nClusters)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = (0 until nClusters * perCluster).map { i =>
      val c = centers(i % nClusters)
      Row(i.toLong, c.map(v => v + 0.05f * rnd.nextGaussian().toFloat).toSeq, i % nClusters)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    LocalTable.of(spark, schema, rows)
  }

  test("clusterBalancedSample: every cluster represented, caps respected, seed-deterministic") {
    val emb = plantedClusters(nClusters = 4, perCluster = 10)
      .select(col("vec_id"), col("embedding"))
    val got = Similarity.clusterBalancedSample(emb, k = 4, perCluster = 3,
      seed = "t", fitIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // planted geometry: 4 well-separated directions → all 4 clusters
    // non-empty → exactly 4 × 3 picks, ranks 1..3 within each
    assert(got.length === 12)
    got.groupBy(_._2).foreach { case (_, picks) =>
      assert(picks.map(_._3).sorted.toSeq === Seq(1, 2, 3))
    }
    // deterministic under repartitioning; a different seed re-deals
    val again = Similarity.clusterBalancedSample(emb.repartition(7), k = 4,
      perCluster = 3, seed = "t", fitIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.sorted.toSeq === again.sorted.toSeq)
    val otherSeed = Similarity.clusterBalancedSample(emb, k = 4,
      perCluster = 3, seed = "u", fitIters = 2)
      .collect().map(r => r.getLong(0)).toSet
    assert(otherSeed !== got.map(_._1).toSet,
      "independent seeds must not pick the identical sample")
  }

  test("negativeSample: label exclusion, self exclusion, k cap, replayability") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("label", IntegerType)))
    val corpus = LocalTable.of(spark, schema,
      (0L until 30L).map(i => Row(i, (i % 3).toInt)))
    val anchors = corpus.filter(col("vec_id") < 3)
    val got = Similarity.negativeSample(corpus, anchors, k = 4, seed = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every anchor gets exactly k negatives (plenty of candidates)
    assert(got.groupBy(_._1).view.mapValues(_.length).toMap ===
      Map(0L -> 4, 1L -> 4, 2L -> 4))
    // a negative never shares the anchor's label and is never the anchor
    got.foreach { case (a, n, nl) =>
      assert(n !== a)
      assert(nl !== (a % 3).toInt, s"anchor $a drew same-label negative $n")
    }
    // replayable: the same seed draws the identical sample
    val again = Similarity.negativeSample(corpus, anchors, k = 4, seed = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSet === again.toSet)
    // fewer candidates than k: emits what exists, never pads
    val tiny = LocalTable.of(spark, schema,
      Seq(Row(0L, 0), Row(1L, 1), Row(2L, 1)))
    val few = Similarity.negativeSample(tiny, tiny.filter(col("vec_id") === 0),
      k = 5, seed = "t").collect()
    assert(few.length === 2)
  }

  test("randomProject: kernel matches a driver-side recomputation; linear; deterministic") {
    val dim = 8
    val dOut = 4
    val scale = (1.0 / math.sqrt(dOut.toDouble)).toFloat
    val m = graft.plans.HyperplaneSignatureExpr.md5Signs(dOut, dim, "spec")
      .map(_.map(_ * scale))
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // exactly-representable values so a+b carries no float rounding
    val a = Array(1.0f, -0.5f, 0.25f, 2.0f, 0.0f, -1.0f, 4.0f, 0.5f)
    val b = Array(0.5f, 0.5f, -0.25f, 1.0f, 2.0f, 1.0f, -2.0f, 0.25f)
    val ab = a.zip(b).map { case (x, y) => x + y }
    val e = LocalTable.of(spark, schema, Seq(
      Row(0L, a.toSeq), Row(1L, b.toSeq), Row(2L, ab.toSeq)))
    val got = Similarity.randomProject(e, dim, dOut, "spec")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // kernel vs naive driver-side dot product
    (0 until dOut).foreach { p =>
      val naive = (0 until dim).map(d => a(d).toDouble * m(p)(d)).sum
      assert(got((0L, p)) === naive, s"dim $p")
    }
    // linearity: project(a) + project(b) == project(a + b)
    (0 until dOut).foreach { p =>
      assert(math.abs(got((0L, p)) + got((1L, p)) - got((2L, p))) < 1e-12)
    }
    // deterministic across plans/partitionings
    val again = Similarity.randomProject(e.repartition(3), dim, dOut, "spec")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(again === got)
  }

  test("randomProject plan: exchange-free codegen projection") {
    val e = Tables(spark, sfDir, "embeddings")
    val df = Similarity.randomProject(e, 64, 16, "jl")
    val p = df.queryExecution.sparkPlan.toString
    assert(!p.contains("Exchange"), p.take(800))
    // the *(n) prefix marks whole-stage-codegen stages in the executed plan
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("hardNegatives: picks the nearest DIFFERENT-label vector, same-label neighbors excluded") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val corpus = LocalTable.of(spark, schema, Seq(
      Row(0L, Seq(1.0f, 0.0f, 0.0f), 0),      // anchor, label 0, +x
      Row(1L, Seq(0.99f, 0.14f, 0.0f), 0),    // same label, nearest — must be excluded
      Row(2L, Seq(0.95f, 0.3f, 0.0f), 1),     // hard negative (cos ≈ 0.95)
      Row(3L, Seq(0.0f, 1.0f, 0.0f), 1),      // easy negative (cos 0)
      Row(4L, Seq(-1.0f, 0.0f, 0.0f), 2)))    // opposite (cos -1)
    val got = Similarity.hardNegatives(corpus,
      corpus.filter(col("vec_id") === 0L), k = 2)
      .orderBy("neg_rank").collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getInt(4)))
    assert(got.toSeq === Seq((2L, 1, 1), (3L, 1, 2)),
      "hard negative first, easy second, same-label id 1 never emitted")
    // k beyond the different-label population: no padding
    val allNeg = Similarity.hardNegatives(corpus,
      corpus.filter(col("vec_id") === 0L), k = 10).collect()
    assert(allNeg.length === 3)
  }

  test("marginMine: a true pair beats neighborhood background; uniform corpus is margin exactly 1") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // src 0 has a genuine match (tgt 100, near-identical) amid weak
    // background — the ratio margin must clear 1 comfortably.
    val src = LocalTable.of(spark, schema, Seq(
      Row(0L, Seq(1.0f, 0.0f, 0.0f, 0.0f))))
    val tgt = LocalTable.of(spark, schema, Seq(
      Row(100L, Seq(0.99f, 0.1f, 0.0f, 0.0f)),   // true pair for src 0
      Row(101L, Seq(0.2f, 0.9f, 0.0f, 0.8f)),
      Row(102L, Seq(0.1f, 0.0f, 0.9f, 0.8f)),
      Row(103L, Seq(0.0f, 0.6f, 0.7f, 0.8f))))
    val got = Similarity.marginMine(src, tgt, k = 3, tau = 1.05)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got.contains(0L), "the true pair must be mined")
    assert(got(0L)._1 === 100L)
    assert(got(0L)._2 > 1.3, s"true-pair margin should clear background: $got")
    // degenerate hub corpus: every vector identical → every cosine is 1,
    // every kNN average is 1, so every ratio margin is EXACTLY 1 — the
    // calibration property that makes margin mining reject uniformly
    // high-cosine regions an absolute threshold would admit wholesale.
    val e = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val uSrc = LocalTable.of(spark, schema, Seq(Row(0L, e), Row(1L, e)))
    val uTgt = LocalTable.of(spark, schema, Seq(Row(10L, e), Row(11L, e)))
    assert(Similarity.marginMine(uSrc, uTgt, k = 2, tau = 1.05).count() === 0,
      "uniform corpus must mine nothing above margin 1")
    val uniform = Similarity.marginMine(uSrc, uTgt, k = 2, tau = 1.0)
      .collect().map(_.getDouble(3))
    assert(uniform.length === 2 && uniform.forall(_ === 1.0),
      "uniform corpus margins must be exactly 1")
  }

  test("marginMineIvf: probing every list recovers the dense miner exactly; pruned probe mines one-per-source") {
    val e = Tables(spark, sfDir, "embeddings")
    val src = e.filter(col("vec_id") % 2 === 0)
    val tgt = e.filter(col("vec_id") % 2 === 1)
    val dense = Similarity.marginMine(src, tgt, k = 4, tau = 1.0)
      .collect().map(_.toSeq).toSet
    // nProbe == nCentroids probes every inverted list → candidate set is
    // the full cross matrix → dense equivalence, exactly
    val full = Similarity.marginMineIvf(src, tgt, k = 4, tau = 1.0,
      nCentroids = 8, nProbe = 8, kmeansIters = 0)
      .collect().map(_.toSeq).toSet
    assert(full === dense, "full-probe IVF must equal the dense miner")
    // pruned probe: still at most one mined target per source, margins
    // computed over the probed candidate neighborhoods
    val pruned = Similarity.marginMineIvf(src, tgt, k = 4, tau = 1.0,
      nCentroids = 8, nProbe = 2, kmeansIters = 0).collect()
    assert(pruned.nonEmpty)
    val perSrc = pruned.groupBy(_.getLong(0))
    assert(perSrc.values.forall(_.length === 1))
    // no cartesian anywhere: candidates come from centroid equi-joins
    val plan = Similarity.marginMineIvf(src, tgt, k = 4, tau = 1.0,
      nCentroids = 8, nProbe = 2, kmeansIters = 0)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("standardizeEmbeddings: hand-computed z-scores, dead dimension yields 0") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // dim0: values 1,3 → mu 2, s2 1, sd 1 → z = -1, 1
    // dim1: constant 5 → s2 = 0 → z = 0 for all
    val df = LocalTable.of(spark, schema, Seq(
      Row(0L, Seq(1.0f, 5.0f)), Row(1L, Seq(3.0f, 5.0f))))
    val got = Similarity.standardizeEmbeddings(df)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got((0L, 0)) === -1.0 && got((1L, 0)) === 1.0)
    assert(got((0L, 1)) === 0.0 && got((1L, 1)) === 0.0)
  }

  test("annRecallAtK: full probe scores recall exactly 1; pruned probe bounded in [0,1]") {
    val e = Tables(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val full = Similarity.annRecallAtK(e, q, k = 5,
      nCentroids = 8, nProbe = 8, kmeansIters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(full.length === 5)
    assert(full.forall { case (_, h, r) => h === 5L && r === 1.0 },
      s"probing every list must recover the exact top-k: ${full.toSeq}")
    val pruned = Similarity.annRecallAtK(e, q, k = 5,
      nCentroids = 8, nProbe = 1, kmeansIters = 0)
      .collect().map(_.getDouble(2))
    assert(pruned.length === 5 && pruned.forall(r => r >= 0.0 && r <= 1.0))
  }

  test("marginMine: forward mining emits at most one target per source; partitioning-invariant") {
    val e = Tables(spark, sfDir, "embeddings")
    val src = e.filter(col("vec_id") % 2 === 0)
    val tgt = e.filter(col("vec_id") % 2 === 1)
    val mined = Similarity.marginMine(src, tgt, k = 4, tau = 1.0).collect()
    assert(mined.nonEmpty)
    val bySrc = mined.groupBy(_.getLong(0))
    assert(bySrc.values.forall(_.length === 1), "one best target per source")
    val again = Similarity.marginMine(src.repartition(13), tgt.repartition(3),
      k = 4, tau = 1.0).collect()
    assert(mined.map(_.toSeq).toSet === again.map(_.toSeq).toSet)
  }

  test("ivfRetrainTrigger: decision is the OR of floored-value breaches; full probe forces recall 1.0; thresholds guard") {
    val e = Tables(spark, sfDir, "embeddings").limit(120)
    val q = e.filter(col("vec_id") < 10)
    // full probe (nProbe = nCentroids) ⇒ ANN ≡ exact ⇒ mean recall exactly 1
    val full = Similarity.ivfRetrainTrigger(e, q, k = 5, nCentroids = 8,
      nProbe = 8, kmeansIters = 0, minRecall = 0.9, maxImbalance = 1e9)
      .collect()(0)
    assert(full.getAs[Double]("mean_recall") === 1.0)
    assert(!full.getAs[Boolean]("recall_breach"))
    assert(!full.getAs[Boolean]("imbalance_breach"))
    assert(!full.getAs[Boolean]("retrain"))
    // an impossible recall bar flips the decision through the recall arm
    val strict = Similarity.ivfRetrainTrigger(e, q, k = 5, nCentroids = 8,
      nProbe = 1, kmeansIters = 0, minRecall = 1.0, maxImbalance = 1e9)
      .collect()(0)
    assert(strict.getAs[Boolean]("retrain")
      === strict.getAs[Boolean]("recall_breach"))
    // an imbalance bar of exactly 1 trips unless lists are perfectly even
    val tight = Similarity.ivfRetrainTrigger(e, q, k = 5, nCentroids = 8,
      nProbe = 8, kmeansIters = 0, minRecall = 0.0, maxImbalance = 1.0)
      .collect()(0)
    assert(tight.getAs[Boolean]("retrain")
      === (tight.getAs[Double]("imbalance") > 1.0))
    intercept[IllegalArgumentException] {
      Similarity.ivfRetrainTrigger(e, q, 5, 8, 8, 0, minRecall = 1.5,
        maxImbalance = 2.0)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfRetrainTrigger(e, q, 5, 8, 8, 0, minRecall = 0.9,
        maxImbalance = 0.5)
    }
  }

  test("ivfOccupancy: shares sum to 1, counts sum to the corpus, imbalance is max over mean of non-empty lists") {
    val e = Tables(spark, sfDir, "embeddings").limit(200)
    val rows = Similarity.ivfOccupancy(e, nCentroids = 8, kmeansIters = 0)
      .collect()
    val counts = rows.map(_.getAs[Long]("n_vecs"))
    assert(counts.sum === 200L, "every vector lands in exactly one list")
    val shares = rows.map(_.getAs[Double]("share"))
    assert(math.abs(shares.sum - 1.0) < 1e-4, s"shares sum ${shares.sum}")
    val expectedImb = math.floor(counts.max.toDouble /
      (counts.sum.toDouble / counts.length) * 1e6 + 0.5) / 1e6
    assert(rows.map(_.getAs[Double]("imbalance")).distinct.toSeq
      === Seq(expectedImb))
    // deterministic under input partitioning
    val again = Similarity.ivfOccupancy(e.repartition(7), nCentroids = 8,
      kmeansIters = 0).collect()
      .map(r => r.getAs[Int]("centroid_id") -> r.getAs[Long]("n_vecs")).toMap
    assert(again === rows.map(r =>
      r.getAs[Int]("centroid_id") -> r.getAs[Long]("n_vecs")).toMap)
  }

  test("scalarQuantize: codes are the affine int8 map of each dimension's corpus range; constant dims code 0") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // dim0 range [0,1]: 0→0, 0.5→128 (floor(127.5+0.5)), 1→255
    // dim1 range [-2,2]: -2→0, 0→128, 2→255
    // dim2 constant 3.0 → every code 0
    val e = LocalTable.of(spark, schema, Seq(
      Row(1L, Seq(0.0f, -2.0f, 3.0f)),
      Row(2L, Seq(0.5f, 0.0f, 3.0f)),
      Row(3L, Seq(1.0f, 2.0f, 3.0f))))
    val got = Similarity.scalarQuantize(e).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "0,0,0", 2L -> "128,128,0", 3L -> "255,255,0"))
    // partitioning invariance: the trained ranges are corpus aggregates
    val re = Similarity.scalarQuantize(e.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(re === got)
  }

  test("scalarQuantize fails fast on ragged input instead of emitting corrupt codes") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // vec 2 is one dim short of the trained dimensionality (max dims
    // wins training since posexplode covers every present index)
    val e = LocalTable.of(spark, schema, Seq(
      Row(1L, Seq(0.0f, -2.0f, 3.0f)),
      Row(2L, Seq(0.5f, 0.0f)),
      Row(3L, Seq(1.0f, 2.0f, 3.0f))))
    val ex = intercept[Exception] {
      Similarity.scalarQuantize(e).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("embedding dims != trained dims")),
      s"expected the ragged-input error, got: $ex")
  }

  test("scalarQuantize on corpus: all codes in 0..255, round-trip error bounded by half a grid step") {
    val e = Tables(spark, sfDir, "embeddings").limit(100)
    val codes = Similarity.scalarQuantize(e).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(",").map(_.toInt)).toMap
    assert(codes.values.forall(_.forall(c => c >= 0 && c <= 255)))
    // reconstruct x̂ = mn + code/255*(mx−mn) and check |x − x̂| ≤ step/2
    val dims = e.select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val vecs = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    for ((id, xs) <- vecs; ((_, mn, mx), d) <- dims.zip(xs.indices)) {
      val step = (mx - mn) / 255.0
      if (step > 0) {
        val xhat = mn + codes(id)(d) * step
        assert(math.abs(xs(d) - xhat) <= step / 2 + 1e-12,
          s"vec $id dim $d: x=${xs(d)} xhat=$xhat step=$step")
      }
    }
  }

  test("width tripwire: mismatched-width vectors fail index builds, streaming admissions, and projections loudly instead of truncating silently") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}
    import graft.ext.IvfIndex
    import graft.streaming.AnnIndexStreaming
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    def df(rs: Seq[(Long, Seq[Float], Int)]) = LocalTable.of(spark, schema,
      rs.map { case (id, e, l) => Row(id, e, l) })
    val rnd = new scala.util.Random(11)
    def vec(d: Int) = Seq.fill(d)(rnd.nextGaussian().toFloat)
    val good = (0L until 20L).map(i => (i, vec(8), (i % 2).toInt))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    def breach(body: => Unit): Unit = {
      val e = intercept[Exception](body)
      assert(messages(e).exists(_.contains("width != trained dims")),
        s"expected the width tripwire, got: ${messages(e)}")
    }
    val base = java.nio.file.Files
      .createTempDirectory("graft-dims-").toString
    // a build over a corpus mixing widths fails loudly, naming the row
    breach(IvfIndex.build(df(good :+ ((99L, vec(6), 0))), "embedding",
      k = 3, iters = 0, s"$base/mixed"))
    // a clean build, then an append of a narrower vector fails loudly
    IvfIndex.build(df(good), "embedding", k = 3, iters = 0, s"$base/ivf")
    breach(IvfIndex.append(df(Seq((50L, vec(6), 1))), "embedding",
      s"$base/ivf"))
    // streaming admission vs the committed quantizer: the bad batch
    // fails, commits NO marker, and leaves the index intact; the fixed
    // batch then re-admits cleanly under the same batchId
    AnnIndexStreaming.init(df(good), "embedding", k = 3, iters = 0,
      s"$base/ann")
    breach(AnnIndexStreaming.admitBatch(
      df(Seq((30L, vec(8), 0), (31L, vec(10), 1))), 0L, "embedding",
      s"$base/ann"))
    assert(AnnIndexStreaming.committedBatches(spark, s"$base/ann").isEmpty)
    assert(AnnIndexStreaming.currentLists(spark, s"$base/ann").count() === 20L)
    AnnIndexStreaming.admitBatch(
      df(Seq((30L, vec(8), 0), (31L, vec(8), 1))), 0L, "embedding",
      s"$base/ann")
    assert(AnnIndexStreaming.currentLists(spark, s"$base/ann").count() === 22L)
    // the JL projection validates against its declared input width
    breach(graft.ext.Similarity.randomProject(
      df(Seq((0L, vec(6), 0))), dim = 8, dOut = 4, seed = "t").collect())
    // init REFUSES an empty archive (an empty-quantizer index could
    // never be repaired, since a committed base refuses re-init) and an
    // already-initialized path (a silent no-op would discard the build)
    val eInit = intercept[IllegalArgumentException] {
      AnnIndexStreaming.init(df(Seq.empty), "embedding", k = 3, iters = 0,
        s"$base/empty")
    }
    assert(eInit.getMessage.contains("empty archive"))
    val eReinit = intercept[IllegalStateException] {
      AnnIndexStreaming.init(df(good), "embedding", k = 3, iters = 0,
        s"$base/ann")
    }
    assert(eReinit.getMessage.contains("already has a committed base"))
    // a manually-corrupted base (empty quantizer, e.g. restored from a
    // bad backup): admissions and appends still fail with the real
    // cause, not a bare head-of-empty
    val eBase = s"$base/corrupt/base_v0_f0/ivf"
    IvfIndex.build(df(Seq.empty), "embedding", k = 3, iters = 0, eBase)
    assert(new java.io.File(s"$base/corrupt", "_COMMIT_base_v0_f0")
      .createNewFile())
    val eEmpty = intercept[IllegalArgumentException] {
      AnnIndexStreaming.admitBatch(df(Seq((1L, vec(8), 0))), 0L, "embedding",
        s"$base/corrupt")
    }
    assert(eEmpty.getMessage.contains("empty quantizer"))
    val eAppend = intercept[IllegalArgumentException] {
      IvfIndex.append(df(Seq((1L, vec(8), 0))), "embedding", eBase)
    }
    assert(eAppend.getMessage.contains("empty quantizer"))
  }
}
