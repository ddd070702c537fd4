package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.plans._

/** Every row kernel returns the same rows in generated code and in
  * interpreted mode. Spark's default codegen factory mode silently falls
  * back to interpreted evaluation when generated code fails to compile,
  * so a misspelt kernel method or a wrong argument class would pass
  * every other spec; here codegen runs with no fallback
  * (`CODEGEN_ONLY`, whole-stage codegen on) and interpreted mode with
  * no codegen at all (`NO_CODEGEN`, whole-stage codegen off). Inputs
  * come from `range`, not a local relation, so the optimizer cannot
  * fold the kernel into constants before either mode runs it. */
class KernelModesSpec extends SparkSpec {

  private val seeds = new KnnSeedsRef(Array(1L, 2L, 3L),
    Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(1f, 1f, 1f)), Array(0, 1, 1))
  private val targets = new MarginTargetsRef(Array(7L, 8L, 9L),
    Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(1f, 1f, 1f)), Array(0.5, 0.4, 0.6))
  private val centroids = Array(Array(1f, 0f, 0f), Array(0f, 1f, 1f), Array(1f, 1f, 0f))

  /** One call per kernel object, through its Column helper or its SQL
    * function, over the columns `frame` builds. */
  private val calls: Seq[(String, Column)] = Seq(
    "CosineSimilarityExpr" -> CosineSimilarityExpr.cosineSim(col("v"), col("w")),
    "MinHashSignatureExpr" -> expr("minhash_sig(shingles(text, 2), 4)"),
    "ShinglesExpr" -> expr("shingles(text, 2)"),
    "NearestCentroidExpr" -> NearestCentroidExpr.nearestCentroid(col("v"), centroids),
    "NearestCentroidsExpr" -> NearestCentroidsExpr.nearestCentroids(col("v"), centroids, 2),
    "HyperplaneSignatureExpr" ->
      HyperplaneSignatureExpr.hyperplaneSig(col("v"), HyperplaneSignatureExpr.md5Signs(8, 3)),
    "NgramsExpr" -> expr("ngrams(text, 2)"),
    "CdcChunksExpr" -> expr("cdc_chunks(text, 2, 3)"),
    "EntropyExpr" -> expr("struct(text_entropy(text), text_entropy(text, true))"),
    "MatrixProjectExpr" ->
      MatrixProjectExpr.matrixProject(col("v"), HyperplaneSignatureExpr.md5Signs(4, 3, "m")),
    "BpeApplyExpr" -> expr("bpe_apply(text, 'a b')"),
    "NormalizeTextExpr" -> expr("normalize_text(text)"),
    "RepetitionSignalsExpr" -> RepetitionSignalsExpr.repetitionSignals(col("text")),
    "SpanCorruptionExpr" ->
      SpanCorruptionExpr.spanCorrupt(col("text"), col("sid"), 2, 500000, "seed"),
    "Simhash60Expr" -> Simhash60Expr.simhash60(col("text")),
    "HashedBucketCountsExpr" -> HashedBucketCountsExpr.hashedBucketCounts(col("text"), 8, 2),
    "ArraySumLongExpr" -> ArraySumLongExpr.arraySumLong(
      HashedBucketCountsExpr.hashedBucketCounts(col("text"), 8)),
    "DotProductLitExpr" -> DotProductLitExpr.dotProduct(
      HashedBucketCountsExpr.hashedBucketCounts(col("text"), 8), Array.tabulate(8)(_ * 0.5)),
    "KnnVoteExpr" -> KnnVoteExpr.knnVote(col("v"), seeds, 2),
    "KnnAvgMicrosExpr" -> KnnAvgMicrosExpr.knnAvgMicros(col("v"), centroids, 2, rowIsLeft = true),
    "MarginBestExpr" -> MarginBestExpr.marginBest(col("v"), targets, 2, 0.0),
    "BloomMightContainExpr" -> BloomMightContainExpr.mightContainLong(col("id"),
      org.apache.spark.util.sketch.BloomFilter.create(16, 0.01)
        .tap(b => Seq(1L, 3L).foreach(b.putLong))))

  /** Six rows, the last all-null: text, a vector and its reverse. */
  private def frame(): DataFrame = spark.range(6).selectExpr(
    "id", "CAST(id AS STRING) AS sid",
    "CASE WHEN id < 5 THEN element_at(array('a b a b c', 'Ábc  DEF\tghi', 'x', '', " +
      "'a a a b a b a b'), CAST(id AS INT) + 1) END AS text",
    "CASE WHEN id < 5 THEN array(CAST(id AS FLOAT), CAST(1 AS FLOAT), " +
      "CAST(id % 2 AS FLOAT)) END AS v",
    "CASE WHEN id < 5 THEN array(CAST(id % 2 AS FLOAT), CAST(1 AS FLOAT), " +
      "CAST(id AS FLOAT)) END AS w")

  private def run(c: Column, codegen: Boolean): (Seq[Row], String) = {
    val conf = Map(
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.fallback" -> "false")
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = frame().select(col("id"), c.as("out"))
      (df.collect().toSeq.sortBy(_.getLong(0)), df.queryExecution.executedPlan.toString)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every object that calls GraftSqlBridge.kernel has a case here") {
    val bridged = Files.walk(Paths.get("src/main/scala/graft")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => """GraftSqlBridge\s*\.\s*kernel\s*\(\s*(\w+)""".r
        .findAllMatchIn(Files.readString(f)).map(_.group(1)))
      .toSet
    assert(bridged === calls.map(_._1).toSet)
  }

  calls.foreach { case (name, c) =>
    test(s"$name: generated code and interpreted evaluation return the same rows") {
      GraftFunctions.register(spark)
      val (generated, plan) = run(c, codegen = true)
      val (interpreted, _) = run(c, codegen = false)
      assert(plan.contains("static_invoke"), plan)
      assert(generated === interpreted)
      assert(generated.size === 6 && generated.exists(!_.isNullAt(1)), generated)
    }
  }
}
