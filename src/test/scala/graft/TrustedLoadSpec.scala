package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{ControlTable, EntityTransformer, TrustedLoad}

/** The trusted-layer lifecycle (SURVEY §3.3): EntityTransformer hooks +
  * control-table incremental + dedup + version-guarded MERGE. */
class TrustedLoadSpec extends SparkSpec {

  private val txnSchema = StructType(Seq(
    StructField("id", LongType), StructField("cat", StringType),
    StructField("valor", DoubleType), StructField("dt_ingestao", TimestampType)))
  private val dimSchema = StructType(Seq(
    StructField("cat", StringType), StructField("grupo", StringType)))

  private def ts(s: String) = Timestamp.valueOf(s)

  private def watermark(control: DataFrame) =
    ControlTable.currentWatermarks(control, "trusted.lancamentos_enriched",
      Seq("raw.lancamentos")).get("raw.lancamentos")

  private def txns(rows: (Long, String, Double, String)*): DataFrame =
    LocalTable.of(spark, txnSchema,
      rows.map { case (i, c, v, t) => Row(i, c, v, ts(t)) })

  private val dim = () => LocalTable.of(spark, dimSchema,
    Seq(Row("mercado", "essencial"), Row("lazer", "supérfluo")))

  /** Concrete transformer: enrich transactions with the category dim and
    * an absolute value — two inputs, one output, a post hook. */
  private class Enricher extends EntityTransformer {
    override val entityName = "trusted.lancamentos_enriched"
    override val inputs = Seq("raw.lancamentos", "ref.categorias")
    override val primaryKey = Seq("id")
    override def transform(dfs: Map[String, DataFrame]): DataFrame =
      dfs("raw.lancamentos").join(broadcast(dfs("ref.categorias")), Seq("cat"), "left")
    override def postTransform(df: DataFrame): DataFrame =
      df.withColumn("valor_abs", abs(col("valor")))
  }

  test("full lifecycle: incremental load → transform → merge → watermark; skip on no-news") {
    val target = Files.createTempDirectory("graft-trusted-").toString + "/t"
    val enricher = new Enricher
    val inc = Map("raw.lancamentos" -> "dt_ingestao")

    // run 1: two rows land
    var source = txns((1L, "mercado", -50.0, "2025-01-01 10:00:00"),
      (2L, "lazer", -30.0, "2025-01-01 11:00:00"))
    def resolve(name: String): DataFrame =
      if (name == "raw.lancamentos") source else dim()
    val r1 = TrustedLoad.run(enricher, resolve, ControlTable.empty(spark), inc,
      "dt_ingestao", target, ts("2025-01-02 00:00:00"))
    assert(!r1.skipped && r1.rows === 2)
    val t1 = spark.read.parquet(target)
    assert(t1.count() === 2)
    assert(t1.filter(col("id") === 1).select("grupo", "valor_abs").collect()(0)
      .toSeq === Seq("essencial", 50.0))
    assert(watermark(r1.control) === Some(ts("2025-01-01 11:00:00")))

    // run 2: nothing newer than the watermark → P13 skip, control unchanged
    val r2 = TrustedLoad.run(enricher, resolve, r1.control, inc,
      "dt_ingestao", target, ts("2025-01-03 00:00:00"))
    assert(r2.skipped && r2.rows === 0)
    assert(spark.read.parquet(target).count() === 2)

    // run 3: a correction to id=2 (newer version) + a new row
    source = txns((2L, "lazer", -35.0, "2025-01-04 09:00:00"),
      (3L, "mercado", -20.0, "2025-01-04 10:00:00"),
      (1L, "mercado", -50.0, "2024-12-31 00:00:00")) // older than watermark: filtered
    val r3 = TrustedLoad.run(enricher, resolve, r2.control, inc,
      "dt_ingestao", target, ts("2025-01-05 00:00:00"))
    assert(!r3.skipped && r3.rows === 2)
    val t3 = spark.read.parquet(target)
    assert(t3.count() === 3)
    assert(t3.filter(col("id") === 2).select("valor").collect()(0).getDouble(0) === -35.0)
    assert(watermark(r3.control) === Some(ts("2025-01-04 10:00:00")))
  }

  test("in-batch duplicates dedup by version before the merge") {
    val target = Files.createTempDirectory("graft-trusted-dd-").toString + "/t"
    val enricher = new Enricher
    val source = txns(
      (7L, "mercado", -10.0, "2025-02-01 08:00:00"),
      (7L, "mercado", -12.0, "2025-02-01 09:00:00")) // same PK, newer version
    val r = TrustedLoad.run(enricher,
      n => if (n == "raw.lancamentos") source else dim(),
      ControlTable.empty(spark), Map("raw.lancamentos" -> "dt_ingestao"),
      "dt_ingestao", target, ts("2025-02-02 00:00:00"))
    assert(r.rows === 1)
    assert(spark.read.parquet(target).select("valor").collect()(0).getDouble(0) === -12.0)
  }

  test("the empty guard skips only when every incremental input is empty") {
    val union = new EntityTransformer {
      override val entityName = "trusted.union"
      override val inputs = Seq("a", "b")
      override val primaryKey = Seq("id")
      override def transform(dfs: Map[String, DataFrame]): DataFrame =
        dfs("a").unionByName(dfs("b"))
    }
    def load(a: DataFrame, b: DataFrame) = TrustedLoad.run(union, Map("a" -> a, "b" -> b),
      ControlTable.empty(spark), Map("a" -> "dt_ingestao", "b" -> "dt_ingestao"),
      "dt_ingestao", Files.createTempDirectory("graft-trusted-guard-").toString + "/t",
      ts("2025-04-02 00:00:00"))
    assert(load(txns(), txns()).skipped)
    val r = load(txns(), txns((1L, "mercado", -1.0, "2025-04-01 00:00:00")))
    assert(!r.skipped && r.rows === 1)
  }

  test("null-ts rows with no watermark yet still load; the watermark stays unset") {
    val target = Files.createTempDirectory("graft-trusted-null-").toString + "/t"
    val enricher = new Enricher
    val source = LocalTable.of(spark, txnSchema, Seq(
      Row(1L, "mercado", -5.0, null), Row(2L, "lazer", -6.0, null)))
    val r = TrustedLoad.run(enricher,
      n => if (n == "raw.lancamentos") source else dim(),
      ControlTable.empty(spark), Map("raw.lancamentos" -> "dt_ingestao"),
      "dt_ingestao", target, ts("2025-03-02 00:00:00"))
    assert(!r.skipped && r.rows === 2)
    assert(spark.read.parquet(target).count() === 2)
    assert(watermark(r.control) === None)
  }

  test("one watermark read serves every incremental input") {
    val union = new EntityTransformer {
      override val entityName = "trusted.union"
      override val inputs = Seq("a", "b", "c")
      override val primaryKey = Seq("id")
      override def transform(dfs: Map[String, DataFrame]): DataFrame =
        dfs("a").unionByName(dfs("b")).unionByName(dfs("c"))
    }
    val target = Files.createTempDirectory("graft-trusted-jobs-").toString + "/t"
    val inc = union.inputs.map(_ -> "dt_ingestao").toMap
    def batch(day: Int) = union.inputs.zipWithIndex.map { case (n, i) =>
      n -> txns((day * 10L + i, "mercado", -1.0, f"2025-05-$day%02d 0$i:00:00"))
    }.toMap
    val r1 = TrustedLoad.run(union, batch(1), ControlTable.empty(spark), inc,
      "dt_ingestao", target, ts("2025-05-01 12:00:00"))
    val (r2, jobs) = JobCounter.jobs(spark)(TrustedLoad.run(union, batch(2), r1.control,
      inc, "dt_ingestao", target, ts("2025-05-02 12:00:00")))
    assert(!r2.skipped && r2.rows === 3)
    // one watermark collect, one fresh max/count aggregate per input,
    // the dedup count and the MERGE
    assert(jobs === 15)
    assert(ControlTable.currentWatermarks(r2.control, union.entityName, union.inputs) ===
      Map("a" -> ts("2025-05-02 00:00:00"), "b" -> ts("2025-05-02 01:00:00"),
        "c" -> ts("2025-05-02 02:00:00")))
  }
}
