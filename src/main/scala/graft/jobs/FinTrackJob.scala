package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.LocalTable
import graft.lake.Lake
import graft.sources.Sources

/** End-to-end re-expression of the reference's forms pipeline + analytics
  * pair as ONE composable job (SURVEY §3.2 + §3.3, the "minimum slice" of
  * §7.2): landing CSV → idempotent RAW load → monthly category summary →
  * budget-vs-actual comparison → CSV reports.
  *
  * Everything is a DataFrame transform — the whole job is a single lazy
  * DAG until the report writes; nothing ever collects rows to the driver.
  */
object FinTrackJob {

  /** Landing forms CSV → RAW with lineage + ingestion partition columns,
    * idempotent per landing file (forms_main.py:334-425: DELETE by
    * landing_object_key, then append). */
  def formsToRaw(spark: SparkSession, csvPath: String, clientSlug: String,
      existingRaw: Option[DataFrame], ingestedAt: java.sql.Timestamp): DataFrame = {
    val fresh = Lake.withIngestionColumns(
      Sources.readFormsCsv(spark, csvPath, clientSlug), ingestedAt)
    existingRaw match {
      case None => fresh
      case Some(raw) =>
        Lake.deleteByKeysAppend(raw, fresh, "landing_object_key")
    }
  }

  /** monthly_by_category (monthly_summary.py:31-39): totals per categoria,
    * descending. */
  def monthlySummary(raw: DataFrame): DataFrame =
    raw.groupBy(col("categoria"))
      .agg(round(sum(col("valor")), 2).as("total"))
      .orderBy(col("total").desc, col("categoria").asc)

  /** Budget ⟗ actual comparison (compare_budget.py:32-98): category
    * exclusion, zero-fill, overrun status, pct, overrun-first ordering. */
  def compareBudget(actual: DataFrame, budget: Seq[(String, Double)],
      excludedCategories: Seq[String] = Seq("Financeiro")): DataFrame = {
    val b = LocalTable.stringDouble(actual.sparkSession, "b_categoria", "orcado", budget)
    val a = actual
      .filter(!col("categoria").isin(excludedCategories: _*))
      .select(col("categoria").as("a_categoria"), col("total").as("realizado"))
    val orcado    = coalesce(col("orcado"), lit(0.0))
    val realizado = coalesce(col("realizado"), lit(0.0))
    val diff      = round(realizado - orcado, 2)
    b.join(a, col("b_categoria") === col("a_categoria"), "full_outer")
      .select(
        coalesce(col("b_categoria"), col("a_categoria")).as("categoria"),
        orcado.as("orcado"),
        realizado.as("realizado"),
        col("orcado").isNull.as("sem_orcamento"),
        diff.as("diferenca"),
        when(diff <= 0, "OK").otherwise("ESTOURO").as("status"),
        when(col("orcado") > 0, round(diff / col("orcado") * 100, 4)).as("pct_esto"))
      .orderBy(greatest(col("diferenca"), lit(0.0)).desc, col("realizado").desc)
  }

  /** CSV report sink (S15 — monthly_summary.py:39-73 writes per-report
    * CSVs; single file per report like the reference's to_csv). */
  def writeReports(dir: String, reports: (String, DataFrame)*): Unit =
    reports.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$dir/$name")
    }
}
