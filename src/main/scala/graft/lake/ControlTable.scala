package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.LocalTable

/** The reference's high-watermark incremental control table (I1,
  * datatrack_spark_utils.py:102-218): one audit row per (trusted entity,
  * input table) carrying the last ingested watermark. Schema matches the
  * reference's explicit StructType (:208-213).
  *
  * Storage-agnostic: the table is passed in/out as a DataFrame; callers
  * persist it wherever the lake lives (partitioned parquet via
  * `sources.Sources.writePartitionedParquet`, or a catalog table). All
  * operations are pure transforms — no driver-side state.
  */
object ControlTable {

  /** `(entidade_trusted, input_table, last_dt_ingestao, last_run)` —
    * datatrack_spark_utils.py:208-213. */
  val schema: StructType = StructType(Seq(
    StructField("entidade_trusted", StringType),
    StructField("input_table", StringType),
    StructField("last_dt_ingestao", TimestampType),
    StructField("last_run", TimestampType)))

  def empty(spark: SparkSession): DataFrame =
    LocalTable.of(spark, schema, Seq.empty[Row])

  /** Last watermark per input for one entity (read path, :118-144):
    * filter by entity + input list, max per input — rows absent mean
    * "never loaded" (caller treats as epoch). */
  def watermarks(control: DataFrame, entity: String,
      inputs: Seq[String]): DataFrame =
    control
      .filter(col("entidade_trusted") === entity &&
        col("input_table").isin(inputs: _*))
      .groupBy(col("input_table"))
      .agg(max(col("last_dt_ingestao")).as("last_dt_ingestao"))

  /** Incremental read of one input (filter-and-load, :146-188): rows
    * strictly newer than the recorded watermark; a missing watermark loads
    * everything. Returns (rows, newWatermark one-row frame). */
  def incrementalLoad(input: DataFrame, tsCol: String,
      watermark: Option[java.sql.Timestamp]): (DataFrame, DataFrame) = {
    val fresh = watermark match {
      case Some(wm) => Lake.incrementalAfter(input, tsCol, lit(wm))
      case None     => input
    }
    (fresh, Lake.maxWatermark(fresh, tsCol))
  }

  /** Append the audit row after a successful load (:192-218). */
  def recordLoad(control: DataFrame, entity: String, inputTable: String,
      newWatermark: java.sql.Timestamp, runAt: java.sql.Timestamp): DataFrame =
    control.unionByName(LocalTable.of(control.sparkSession, schema,
      Seq(Row(entity, inputTable, newWatermark, runAt))))

  /** Current watermark per input for one entity, as a driver-side map
    * (one tiny agg and one collect for every input at once, the only
    * collect in the lifecycle — the reference's `.first()` on the control
    * table); an input never loaded is absent. */
  def currentWatermarks(control: DataFrame, entity: String,
      inputs: Seq[String]): Map[String, java.sql.Timestamp] =
    watermarks(control, entity, inputs).collect()
      .collect { case r if !r.isNullAt(1) => r.getString(0) -> r.getTimestamp(1) }
      .toMap
}
