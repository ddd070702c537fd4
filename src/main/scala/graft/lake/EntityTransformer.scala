package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Lineage

/** The reference's trusted-layer transformer abstraction
  * (base_entity_transformer.py:14-63): a multi-input → single-output
  * entity transform with pre/transform/post hooks, plus the write
  * contract (primary key, partition column) the loader needs. Concrete
  * transformers implement `transform`; the hooks default to identity
  * (base_entity_transformer_simple.py's pass-through variant is just
  * this trait with the defaults). */
trait EntityTransformer {
  /** Entity name, e.g. "fintrack_trusted.lancamentos" — the control
    * table's `entidade_trusted`. */
  def entityName: String
  /** Input table names (resolved to DataFrames by the runner). */
  def inputs: Seq[String]
  /** MERGE/dedup key of the output entity. */
  def primaryKey: Seq[String]
  /** Output partition column, if partitioned. */
  def partitionCol: Option[String] = None

  def preTransform(dfs: Map[String, DataFrame]): Map[String, DataFrame] = dfs
  def transform(dfs: Map[String, DataFrame]): DataFrame
  def postTransform(df: DataFrame): DataFrame = df
}

/** The trusted-load lifecycle around an [[EntityTransformer]] — the
  * composition the reference wires in datatrack_spark_utils.py:118-218 +
  * base_entity_transformer.py (SURVEY §3.3 "honorable mention"):
  * control-table incremental read per input → empty guard → pre →
  * transform → post → dedup by PK → version-guarded MERGE into the
  * target → watermark audit append. Every step is one of the engine's
  * proven verbs; this object is only the composition. */
object TrustedLoad {

  /** Outcome: the advanced control table (returned, not persisted — the
    * caller owns control-table storage), whether the run was skipped by
    * the all-inputs-empty guard, and the post-transform row count. */
  final case class LoadResult(control: DataFrame, skipped: Boolean, rows: Long)

  /** Run one trusted load.
    *
    * @param resolve        input name → DataFrame (catalog lookup, parquet
    *                       read — storage-agnostic like the reference's
    *                       spark.table)
    * @param incrementalCol per-input timestamp column for the watermark
    *                       read; inputs absent from the map are loaded in
    *                       full every run (dimension tables)
    * @param versionCol     ordering column for dedup-by-rank and the
    *                       newer-wins MERGE guard
    */
  def run(
      transformer: EntityTransformer,
      resolve: String => DataFrame,
      control: DataFrame,
      incrementalCol: Map[String, String],
      versionCol: String,
      targetPath: String,
      runAt: java.sql.Timestamp): LoadResult = {

    val spark = control.sparkSession

    // 1. incremental read per input (I1): every input's watermark in one
    //    control-table read, strictly-newer rows, then ONE tiny aggregate
    //    per incremental input — max(ts) is the new watermark and count(1)
    //    the emptiness bit the guard reads
    val incrementalInputs = transformer.inputs.filter(incrementalCol.contains)
    val watermarks =
      if (incrementalInputs.isEmpty) Map.empty[String, java.sql.Timestamp]
      else ControlTable.currentWatermarks(control, transformer.entityName, incrementalInputs)
    val loaded: Seq[(String, DataFrame, Option[java.sql.Timestamp], Long)] =
      transformer.inputs.map { name =>
        val df = resolve(name)
        incrementalCol.get(name) match {
          case Some(tsCol) =>
            val wm = watermarks.get(name)
            val (fresh, _) = ControlTable.incrementalLoad(df, tsCol, wm)
            val r = fresh.agg(max(col(tsCol)), count(lit(1))).head()
            // no fresh rows, or only null-ts ones: the watermark stands
            val newWm = if (r.isNullAt(0)) wm else Some(r.getTimestamp(0))
            (name, fresh, newWm, r.getLong(1))
          case None => (name, df, None, 0L)
        }
      }

    // 2. P13 empty guard (datatrack_spark_utils.py:97-99): every
    //    INCREMENTAL input empty → nothing to do (full-load inputs are
    //    reference data, they don't trigger a run)
    val incremental = loaded.filter(t => incrementalCol.contains(t._1))
    if (incremental.nonEmpty && incremental.forall { case (_, _, _, n) => n == 0L }) {
      return LoadResult(control, skipped = true, rows = 0L)
    }

    // 3. the transformer lifecycle: pre → transform → post
    val dfs = loaded.map { case (n, df, _, _) => n -> df }.toMap
    val out = transformer.postTransform(
      transformer.transform(transformer.preTransform(dfs)))

    // 4. W1 dedup within the batch, then version-guarded MERGE upsert.
    //    Materialized once: the row count and the merge both consume the
    //    deduped frame — without the cut the dedup would compute twice
    //    (count job + merge input). LAZY: the count reads every partition,
    //    so it materializes the cut — an eager cut would add a job doing
    //    the same.
    val deduped = Lineage.cut(
      Lake.dedupByKeys(out, transformer.primaryKey, Some(versionCol)), eager = false)
    val rows = deduped.count()
    ParquetTableFormat.merge(spark, targetPath, deduped, transformer.primaryKey,
      versionCol, transformer.partitionCol.toSeq)

    // 5. audit append per incremental input that advanced
    val nextControl = loaded.foldLeft(control) {
      case (ctl, (name, _, Some(newWm), _)) =>
        ControlTable.recordLoad(ctl, transformer.entityName, name, newWm, runAt)
      case (ctl, _) => ctl
    }
    LoadResult(nextControl, skipped = false, rows = rows)
  }
}
