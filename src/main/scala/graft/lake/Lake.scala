package graft.lake

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Lineage

/** Medallion-lake table operations re-expressed Spark-first (SURVEY §2.1,
  * §2.2, §2.5): dedup-by-rank, schema evolution, MERGE-shaped upsert,
  * idempotent delete+append, ingestion lineage columns.
  *
  * The reference implements these against Iceberg SQL
  * (datatrack_spark_utils.py); no table-format jar ships in this
  * environment, so the same semantics are realized as pure DataFrame
  * rewrites. All of them are partition-friendly: joins are key-equi
  * (shuffle once on the key), window dedup shuffles once on the dedup key,
  * and nothing ever collects to the driver.
  */
object Lake {

  /** W1 — `remover_duplicados` (datatrack_spark_utils.py:51-95): keep the
    * first row per key ranked by `orderCol` DESC; with no order column,
    * degrade to `dropDuplicates` exactly like the reference degrades to
    * DISTINCT-by-key. */
  def dedupByKeys(df: DataFrame, keys: Seq[String],
      orderCol: Option[String] = None,
      tiebreak: Seq[String] = Nil): DataFrame = orderCol match {
    case None => df.dropDuplicates(keys)
    case Some(oc) =>
      val ordering = (col(oc).desc +: tiebreak.map(col(_).desc))
      val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
  }

  /** Schema evolution — `evoluir_schema` (datatrack_spark_utils.py:221-302):
    * backfill columns missing from the source with typed NULLs and project
    * to the destination column order. (The reference's other half — ALTER
    * TABLE ADD COLUMN on the destination — is a catalog DDL concern that
    * maps to `spark.sql` when a catalog table is the target.) */
  def conformToSchema(src: DataFrame, dest: StructType): DataFrame = {
    val have = src.columns.toSet
    val withMissing = dest.fields.foldLeft(src) { (df, f) =>
      if (have.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }
    withMissing.select(dest.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** S10/J2 — MERGE INTO semantics without a table format
    * (datatrack_spark_utils.py:306-362): full-outer join on the key list;
    * source row wins when it is newer (strictly greater `versionCol`),
    * unmatched source rows are inserted, unmatched target rows survive.
    * One shuffle on the key columns; with a pre-bucketed target this is
    * co-located at scale. */
  def mergeUpsert(target: DataFrame, source: DataFrame, keys: Seq[String],
      versionCol: String): DataFrame = {
    require(target.columns.sameElements(source.columns),
      "mergeUpsert expects schema-aligned inputs; run conformToSchema first")
    val srcPfx = "__src_"
    val renamedSrc = source.columns.foldLeft(source)(
      (df, c) => df.withColumnRenamed(c, srcPfx + c))
    val joinCond = keys.map(k => col(k) === col(srcPfx + k)).reduce(_ && _)
    val joined = target.join(renamedSrc, joinCond, "full_outer")
    val srcMatched = col(srcPfx + keys.head).isNotNull
    val tgtMatched = col(keys.head).isNotNull
    val srcWins = srcMatched &&
      (!tgtMatched || col(srcPfx + versionCol) > col(versionCol))
    val outCols = target.columns.map { c =>
      when(srcWins, col(srcPfx + c)).otherwise(col(c)).as(c)
    }
    joined.select(outCols.toIndexedSeq: _*)
  }

  /** SCD Type-2 dimension merge — the slowly-changing-dimension verb the
    * reference's MERGE family stops short of (its upsert overwrites
    * history; SCD2 KEEPS it): each update whose tracked attributes
    * differ from the key's current open row closes that row
    * (`eff_to = effTs`, `is_current = false`) and opens a new version;
    * unchanged updates are no-ops; unknown keys open new rows; closed
    * history passes through untouched.
    *
    * `current` carries `keys ++ trackedCols ++ (eff_from, eff_to,
    * is_current)`; `updates` carries `keys ++ trackedCols`. Change
    * detection is null-safe (`<=>`). Scale shape: ONE full-outer
    * key-equi shuffle between the open slice and the batch (the
    * mergeUpsert shape) — history never joins anything, and the three
    * output slices are projections of that one join, unioned. */
  def scdType2Merge(current: DataFrame, updates: DataFrame, keys: Seq[String],
      trackedCols: Seq[String], effTs: Column): DataFrame = {
    val metaCols = Seq("eff_from", "eff_to", "is_current")
    require(metaCols.forall(current.columns.contains),
      s"current must carry ${metaCols.mkString(", ")}")
    val hist = current.filter(!col("is_current"))
    val open = current.filter(col("is_current"))
    val pfx = "__u_"
    val u = trackedCols.foldLeft(
      updates.select((keys ++ trackedCols).map(col): _*)
        .withColumn(pfx + "present", lit(true)))(
      (df, c) => df.withColumnRenamed(c, pfx + c))
    val joined = open.join(u, keys, "full_outer")
    val hasOpen = col("is_current").isNotNull
    val hasUpd = col(pfx + "present").isNotNull
    val changed = trackedCols
      .map(c => !(col(c) <=> col(pfx + c))).reduce(_ || _)
    val openCols = (keys ++ trackedCols ++ metaCols).map(col)
    val keepOpen = joined
      .filter(hasOpen && (!hasUpd || !changed))
      .select(openCols: _*)
    val closedOld = joined
      .filter(hasOpen && hasUpd && changed)
      .select((keys ++ trackedCols).map(col) ++ Seq(col("eff_from"),
        effTs.cast(current.schema("eff_to").dataType).as("eff_to"),
        lit(false).as("is_current")): _*)
    val newOpen = joined
      .filter(hasUpd && (!hasOpen || changed))
      .select(keys.map(col) ++ trackedCols.map(c => col(pfx + c).as(c)) ++ Seq(
        effTs.cast(current.schema("eff_from").dataType).as("eff_from"),
        lit(null).cast(current.schema("eff_to").dataType).as("eff_to"),
        lit(true).as("is_current")): _*)
    hist.select(openCols: _*)
      .unionByName(keepOpen).unionByName(closedOld).unionByName(newOpen)
  }

  /** I2 — idempotent per-source-file reload (forms_main.py:401-423):
    * DELETE FROM t WHERE lineage = key, then append the fresh parse. */
  def deleteByKeyAppend(table: DataFrame, fresh: DataFrame,
      lineageCol: String, lineageValue: String): DataFrame =
    table.filter(col(lineageCol) =!= lineageValue || col(lineageCol).isNull)
      .unionByName(fresh, allowMissingColumns = true)

  /** I2, set-valued: displace every lineage key present in `fresh` via a
    * left-anti join against its distinct keys — no driver action in the
    * middle of the DAG, and one call handles a multi-file reload. The
    * anti-join side is a per-file key set, so it broadcasts. */
  def deleteByKeysAppend(table: DataFrame, fresh: DataFrame,
      lineageCol: String): DataFrame = {
    val keys = broadcast(fresh.select(lineageCol).distinct())
    table.join(keys, Seq(lineageCol), "left_anti")
      .unionByName(fresh, allowMissingColumns = true)
  }

  /** P9 — ingestion lineage/partition columns (etls_raw/main.py:300-315):
    * a fixed ingestion timestamp fans out to date/year/month/day partition
    * columns. `ts` is passed in (never `current_timestamp`) so reruns are
    * deterministic and testable. One `withColumns`, so one analysis; the
    * columns land in this order, which raw appends depend on. */
  def withIngestionColumns(df: DataFrame, ts: java.sql.Timestamp): DataFrame = {
    val t = lit(ts)
    df.withColumns(ListMap(
      "ingestao_timestamp" -> t,
      "ingestao_date" -> to_date(t),
      "ingestao_year" -> year(t),
      "ingestao_month" -> month(t),
      "ingestao_day" -> dayofmonth(t)))
  }

  /** Snapshot diff — the audit/CDC primitive the reference's Iceberg
    * snapshots imply but never materialize (datatrack_spark_utils.py keeps
    * snapshot history via expire_snapshots; diffing two of them is how a
    * lake answers "what changed between loads"). Emits one row per key
    * that was `added`, `removed` or `changed` between `oldDf` and `newDf`
    * (identical rows emit nothing — the 100 TB common case, so the output
    * is O(churn), not O(table)); `changed_cols` is the comma-joined list
    * of differing non-key columns in schema order, NULL-safely compared
    * (`<=>`, so NULL→value and value→NULL count as changes and NULL==NULL
    * does not).
    *
    * Scale shape: one full-outer sort-merge join on the key — both sides
    * are table-sized so neither broadcasts, and with both snapshots
    * bucketed on the key the exchange disappears entirely. The comparison
    * itself is a codegen'd projection; nothing collects.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(oldDf.columns.sameElements(newDf.columns),
      "snapshotDiff expects schema-aligned snapshots; run conformToSchema first")
    require(keys.nonEmpty && keys.forall(oldDf.columns.contains),
      s"keys ${keys.mkString(",")} must exist in the snapshots")
    val nonKey = oldDf.columns.filterNot(keys.contains).toIndexedSeq
    val o = oldDf.select(
      (keys.map(col) ++ nonKey.map(c => col(c).as(s"__old_$c")) :+
        lit(true).as("__old_present")).toIndexedSeq: _*)
    val n = newDf.select(
      (keys.map(col) ++ nonKey.map(c => col(c).as(s"__new_$c")) :+
        lit(true).as("__new_present")).toIndexedSeq: _*)
    val joined = o.join(n, keys, "full_outer")
    val anyDiff = nonKey.map(c => !(col(s"__old_$c") <=> col(s"__new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val changedCols = concat_ws(",", nonKey.map(c =>
      when(!(col(s"__old_$c") <=> col(s"__new_$c")), lit(c))): _*)
    joined
      .withColumn("change",
        when(col("__old_present").isNull, lit("added"))
          .when(col("__new_present").isNull, lit("removed"))
          .when(anyDiff, lit("changed")))
      .filter(col("change").isNotNull)
      .withColumn("changed_cols",
        when(col("change") === "changed", changedCols))
      .select((keys.map(col) :+ col("change") :+ col("changed_cols"))
        .toIndexedSeq: _*)
  }

  /** I1 — high-watermark incremental filter (datatrack_spark_utils.py:
    * 118-188): rows strictly newer than the last watermark; partition- and
    * pushdown-prunable because it is a plain range predicate. */
  def incrementalAfter(df: DataFrame, tsCol: String, watermark: Column): DataFrame =
    df.filter(col(tsCol) > watermark)

  /** New watermark after a load (datatrack_spark_utils.py:185-186). */
  def maxWatermark(df: DataFrame, tsCol: String): DataFrame =
    df.agg(max(col(tsCol)).as("last_dt_ingestao"))

  /** Morton/Z-order clustering key over two numeric dimensions — the
    * multi-dimensional data-LAYOUT half of the scan story (the reference's
    * Iceberg tables get this from `rewrite_data_files(strategy =>
    * 'sort')`; here it is a pure column + write recipe): each dimension
    * is equi-width-bucketed into 2^bits cells over its own global
    * min/max (the q67 histogram mechanism), and the two cell indexes'
    * bits are interleaved so rows close in BOTH dimensions get close
    * z-values. Files written in z-order then carry tight parquet
    * row-group min/max ranges on BOTH columns — a range predicate on
    * EITHER dimension skips most row groups at scan time, where a
    * single-column sort layout only ever skips on its one sort key.
    * At 100 TB this is the difference between a point-ish query reading
    * ~√F of F files and reading all of them.
    *
    * NULLs in either dimension produce a NULL z-value (range partitioning
    * groups them together — they cluster into their own files). Adds
    * `__z`; callers drop it after layout. */
  def zorderBy(df: DataFrame, c1: String, c2: String,
      bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 20, "bits must be in [1, 20]")
    val cells = 1L << bits
    val bounds = df.agg(
      min(col(c1)).cast("double").as("__lo1"),
      max(col(c1)).cast("double").as("__hi1"),
      min(col(c2)).cast("double").as("__lo2"),
      max(col(c2)).cast("double").as("__hi2"))
    def cellOf(c: Column, lo: Column, hi: Column): Column =
      // the explicit NULL head matters: greatest/least SKIP nulls, so
      // without it a NULL dimension would silently clamp to cell 0
      // instead of propagating to a NULL z-value
      when(c.isNull, lit(null).cast("long"))
        .when(lo.isNull || hi === lo, lit(0L))
        .otherwise(least(lit(cells - 1), greatest(lit(0L),
          floor((c.cast("double") - lo) / ((hi - lo) / cells)).cast("long"))))
    val ca = cellOf(col(c1), col("__lo1"), col("__hi1"))
    val cb = cellOf(col(c2), col("__lo2"), col("__hi2"))
    // bit i of cell A lands at 2i ((a & 2^i) << i), of cell B at 2i+1 —
    // a static 2·bits-term OR tree, fully inside whole-stage codegen
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(ca.bitwiseAND(lit(1L << i)), i))
        .bitwiseOR(shiftleft(cb.bitwiseAND(lit(1L << i)), i + 1))
    }
    df.crossJoin(broadcast(bounds))
      .withColumn("__z", z)
      .drop("__lo1", "__hi1", "__lo2", "__hi2")
  }

  /** Write `df` as `numFiles` parquet files clustered by the z-order of
    * (c1, c2): range-partition on the z-value (contiguous z-ranges per
    * file — the 2-D grid tiling), sort within each file so row groups
    * and pages inherit the locality too. Contents are byte-identical to
    * a plain write — only the LAYOUT changes, which is what makes this
    * safe to run as online table maintenance (the compact() posture). */
  def zorderWrite(df: DataFrame, path: String, c1: String, c2: String,
      numFiles: Int, bits: Int = 16): Unit = {
    require(numFiles >= 1, "numFiles must be positive")
    // lazy shared-RDD cut: repartitionByRange plans a range-boundary
    // SAMPLING pass over its child, so without the cut the scan + bounds
    // join + z computation run THREE times (sampling, exchange, and the
    // bounds job) — the cut computes the skinny (cols, __z) table once
    // and both the sampler and the write exchange read its blocks
    // (guide §2.1: remove recomputation before tuning it). The cache is
    // proportional to the table being rewritten — the same order of
    // storage the rewrite itself is about to produce, so the trade holds
    // at any scale (2 saved corpus passes for 1 cached projection).
    // Range boundaries may land differently than an uncached sample run
    // (sampling seeds derive from RDD ids) — file SPLIT POINTS are
    // sampling-dependent either way; row contents and the clustering
    // property are not.
    Lineage.cut(zorderBy(df, c1, c2, bits), eager = false)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
