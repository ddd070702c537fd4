package graft.lake

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The trusted layer's lake table: a plain partitioned parquet
  * directory carrying the reference's lake verbs — create/append
  * (etls_raw/main.py:318-345) and a newer-version-wins MERGE INTO
  * (datatrack_spark_utils.py:306-362) — plus its catalog DDL (external
  * table, MSCK repair, ADD COLUMNS evolution). MERGE is a full rewrite
  * through a temp directory plus rename, so a crashed rewrite never
  * truncates the table (correct, if not snapshot-isolated — exactly the
  * trade the reference's own join-based fallback makes). The ACID format
  * with stats-pruned DELETE, compaction and time travel is [[LogTable]].
  *
  * All filesystem access goes through the Hadoop `FileSystem` API resolved
  * from the table path, so the lake verbs work unchanged against any
  * configured `fs.*` scheme (local, HDFS, s3a object stores — the
  * reference lands everything in MinIO over S3A, etls_raw/main.py:153-248),
  * not just `java.io.File` paths. Note the usual object-store caveat:
  * S3A "rename" is copy+delete, so snapshot archival costs a copy there —
  * the same trade every rename-based committer makes. */
object ParquetTableFormat {

  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  /** Snapshots retained automatically after each rewrite; older ones are
    * reclaimed inline so long-running merge loops can't grow the
    * table's footprint without bound. */
  val autoRetainSnapshots = 2

  private def fsOf(path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(conf), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsOf(path)
    fs.exists(p)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The reference's file-layout posture for lake tables: zstd
    * compression and a bounded record count per data file
    * (spark-defaults-production.conf:60-61 zstd;
    * datatrack_spark_utils.py:402-413 256 MB targets / ≤1M rows per
    * file). Applied per-write so engine defaults stay untouched. */
  private def layoutWriter(df: DataFrame) =
    df.write
      .option("compression", "zstd")
      .option("maxRecordsPerFile", 1000000L)

  /** First write creates, later writes append. */
  def createOrAppend(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    val w = layoutWriter(df).mode(SaveMode.Append)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  private val SnapshotSuffix = ".__snapshot_"

  /** Snapshot directories for `path`, oldest → newest. */
  private[graft] def listSnapshots(path: String): Seq[HPath] = {
    val (fs, p) = fsOf(path)
    val parent = Option(p.getParent).getOrElse(new HPath("."))
    val prefix = p.getName + SnapshotSuffix
    if (!fs.exists(parent)) Seq.empty
    else fs.listStatus(parent).toIndexedSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath)
      .sortBy(_.getName)
  }

  /** Every rewrite archives the replaced table dir as the next numbered
    * snapshot (a rename, so it costs nothing on a rename-capable FS) —
    * the parquet analogue of a format snapshot: the replaced table stays
    * readable until expiry reclaims the space, and a crashed rewrite
    * never truncates the live table. Snapshots beyond
    * [[autoRetainSnapshots]] are expired inline. */
  private def rewrite(spark: SparkSession, path: String, next: DataFrame,
      partitionCols: Seq[String]): Unit = {
    val tmp = path + ".__rewrite_tmp"
    val w = layoutWriter(next).mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(tmp)
    val (fs, dir) = fsOf(path)
    val nextIdx = listSnapshots(path).lastOption
      .map(_.getName.split(SnapshotSuffix.replace(".", "\\.")).last.toInt + 1)
      .getOrElse(0)
    val snap = new HPath(f"$path$SnapshotSuffix$nextIdx%05d")
    if (fs.exists(dir) && !fs.rename(dir, snap))
      throw new java.io.IOException(s"rewrite: cannot move $path aside")
    if (!fs.rename(new HPath(tmp), dir))
      throw new java.io.IOException(s"rewrite: cannot promote $tmp")
    expireSnapshots(path, autoRetainSnapshots)
  }

  /** Drop all but the newest `retainLast` snapshots
    * (expire_snapshots(retain_last=…), datatrack_spark_utils.py:756-768). */
  private[graft] def expireSnapshots(path: String, retainLast: Int): Unit = {
    require(retainLast >= 0)
    val (fs, _) = fsOf(path)
    listSnapshots(path).dropRight(retainLast)
      .foreach(p => fs.delete(p, true))
  }

  /** S12 — external-table DDL over an existing parquet directory + MSCK
    * partition recovery (datatrack_spark_utils.py:627-680): the files are
    * the table; the catalog entry just points at them. Uses native
    * `USING PARQUET` DDL (the `STORED AS` Hive form needs Hive support). */
  def createExternalTable(spark: SparkSession, table: String, path: String): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table USING PARQUET LOCATION '$path'")
    // MSCK only applies to partitioned tables (unpartitioned ones reject it)
    if (spark.catalog.listColumns(table).filter(_.isPartition).count() > 0)
      spark.sql(s"MSCK REPAIR TABLE $table")
    spark.table(table)
  }

  /** Re-sync the catalog after files landed behind its back — the
    * MSCK REPAIR step of the reference's DDL path. */
  def repairTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"MSCK REPAIR TABLE $table")
    spark.catalog.refreshTable(table)
  }

  /** Destination-side schema evolution (the ALTER half of the
    * reference's evoluir_schema, datatrack_spark_utils.py:221-302 —
    * `Lake.conformToSchema` is the source half): ADD COLUMNS for every
    * source field the catalog table lacks. Returns the added names.
    * Type changes are rejected loudly — silent coercion corrupts lakes. */
  def evolveTable(spark: SparkSession, table: String,
      source: org.apache.spark.sql.types.StructType): Seq[String] = {
    val existing = spark.table(table).schema
    val byName = existing.fields.map(f => f.name -> f.dataType).toMap
    source.fields.foreach { f =>
      byName.get(f.name).foreach { t =>
        require(t == f.dataType,
          s"evolveTable: column ${f.name} is $t in $table but ${f.dataType} in source")
      }
    }
    val missing = source.fields.filter(f => !byName.contains(f.name))
    if (missing.nonEmpty) {
      val cols = missing.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      spark.sql(s"ALTER TABLE $table ADD COLUMNS ($cols)")
      spark.catalog.refreshTable(table)
    }
    missing.map(_.name).toIndexedSeq
  }

  /** MERGE INTO on `keys` through [[Lake.mergeUpsert]] (a source row wins
    * only when its `versionCol` is newer), then one rewrite. The merge
    * needs no cut: the rewrite finishes writing it to a temp directory,
    * reading the live table to the end, before it moves the table aside. */
  def merge(spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String], versionCol: String, partitionCols: Seq[String]): Unit = {
    if (!exists(spark, path)) { createOrAppend(source, path, partitionCols); return }
    val target = read(spark, path).select(source.columns.map(col).toIndexedSeq: _*)
    rewrite(spark, path, Lake.mergeUpsert(target, source, keys, versionCol), partitionCols)
  }
}
