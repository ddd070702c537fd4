package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.HadoopFSUtils

/** Driver-side schema resolution for self-describing inputs. Spark infers
  * a parquet schema in a `parallelize(…).collect()` footer job, even for
  * one file, and a multiLine CSV header in a `take(1)` job; a caller that
  * reads with the schema resolved here (`.schema(…)`) opens the input
  * without a job. Each resolver runs the steps Spark's inference runs,
  * under the same session confs, so the schema is the one Spark would
  * infer; an input whose inference depends on more than one file's
  * content answers `None`, and the caller keeps Spark's own inference.
  * The footer readers are `private[parquet]`, hence the package. */
object GraftSchemaBridge {

  private def session(spark: SparkSession) = spark.asInstanceOf[classic.SparkSession]

  /** The schema `spark.read.parquet(path)` infers for a single parquet
    * file: its footer through Spark's own converter, so `nanosAsLong`,
    * INT96 and binary-as-string come out as Spark reads them. `None` for
    * a directory, whose partition columns come from path discovery. */
  def parquetSchema(spark: SparkSession, path: String): Option[StructType] = {
    val s = session(spark)
    val conf = s.sessionState.newHadoopConf()
    status(conf, path).filterNot(_._2.isDirectory).flatMap { case (_, file) =>
      ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
        conf, Seq(file), s.sessionState.conf.ignoreCorruptFiles), s)
    }
  }

  /** The all-string schema `spark.read.options(options).csv(path)` infers
    * for a multiLine CSV with a header: the first record through the
    * parser settings, tokenizer and header cleanup that
    * `MultiLineCSVDataSource.infer` runs inside its job. A directory
    * resolves when every data file in it starts with the same header.
    * `None` for any other read (no header, single-line, type inference,
    * nested directories, differing headers, no non-empty file). */
  def csvHeader(spark: SparkSession, path: String,
      options: Map[String, String]): Option[StructType] = {
    val state = session(spark).sessionState
    val sqlConf = state.conf
    val parsed = new CSVOptions(options, sqlConf.csvColumnPruning,
      sqlConf.sessionLocalTimeZone, sqlConf.columnNameOfCorruptRecord)
    if (!parsed.multiLine || !parsed.headerFlag || parsed.inferSchemaFlag) return None
    val conf = state.newHadoopConfWithOptions(options)
    val files: Seq[FileStatus] = status(conf, path).toSeq.flatMap { case (fs, root) =>
      if (!root.isDirectory) Seq(root)
      else fs.listStatus(root.getPath).toSeq
        .filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
    }
    if (files.exists(_.isDirectory)) return None
    files.flatMap(f => firstRecord(conf, f.getPath, parsed)).map(_.toSeq).distinct match {
      case Seq(header) =>
        val names = CSVUtils.makeSafeHeader(header.toArray, sqlConf.caseSensitiveAnalysis, parsed)
        Some(StructType(names.map(StructField(_, StringType)).toSeq))
      case _ => None
    }
  }

  /** `path`'s file system and status; `None` for a path that names no
    * file (a glob, a missing path), which Spark's own read resolves or
    * reports. */
  private def status(conf: Configuration, path: String): Option[(FileSystem, FileStatus)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    try Some(fs -> fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }
  }

  private def firstRecord(conf: Configuration, path: Path,
      parsed: CSVOptions): Option[Array[String]] = {
    val in = CodecStreams.createInputStream(conf, path)
    try {
      val records = UnivocityParser.tokenizeStream(in, shouldDropHeader = false,
        new CsvParser(parsed.asParserSettings), parsed.charset)
      if (records.hasNext) Some(records.next()) else None
    } finally in.close()
  }
}
