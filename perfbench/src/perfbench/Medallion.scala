package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.jobs.FinTrackJob
import graft.lake.{ControlTable, EntityTransformer, Lake, TrustedLoad}
import graft.parse.ParsePipeline
import graft.sources.Sources

/** One monthly batch of the landing tree, as staged by `gen.py`. */
final case class Batch(dir: String, year: Int, month: Int, bytes: Long)

/** What one timed batch did. `txns` is the trusted rows it committed;
  * the byte and file counts are only measured in traced passes. */
final case class BatchResult(seconds: Double, txns: Long, newBytes: Long,
    pdfs: Long = 0L, trustedBytes: Long = 0L, trustedFiles: Long = 0L)

/** The trusted transactions entity: every raw input projected onto one
  * schema, keyed by a content hash. PDF rows are keyed by their landing
  * file, forms rows by what the submitter typed (the monthly forms exports
  * repeat earlier rows, which must collapse). */
object Transactions extends EntityTransformer {
  val entityName = "fintrack_trusted.lancamentos"
  val inputs: Seq[String] =
    Seq("bb_faturas", "bb_extratos", "bradesco_faturas", "bradesco_extratos", "forms")
  val primaryKey: Seq[String] = Seq("txn_id")
  override val partitionCol: Option[String] = Some("fonte")

  private def key(parts: Column*): Column =
    sha2(concat_ws("\u0001", parts.map(p => coalesce(p.cast("string"), lit("\u0000"))): _*), 256)

  private val clientOfKey =
    regexp_extract(col("landing_object_key"), "/01_clientes/([^/]+)/", 1)

  private def project(fonte: String, df: DataFrame, client: Column, data: Column,
      descricao: Column, categoria: Column, keyParts: Seq[Column]): DataFrame =
    df.select(
      key(lit(fonte) +: keyParts: _*).as("txn_id"),
      lit(fonte).as("fonte"),
      client.as("client_slug"),
      col("landing_object_key"),
      data.cast("string").as("data"),
      descricao.as("descricao"),
      col("valor").cast("double").as("valor"),
      coalesce(categoria, lit("Sem categoria")).as("categoria"),
      col("ingestao_timestamp"))

  def transform(dfs: Map[String, DataFrame]): DataFrame = {
    val lk = col("landing_object_key")
    Seq(
      project("bb_fatura", dfs("bb_faturas"), clientOfKey, col("data"),
        col("descricao"), col("categoria"),
        Seq(lk, col("final_cartao"), col("data"), col("descricao"), col("valor"))),
      project("bb_extrato", dfs("bb_extratos"), clientOfKey, col("data"),
        coalesce(col("historico_full"), col("historico")), col("grupo"),
        Seq(lk, col("data"), col("documento"), col("historico_full"), col("valor"))),
      project("bradesco_fatura", dfs("bradesco_faturas"), clientOfKey, col("data"),
        col("descricao"), lit("Fatura Bradesco"),
        Seq(lk, col("cartao_final"), col("data"), col("descricao"), col("valor"))),
      project("bradesco_extrato", dfs("bradesco_extratos"), clientOfKey, col("data"),
        concat_ws(" ", col("historico"), col("complemento")), lit("Extrato Bradesco"),
        Seq(lk, col("data"), col("documento"), col("historico"), col("valor"),
          col("saldo"))),
      project("forms", dfs("forms"), col("client_slug"), col("data_pagamento"),
        col("descricao"), col("categoria"),
        Seq(col("client_slug"), col("carimbo"), col("lancado_por"),
          col("data_pagamento"), col("vencimento"), col("descricao"), col("valor")))
    ).reduce(_ unionByName _)
  }
}

/** The reference pipeline, one monthly batch at a time: landing scan and
  * PDF extraction, the four parsers into raw, forms into raw, the trusted
  * load, and the reports. Each step is a span of the module it calls. */
final class Medallion(spark: SparkSession, tracer: Tracer, stageDir: String,
    val batches: Seq[Batch]) {

  val budget: Seq[(String, Double)] = Seq(
    "Alimentação" -> 3000.0, "Transporte" -> 800.0, "Saúde" -> 600.0,
    "Fatura Bradesco" -> 20000.0, "1. Alimentação" -> 2000.0,
    "99. Inexistente" -> 50.0)

  private val rawTables = Transactions.inputs
  // schema of each raw table as last appended, for months in which a
  // document kind did not land and the append wrote no data files
  private val rawSchemas = mutable.HashMap.empty[String, StructType]

  private def appendRaw(df: DataFrame, lake: String, name: String): Unit = {
    rawSchemas(name) = df.schema
    Sources.writePartitionedParquet(df, s"$lake/raw/$name")
  }

  private def readRaw(lake: String, name: String): DataFrame = {
    val dir = Paths.get(s"$lake/raw/$name")
    val hasData = Files.exists(dir) &&
      Files.walk(dir).iterator().asScala.exists(_.toString.endsWith(".parquet"))
    if (hasData) spark.read.parquet(dir.toString)
    else spark.createDataFrame(java.util.List.of[Row](), rawSchemas(name))
  }

  def ingestAt(i: Int): Timestamp =
    Timestamp.valueOf(f"2026-02-${i + 1}%02d 08:00:00")

  /** Copies (hard-links where possible) a staged month, or one client's
    * part of it, into the landing root — the upload, which is not the
    * pipeline's work. */
  def land(b: Batch, landingRoot: String, client: Option[String] = None): Unit = {
    val src = Paths.get(stageDir, b.dir)
    val files = Files.walk(src).iterator().asScala.filter(Files.isRegularFile(_))
      .map(src.relativize(_)).filter(rel => client.forall(_ == rel.getName(1).toString))
      .toList
    files.foreach { rel =>
      val f = src.resolve(rel)
      val dst = Paths.get(landingRoot).resolve(rel.toString)
      Files.createDirectories(dst.getParent)
      if (!Files.exists(dst))
        try Files.createLink(dst, f)
        catch { case _: Exception => Files.copy(f, dst) }
    }
  }

  private def formsDirs(landingRoot: String, b: Batch): Seq[(String, String)] = {
    val root = Paths.get(landingRoot, "02_forms")
    if (!Files.isDirectory(root)) Nil
    else Files.list(root).iterator().asScala.toList.sortBy(_.toString).flatMap { c =>
      val d = c.resolve(f"${b.year}%04d").resolve(f"${b.month}%02d")
      if (Files.isDirectory(d)) Some(c.getFileName.toString -> d.toString) else None
    }
  }

  /** Lake files under `dir` by identity (device+inode), with sizes;
    * hidden and marker files (`.`/`_` prefixes) are not lake data. */
  private def lakeFiles(dir: String): Map[Object, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.matches("^[._].*"))
      .map { f =>
        val a = Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
        (a.fileKey(): Object) -> a.size()
      }.toMap
  }

  /** Runs one batch against the lake under `root`; returns its result and
    * the advanced control table. */
  def runBatch(root: String, bi: Int, pass: Int, ts: Timestamp,
      control: DataFrame): (BatchResult, DataFrame) = {
    val b = batches(bi)
    val op = s"batch_${b.dir}"
    val landingRoot = s"$root/landing"
    val lake = s"$root/lake"
    val trustedPath = s"$lake/trusted/lancamentos"
    val t0 = System.nanoTime()
    var pdfs = 0L
    var trustedBytes = 0L
    var trustedFiles = 0L
    val loaded = tracer.span("batch", op, pass) {
      val texts = tracer.span("sources.landing", op, pass) {
        val landing = Sources.landingFiles(spark, landingRoot)
          .filter(col("year") === b.year && col("month") === b.month)
        val t = Sources.extractPdfTexts(landing)
          .withColumnRenamed("path", "landing_object_key")
          .localCheckpoint()
        if (tracer.tracing) pdfs = t.count()
        t
      }
      tracer.span("parse", op, pass) {
        def of(bank: String, doc: String) =
          texts.filter(col("landing_object_key").contains(s"/01_bancos/$bank/$doc/"))
        Seq(
          "bb_faturas" -> ParsePipeline.bbBills(of("bb", "faturas")),
          "bb_extratos" -> ParsePipeline.extratos(of("bb", "extratos")),
          "bradesco_faturas" -> ParsePipeline.bradescoBills(of("bradesco", "faturas")),
          "bradesco_extratos" -> ParsePipeline.bradescoExtratos(of("bradesco", "extratos"))
        ).foreach { case (name, df) =>
          appendRaw(Lake.withIngestionColumns(df, ts), lake, name)
        }
      }
      tracer.span("jobs.forms_raw", op, pass) {
        val forms = formsDirs(landingRoot, b).map { case (client, dir) =>
          FinTrackJob.formsToRaw(spark, dir, client, None, ts)
        }
        if (forms.nonEmpty) appendRaw(forms.reduce(_ unionByName _), lake, "forms")
      }
      val before = if (tracer.tracing) lakeFiles(s"$lake/trusted") else Map.empty[Object, Long]
      val res = tracer.span("lake.trusted", op, pass) {
        TrustedLoad.run(Transactions, readRaw(lake, _),
          control, rawTables.map(_ -> "ingestao_timestamp").toMap,
          "ingestao_timestamp", trustedPath, ts)
      }
      if (tracer.tracing) {
        val written = lakeFiles(s"$lake/trusted").filter { case (k, _) => !before.contains(k) }
        trustedBytes = written.values.sum
        trustedFiles = written.size.toLong
      }
      tracer.span("jobs.reports", op, pass) {
        val monthly = FinTrackJob.monthlySummary(spark.read.parquet(trustedPath))
        val compare = FinTrackJob.compareBudget(monthly, budget)
        FinTrackJob.writeReports(s"$root/reports",
          "monthly_by_category" -> monthly, "budget_vs_actual" -> compare)
      }
      res
    }
    val secs = (System.nanoTime() - t0) / 1e9
    (BatchResult(secs, loaded.rows, b.bytes, pdfs, trustedBytes, trustedFiles),
      loaded.control)
  }

  /** Lands and runs every batch in order on a fresh lake under `root`,
    * handing each batch's result to `onBatch`. */
  def runPass(root: String, pass: Int, onBatch: BatchResult => Unit): Unit =
    batches.indices.foldLeft(ControlTable.empty(spark)) { (control, i) =>
      land(batches(i), s"$root/landing")
      val (r, next) = runBatch(root, i, pass, ingestAt(i), control)
      onBatch(r)
      next
    }

  // ---- correctness checks, outside timing ---------------------------------

  private def attempt(name: String, layer: String)(body: => Option[String]) =
    (name, layer, try body catch { case e: Throwable => Some(s"threw $e") })

  private def trustedContent(root: String): DataFrame =
    spark.read.parquet(s"$root/lake/trusted/lancamentos").drop("ingestao_timestamp")

  /** Re-runs batch `bi` (already loaded into the lake under `root`) with a
    * later ingestion time and checks that trusted is unchanged apart from
    * the version column. */
  def checkReplay(root: String, bi: Int,
      control: DataFrame): (String, String, Option[String]) =
    attempt("replay_leaves_trusted_unchanged", "lake.trusted") {
      val before = trustedContent(root).localCheckpoint()
      runBatch(root, bi, -1, ingestAt(bi + 10), control)
      val after = trustedContent(root)
      val gone = before.exceptAll(after).count()
      val added = after.exceptAll(before).count()
      if (gone == 0 && added == 0) None
      else Some(s"replay changed trusted: $gone rows gone, $added rows new")
    }

  /** Checks the invariants on the lake a completed pass left under `root`.
    * `clientsWithOut25` are the clients whose landing held the
    * October-2025 BB bill. Returns (check, layer, failure or None). */
  def checkInvariants(root: String,
      clientsWithOut25: Set[String]): Seq[(String, String, Option[String])] = {
    val lake = s"$root/lake"
    def raw(n: String) = readRaw(lake, n)
    val trusted = spark.read.parquet(s"$lake/trusted/lancamentos")

    val finals = attempt("bradesco_card_finals", "parse") {
      val got = raw("bradesco_faturas").select("cartao_final").distinct()
        .collect().map(_.getString(0)).toSet
      if (got == Set("0039", "9952", "9953")) None else Some(s"finals $got")
    }
    val fiap = attempt("bb_oct25_fiap_row", "parse") {
      val got = raw("bb_faturas")
        .filter(col("landing_object_key").endsWith("Out_25.pdf") &&
          col("descricao").startsWith("FIAP") && col("valor") === 490.0 &&
          col("pais") === "BR" && col("data") === "05/09")
        .select(regexp_extract(col("landing_object_key"), "/01_clientes/([^/]+)/", 1))
        .distinct().collect().map(_.getString(0)).toSet
      if (got == clientsWithOut25) None
      else Some(s"FIAP row missing for ${clientsWithOut25 -- got}, " +
        s"unexpected for ${got -- clientsWithOut25}")
    }
    val pk = attempt("trusted_rows_eq_distinct_keys", "lake.trusted") {
      val keys = Transactions.transform(rawTables.map(n => n -> raw(n)).toMap)
        .select("txn_id").distinct().count()
      val rows = trusted.count()
      if (rows == keys) None else Some(s"trusted rows $rows != distinct keys $keys")
    }
    val sums = attempt("report_sums_eq_trusted_sums", "jobs.reports") {
      val report = spark.read.option("header", "true")
        .csv(s"$root/reports/monthly_by_category")
        .select(col("categoria"), col("total").cast("double").as("r"))
      val reportSum = report.agg(sum("r")).head().getDouble(0)
      val nCats = report.count()
      val trustedSum = trusted.agg(sum("valor")).head().getDouble(0)
      // per category, both sides round(sum, 2) of the same rows; a cent of
      // slack absorbs summation order
      val differing = trusted.groupBy("categoria").agg(round(sum("valor"), 2).as("t"))
        .join(report, Seq("categoria"), "full_outer")
        .filter(!(abs(coalesce(col("t"), lit(0.0)) - coalesce(col("r"), lit(0.0))) <= 0.011))
        .count()
      if (differing == 0 && math.abs(reportSum - trustedSum) <= 0.005 * (nCats + 1)) None
      else Some(s"report sum $reportSum vs trusted $trustedSum, " +
        s"$differing categories differ")
    }
    Seq(finals, fiap, pk, sums)
  }
}
