package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftSchemaBridge
import org.apache.spark.sql.functions._

import graft.functions.{dates, money, textnorm}

/** Sources and sinks from the reference's lake machinery (SURVEY §2.1),
  * re-expressed as distributed reads/writes instead of driver-side SDK
  * loops.
  */
object Sources {

  /** S1 — landing-zone listing as a DISTRIBUTED scan: `binaryFile` over the
    * convention tree `.../01_clientes/<client>/01_bancos/<bank>/<doc_type>/
    * <yyyy>/<mm>/<file>` with path-derived columns (the reference lists
    * objects one by one on the driver with the MinIO SDK,
    * etls_raw/main.py:153-248). Column pruning matters: selecting only
    * `path`-derived columns never reads file contents. */
  def landingFiles(spark: SparkSession, root: String): DataFrame = {
    val path = col("path")
    def seg(re: String) = regexp_extract(path, re, 1)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.{pdf,csv,txt}")
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(path, col("length"), col("modificationTime"), col("content"),
        seg("/01_clientes/([^/]+)/").as("client_slug"),
        seg("/01_bancos/([^/]+)/").as("bank_code"),
        seg("/01_bancos/[^/]+/([^/]+)/\\d{4}/").as("doc_type"),
        seg("/(\\d{4})/\\d{2}/[^/]+$").cast("int").as("year"),
        seg("/\\d{4}/(\\d{2})/[^/]+$").cast("int").as("month"),
        seg("/([^/]+)$").as("file_name"),
        // F15 — folder-based kind classification (etls_raw/main.py:222-234:
        // bank segment + doc_type folder, "muito mais robusto" than the
        // filename variant). Accepts the singular and plural folder forms.
        {
          val bank = seg("/01_bancos/([^/]+)/")
          val doc  = seg("/01_bancos/[^/]+/([^/]+)/\\d{4}/")
          when(bank === "bb" && doc.startsWith("fatura"), "fatura_bb")
            .when(bank === "bb" && doc.startsWith("extrato"), "extrato_bb")
            .when(bank === "bradesco" && doc.startsWith("fatura"), "fatura_bradesco")
            .when(bank === "bradesco" && doc.startsWith("extrato"), "extrato_bradesco")
            .otherwise("desconhecido").as("kind")
        })
  }

  /** S2 — PDF text extraction, executor-side over landed binaries: the
    * reference runs pdfplumber per file on the driver (bb_bill.py:89-92,
    * "\n".join of page texts); here the binary `content` column from
    * [[landingFiles]] maps through the engine's own extractor
    * ([[graft.parse.PdfText]]) in parallel, yielding (path, text) ready
    * for the U3 line parsers. Pure per-row computation — no shuffle. */
  def extractPdfTexts(landing: DataFrame): DataFrame = {
    val ds = landing
      .filter(lower(col("path")).endsWith(".pdf"))
      .select(col("path"), col("content"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
    ds.map { case (p, bytes) => (p, graft.parse.PdfText.extractText(bytes)) }(
      Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .toDF("path", "text")
  }

  /** The forms CSV's quirky source headers (FIXTURES §1; two contain
    * embedded newlines) → normalized names (forms_main.py:228-276). */
  val formsRenameMap: Seq[(String, String)] = Seq(
    "Carimbo de data/hora" -> "carimbo",
    "LANÇAMENTO FEITO POR:" -> "lancado_por",
    "DATA DO PAGAMENTO" -> "data_pagamento",
    "VENCIMENTO\nColocar sempre o mês da prestação de conta" -> "vencimento",
    "DESCRIÇÃO" -> "descricao",
    "Valor:\nExemplo: R$40,00" -> "valor",
    "TIPO DE CUSTO" -> "tipo_de_custo",
    "CATEGORIA" -> "categoria")

  /** S3 — Google-Forms shared-expenses CSV → normalized RAW table
    * (forms_main.py:207-297): multiLine header-aware read, rename map
    * applied only to existing columns, BRL money parse (NULL-preserving),
    * multi-format date normalization, blank→NULL, lineage + client slug.
    * The header resolves on the driver, so the read starts no job of its
    * own; the names map from it in one `select`, the parse runs in a
    * second. */
  def readFormsCsv(spark: SparkSession, path: String, clientSlug: String): DataFrame = {
    val options = Map("header" -> "true", "multiLine" -> "true", "encoding" -> "UTF-8")
    val reader = spark.read.options(options)
    val raw = GraftSchemaBridge.csvHeader(spark, path, options).fold(reader)(reader.schema).csv(path)
    // CRLF exports leave a \r on the LAST header name (quoted multi-line
    // headers get normalized by the parser, the trailing unquoted one
    // does not) — match names with it stripped
    val byName = raw.columns.map(c => c.replace("\r", "") -> c).toMap
    // each normalized column comes from its source header, else from a
    // column already carrying the name, else is NULL (forms_main.py
    // required-col fill). CRLF exports: Spark's multiLine parser keeps
    // the \r on each row's last (unquoted) column — strip carriage
    // returns, the normalization pandas applies transparently for the
    // reference. Stripped once here: the parse below reads each value
    // several times, so CollapseProject keeps the two selects apart.
    val stripped = raw.select(formsRenameMap.map { case (from, to) =>
      byName.get(from).orElse(byName.get(to)) match {
        case Some(c) => regexp_replace(col(s"`${c.replace("`", "``")}`"), "\r", "").as(to)
        case None => lit(null).cast("string").as(to)
      }
    }: _*)
    stripped.select(
      dates.toTimestampMulti(col("carimbo")).as("carimbo"),
      textnorm.blankToNull(col("lancado_por")).as("lancado_por"),
      dates.toDateMulti(col("data_pagamento")).as("data_pagamento"),
      dates.toDateMulti(col("vencimento")).as("vencimento"),
      textnorm.blankToNull(col("descricao")).as("descricao"),
      money.brlToDouble(col("valor")).as("valor"),
      textnorm.blankToNull(col("tipo_de_custo")).as("tipo_de_custo"),
      textnorm.blankToNull(col("categoria")).as("categoria"),
      lit(clientSlug).as("client_slug"),
      input_file_name().as("landing_object_key"))
  }

  /** S9/S12 — partitioned parquet lake sink (y/m/d partition columns from
    * Lake.withIngestionColumns; append mode like the reference's
    * create/append path). */
  def writePartitionedParquet(df: DataFrame, path: String,
      partitionCols: Seq[String] = Seq("ingestao_year", "ingestao_month", "ingestao_day")): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionCols: _*).parquet(path)
}
