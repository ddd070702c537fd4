package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.JobCounter
import org.apache.spark.sql.execution.datasources.parquet.GraftSchemaBridge
import org.apache.spark.sql.functions._

import graft.sources.Sources

/** Sources/sinks driven against real temp-dir trees: landing listing with
  * path-derived columns, forms CSV normalization (quirky multiline
  * headers), partitioned parquet sink. */
class SourcesSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-test-").toString

  /** The two real Google-Forms exports: CRLF line endings, quoted
    * multi-line header names, one shared header. */
  private val formsDir = Paths.get(
    "src/test/resources/landing_real/02_forms/cruz_raulino_familia").toAbsolutePath
  private val realForms = Seq("20260103", "20260104")
    .map(d => formsDir.resolve(s"forms_gastos_compartilhados_$d.csv").toString)
  private val formsOptions = Map("header" -> "true", "multiLine" -> "true")

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("landingFiles: path-derived columns + kind classification") {
    val root = tmpDir()
    val p = Paths.get(root,
      "fintrack/01_clientes/cruz_raulino/01_bancos/bb/fatura/2025/11")
    Files.createDirectories(p)
    Files.writeString(p.resolve("fatura_nov.pdf"), "pdfbytes")
    val p2 = Paths.get(root,
      "fintrack/01_clientes/cruz_raulino/01_bancos/bradesco/extrato/2025/12")
    Files.createDirectories(p2)
    Files.writeString(p2.resolve("extrato_dez.csv"), "a,b")

    val got = Sources.landingFiles(spark, root)
      .select("client_slug", "bank_code", "doc_type", "year", "month", "file_name", "kind")
      .orderBy("file_name")
      .collect().map(_.toSeq).toSeq
    assert(got === Seq(
      Seq("cruz_raulino", "bradesco", "extrato", 2025, 12, "extrato_dez.csv", "extrato_bradesco"),
      Seq("cruz_raulino", "bb", "fatura", 2025, 11, "fatura_nov.pdf", "fatura_bb")))
  }

  test("extractPdfTexts: landed PDF binaries → text, executor-side") {
    val root = tmpDir()
    val p = Paths.get(root,
      "fintrack/01_clientes/cruz_raulino/01_bancos/bb/fatura/2025/11")
    Files.createDirectories(p)
    val lines = Seq("SERGIO MAIA RAULINO (Cartão 1234)",
      "05/11 UBER *TRIP HELP.UBER.COM BR R$ 24,90")
    Files.write(p.resolve("fatura_nov.pdf"), PdfFixture.pdf(Seq(lines)))
    // a CSV beside it must be ignored by the PDF path
    Files.writeString(p.resolve("extra.csv"), "a,b")

    val got = Sources.extractPdfTexts(Sources.landingFiles(spark, root)).collect()
    assert(got.length === 1)
    assert(got(0).getString(0).endsWith("fatura_nov.pdf"))
    assert(got(0).getString(1) === lines.mkString("\n"))
  }

  test("readFormsCsv: quirky headers, BRL + date parse, NULL survival") {
    val dir = tmpDir()
    // FIXTURES §1: two header names contain embedded newlines; one row has
    // an empty valor that must survive as NULL.
    val csv =
      "Carimbo de data/hora,LANÇAMENTO FEITO POR:,DATA DO PAGAMENTO," +
      "\"VENCIMENTO\nColocar sempre o mês da prestação de conta\",DESCRIÇÃO," +
      "\"Valor:\nExemplo: R$40,00\",TIPO DE CUSTO,CATEGORIA\n" +
      "08/07/2025 09:21:43,Valesca,07/07/2025,01/08/2025," +
      "\"Ovo, alface, rúcula no mercadinho São Luiz\",,Variavel,1. Alimentação\n" +
      "09/07/2025 10:00:00,Sergio,08/07/2025,01/08/2025,Mercado central," +
      "\"R$ 237,63\",Fixa,2. Mercado\n"
    Files.writeString(Paths.get(dir, "forms.csv"), csv)

    val got = Sources.readFormsCsv(spark, dir + "/forms.csv", "cruz_raulino")
      .orderBy("carimbo").collect()
    assert(got.length === 2)
    val r0 = got(0)
    assert(r0.getAs[java.sql.Timestamp]("carimbo") ===
      java.sql.Timestamp.valueOf("2025-07-08 09:21:43"))
    assert(r0.getAs[java.sql.Date]("data_pagamento").toString === "2025-07-07")
    assert(r0.isNullAt(r0.fieldIndex("valor"))) // empty valor → NULL
    assert(r0.getAs[String]("descricao").startsWith("Ovo, alface"))
    assert(r0.getAs[String]("client_slug") === "cruz_raulino")
    assert(got(1).getAs[Double]("valor") === 237.63)
  }

  test("forms CSV headers resolve on the driver to the schema Spark's header job infers") {
    for (p <- realForms :+ formsDir.toString) {
      val (got, jobs) = JobCounter.jobs(spark)(GraftSchemaBridge.csvHeader(spark, p, formsOptions))
      assert(jobs === 0, p)
      assert(got === Some(spark.read.options(formsOptions).csv(p).schema), p)
    }
  }

  test("a directory of CSVs with different headers keeps Spark's inference") {
    val dir = tmpDir()
    Files.writeString(Paths.get(dir, "a.csv"), "x,y\n1,2\n")
    Files.writeString(Paths.get(dir, "b.csv"), "x,z\n3,4\n")
    assert(GraftSchemaBridge.csvHeader(spark, dir, formsOptions) === None)
    Files.writeString(Paths.get(dir, "b.csv"), "x,y\n3,4\n")
    assert(GraftSchemaBridge.csvHeader(spark, dir, formsOptions).map(_.fieldNames.toSeq) ===
      Some(Seq("x", "y")))
  }

  test("readFormsCsv starts no job before an action and reads the real exports unchanged") {
    // (row count, SHA-256 of the sorted rows cast to strings) as read
    // before the forms schema resolved on the driver
    val expected = Seq(
      (151, "a5df22805a11efd1feb6ff99ad3a30d14633bb07004b8b68ae782f3881b21659"),
      (163, "e4f33dc8dace8deec892d3b96eab741577bfa695c043bdec389af10643173099"))
    for ((p, digest) <- realForms.zip(expected)) {
      val (df, jobs) = JobCounter.jobs(spark)(
        Sources.readFormsCsv(spark, p, "cruz_raulino_familia"))
      val rows = df.drop("landing_object_key")
        .select(df.columns.filter(_ != "landing_object_key").map(c => col(c).cast("string")).toIndexedSeq: _*)
        .collect().map(_.toSeq.mkString("\u0001")).sorted
      assert((rows.length, sha256(rows.mkString("\n"))) === digest, p)
      assert(df.select("landing_object_key").distinct().collect()
        .map(_.getString(0)).toSeq === Seq("file://" + p), p)
      assert(jobs === 0, p)
    }
  }

  test("writePartitionedParquet: y/m/d directory layout + partition pruning") {
    val dir = tmpDir() + "/lake"
    val base = Tables(spark, "/root/testdata/sf0.001", "region")
    val withIng = graft.lake.Lake.withIngestionColumns(base,
      java.sql.Timestamp.valueOf("2026-08-12 10:00:00"))
    Sources.writePartitionedParquet(withIng, dir)
    assert(Files.exists(Paths.get(dir,
      "ingestao_year=2026", "ingestao_month=8", "ingestao_day=12")))
    val pruned = spark.read.parquet(dir).filter(col("ingestao_year") === 2026)
    assert(pruned.count() === base.count())
    // idempotent reload path: append second batch, delete+append semantics
    val again = graft.lake.Lake.withIngestionColumns(base,
      java.sql.Timestamp.valueOf("2026-08-13 10:00:00"))
    Sources.writePartitionedParquet(again, dir)
    assert(spark.read.parquet(dir).count() === base.count() * 2)
  }
}
