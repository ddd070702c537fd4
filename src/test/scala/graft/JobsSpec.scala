package graft

import java.nio.file.{Files, Paths}

import graft.jobs.FinTrackJob
import graft.lake.ControlTable

/** End-to-end job + control-table lifecycle. */
class JobsSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-job-").toString

  private val formsCsv =
    "Carimbo de data/hora,LANÇAMENTO FEITO POR:,DATA DO PAGAMENTO," +
    "\"VENCIMENTO\nColocar sempre o mês da prestação de conta\",DESCRIÇÃO," +
    "\"Valor:\nExemplo: R$40,00\",TIPO DE CUSTO,CATEGORIA\n" +
    "08/07/2025 09:21:43,Valesca,07/07/2025,01/08/2025,Mercadinho,\"R$ 150,00\",Variavel,Alimentação\n" +
    "08/07/2025 09:25:00,Sergio,07/07/2025,01/08/2025,Uber,\"R$ 50,00\",Variavel,Transporte\n" +
    "09/07/2025 08:00:00,Sergio,08/07/2025,01/08/2025,Mercado,\"R$ 450,00\",Fixa,Alimentação\n" +
    "09/07/2025 09:00:00,Valesca,08/07/2025,01/08/2025,Tarifa banco,\"R$ 30,00\",Fixa,Financeiro\n"

  test("full slice: forms CSV → raw → monthly summary → budget compare → CSVs") {
    val dir = tmp()
    Files.writeString(Paths.get(dir, "forms.csv"), formsCsv)
    val raw = FinTrackJob.formsToRaw(spark, s"$dir/forms.csv", "cruz_raulino", None,
      java.sql.Timestamp.valueOf("2026-08-12 09:00:00"))
    val monthly = FinTrackJob.monthlySummary(raw)
    val compare = FinTrackJob.compareBudget(monthly,
      Seq("Alimentação" -> 500.0, "Transporte" -> 100.0, "Lazer" -> 80.0))
    FinTrackJob.writeReports(s"$dir/reports",
      "monthly_by_category" -> monthly, "budget_vs_actual" -> compare)

    val m = monthly.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m === Map("Alimentação" -> 600.0, "Transporte" -> 50.0, "Financeiro" -> 30.0))

    val c = compare.collect().map(r => r.getString(0) ->
      (r.getDouble(1), r.getDouble(2), r.getBoolean(3), r.getString(5))).toMap
    // Financeiro excluded (compare_budget default); overruns flagged
    assert(!c.contains("Financeiro"))
    assert(c("Alimentação") === ((500.0, 600.0, false, "ESTOURO")))
    assert(c("Transporte")  === ((100.0, 50.0, false, "OK")))
    assert(c("Lazer")       === ((80.0, 0.0, false, "OK")))
    // overrun-first ordering (compare_budget.py:91-93)
    assert(compare.collect().head.getString(0) === "Alimentação")
    assert(Files.exists(Paths.get(dir, "reports", "monthly_by_category")))
    assert(Files.exists(Paths.get(dir, "reports", "budget_vs_actual")))
  }

  test("idempotent reload: re-ingesting the same landing file does not duplicate") {
    val dir = tmp()
    Files.writeString(Paths.get(dir, "forms.csv"), formsCsv)
    val ts = java.sql.Timestamp.valueOf("2026-08-12 09:00:00")
    val first = FinTrackJob.formsToRaw(spark, s"$dir/forms.csv", "c", None, ts)
    val again = FinTrackJob.formsToRaw(spark, s"$dir/forms.csv", "c", Some(first), ts)
    assert(first.count() === 4 && again.count() === 4)
  }

  test("control-table lifecycle: watermark read → incremental load → audit append") {
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    val entity = "trusted_events"

    // first load: empty control → full load, record watermark
    val c0 = ControlTable.empty(spark)
    assert(ControlTable.currentWatermarks(c0, entity, Seq("events")).get("events").isEmpty)
    val (full, wm1Df) = ControlTable.incrementalLoad(events, "ts", None)
    assert(full.count() === events.count())
    val wm1 = wm1Df.collect()(0).getTimestamp(0)
    val c1 = ControlTable.recordLoad(c0, entity, "events", wm1,
      java.sql.Timestamp.valueOf("2026-08-12 09:00:00"))

    // second load: nothing newer than the recorded watermark
    val wmRead = ControlTable.currentWatermarks(c1, entity, Seq("events")).get("events")
    assert(wmRead === Some(wm1))
    val (incr, _) = ControlTable.incrementalLoad(events, "ts", wmRead)
    assert(incr.count() === 0)

    // strictly-greater semantics: watermark just before the max picks up rows
    val justBefore = new java.sql.Timestamp(wm1.getTime - 1000)
    val (tail, _) = ControlTable.incrementalLoad(events, "ts", Some(justBefore))
    assert(tail.count() >= 1)
  }
}
