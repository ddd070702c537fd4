package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{dates, money, textnorm}

/** Unit specs for the scalar Column library (SURVEY §2.8), including the
  * reference's documented edge cases: "R$ 5.899,51", "-6.797,51",
  * trailing-minus Bradesco payments, blank→NULL, multi-format dates. */
class FunctionsSpec extends SparkSpec {

  private def evalStr(input: Seq[String], f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[Any] = {
    val df = LocalTable.of(spark,
      StructType(Seq(StructField("v", StringType))),
      input.map(Row(_)))
    df.select(f(col("v")).as("out")).collect().toSeq.map(r => r.get(0))
  }

  test("brlToDouble parses reference formats") {
    val got = evalStr(Seq(
      "R$ 5.899,51",      // bb_bill.py doc example
      "-6.797,51",        // negative with thousands
      "R$ 40,00",
      "237,63",
      "1.234,56-",        // Bradesco trailing minus
      "012.027,45-",      // Bradesco zero-padded payment
      "",                 // blank → null
      "abc",              // garbage → null
      null), money.brlToDouble)
    assert(got === Seq(5899.51, -6797.51, 40.0, 237.63, -1234.56, -12027.45, null, null, null))
  }

  test("blankToNull: blank and whitespace-only become NULL") {
    assert(evalStr(Seq("   ", "x"), textnorm.blankToNull) === Seq(null, "x"))
  }

  test("toDateMulti coalesces over patterns") {
    val got = evalStr(Seq("03/11/2025", "2025-11-03", "03-11-2025", "20251103", "nope"),
      c => dates.toDateMulti(c, dates.datePatterns))
    val d = java.sql.Date.valueOf("2025-11-03")
    assert(got === Seq(d, d, d, d, null))
  }

  test("toTimestampMulti parses forms carimbo format") {
    val got = evalStr(Seq("08/07/2025 09:21:43"), c => dates.toTimestampMulti(c))
    assert(got === Seq(java.sql.Timestamp.valueOf("2025-07-08 09:21:43")))
  }
}
