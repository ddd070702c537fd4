package graft.parse

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.rules.Categorizer

/** Distributed parse pipelines: `Dataset[(landing_object_key, text)]`
  * flatMap'd through the pure line machines in [[Parsers]], then enriched
  * with the rule engine and the per-card mode back-fill — the executor-side
  * replacement for the reference's driver-side parse loop
  * (etls_raw/main.py:352-424, SURVEY §3.1 boundary analysis).
  */
object ParsePipeline {

  private def docs(raw: DataFrame): Dataset[(String, String)] =
    raw.select(col("landing_object_key").cast("string"), col("text").cast("string"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.STRING))

  /** BB bill text → categorized transaction table (bb_bill.py:184-229 +
    * categories_bb.py applied via the compiled rule Column). */
  def bbBills(raw: DataFrame,
      rules: Seq[graft.rules.CategoryRule] = Categorizer.bbRules,
      hints: Seq[String] = Categorizer.recorrenteHints): DataFrame = {
    val parsed = docs(raw).flatMap { case (key, text) =>
      Parsers.parseBBBill(text).map(t => (key, t))
    }(Encoders.tuple(Encoders.STRING, Encoders.product[Parsers.BBBillTxn]))
      .toDF("landing_object_key", "t")
      .select(col("landing_object_key"), col("t.*"))
    val cat = Categorizer.categorize(col("descricao"), rules, hints)
    parsed.withColumn("c", cat)
      .select(col("landing_object_key"), col("titular_cartao"), col("final_cartao"),
        col("data"), col("pais"), col("descricao"), col("valor"),
        col("c.categoria").as("categoria"),
        col("c.subcategoria").as("subcategoria"),
        col("c.recorrente_suspeita").as("recorrente_suspeita"),
        col("c.parcelado_suspeito").as("parcelado_suspeito"))
  }

  /** BB statement text → movements table (bb_statement.py:84-202). */
  def extratos(raw: DataFrame): DataFrame =
    docs(raw).flatMap { case (key, text) =>
      Parsers.parseExtrato(text).map(t => (key, t))
    }(Encoders.tuple(Encoders.STRING, Encoders.product[Parsers.ExtratoTxn]))
      .toDF("landing_object_key", "t")
      .select(col("landing_object_key"), col("t.*"))

  /** Bradesco bill text → rows + per-card mode holder back-fill
    * (bradesco_bill.py:321-330, J3: groupBy mode → left join → coalesce). */
  def bradescoBills(raw: DataFrame): DataFrame = {
    val rows = docs(raw).flatMap { case (key, text) =>
      Parsers.parseBradesco(text).map(t => (key, t))
    }(Encoders.tuple(Encoders.STRING, Encoders.product[Parsers.BradescoTxn]))
      .toDF("landing_object_key", "t")
      .select(col("landing_object_key"), col("t.*"))
    backfillHolderByMode(rows)
  }

  /** Bradesco statement text → movements table. The reference only
    * classifies this landing kind (etls_raw/main.py:231-232) and has no
    * extractor; the engine completes the document family. */
  def bradescoExtratos(raw: DataFrame): DataFrame =
    docs(raw).flatMap { case (key, text) =>
      Parsers.parseBradescoExtrato(text).map(t => (key, t))
    }(Encoders.tuple(Encoders.STRING, Encoders.product[Parsers.BradescoMov]))
      .toDF("landing_object_key", "t")
      .select(col("landing_object_key"), col("t.*"))

  /** Mode-based back-fill: most frequent non-null holder per card final,
    * deterministic tiebreak, mapped onto rows with a null holder. */
  def backfillHolderByMode(rows: DataFrame): DataFrame = {
    val counted = rows.filter(col("titular_cartao").isNotNull)
      .groupBy(col("cartao_final").as("mf_final"), col("titular_cartao").as("mf_holder"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("mf_final"))
      .orderBy(col("cnt").desc, col("mf_holder").asc)
    val modes = counted.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("mf_final"), col("mf_holder"))
    // modes has one row per distinct card — input-scaled, so no broadcast
    // hint; AQE sees its post-agg size and broadcasts when it fits.
    rows.join(modes, col("cartao_final") === col("mf_final"), "left")
      .withColumn("titular_cartao", coalesce(col("titular_cartao"), col("mf_holder")))
      .drop("mf_final", "mf_holder")
  }

  // ---- catalog query: the parse path through the correctness gate ------

  /** Round-trip proof of the statement line machine: render each order as
    * a BB-statement movement line, parse it back executor-side with the
    * REAL fold-over-lines parser (flatMap — executes on executors, not the
    * driver), and emit the recovered fields. The oracle computes the
    * expected fields directly from `orders`. */
  val q26ParseExtrato: Q = Q(
    "q26_parse_extrato_roundtrip",
    Some("""
      WITH cents AS (
        SELECT *, CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders)
      SELECT strftime(o_orderdate, '%d/%m/%Y') AS data,
             lpad(CAST(o_orderkey % 100000 AS VARCHAR), 5, '0') AS lote,
             lpad(CAST(o_custkey AS VARCHAR), 6, '0') AS documento,
             'PEDIDO ' || o_orderpriority AS historico,
             (CAST(c AS DOUBLE) / 100) *
               (CASE WHEN o_orderstatus = 'O' THEN 1 ELSE -1 END) AS valor,
             CASE WHEN o_orderstatus = 'O' THEN '+' ELSE '-' END AS sinal
      FROM cents
    """),
    (s, dir) => {
      val cents = round(col("o_totalprice") * 100).cast("long")
      val brlText = concat(
        regexp_replace(format_number(expr("CAST(round(o_totalprice*100) AS BIGINT) DIV 100"), 0), ",", "."),
        lit(","), lpad((cents % 100).cast("string"), 2, "0"))
      val line = concat_ws(" ",
        date_format(col("o_orderdate"), "dd/MM/yyyy"),
        lpad((col("o_orderkey") % 100000).cast("string"), 5, "0"),
        lpad(col("o_custkey").cast("string"), 6, "0"),
        concat(lit("PEDIDO "), col("o_orderpriority")),
        brlText,
        when(col("o_orderstatus") === "O", "(+)").otherwise("(-)"))
      val rendered = Tables(s, dir, "orders")
        .select(col("o_orderkey").cast("string").as("landing_object_key"),
          line.as("text"))
      extratos(rendered)
        .select("data", "lote", "documento", "historico", "valor", "sinal")
    })

  /** Same round-trip proof for the BB BILL line machine + rules engine:
    * render each part as a bill transaction line (`dd/MM DESC [CC] R$
    * valor`), parse executor-side, categorize with the part-vocabulary
    * rules, and emit the recovered + derived fields. */
  val q38ParseBillCategorize: Q = Q(
    "q38_parse_bill_categorize",
    Some {
      val d = "descricao"
      val rules = graft.operators.FinTrackQ.partRules
      val hints = graft.operators.FinTrackQ.hints
      s"""
      WITH cents AS (
        SELECT *, CAST(round(p_retailprice * 100) AS BIGINT) AS c FROM part),
      parsed AS (
        SELECT lpad(CAST(CAST(p_partkey % 28 AS INTEGER) + 1 AS VARCHAR), 2, '0') || '/' ||
               lpad(CAST(CAST(p_partkey % 12 AS INTEGER) + 1 AS VARCHAR), 2, '0') AS data,
               CASE WHEN p_partkey % 3 = 0 THEN 'BR' END AS pais,
               upper(p_name) AS descricao,
               CAST(c AS DOUBLE) / 100 AS valor
        FROM cents)
      SELECT data, pais, descricao, valor,
             ${Categorizer.categorizeSqlField(d, rules, "categoria", hints)} AS categoria,
             ${Categorizer.categorizeSqlField(d, rules, "subcategoria", hints)} AS subcategoria,
             ${Categorizer.recorrenteSql(d, rules, hints)} AS recorrente_suspeita,
             ${Categorizer.parceladoSql(d)} AS parcelado_suspeito
      FROM parsed
      """
    },
    (s, dir) => {
      val cents = round(col("p_retailprice") * 100).cast("long")
      val brlText = concat(
        regexp_replace(format_number(expr("CAST(round(p_retailprice*100) AS BIGINT) DIV 100"), 0), ",", "."),
        lit(","), lpad((cents % 100).cast("string"), 2, "0"))
      val line = concat(
        lpad((col("p_partkey") % 28 + 1).cast("string"), 2, "0"), lit("/"),
        lpad((col("p_partkey") % 12 + 1).cast("string"), 2, "0"), lit(" "),
        upper(col("p_name")),
        when(col("p_partkey") % 3 === 0, lit(" BR")).otherwise(lit("")),
        lit(" R$ "), brlText)
      val rendered = Tables(s, dir, "part")
        .select(col("p_partkey").cast("string").as("landing_object_key"),
          line.as("text"))
      bbBills(rendered,
          graft.operators.FinTrackQ.partRules, graft.operators.FinTrackQ.hints)
        .select("data", "pais", "descricao", "valor",
          "categoria", "subcategoria", "recorrente_suspeita", "parcelado_suspeito")
    })

  val all: Seq[Q] = Seq(q26ParseExtrato, q38ParseBillCategorize)
}
