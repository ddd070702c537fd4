package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Core relational operator catalog over the driver corpus — each entry
  * re-expresses an operator family from SURVEY §2 (scan/filter/join/agg/
  * window/sort/set-op) as a declarative DataFrame program that Catalyst can
  * push down, prune, broadcast and codegen.
  *
  * Scale posture (100 TB): filters and projections are applied directly on
  * the scan (pushdown + column pruning), dimension tables are broadcast
  * explicitly, fact-fact joins shuffle on their join key only once, and
  * aggregates are partial (map-side combine) by construction.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** TPC-H Q1-style pricing summary: full-scan agg with map-side combine.
    * Reference operators: A1/A2/A7 hash aggregates + O1 ordering
    * (monthly_summary.py:31-49, compare_budget.py:101-103). */
  val q01PricingSummary: Q = Q(
    "q01_pricing_summary",
    Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(avg(l_quantity), 6) AS avg_qty,
             round(avg(l_discount), 6) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
    """),
    (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    })

  /** Selective filter + narrow projection — exercises parquet predicate
    * pushdown and column pruning (P3–P6, watermark-style range P4).
    * The product l_extendedprice*l_discount is a single IEEE op, identical
    * bit-for-bit in both engines — no rounding needed. */
  val q02FilterPushdown: Q = Q(
    "q02_filter_pushdown",
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             l_extendedprice * l_discount AS disc_amount
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 10
    """),
    (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01 00:00:00"))
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          (col("l_extendedprice") * col("l_discount")).as("disc_amount"))
    })

  /** Three-table fact join + broadcast dims: revenue by nation.
    * lineitem⋈orders shuffles once on orderkey, orders⋈customer on custkey;
    * nation (25 rows, fixed) is hint-broadcast. customer SCALES with the
    * data (15 B rows at the 100 TB posture) so it carries NO hint — a hint
    * overrides size thresholds and would OOM at scale; stats/AQE broadcast
    * it at small SF and degrade to shuffle join at large SF
    * (J1-class equi-joins, SURVEY §2.3). */
  val q03RevenueByNation: Q = Q(
    "q03_revenue_by_nation",
    Some("""
      SELECT n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             count(*) AS n_lines
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name
    """),
    (s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
      val o  = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c  = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val n  = t(s, dir, "nation").select("n_nationkey", "n_name")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    })

  /** TPC-H Q3-style top-10 orders by revenue for one segment; deterministic
    * via unique-key tiebreak (O2 top-K, monthly_summary.py:62-73). */
  val q04TopRevenueOrders: Q = Q(
    "q04_top_revenue_orders",
    Some("""
      SELECT o_orderkey, o_orderdate,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderkey ASC
      LIMIT 10
    """),
    (s, dir) => {
      val c  = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o  = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    })

  /** Top-K by absolute value with unique tiebreak — the reference's
    * top-expenses report (O2, monthly_summary.py:62-67). TakeOrdered
    * physical op: no full sort, no full shuffle. */
  val q05TopkAbsEvents: Q = Q(
    "q05_topk_abs_events",
    Some("""
      SELECT event_id, user_id, event_type, value, abs(value) AS value_abs
      FROM events
      ORDER BY value_abs DESC, event_id ASC
      LIMIT 15
    """),
    (s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          abs(col("value")).as("value_abs"))
        .orderBy(col("value_abs").desc, col("event_id").asc)
        .limit(15)
    })

  /** Dedup-by-rank (W1): latest order per customer via row_number over
    * (PARTITION BY key ORDER BY recency DESC), keep rank 1 — the
    * reference's `remover_duplicados` (datatrack_spark_utils.py:51-95). */
  val q06LatestOrderPerCustomer: Q = Q(
    "q06_latest_order_per_customer",
    Some("""
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
      FROM (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) x
      WHERE rn = 1
    """),
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
    })

  /** Mode aggregate with deterministic tiebreak: most frequent order
    * priority per nation — the reference's per-card mode back-fill pattern
    * (A5/U2, bradesco_bill.py:324-328) realized as count + rank so ties
    * resolve identically in both engines. */
  val q07ModePriorityPerNation: Q = Q(
    "q07_mode_priority_per_nation",
    Some("""
      SELECT n_name, o_orderpriority AS mode_priority, cnt
      FROM (
        SELECT n_name, o_orderpriority, count(*) AS cnt,
               row_number() OVER (PARTITION BY n_name
                                  ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name, o_orderpriority) x
      WHERE rn = 1
    """),
    (s, dir) => {
      val o = t(s, dir, "orders").select("o_custkey", "o_orderpriority")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val n = t(s, dir, "nation").select("n_nationkey", "n_name")
      val counted = o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("cnt").desc, col("o_orderpriority").asc)
      counted.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("n_name"), col("o_orderpriority").as("mode_priority"), col("cnt"))
    })

  /** Flagship fintrack query: budget-vs-actual FULL OUTER join with
    * zero-fill, overrun status and pct — compare_budget.py:66-93 (J1 +
    * F11/F12) transplanted onto market segments. The tiny budget side is
    * broadcast; the actual side is a two-stage partial agg. */
  val q08BudgetVsActual: Q = Q(
    "q08_budget_vs_actual",
    Some("""
      WITH budget AS (
        SELECT categoria, CAST(orcado AS DOUBLE) AS orcado
        FROM (VALUES ('AUTOMOBILE', 400000000.0), ('BUILDING', 420000000.0),
                     ('FURNITURE', 410000000.0), ('MACHINERY', 400000000.0),
                     ('HOUSEHOLD', 405000000.0), ('AEROSPACE', 1000000.0))
             AS v(categoria, orcado)),
      actual AS (
        SELECT c_mktsegment AS categoria,
               round(sum(o_totalprice), 2) AS realizado
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment)
      SELECT coalesce(b.categoria, a.categoria) AS categoria,
             coalesce(b.orcado, 0.0) AS orcado,
             coalesce(a.realizado, 0.0) AS realizado,
             (b.orcado IS NULL) AS sem_orcamento,
             round(coalesce(a.realizado, 0.0) - coalesce(b.orcado, 0.0), 2) AS diferenca,
             CASE WHEN round(coalesce(a.realizado, 0.0) - coalesce(b.orcado, 0.0), 2) <= 0
                  THEN 'OK' ELSE 'ESTOURO' END AS status,
             CASE WHEN coalesce(b.orcado, 0.0) > 0
                  THEN round((coalesce(a.realizado, 0.0) - coalesce(b.orcado, 0.0))
                             / b.orcado * 100, 4) END AS pct_esto
      FROM budget b FULL OUTER JOIN actual a ON b.categoria = a.categoria
    """),
    (s, dir) => {
      // Budget sourced from an actual YAML config (S4 — the reference's
      // compare_budget.py:12-25 yaml.safe_load of budget.yaml), parsed
      // driver-side and turned into a reflection-free literal DataFrame.
      val budget = graft.LocalTable.stringDouble(s, "b_categoria", "orcado",
        graft.sources.Yaml.budget(
          graft.sources.Yaml.readConfig("/graft/budget_segments.yaml")))
      val o = t(s, dir, "orders").select("o_custkey", "o_totalprice")
      val c = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      val actual = o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("a_categoria"))
        .agg(round(sum(col("o_totalprice")), 2).as("realizado"))
      val orcado    = coalesce(col("orcado"), lit(0.0))
      val realizado = coalesce(col("realizado"), lit(0.0))
      val diff      = round(realizado - orcado, 2)
      budget.join(actual, col("b_categoria") === col("a_categoria"), "full_outer")
        .select(
          coalesce(col("b_categoria"), col("a_categoria")).as("categoria"),
          orcado.as("orcado"),
          realizado.as("realizado"),
          col("orcado").isNull.as("sem_orcamento"),
          diff.as("diferenca"),
          when(diff <= 0, "OK").otherwise("ESTOURO").as("status"),
          when(col("orcado") > 0,
            round((realizado - orcado) / col("orcado") * 100, 4)).as("pct_esto"))
    })

  /** Left-anti join: customers with no order above a price floor — the
    * reference's incremental file-skip semantics (J4, left_anti against
    * processed state). */
  val q09CustomersWithoutOrders: Q = Q(
    "q09_customers_without_orders",
    Some("""
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 250000.0)
    """),
    (s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
      val o = t(s, dir, "orders")
        .filter(col("o_totalprice") > 250000.0).select("o_custkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
    })

  /** Left-semi join (EXISTS): customers with at least one urgent order
    * above a price floor (P8 existence-probe semantics made relational). */
  val q10UrgentBigSpenders: Q = Q(
    "q10_urgent_big_spenders",
    Some("""
      SELECT c_custkey, c_name, c_acctbal
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT'
                      AND o.o_totalprice > 200000.0)
    """),
    (s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 200000.0)
        .select("o_custkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
    })

  /** Set operation (EXCEPT): nations that have customers but no suppliers
    * (§2.7 — the reference only unions; intersect/except come free). */
  val q11CustomerOnlyNations: Q = Q(
    "q11_customer_only_nations",
    Some("""
      SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE c_acctbal < -900.0
      EXCEPT
      SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE s_acctbal < -900.0
    """),
    (s, dir) => {
      val n = broadcast(t(s, dir, "nation").select("n_nationkey", "n_name"))
      val custNations = t(s, dir, "customer")
        .filter(col("c_acctbal") < -900.0).select("c_nationkey")
        .join(n, col("c_nationkey") === col("n_nationkey")).select("n_name")
      val suppNations = t(s, dir, "supplier")
        .filter(col("s_acctbal") < -900.0).select("s_nationkey")
        .join(n, col("s_nationkey") === col("n_nationkey")).select("n_name")
      custNations.except(suppNations)
    })

  /** ROLLUP hierarchy totals — subtotal + grand-total rows in one pass
    * (free Catalyst capability the engine exposes; SURVEY §2.4 notes the
    * reference lacks grouping sets). NULL group keys are labeled 'ALL' so
    * both engines agree on the rollup rows. */
  val q12RollupQuantity: Q = Q(
    "q12_rollup_quantity",
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """),
    (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n_rows"))
    })

  /** CUBE — all grouping-set combinations in one pass (companion of q12's
    * ROLLUP; SURVEY §2.4 free-capability note). */
  val q32CubeQuantity: Q = Q(
    "q32_cube_quantity",
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
    """),
    (s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n_rows"))
    })

  /** GROUPING SETS beyond rollup/cube — an arbitrary, non-hierarchical
    * set list ((flag, status), (status), ()) that neither `rollup` nor
    * `cube` expresses (q12/q32's companions; SURVEY §2.4 free-capability
    * note). One Expand + one aggregate pass, same scale shape as rollup. */
  val q39GroupingSets: Q = Q(
    "q39_grouping_sets",
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    """),
    (s, dir) => {
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n_rows"))
    })

  /** Pivot — wide per-month report with one column per order priority
    * (the relational `pivot` API surface; Spark plans it as a single
    * hash aggregate over `sum(CASE WHEN …)` branches — one scan, one
    * shuffle on the groupBy key, which is also exactly the pivot-free
    * SQL the oracle runs). The pivot domain is declared explicitly: an
    * undeclared domain would force an extra distinct-collect job at
    * 100 TB just to discover the columns. */
  val q47PivotPriorities: Q = Q(
    "q47_pivot_priorities",
    Some("""
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             round(sum(o_totalprice) FILTER (o_orderpriority = '1-URGENT'), 2) AS urgent,
             round(sum(o_totalprice) FILTER (o_orderpriority = '2-HIGH'), 2) AS high,
             round(sum(o_totalprice) FILTER (o_orderpriority = '3-MEDIUM'), 2) AS medium,
             round(sum(o_totalprice) FILTER (o_orderpriority = '4-NOT SPECIFIED'), 2) AS notspec,
             round(sum(o_totalprice) FILTER (o_orderpriority = '5-LOW'), 2) AS low
      FROM orders
      GROUP BY 1
    """),
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(round(sum(col("o_totalprice")), 2))
        .withColumnRenamed("1-URGENT", "urgent")
        .withColumnRenamed("2-HIGH", "high")
        .withColumnRenamed("3-MEDIUM", "medium")
        .withColumnRenamed("4-NOT SPECIFIED", "notspec")
        .withColumnRenamed("5-LOW", "low"))

  /** Unpivot — melt the q47 wide report back to long form (the reshape
    * pair's inverse, Spark's native `unpivot`/melt). Planned as one
    * Expand over the aggregated frame: no join, no extra shuffle beyond
    * the aggregation's own. NULL cells (months with no orders at that
    * priority) are dropped by unpivot's contract, matching the oracle's
    * inner UNION ALL with IS NOT NULL. */
  val q48UnpivotPriorities: Q = Q(
    "q48_unpivot_priorities",
    Some("""
      WITH wide AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               round(sum(o_totalprice) FILTER (o_orderpriority = '1-URGENT'), 2) AS urgent,
               round(sum(o_totalprice) FILTER (o_orderpriority = '5-LOW'), 2) AS low
        FROM orders GROUP BY 1)
      SELECT month, priority, total FROM (
        SELECT month, 'urgent' AS priority, urgent AS total FROM wide
        UNION ALL
        SELECT month, 'low' AS priority, low AS total FROM wide)
      WHERE total IS NOT NULL
    """),
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(
          round(sum(when(col("o_orderpriority") === "1-URGENT",
            col("o_totalprice"))), 2).as("urgent"),
          round(sum(when(col("o_orderpriority") === "5-LOW",
            col("o_totalprice"))), 2).as("low"))
        .unpivot(Array(col("month")), Array(col("urgent"), col("low")),
          "priority", "total")
        .filter(col("total").isNotNull))

  /** Top-2 orders per customer through the CUSTOM physical operator
    * (graft.plans.TopKPerGroup: LogicalPlan + Strategy + SparkPlan with
    * map-side bounded heaps — only k rows per key per input partition
    * reach the shuffle, vs the window form's full shuffle + sort). The
    * oracle is the equivalent window-rank SQL, proving the custom operator
    * computes exactly the declarative semantics. */
  val q36TopkPerGroupNative: Q = Q(
    "q36_topk_per_group_native",
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders) x
      WHERE rn <= 2
    """),
    (s, dir) => {
      val o = t(s, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
      graft.plans.TopKPerGroup.topKPerGroup(o,
        keys = Seq(o("o_custkey")),
        ordering = Seq(graft.plans.TopKPerGroup.desc(o("o_totalprice")),
          graft.plans.TopKPerGroup.asc(o("o_orderkey"))),
        k = 2)
    })

  val all: Seq[Q] = Seq(
    q01PricingSummary, q02FilterPushdown, q03RevenueByNation,
    q04TopRevenueOrders, q05TopkAbsEvents, q06LatestOrderPerCustomer,
    q07ModePriorityPerNation, q08BudgetVsActual, q09CustomersWithoutOrders,
    q10UrgentBigSpenders, q11CustomerOnlyNations, q12RollupQuantity,
    q32CubeQuantity, q36TopkPerGroupNative, q39GroupingSets, q47PivotPriorities,
    q48UnpivotPriorities)
}
