package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Time/window/JSON operators over the `events` stream-shaped table —
  * running aggregates (analytic windows), tumbling-window rollups, JSON
  * scalar extraction (F16) and the high-watermark incremental read (I1/P4).
  *
  * Timestamp parity note: events.ts is nanosecond parquet; the engine reads
  * it through `Tables` as microsecond timestamps, and every oracle
  * comparison is expressed over `epoch µs` BIGINTs so both engines hash the
  * identical integer regardless of their native timestamp width.
  */
object Temporal {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")

  /** Running balance + previous value per user over purchase events —
    * the lag/lead + cumulative-sum family SURVEY §2.5 notes as the natural
    * extension of the reference's single window op. One shuffle on
    * user_id. */
  val q13RunningBalance: Q = Q(
    "q13_running_balance",
    Some("""
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             round(sum(value) OVER wf, 4) AS running_total,
             round(coalesce(lag(value, 1) OVER wo, 0.0), 4) AS prev_value,
             row_number() OVER wo AS seq
      FROM events
      WHERE event_type = 'purchase'
      WINDOW wo AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
             wf AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """),
    (s, dir) => {
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      val wf = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir)
        .filter(col("event_type") === "purchase")
        .select(
          col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
          round(sum(col("value")).over(wf), 4).as("running_total"),
          round(coalesce(lag(col("value"), 1).over(wo), lit(0.0)), 4).as("prev_value"),
          row_number().over(wo).as("seq"))
    })

  /** 10-minute tumbling-window aggregate — the batch shape of the
    * Structured Streaming windowed agg (SURVEY §2.10 I1 note; `events`
    * fixture). Window start is emitted as epoch seconds so both engines
    * agree without timezone semantics. */
  val q14TumblingWindow: Q = Q(
    "q14_tumbling_window",
    Some("""
      SELECT (epoch_us(ts) // 600000000) * 600 AS window_start,
             event_type,
             count(*) AS n_events,
             round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY 1, 2
    """),
    (s, dir) =>
      ev(s, dir)
        .groupBy(
          (expr("unix_micros(ts) DIV 600000000") * 600).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value")))

  /** Sliding (overlapping) windows via Spark's real `window(ts, size,
    * slide)` — q14's tumbling companion; every event lands in
    * size/slide = 2 windows. The oracle expands each event across its two
    * aligned window starts with a generate_series cross join. Same
    * streaming-ready shape: the identical expression runs under
    * `readStream` with a watermark. */
  val q41SlidingWindow: Q = Q(
    "q41_sliding_window",
    Some("""
      WITH expanded AS (
        SELECT (epoch_us(ts) // 300000000 - i) * 300 AS window_start,
               event_type, value
        FROM events, generate_series(0, 1) AS t(i))
      SELECT window_start, event_type,
             count(*) AS n_events,
             round(sum(value), 2) AS sum_value
      FROM expanded
      GROUP BY 1, 2
    """),
    (s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(unix_seconds(col("w.start")).as("window_start"),
          col("event_type"), col("n_events"), col("sum_value")))

  /** JSON scalar extraction (F16 — to_json/from_json family;
    * json_writer.py:153,195): pull `props.k`, aggregate by it. */
  val q15JsonExtract: Q = Q(
    "q15_json_extract",
    Some("""
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             count(*) AS n,
             round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY 1
    """),
    (s, dir) =>
      ev(s, dir)
        .groupBy(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value")))

  /** I1/P4 — high-watermark incremental read: rows strictly newer than the
    * last control-table watermark, plus the new watermark per group
    * (datatrack_spark_utils.py:118-188). The range predicate is
    * partition-prunable at scale. */
  val q20WatermarkIncremental: Q = Q(
    "q20_watermark_incremental",
    Some("""
      SELECT event_type,
             count(*) AS n_new,
             max(epoch_us(ts)) AS new_watermark_us
      FROM events
      WHERE epoch_us(ts) > epoch_us(TIMESTAMP '2024-01-15 00:00:00')
      GROUP BY event_type
    """),
    (s, dir) =>
      graft.lake.Lake.incrementalAfter(
          ev(s, dir), "ts", to_timestamp(lit("2024-01-15 00:00:00")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_new"),
          max(unix_micros(col("ts"))).as("new_watermark_us")))

  /** Ranking-family windows (rank / dense_rank / ntile / lead — SURVEY
    * §2.5 notes these come free once W1 exists): customer spend ranked
    * within nation-of-customer quartiles. */
  val q33RankFamily: Q = Q(
    "q33_rank_family",
    Some("""
      SELECT o_custkey, total,
             rank() OVER w AS rnk,
             dense_rank() OVER w AS drnk,
             ntile(4) OVER w AS quartile,
             coalesce(lead(o_custkey, 1) OVER w, -1) AS next_custkey
      FROM (
        SELECT o_custkey, round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY o_custkey)
      WINDOW w AS (ORDER BY total DESC, o_custkey ASC)
    """),
    (s, dir) => {
      // Global ORDER BY window with NO partition key: computed via the
      // two-pass range-partitioned rank (GlobalOrder) instead of
      // Window.orderBy, which would Exchange every row into ONE partition.
      val spend = Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("total"))
      val ranked = GlobalOrder.withRanks(spend,
        Seq(col("total").desc, col("o_custkey").asc),
        Seq(col("total"), col("o_custkey")))
      GlobalOrder.leadByRowNumber(ranked.df, "rn", "o_custkey", "__next")
        .select(col("o_custkey"), col("total"),
          col("rnk").cast("int").as("rnk"),
          col("drnk").cast("int").as("drnk"),
          GlobalOrder.ntileFromRowNumber(col("rn"), 4, ranked.totalRows)
            .cast("int").as("quartile"),
          coalesce(col("__next"), lit(-1L)).as("next_custkey"))
    })

  /** The engine's SQL string surface: temp views + `spark.sql` (the
    * reference drives MERGE/DELETE/DDL through SQL strings — SURVEY §2.1;
    * here the whole query is SQL against registered views). */
  val q34SqlSurface: Q = Q(
    "q34_sql_surface",
    Some("""
      SELECT s_name, round(sum(l_extendedprice), 2) AS supplied_value,
             count(*) AS n_lines
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_name
      HAVING count(*) > 100
    """),
    (s, dir) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      Tables(s, dir, "supplier").createOrReplaceTempView("v_supplier")
      s.sql("""
        SELECT s_name, round(sum(l_extendedprice), 2) AS supplied_value,
               count(*) AS n_lines
        FROM v_lineitem JOIN v_supplier ON l_suppkey = s_suppkey
        GROUP BY s_name
        HAVING count(*) > 100
      """)
    })

  /** Subquery family on the SQL surface — correlated EXISTS, NOT IN and
    * a scalar subquery in one statement (q34 covers join/agg/HAVING SQL;
    * this covers the subquery rewrites: Catalyst plans EXISTS as a left
    * semi join, NOT IN as a null-aware anti join, and the scalar
    * subquery as a one-row broadcast — all shuffle-safe shapes, nothing
    * driver-side). The scalar threshold is rounded on both sides so the
    * boundary cannot flip on summation-order ulps of avg(). */
  val q58SubqueryFamily: Q = Q(
    "q58_subquery_family",
    Some("""
      SELECT c_custkey, c_name
      FROM customer c
      WHERE EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > (SELECT round(avg(o_totalprice), 2)
                                      FROM orders))
        AND c_custkey NOT IN (
              SELECT o_custkey FROM orders
              WHERE o_orderpriority = '1-URGENT')
      ORDER BY c_custkey
    """),
    (s, dir) => {
      Tables(s, dir, "customer").createOrReplaceTempView("v_customer")
      Tables(s, dir, "orders").createOrReplaceTempView("v_orders")
      s.sql("""
        SELECT c_custkey, c_name
        FROM v_customer c
        WHERE EXISTS (
                SELECT 1 FROM v_orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > (SELECT round(avg(o_totalprice), 2)
                                        FROM v_orders))
          AND c_custkey NOT IN (
                SELECT o_custkey FROM v_orders
                WHERE o_orderpriority = '1-URGENT')
        ORDER BY c_custkey
      """)
    })

  /** Recursive CTE on the SQL surface (Spark 4's WITH RECURSIVE,
    * SPARK-24497): per-seed ancestor walk up the binary key hierarchy
    * (parent = custkey DIV 2 — the same halving chain both engines can
    * replay), JOINING the dimension at every step and accumulating the
    * path balance. Exercises the recursion features that matter: a join
    * inside the recursive branch, natural termination (customer 0 does
    * not exist), and a driver-free iterative plan — the BOM/org-chart
    * reachability verb the d17/d19 Pregel operators provide
    * programmatically, now on plain SQL. path_bal needs NO rounding:
    * each path's additions run in the same chain order on both engines,
    * so the IEEE result is bit-identical. */
  val q69RecursiveReachability: Q = Q(
    "q69_recursive_reachability",
    Some("""
      WITH RECURSIVE chain AS (
        SELECT c_custkey AS custkey, c_custkey AS cur, 0 AS hops,
               c_acctbal AS path_bal
        FROM customer WHERE c_custkey <= 100
        UNION ALL
        SELECT ch.custkey, c.c_custkey, ch.hops + 1,
               ch.path_bal + c.c_acctbal
        FROM chain ch JOIN customer c ON c.c_custkey = ch.cur // 2
        WHERE ch.cur > 1)
      SELECT custkey, hops AS depth, path_bal
      FROM chain WHERE cur = 1
    """),
    (s, dir) => {
      Tables(s, dir, "customer").createOrReplaceTempView("v_customer_rec")
      s.sql("""
        WITH RECURSIVE chain AS (
          SELECT c_custkey AS custkey, c_custkey AS cur, 0 AS hops,
                 c_acctbal AS path_bal
          FROM v_customer_rec WHERE c_custkey <= 100
          UNION ALL
          SELECT ch.custkey, c.c_custkey, ch.hops + 1,
                 ch.path_bal + c.c_acctbal
          FROM chain ch JOIN v_customer_rec c ON c.c_custkey = ch.cur DIV 2
          WHERE ch.cur > 1)
        SELECT custkey, hops AS depth, path_bal
        FROM chain WHERE cur = 1
      """)
    })

  /** As-of join — the canonical "operator Spark lacks" (builder preference
    * (a): compose built-ins). For each purchase, the most recent click of
    * the same user at or before it. Implemented with the scalable
    * union+window pattern: tag both sides, union, and take the running
    * `last(click_ts, ignoreNulls)` over (user, time) ordering — ONE
    * shuffle on the key, no range-join explosion, no per-key sort-merge
    * custom operator needed. Oracle: DuckDB's native ASOF LEFT JOIN. */
  val q35AsofJoin: Q = Q(
    "q35_asof_join",
    Some("""
      WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                 FROM events WHERE event_type = 'purchase'),
           c AS (SELECT user_id, epoch_us(ts) AS ts_us
                 FROM events WHERE event_type = 'click')
      SELECT p.event_id, p.user_id, p.ts_us,
             c.ts_us AS last_click_ts_us
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
    """),
    (s, dir) => {
      val e = ev(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      // kind 0 = click (right side), kind 1 = purchase (left side); at
      // equal timestamps the click sorts first, so "at or before" includes
      // ties — matching ASOF's >= semantics.
      val tagged = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"), lit(0).as("kind"))
        .unionByName(e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_us"), lit(1).as("kind")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("last_click_ts_us",
          last(when(col("kind") === 0, col("ts_us")), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("last_click_ts_us"))
    })

  /** Batch sessionization: a session boundary is a >30-minute gap to
    * the previous event of the same user; session ids are the running
    * sum of boundary flags, expressed as two windows. */
  val q37SessionizeBatch: Q = Q(
    "q37_sessionize_batch",
    Some("""
      WITH e AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events),
      b AS (
        SELECT *,
          CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w > 1800000000
               THEN 1 ELSE 0 END AS boundary
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      sess AS (
        SELECT *, sum(boundary) OVER (PARTITION BY user_id
                                      ORDER BY ts_us, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM b)
      SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
             count(*) AS n_events,
             min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
             round(sum(value), 2) AS sum_value
      FROM sess GROUP BY user_id, session_no
    """),
    (s, dir) => {
      val gapUs = 30L * 60 * 1000000
      val wo = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val wf = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .withColumn("boundary",
          when(lag(col("ts_us"), 1).over(wo).isNull ||
               col("ts_us") - lag(col("ts_us"), 1).over(wo) > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_no", sum(col("boundary")).over(wf))
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("session_start_us"),
          max(col("ts_us")).as("session_end_us"),
          round(sum(col("value")), 2).as("sum_value"))
    })

  /** q37's sessionization through Spark's NATIVE `session_window`
    * (Catalyst SessionWindow + the session-merging aggregation path, the
    * same operator Structured Streaming uses with a watermark): one
    * expression instead of two windows + running sum. Window end is
    * last-event + gap by definition, which the oracle mirrors. */
  val q43SessionWindowNative: Q = Q(
    "q43_session_window_native",
    Some("""
      WITH e AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events),
      b AS (
        SELECT *,
          CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w > 1800000000
               THEN 1 ELSE 0 END AS boundary
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      sess AS (
        SELECT *, sum(boundary) OVER (PARTITION BY user_id
                                      ORDER BY ts_us, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM b)
      SELECT user_id,
             min(ts_us) AS session_start_us,
             max(ts_us) + 1800000000 AS session_end_us,
             count(*) AS n_events,
             round(sum(value), 2) AS sum_value
      FROM sess GROUP BY user_id, session_no
    """),
    (s, dir) =>
      ev(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("session_start_us"),
          unix_micros(col("w.end")).as("session_end_us"),
          col("n_events"), col("sum_value")))

  /** Time-series resample + gap fill — a family the reference has no
    * engine for (SURVEY §1.1: "no time-series-specific engine"): per-user
    * daily totals re-gridded onto a dense per-user date spine
    * (sequence + explode between that user's first and last active day),
    * missing days forward-filled with the last observed value and
    * flagged. Scale shape: the spine explodes per user (bounded by the
    * date range), the fill is one window per user partition — no global
    * exchange, no driver-side date loop. */
  val q46ResampleFfill: Q = Q(
    "q46_resample_ffill",
    Some("""
      WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               round(sum(value), 2) AS day_value
        FROM events GROUP BY 1, 2),
      bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1
                 FROM daily GROUP BY 1),
      spine AS (SELECT user_id,
                       CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                                   CAST(d1 AS TIMESTAMP),
                                                   INTERVAL 1 DAY)) AS DATE) AS day
                FROM bounds),
      j AS (SELECT s.user_id, s.day, d.day_value
            FROM spine s LEFT JOIN daily d USING (user_id, day))
      SELECT user_id, day,
             last_value(day_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
             day_value IS NULL AS is_gap
      FROM j
    """),
    (s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("day_value"))
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          last(col("day_value"), ignoreNulls = true).over(w).as("value_filled"),
          col("day_value").isNull.as("is_gap"))
    })

  /** Daily resample with LINEAR interpolation — q46's ffill sibling and
    * the one metric dashboards actually chart for continuous series
    * (ffill steps; interpolation draws the line): each in-range gap day
    * gets prev + (next − prev) · elapsed/gap_span. The spine bounds are
    * per-user min/max OBSERVED days, so every gap provably has both
    * anchors and the arithmetic never sees a NULL. Two windows per user
    * key (one forward for the previous anchor, one backward for the
    * next) over the same single exchange. Cross-engine exactness by
    * construction: anchors are round(2) day aggregates, day distances
    * are integers, and the interpolation is the same three IEEE ops in
    * the same order on both engines — no output rounding needed. */
  val q73ResampleInterpolate: Q = Q(
    "q73_resample_interpolate",
    Some("""
      WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               round(sum(value), 2) AS day_value
        FROM events GROUP BY 1, 2),
      bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1
                 FROM daily GROUP BY 1),
      spine AS (SELECT user_id,
                       CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                                   CAST(d1 AS TIMESTAMP),
                                                   INTERVAL 1 DAY)) AS DATE) AS day
                FROM bounds),
      j AS (SELECT s.user_id, s.day, d.day_value
            FROM spine s LEFT JOIN daily d USING (user_id, day)),
      a AS (
        SELECT user_id, day, day_value,
               last_value(day_value IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN day_value IS NOT NULL THEN day END
                 IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
               first_value(day_value IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN day_value IS NOT NULL THEN day END
                 IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        FROM j)
      SELECT user_id, day,
             CASE WHEN day_value IS NOT NULL THEN day_value
                  ELSE pv + (nv - pv) *
                       (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS BIGINT)) END
               AS value_interp,
             day_value IS NULL AS is_gap
      FROM a
    """),
    (s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("day_value"))
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val back = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsDay = when(col("day_value").isNotNull, col("day"))
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), col("day_value"),
          last(col("day_value"), ignoreNulls = true).over(back).as("pv"),
          last(obsDay, ignoreNulls = true).over(back).as("pd"),
          first(col("day_value"), ignoreNulls = true).over(fwd).as("nv"),
          first(obsDay, ignoreNulls = true).over(fwd).as("nd"))
        .select(col("user_id"), col("day"),
          when(col("day_value").isNotNull, col("day_value"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              (datediff(col("day"), col("pd")).cast("double") /
                datediff(col("nd"), col("pd")).cast("long")))
            .as("value_interp"),
          col("day_value").isNull.as("is_gap"))
    })

  /** Gaps-and-islands: per-user consecutive-day activity STREAKS — the
    * classic islands decomposition (day_number − per-user row_number is
    * constant within an island), the engagement metric behind "7-day
    * streak" product features and churn screens. Distinct (user, day)
    * first (one exchange), a per-user row_number window on the same
    * key, then islands collapse to one row each — output is
    * streak-count-sized, all arithmetic integer/date. Emits each user's
    * longest streak, streak count and total active days. */
  val q77Streaks: Q = Q(
    "q77_streaks",
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      isl AS (
        SELECT user_id, day,
               CAST(day AS DATE) - CAST(row_number() OVER (
                 PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
        FROM days),
      streaks AS (
        SELECT user_id, grp, count(*) AS len
        FROM isl GROUP BY 1, 2)
      SELECT user_id,
             max(len) AS longest_streak,
             count(*) AS n_streaks,
             CAST(sum(len) AS BIGINT) AS active_days
      FROM streaks GROUP BY 1
    """),
    (s, dir) => {
      val days = ev(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val streaks = days
        .withColumn("grp", date_sub(col("day"), row_number().over(w)))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
      streaks.groupBy(col("user_id"))
        .agg(max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"),
          sum(col("len")).as("active_days"))
    })

  /** Interval (range) join via time-bucketing — the join family Spark
    * has no native strategy for: a raw `ts BETWEEN t_start AND t_end`
    * condition plans as a nested-loop join (every event against every
    * interval). The bucket-grid rewrite (same family as s03's triangle
    * grid): events land in their hour bucket, each interval explodes
    * onto the hour buckets it overlaps, the join becomes an EQUI-join on
    * the bucket plus a cheap residual BETWEEN — shuffle-partitionable,
    * fan-out bounded by interval length / bucket width. PlanSpec asserts
    * the nested-loop never appears. */
  val q49IntervalBucketJoin: Q = Q(
    "q49_interval_bucket_join",
    Some("""
      WITH intervals AS (
        SELECT * FROM (VALUES
          (1, TIMESTAMP '2024-01-03 06:00:00', TIMESTAMP '2024-01-03 18:30:00'),
          (2, TIMESTAMP '2024-01-10 00:00:00', TIMESTAMP '2024-01-12 00:00:00'),
          (3, TIMESTAMP '2024-01-15 20:15:00', TIMESTAMP '2024-01-16 04:45:00'),
          (4, TIMESTAMP '2024-01-20 12:00:00', TIMESTAMP '2024-01-20 12:59:59'),
          (5, TIMESTAMP '2024-01-25 00:00:00', TIMESTAMP '2024-01-31 23:59:59'))
          AS v(interval_id, t_start, t_end))
      SELECT i.interval_id, count(*) AS n_events,
             round(sum(e.value), 2) AS sum_value
      FROM events e JOIN intervals i
        ON e.ts BETWEEN i.t_start AND i.t_end
      GROUP BY i.interval_id
    """),
    (s, dir) => {
      val intervals = graft.LocalTable.of(s,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("interval_id",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("t_start",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("t_end",
            org.apache.spark.sql.types.TimestampType))),
        Seq(
          (1, "2024-01-03 06:00:00", "2024-01-03 18:30:00"),
          (2, "2024-01-10 00:00:00", "2024-01-12 00:00:00"),
          (3, "2024-01-15 20:15:00", "2024-01-16 04:45:00"),
          (4, "2024-01-20 12:00:00", "2024-01-20 12:59:59"),
          (5, "2024-01-25 00:00:00", "2024-01-31 23:59:59")).map { case (i, a, b) =>
          org.apache.spark.sql.Row(i, java.sql.Timestamp.valueOf(a),
            java.sql.Timestamp.valueOf(b))
        })
      // hour-bucket grid: intervals explode onto every hour they overlap
      val bucketed = intervals.select(col("interval_id"), col("t_start"), col("t_end"),
        explode(sequence(
          floor(unix_timestamp(col("t_start")) / 3600).cast("long"),
          floor(unix_timestamp(col("t_end")) / 3600).cast("long"))).as("bucket"))
      val events = ev(s, dir).select(col("ts"), col("value"),
        floor(unix_timestamp(col("ts")) / 3600).cast("long").as("bucket"))
      events.join(bucketed, Seq("bucket"))
        .filter(col("ts").between(col("t_start"), col("t_end")))
        .groupBy(col("interval_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
    })

  /** Ordered funnel over an event stream — greedy-earliest semantics:
    * stage 1 completes at the user's first `steps(0)` event, stage k at
    * the first `steps(k-1)` event STRICTLY after stage k-1's completion.
    * Emits one row per user: each stage's completion time (NULL when
    * never reached) plus the completed-stage count.
    *
    * Scale shape: ONE shuffle on the user key — each later stage's
    * candidate timestamps ride the same aggregate as a collected array
    * and the ordered constraint resolves with a per-user linear
    * `filter`/`array_min` pass (bounded by that user's event count; no
    * per-stage re-join of the corpus, which would be k shuffles). A
    * pathological bot user concentrates its own events on one task but
    * never another key's — the blast radius of skew is one user's array,
    * the mitigation (pre-cap events per user per stage) composes as a
    * filter before this operator. */
  def funnel(events: DataFrame, steps: Seq[String],
      userCol: String = "user_id", tsCol: String = "ts_us",
      typeCol: String = "event_type",
      withinUs: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct == steps, "funnel steps must be distinct")
    require(withinUs.forall(_ > 0), "conversion window must be positive")
    val base = events.filter(col(typeCol).isin(steps: _*))
    val agged = base.groupBy(col(userCol)).agg(
      min(when(col(typeCol) === steps.head, col(tsCol))).as("t1_us"),
      steps.tail.zipWithIndex.map { case (st, i) =>
        collect_list(when(col(typeCol) === st, col(tsCol))).as(s"a${i + 2}")
      }: _*)
    // null-safe by construction: an unreached previous stage makes the
    // lambda predicate NULL, filter drops every element, array_min of the
    // empty array is NULL — unreached-ness propagates down the funnel.
    // `withinUs` adds the conversion-window bound: every later stage must
    // land within the window opened by stage 1 (the standard product-
    // analytics semantics — a purchase months after the view is not a
    // conversion of that view).
    val filled = (2 to steps.size).foldLeft(agged) { (df, k) =>
      df.withColumn(s"t${k}_us",
        array_min(filter(col(s"a$k"), x => withinUs
          .map(w => x > col(s"t${k - 1}_us") && x <= col("t1_us") + lit(w))
          .getOrElse(x > col(s"t${k - 1}_us")))))
    }
    val stages = (1 to steps.size)
      .map(k => col(s"t${k}_us").isNotNull.cast("int")).reduce(_ + _)
    filled.select(
      col(userCol) +: (1 to steps.size).map(k => col(s"t${k}_us")) :+
        stages.as("stages_completed"): _*)
  }

  /** view → click → purchase conversion funnel per user. */
  val q50Funnel: Q = Q(
    "q50_funnel",
    Some("""
      WITH e AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
        WHERE event_type IN ('view', 'click', 'purchase')),
      u AS (SELECT DISTINCT user_id FROM e),
      s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
             WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.ts_us) AS t2 FROM e
             JOIN s1 ON s1.user_id = e.user_id
             WHERE e.event_type = 'click' AND e.ts_us > s1.t1
             GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, min(e.ts_us) AS t3 FROM e
             JOIN s2 ON s2.user_id = e.user_id
             WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2
             GROUP BY e.user_id)
      SELECT u.user_id, s1.t1 AS t1_us, s2.t2 AS t2_us, s3.t3 AS t3_us,
             CAST(CASE WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END
               AS INTEGER) AS stages_completed
      FROM u LEFT JOIN s1 ON s1.user_id = u.user_id
             LEFT JOIN s2 ON s2.user_id = u.user_id
             LEFT JOIN s3 ON s3.user_id = u.user_id
    """),
    (s, dir) => funnel(
      ev(s, dir).select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type")),
      Seq("view", "click", "purchase")))

  /** Windowed-funnel drop-off — the dashboard form of q50: how many
    * users reach each stage when conversion must complete within 48 h
    * of stage 1. Derived from the same one-shuffle funnel; the rollup
    * is three conditional sums unpivoted to rows (a second, tiny
    * aggregate over per-user rows — never the corpus). */
  val q52FunnelDropoff: Q = Q(
    "q52_funnel_dropoff",
    Some("""
      WITH e AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
        WHERE event_type IN ('view', 'click', 'purchase')),
      s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
             WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.ts_us) AS t2, any_value(s1.t1) AS t1 FROM e
             JOIN s1 ON s1.user_id = e.user_id
             WHERE e.event_type = 'click' AND e.ts_us > s1.t1
               AND e.ts_us <= s1.t1 + 172800000000
             GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, min(e.ts_us) AS t3 FROM e
             JOIN s2 ON s2.user_id = e.user_id
             WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2
               AND e.ts_us <= s2.t1 + 172800000000
             GROUP BY e.user_id)
      SELECT CAST(1 AS INTEGER) AS stage, 'view' AS step,
             (SELECT count(*) FROM s1) AS users
      UNION ALL
      SELECT CAST(2 AS INTEGER), 'click', (SELECT count(*) FROM s2)
      UNION ALL
      SELECT CAST(3 AS INTEGER), 'purchase', (SELECT count(*) FROM s3)
    """),
    (s, dir) => {
      val steps = Seq("view", "click", "purchase")
      val perUser = funnel(
        ev(s, dir).select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type")),
        steps, withinUs = Some(48L * 3600 * 1000000))
      val aggs = steps.indices.map(i => sum((col("stages_completed") >= i + 1)
        .cast("long")).as(s"u${i + 1}"))
      val totals = perUser.agg(aggs.head, aggs.tail: _*)
      totals.select(explode(array(steps.zipWithIndex.map { case (st, i) =>
        struct(lit(i + 1).as("stage"), lit(st).as("step"),
          col(s"u${i + 1}").as("users"))
      }: _*)).as("r")).select(col("r.stage"), col("r.step"), col("r.users"))
    })

  /** Retention cohorts — users cohorted by first-active day, activity
    * counted at each day offset from the cohort day (the classic
    * triangle retention matrix). Scale shape: the corpus collapses to
    * distinct (user, day) FIRST (one exchange, map-side combine via
    * partial-distinct), the cohort day is a min-window over the already
    * deduplicated activity (partition by user — no corpus re-scan, no
    * join back), and the final rollup groups the deduped rows. Every
    * exchange after the first moves activity-days, never raw events. */
  val q51RetentionCohorts: Q = Q(
    "q51_retention_cohorts",
    Some("""
      WITH daily AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      c AS (SELECT user_id, min(day) AS cohort_day FROM daily GROUP BY 1)
      SELECT c.cohort_day,
             CAST(d.day - c.cohort_day AS INTEGER) AS day_offset,
             count(*) AS active_users
      FROM daily d JOIN c ON c.user_id = d.user_id
      GROUP BY 1, 2
    """),
    (s, dir) => {
      val daily = ev(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val wu = Window.partitionBy(col("user_id"))
      daily
        .withColumn("cohort_day", min(col("day")).over(wu))
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("active_users"))
    })

  /** Event-transition matrix — the user-journey Markov chain the
    * funnel/retention family reads flows from: for every consecutive
    * event pair within a user's timeline (ordered by ts with event_id as
    * the deterministic tiebreak), count (prev_type → next_type)
    * transitions and the per-prev transition probability.
    *
    * Scale shape: ONE shuffle on the user key for the lag window (the
    * same clustering q13/q50 use), then a partial-aggregatable groupBy
    * that collapses the corpus to at most |event_types|² rows — the
    * probability window runs over that tiny aggregate, never the corpus.
    * `p` is a single IEEE division of two exact integers, so both
    * engines compute the identical double with no rounding needed. */
  def eventTransitions(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", idCol: String = "event_id",
      typeCol: String = "event_type"): DataFrame = {
    val wu = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol))
      .withColumn("prev_type", lag(col(typeCol), 1).over(wu))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col(typeCol).as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("prev_type"))).cast("double"))
  }

  val q53EventTransitions: Q = Q(
    "q53_event_transitions",
    Some("""
      WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
      t AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      SELECT prev_type, next_type, n,
             CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type)
                                      AS DOUBLE) AS p
      FROM t
    """),
    (s, dir) => eventTransitions(ev(s, dir)))

  /** Top-k most frequent 3-step user-journey paths — the sequence-mining
    * rollup next to q53's single-step matrix (a transition matrix is
    * memoryless; product teams read the actual multi-step flows).
    *
    * Scale shape: the same ONE user-key shuffle as q53 (two lags over
    * one window), a partial-aggregatable groupBy to ≤ |types|³ rows, and
    * a global top-k that Spark plans as TakeOrderedAndProject —
    * per-partition heads merged on the driver, never a single-partition
    * sort of the corpus. Ties break on the path columns so the cut is
    * deterministic. */
  def topPaths(events: DataFrame, k: Int, userCol: String = "user_id",
      tsCol: String = "ts", idCol: String = "event_id",
      typeCol: String = "event_type"): DataFrame = {
    require(k > 0, "k must be positive")
    val wu = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol).as("t3"))
      .withColumn("t1", lag(col("t3"), 2).over(wu))
      .withColumn("t2", lag(col("t3"), 1).over(wu))
      .filter(col("t1").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1").asc, col("t2").asc, col("t3").asc)
      .limit(k)
  }

  val q54TopPaths: Q = Q(
    "q54_top_paths",
    Some("""
      WITH seq AS (
        SELECT user_id, event_type AS t3,
               lag(event_type, 2) OVER w AS t1,
               lag(event_type, 1) OVER w AS t2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      p AS (
        SELECT t1, t2, t3, count(*) AS n
        FROM seq WHERE t1 IS NOT NULL GROUP BY 1, 2, 3)
      SELECT t1, t2, t3, n FROM p
      ORDER BY n DESC, t1 ASC, t2 ASC, t3 ASC
      LIMIT 10
    """),
    (s, dir) => topPaths(ev(s, dir), k = 10))

  /** Value-based RANGE window frame — the trailing-24 h running sum per
    * user (fraud velocity checks, rate limits, rolling spend). Distinct
    * from q13's ROWS frame (count-based) and q41's window() buckets
    * (fixed grid): the frame bound is an EVENT-TIME interval around each
    * row, and peers at the same timestamp share one frame on both
    * engines by SQL RANGE semantics (no tiebreak needed — which is what
    * makes the value-based frame deterministic where a ROWS frame over
    * tied timestamps would not be).
    *
    * Scale shape: one user-key exchange; the frame scan is the
    * per-partition sliding-window pass over each user's sorted events. */
  val q55TrailingRangeSum: Q = Q(
    "q55_trailing_range_sum",
    Some("""
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             round(sum(value) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW), 2)
               AS trailing_24h
      FROM events
    """),
    (s, dir) => trailingRangeSum(
      ev(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value")),
      windowUs = 86400000000L).withColumnRenamed("trailing", "trailing_24h"))

  def trailingRangeSum(events: DataFrame, windowUs: Long,
      userCol: String = "user_id", tsCol: String = "ts_us",
      valueCol: String = "value"): DataFrame = {
    require(windowUs > 0, "windowUs must be positive")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol))
      .rangeBetween(-windowUs, Window.currentRow)
    events.select(
      events.columns.filter(c => c != valueCol).map(col).toIndexedSeq :+
        round(sum(col(valueCol)).over(w), 2).as("trailing"): _*)
  }

  /** percent_rank + cume_dist over a GLOBAL ordering — completing the
    * q33 rank family with the two distribution functions, still with NO
    * single-partition exchange: both are pure arithmetic over the
    * two-pass range-partitioned rank (`pr = (rank-1)/(n-1)`) plus a
    * peer-count join for cume_dist (`cd = (rank-1+peers)/n`) — the peer
    * table is value-distinct-sized and hash-partitions freely. The
    * ordering deliberately has NO tiebreak so tied totals exercise real
    * peer-group semantics (both functions are defined over peers). Both
    * outputs are ratios of exact integers — one IEEE division each, no
    * cross-engine rounding needed. */
  val q56RankDistributions: Q = Q(
    "q56_rank_distributions",
    Some("""
      WITH spend AS (
        SELECT o_custkey, round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY o_custkey)
      SELECT o_custkey, total,
             percent_rank() OVER (ORDER BY total DESC) AS pr,
             cume_dist() OVER (ORDER BY total DESC) AS cd
      FROM spend
    """),
    (s, dir) => rankDistributions(
      Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("total")),
      keyCol = "o_custkey", valueCol = "total"))

  /** See [[q56RankDistributions]]: percent_rank + cume_dist over a
    * global DESC ordering of `valueCol`, no single-partition exchange. */
  def rankDistributions(df: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    val ranked = GlobalOrder.withRanks(df,
      Seq(col(valueCol).desc), Seq(col(valueCol)))
    val peers = df.groupBy(col(valueCol)).agg(count(lit(1)).as("__peers"))
    val n = ranked.totalRows
    ranked.df.join(peers, Seq(valueCol))
      .select(col(keyCol), col(valueCol),
        (when(lit(n) > 1, (col("rnk") - 1).cast("double") / (n - 1).toDouble)
          .otherwise(lit(0.0))).as("pr"),
        ((col("rnk") - 1 + col("__peers")).cast("double") / n.toDouble).as("cd"))
  }

  /** Statistical-aggregate family — sample stddev/variance, covariance
    * and Pearson correlation per event type (value vs hour-of-day, the
    * intraday-pattern screen). All four are single-pass partial-
    * aggregatable moments (sum/sum-of-squares/cross-products collapse
    * map-side); both engines implement the identical textbook
    * estimators, with round(4) absorbing the summation-order ulps. */
  val q57StatMoments: Q = Q(
    "q57_stat_moments",
    Some("""
      SELECT event_type, count(*) AS n,
             round(stddev_samp(value), 4) AS sd,
             round(var_samp(value), 4) AS vr,
             round(covar_samp(value, CAST(hour(ts) AS DOUBLE)), 4) AS cv,
             round(corr(value, CAST(hour(ts) AS DOUBLE)), 4) AS cr
      FROM events
      GROUP BY event_type
    """),
    (s, dir) => ev(s, dir)
      .select(col("event_type"), col("value"),
        hour(col("ts")).cast("double").as("h"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(stddev_samp(col("value")), 4).as("sd"),
        round(var_samp(col("value")), 4).as("vr"),
        round(covar_samp(col("value"), col("h")), 4).as("cv"),
        round(corr(col("value"), col("h")), 4).as("cr")))

  /** Trailing-window anomaly detection over the daily event-volume series
    * — the data-quality screen a 100 TB ingest runs on every load ("did a
    * source double overnight?"). Each (event_type, day) count is z-scored
    * against the `lookback` PRECEDING days (the frame excludes the
    * current row, so the point under test never contaminates its own
    * baseline); days with fewer than `minObs` history rows or zero
    * variance are skipped rather than scored.
    *
    * Cross-engine determinism is by construction, not rounding: the frame
    * aggregates are INTEGER sums (count, Σv, Σv²) — exact and
    * summation-order-free — and mean/variance/z derive from them with
    * single IEEE divisions/sqrt, so both engines produce bit-identical
    * doubles. (Summing doubles over a window frame would NOT be safe:
    * DuckDB's segment-tree frame aggregation and Spark's running
    * accumulation order the additions differently.)
    *
    * Scale: the series aggregate collapses the corpus to |keys|×|days|
    * rows map-side; the window shuffles only that aggregate on the key. */
  val q61AnomalyZscore: Q = Q(
    "q61_anomaly_zscore",
    Some("""
      WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day_no,
               count(*) AS cnt
        FROM events GROUP BY 1, 2),
      stats AS (
        SELECT event_type, day_no, cnt,
               count(cnt) OVER w AS n,
               sum(cnt) OVER w AS s,
               sum(cnt * cnt) OVER w AS ss
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day_no
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      scored AS (
        SELECT event_type, day_no, cnt, n,
               (CAST(ss AS DOUBLE) -
                CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) AS v,
               CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE) / n AS dev
        FROM stats WHERE n >= 3)
      SELECT event_type, day_no, cnt,
             dev / sqrt(v) AS z,
             abs(dev / sqrt(v)) > 2.0 AS is_anomaly
      FROM scored WHERE v > 0
    """),
    (s, dir) => anomalyZScores(
      ev(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) DIV 86400000000").as("day_no"))
        .agg(count(lit(1)).as("cnt")),
      keyCol = "event_type", timeCol = "day_no", valueCol = "cnt"))

  /** See [[q61AnomalyZscore]]: z-score each point of an integer-valued
    * keyed series against its trailing `lookback` points (exclusive of
    * the point itself). `valueCol` should be integral for cross-engine
    * bit-exactness; the math is still correct for doubles. */
  def anomalyZScores(series: DataFrame, keyCol: String, timeCol: String,
      valueCol: String, lookback: Int = 7, minObs: Int = 3,
      threshold: Double = 2.0): DataFrame = {
    require(lookback >= minObs && minObs >= 2,
      "need lookback >= minObs >= 2 for a sample variance")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(timeCol))
      .rowsBetween(-lookback, -1)
    val v = col(valueCol)
    series
      .select(col(keyCol), col(timeCol), v,
        count(v).over(w).as("__n"),
        sum(v).over(w).as("__s"),
        sum(v * v).over(w).as("__ss"))
      .filter(col("__n") >= minObs)
      .withColumn("__v",
        (col("__ss").cast("double") -
          col("__s").cast("double") * col("__s").cast("double") / col("__n"))
          / (col("__n") - 1))
      .withColumn("__dev", v.cast("double") - col("__s").cast("double") / col("__n"))
      .filter(col("__v") > 0)
      .withColumn("z", col("__dev") / sqrt(col("__v")))
      .select(col(keyCol), col(timeCol), v, col("z"),
        (abs(col("z")) > threshold).as("is_anomaly"))
  }

  /** Winsorized (percentile-clipped) robust statistics per event type —
    * the outlier-tamed twin of q57's raw moments: values clip at the
    * group's EXACT p05/p95 (both engines implement R-7 interpolation —
    * the d45 parity) before aggregating, so a single fat-finger event
    * cannot swing the sum. Two passes by necessity (percentiles are
    * holistic): the percentile aggregate collapses the corpus to
    * |types| rows and broadcasts back into one clipping scan — the
    * second pass is map-side only. */
  val q62WinsorizedStats: Q = Q(
    "q62_winsorized_stats",
    Some("""
      WITH pct AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS p05,
               quantile_cont(value, 0.95) AS p95
        FROM events GROUP BY 1)
      SELECT e.event_type, count(*) AS n,
             count(CASE WHEN e.value < pct.p05 OR e.value > pct.p95
                        THEN 1 END) AS n_clipped,
             round(min(pct.p05), 6) AS p05, round(min(pct.p95), 6) AS p95,
             round(sum(greatest(pct.p05, least(pct.p95, e.value))), 2)
               AS sum_winsorized
      FROM events e JOIN pct USING (event_type)
      GROUP BY 1
    """),
    (s, dir) => {
      val ev0 = ev(s, dir).select(col("event_type"), col("value"))
      val pct = ev0.groupBy(col("event_type")).agg(
        percentile(col("value"), lit(0.05)).as("p05"),
        percentile(col("value"), lit(0.95)).as("p95"))
      ev0.join(broadcast(pct), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(when(col("value") < col("p05") ||
            col("value") > col("p95"), lit(1))).as("n_clipped"),
          round(min(col("p05")), 6).as("p05"),
          round(min(col("p95")), 6).as("p95"),
          round(sum(greatest(col("p05"), least(col("p95"), col("value")))), 2)
            .as("sum_winsorized"))
    })

  /** Inter-arrival (latency) distribution per event type: the gap from
    * each event to the SAME USER's previous event, summarized with
    * exact R-7 percentiles (the d45 parity) — the latency/engagement
    * profile behind session-timeout and anomaly thresholds (q37's 30-min
    * gap and q61's baselines are downstream consumers of exactly these
    * distributions). One user-key window for the lag, then a
    * group-bounded percentile aggregate over |types| groups. */
  val q66InterarrivalStats: Q = Q(
    "q66_interarrival_stats",
    Some("""
      WITH d AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                 AS delta_us
        FROM events)
      SELECT event_type, count(delta_us) AS n,
             quantile_cont(delta_us, 0.5) AS p50_us,
             quantile_cont(delta_us, 0.9) AS p90_us,
             CAST(max(delta_us) AS BIGINT) AS max_us
      FROM d WHERE delta_us IS NOT NULL
      GROUP BY 1
    """),
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      ev(s, dir)
        .select(col("event_type"),
          (unix_micros(col("ts")) -
            lag(unix_micros(col("ts")), 1).over(w)).as("delta_us"))
        .filter(col("delta_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(col("delta_us")).as("n"),
          percentile(col("delta_us"), lit(0.5)).as("p50_us"),
          percentile(col("delta_us"), lit(0.9)).as("p90_us"),
          max(col("delta_us")).as("max_us"))
    })

  /** Truncated exponentially-weighted moving average per key — the
    * trend-smoothing companion to q55's flat trailing sum (recency-
    * weighted, the monitoring/feature-engineering standard). The exact
    * EWMA recursion is an unbounded-depth sequential fold no engine can
    * parallelize; truncating at `window` terms bounds the error by
    * (1−α)^window (< 1e-6 at α=0.25, window=50) and makes it ONE
    * bounded-frame window expression: collect the frame's values,
    * weight element d steps back by α(1−α)^d, sum in fixed order. The
    * frame list is `window`-bounded per row — state never grows with
    * history, the property that also makes this the streaming-ready
    * formulation. */
  def trailingEwma(events: DataFrame, alpha: Double, window: Int,
      userCol: String = "user_id", valueCol: String = "value"): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    require(window >= 1, "window must be positive")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-(window - 1), Window.currentRow)
    val l = collect_list(col(valueCol).cast("double")).over(w)
    // newest-first so the decay exponent IS the element index — no
    // length reference inside the lambda
    val ew = aggregate(
      transform(reverse(l), (x, i) =>
        x * lit(alpha) * pow(lit(1 - alpha), i)),
      lit(0.0), (acc, x) => acc + x)
    events.select(col("event_id"), col(userCol),
      (floor(ew * 1e6 + 0.5) / 1e6).as("ewma"))
  }

  /** q78 — α=0.25 (exact in binary, as is 1−α=0.75), 50-term truncation
    * per user over event time. Weights are libm pow values identical in
    * magnitude-order on both engines; floor@6 absorbs the ≤1-ulp pow and
    * summation-order variance. */
  val q78TrailingEwma: Q = Q(
    "q78_trailing_ewma",
    Some("""
      WITH x AS (
        SELECT event_id, user_id, value,
               list(value) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS l
        FROM events)
      SELECT event_id, user_id,
             floor(list_sum(list_transform(list_reverse(l),
               (v, i) -> v * CAST(0.25 AS DOUBLE) * pow(CAST(0.75 AS DOUBLE), i - 1)))
               * 1e6 + 0.5) / 1e6 AS ewma
      FROM x
    """),
    (s, dir) => trailingEwma(
      ev(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value")),
      alpha = 0.25, window = 50))

  /** Robust outlier screen via the median absolute deviation — the
    * companion q61's z-score cannot be: mean/stddev are themselves
    * dragged by the outliers they are meant to flag (masking), while
    * median and MAD have a 50% breakdown point. Two group-bounded exact
    * R-7 percentile aggregates (each collapses to |groups| rows and
    * broadcasts back into a map-side scan — the q62 shape, twice) and
    * the standard 1.4826 normal-consistency scaling. Emits per group:
    * n, median, mad, and the count beyond `cut` scaled MADs. */
  def madOutliers(events: DataFrame, cut: Double,
      keyCol: String = "event_type", valueCol: String = "value"): DataFrame = {
    require(cut > 0, "cut must be positive")
    // med and mad are floor@6'd BEFORE the deviation/threshold math, not
    // just for display: the comparison must not hinge on the two engines'
    // percentile interpolations agreeing to the last ulp — a 1-ulp
    // difference on a value sitting exactly at the threshold would flip
    // n_outliers. floor(x*1e6+0.5)/1e6 is pure IEEE arithmetic, written
    // identically in the oracle, so both engines compare identical
    // doubles.
    def f6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(c * 1e6 + 0.5) / 1e6
    val base = events.select(col(keyCol), col(valueCol).as("__v"))
    val med = base.groupBy(col(keyCol))
      .agg(f6(percentile(col("__v"), lit(0.5))).as("med"))
    val withDev = base.join(broadcast(med), Seq(keyCol))
      .withColumn("__dev", abs(col("__v") - col("med")))
    val mad = withDev.groupBy(col(keyCol))
      .agg(f6(percentile(col("__dev"), lit(0.5))).as("mad"))
    withDev.join(broadcast(mad), Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        min(col("med")).as("med"),
        min(col("mad")).as("mad"),
        count(when(col("__dev") > col("mad") * lit(1.4826) * lit(cut), 1))
          .as("n_outliers"))
  }

  /** q79 — MAD outlier screen per event type at the conventional 3-MAD
    * cut. med and mad are floor@6'd on BOTH engines before the
    * deviation/threshold comparison (and are the emitted values), so the
    * gate cannot flip on a 1-ulp percentile-interpolation difference;
    * the scaling literal is CAST to DOUBLE in the oracle — DuckDB
    * decimal literals diverge from IEEE otherwise. */
  val q79MadOutliers: Q = Q(
    "q79_mad_outliers",
    Some("""
      WITH med AS (
        SELECT event_type,
               floor(quantile_cont(value, 0.5) * 1e6 + 0.5) / 1e6 AS med
        FROM events GROUP BY 1),
      dev AS (
        SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS d
        FROM events e JOIN med m USING (event_type)),
      mad AS (
        SELECT event_type,
               floor(quantile_cont(d, 0.5) * 1e6 + 0.5) / 1e6 AS mad
        FROM dev GROUP BY 1)
      SELECT dev.event_type, count(*) AS n,
             min(dev.med) AS med,
             min(mad.mad) AS mad,
             count(CASE WHEN dev.d > mad.mad * CAST(1.4826 AS DOUBLE)
                                      * CAST(3 AS DOUBLE) THEN 1 END)
               AS n_outliers
      FROM dev JOIN mad USING (event_type)
      GROUP BY 1
    """),
    (s, dir) => madOutliers(
      ev(s, dir).select(col("event_type"), col("value")), cut = 3.0))

  val all: Seq[Q] = Seq(
    q13RunningBalance, q14TumblingWindow, q15JsonExtract,
    q20WatermarkIncremental, q33RankFamily, q34SqlSurface, q35AsofJoin,
    q37SessionizeBatch, q41SlidingWindow, q43SessionWindowNative,
    q46ResampleFfill, q49IntervalBucketJoin, q50Funnel, q51RetentionCohorts,
    q52FunnelDropoff, q53EventTransitions, q54TopPaths,
    q55TrailingRangeSum, q56RankDistributions, q57StatMoments,
    q58SubqueryFamily, q61AnomalyZscore, q62WinsorizedStats,
    q66InterarrivalStats, q69RecursiveReachability, q73ResampleInterpolate,
    q77Streaks, q78TrailingEwma, q79MadOutliers)
}
