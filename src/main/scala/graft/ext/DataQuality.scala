package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Lineage, Q, Tables}

/** Data-quality / profiling operators — the observability layer a 100 TB
  * pipeline runs beside every load (the reference's control-table lineage
  * implies these; SURVEY §2.1's landing audits are their small-scale
  * cousins). Both operators collapse the corpus to tiny aggregates
  * map-side before anything shuffles.
  */
object DataQuality {

  /** Heavy-key diagnostics for a join/shuffle key: the top-`topK` keys by
    * row count with exact share and cumulative share of the table. This is
    * the planning input for salting/AQE-skew decisions — a key whose share
    * is 0.2 will straggle any 1000-executor shuffle on that column.
    *
    * Scale shape: one partial-aggregatable groupBy (corpus → |keys| rows),
    * a single-row total that broadcasts, and a TakeOrderedAndProject for
    * the top-K cut; the rank/cumulative window runs over exactly `topK`
    * rows, so its single partition is bounded by construction, never
    * data-sized. Determinism: share and cum_share are single IEEE
    * divisions of exact integer counts (the cumulative sum is taken over
    * LONGs, order-free), and the rank order carries a key tiebreak.
    */
  def keySkewProfile(df: DataFrame, keyCol: String,
      topK: Int = 20): DataFrame = {
    require(topK > 0, "topK must be positive")
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("__total"))
    val top = counts.orderBy(col("cnt").desc, col("key")).limit(topK)
    // bounded window: exactly topK rows after the limit
    val w = Window.orderBy(col("cnt").desc, col("key"))
    top
      .withColumn("rnk", row_number().over(w))
      .withColumn("__cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("key"), col("cnt"), col("rnk"),
        (col("cnt").cast("double") / col("__total").cast("double")).as("share"),
        (col("__cum").cast("double") / col("__total").cast("double"))
          .as("cum_share"))
  }

  /** Per-column table profile: NULL count, exact distinct count, and (for
    * numeric columns) min/max — the expectations snapshot a pipeline
    * diffs between loads to catch schema drift, null explosions and
    * out-of-range values. One wide aggregate over a single scan (the
    * multi-distinct Expand multiplies rows by #columns map-side — the
    * standard profiling cost, all partial-aggregatable), then a `stack`
    * unpivot of the single result row to long form. */
  def profile(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toIndexedSeq
    def isNumeric(f: StructField): Boolean = f.dataType match {
      case _: NumericType => true
      case _ => false
    }
    val aggs: IndexedSeq[Column] = cols.flatMap { f =>
      val c = col(f.name)
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nulls_${f.name}"),
        count_distinct(c).as(s"__nd_${f.name}")) ++
        (if (isNumeric(f))
          Seq(min(c).cast("double").as(s"__min_${f.name}"),
            max(c).cast("double").as(s"__max_${f.name}"))
        else Nil)
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.flatMap { f =>
      val minMax =
        if (isNumeric(f)) Seq(s"__min_${f.name}", s"__max_${f.name}")
        else Seq("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      Seq(s"'${f.name}'", s"__nulls_${f.name}", s"__nd_${f.name}") ++ minMax
    }
    wide.select(expr(
      s"stack(${cols.size}, ${stackArgs.mkString(", ")}) AS " +
        "(col_name, n_nulls, n_distinct, min_num, max_num)"))
  }

  /** d47 — key-skew profile of the orders fact's customer key. */
  val d47KeySkewProfile: Q = Q(
    "d47_key_skew_profile",
    Some("""
      WITH c AS (SELECT o_custkey AS key, count(*) AS cnt
                 FROM orders GROUP BY 1),
      t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
      top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key LIMIT 20),
      r AS (SELECT key, cnt,
                   row_number() OVER (ORDER BY cnt DESC, key) AS rnk,
                   CAST(sum(cnt) OVER (ORDER BY cnt DESC, key
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum
            FROM top)
      SELECT r.key, r.cnt, r.rnk,
             CAST(r.cnt AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
             CAST(r.cum AS DOUBLE) / CAST(t.total AS DOUBLE) AS cum_share
      FROM r CROSS JOIN t
    """),
    (s, dir) => keySkewProfile(Tables(s, dir, "orders"), "o_custkey"))

  /** d48 — full-table profile of orders (nulls / distincts / numeric
    * ranges per column). */
  val d48DataProfile: Q = Q(
    "d48_data_profile",
    Some("""
      SELECT 'o_orderkey' AS col_name,
             CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             count(DISTINCT o_orderkey) AS n_distinct,
             CAST(min(o_orderkey) AS DOUBLE) AS min_num,
             CAST(max(o_orderkey) AS DOUBLE) AS max_num
      FROM orders
      UNION ALL
      SELECT 'o_custkey',
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             count(DISTINCT o_custkey),
             CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus',
             CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             count(DISTINCT o_orderstatus),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
      FROM orders
      UNION ALL
      SELECT 'o_totalprice',
             CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             count(DISTINCT o_totalprice),
             CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
      FROM orders
      UNION ALL
      SELECT 'o_orderdate',
             CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             count(DISTINCT o_orderdate),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority',
             CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             count(DISTINCT o_orderpriority),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
      FROM orders
    """),
    (s, dir) => profile(Tables(s, dir, "orders")))

  /** Deterministic pseudonymization: replace each key column with a
    * salted md5 surrogate token — the GDPR/PII tokenization verb
    * (complements d09's pattern-scrub: d09 redacts free text, this
    * replaces IDENTIFIER columns while PRESERVING joinability — the same
    * raw key always maps to the same token, so downstream joins,
    * groupBys and incremental merges keep working on the tokenized
    * lake). Pure codegen'd projection, zero shuffles; the salt rotates
    * per environment so tokens cannot be linked across deployments, and
    * detokenization is impossible without the raw source (one-way
    * hash, unlike encryption). */
  def pseudonymize(df: DataFrame, keyCols: Seq[String],
      salt: String): DataFrame = {
    require(keyCols.nonEmpty && keyCols.forall(df.columns.contains),
      s"key columns ${keyCols.mkString(",")} must exist")
    keyCols.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(col(c).isNull, lit(null).cast("string"))
          .otherwise(md5(concat(lit(salt + ":"), col(c).cast("string")))))
    }
  }

  /** d54 — tokenized events: user_id becomes a salted surrogate;
    * aggregating per token proves joinability survived (counts equal the
    * raw per-user counts under the token mapping). */
  val d54Pseudonymize: Q = Q(
    "d54_pseudonymize",
    Some("""
      SELECT md5('pseud7:' || CAST(user_id AS VARCHAR)) AS user_id,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY 1
    """),
    (s, dir) => pseudonymize(
      Tables(s, dir, "events").select(col("user_id"), col("value")),
      Seq("user_id"), "pseud7")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value")))

  /** Declarative constraint audit — the expectations CHECK a pipeline
    * runs before publishing a load: every predicate rule evaluates in
    * ONE shared scan (a sum(violation)-per-rule aggregate, all
    * partial-aggregatable, unpivoted to long form), uniqueness is
    * count−countDistinct on the same scan, and referential integrity is
    * a key-equi LEFT ANTI join against the parent (broadcastable when
    * the parent key set is dimension-sized). Returns (rule, violations)
    * — a publish gate blocks when any count is non-zero. */
  def constraintAudit(df: DataFrame, rules: Seq[(String, Column)],
      uniqueKey: Option[Seq[String]] = None): DataFrame = {
    require(rules.nonEmpty || uniqueKey.nonEmpty, "no constraints given")
    val ruleAggs = rules.map { case (name, violationCond) =>
      sum(when(violationCond, 1L).otherwise(0L)).as(s"__v_$name")
    } ++ uniqueKey.map { k =>
      // single-key path uses count_distinct(col) directly: a NULL key is
      // NOT a distinct value (SQL COUNT(DISTINCT) semantics, matching
      // the oracle); a multi-key struct would count a (NULL,…) tuple
      val distinctKeys =
        if (k.size == 1) count_distinct(col(k.head))
        else count_distinct(struct(k.map(col): _*))
      (count(lit(1)) - distinctKeys).as("__v_duplicate_key")
    }.toSeq
    val wide = df.agg(ruleAggs.head, ruleAggs.tail: _*)
    val names = rules.map(_._1) ++ uniqueKey.map(_ => "duplicate_key").toSeq
    val stackArgs = names.flatMap(n => Seq(s"'$n'", s"__v_$n"))
    wide.select(expr(
      s"stack(${names.size}, ${stackArgs.mkString(", ")}) AS (rule, violations)"))
  }

  /** Child rows whose key has no parent — the referential-integrity
    * half of the audit, as a count row composable with
    * [[constraintAudit]]'s output. */
  def referentialViolations(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String, rule: String): DataFrame =
    child.join(parent.select(col(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit(rule).as("rule"), col("violations"))

  /** d55 — the audit run against a deliberately corrupted orders
    * snapshot (the q60 pattern: plant deterministic violations so every
    * rule exercises its non-zero path): keys divisible by 97 nulled,
    * prices by 89 negated, statuses by 79 invalidated, custkeys by 73
    * orphaned, and keys divisible by 83 duplicated. */
  val d55ConstraintAudit: Q = Q(
    "d55_constraint_audit",
    Some("""
      WITH corrupted AS (
        SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderkey END
                 AS o_orderkey,
               CASE WHEN o_custkey % 73 = 0 THEN -1 ELSE o_custkey END
                 AS o_custkey,
               CASE WHEN o_orderkey % 79 = 0 THEN 'X' ELSE o_orderstatus END
                 AS o_orderstatus,
               CASE WHEN o_orderkey % 89 = 0 THEN -o_totalprice
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 83 = 0)
      SELECT 'null_key' AS rule,
             CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS violations
      FROM corrupted
      UNION ALL
      SELECT 'negative_price',
             CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM corrupted
      UNION ALL
      SELECT 'bad_status',
             CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                      THEN 1 ELSE 0 END) AS BIGINT)
      FROM corrupted
      UNION ALL
      SELECT 'duplicate_key',
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
      FROM corrupted
      UNION ALL
      SELECT 'orphan_custkey', CAST(count(*) AS BIGINT)
      FROM corrupted o
      WHERE NOT EXISTS (SELECT 1 FROM customer c
                        WHERE c.c_custkey = o.o_custkey)
    """),
    (s, dir) => {
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val corrupted = orders
        .withColumn("o_custkey",
          when(col("o_custkey") % 73 === 0, lit(-1L)).otherwise(col("o_custkey")))
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 79 === 0, lit("X")).otherwise(col("o_orderstatus")))
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 89 === 0, -col("o_totalprice"))
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderkey",
          when(col("o_orderkey") % 97 === 0, lit(null).cast("long"))
            .otherwise(col("o_orderkey")))
        .unionByName(orders.filter(col("o_orderkey") % 83 === 0))
      constraintAudit(corrupted, Seq(
        "null_key" -> col("o_orderkey").isNull,
        "negative_price" -> (col("o_totalprice") < 0),
        "bad_status" -> !col("o_orderstatus").isin("O", "F", "P")),
        uniqueKey = Some(Seq("o_orderkey")))
        .unionByName(referentialViolations(corrupted, "o_custkey",
          Tables(s, dir, "customer"), "c_custkey", "orphan_custkey"))
    })

  /** Mergeable profile artifact — the cross-snapshot maintenance story
    * [[profile]] cannot have: exact distinct counts are holistic (every
    * new load forces a full historical re-scan), so the persisted form
    * keeps per-column Datasketches HLL sketches next to the additive
    * metrics (null counts, min/max). A day's load profiles ONCE; every
    * rollup after that is [[mergeProfileSketches]] — a cheap
    * vocabulary-free union, the q42 pattern applied to table
    * observability. Values sketch through their canonical string form so
    * one artifact schema covers every column type. */
  def profileSketch(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toIndexedSeq
    def isNumeric(f: StructField): Boolean = f.dataType match {
      case _: NumericType => true
      case _ => false
    }
    val aggs: IndexedSeq[Column] = cols.flatMap { f =>
      val c = col(f.name)
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nulls_${f.name}"),
        expr(s"hll_sketch_agg(CAST(${f.name} AS STRING), 12)")
          .as(s"__sk_${f.name}")) ++
        (if (isNumeric(f))
          Seq(min(c).cast("double").as(s"__min_${f.name}"),
            max(c).cast("double").as(s"__max_${f.name}"))
        else Nil)
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.flatMap { f =>
      val minMax =
        if (isNumeric(f)) Seq(s"__min_${f.name}", s"__max_${f.name}")
        else Seq("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      Seq(s"'${f.name}'", s"__nulls_${f.name}", s"__sk_${f.name}") ++ minMax
    }
    wide.select(expr(
      s"stack(${cols.size}, ${stackArgs.mkString(", ")}) AS " +
        "(col_name, n_nulls, sk, min_num, max_num)"))
  }

  /** Merge two profile artifacts: additive metrics add, ranges widen,
    * sketches union — associative and commutative, so snapshots merge
    * in any grouping (a month is a fold of days). */
  def mergeProfileSketches(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("col_name"), col("n_nulls").as("__n_a"), col("sk").as("__sk_a"),
        col("min_num").as("__min_a"), col("max_num").as("__max_a"))
      .join(b.select(col("col_name"), col("n_nulls").as("__n_b"),
        col("sk").as("__sk_b"), col("min_num").as("__min_b"),
        col("max_num").as("__max_b")), Seq("col_name"))
      .select(col("col_name"),
        (col("__n_a") + col("__n_b")).as("n_nulls"),
        expr("hll_union(__sk_a, __sk_b)").as("sk"),
        least(col("__min_a"), col("__min_b")).as("min_num"),
        greatest(col("__max_a"), col("__max_b")).as("max_num"))

  /** Resolve a profile artifact to readable numbers. */
  def finalizeProfile(p: DataFrame): DataFrame =
    p.select(col("col_name"), col("n_nulls"),
      expr("hll_sketch_estimate(sk)").as("n_distinct_est"),
      col("min_num"), col("max_num"))

  /** d56 — two half-snapshots of orders profile independently, merge,
    * and the merged estimate must sit within 5% of the exact distinct
    * count per column (the q40/q42 bounds gate — additive metrics are
    * compared exactly). */
  val d56MergeableProfile: Q = Q(
    "d56_mergeable_profile",
    Some("""
      SELECT 'o_orderkey' AS col_name,
             CAST(0 AS BIGINT) AS n_nulls, TRUE AS sketch_ok,
             CAST(min(o_orderkey) AS DOUBLE) AS min_num,
             CAST(max(o_orderkey) AS DOUBLE) AS max_num
      FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(0 AS BIGINT), TRUE,
             CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', CAST(0 AS BIGINT), TRUE,
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
      UNION ALL
      SELECT 'o_totalprice', CAST(0 AS BIGINT), TRUE,
             CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
      FROM orders
      UNION ALL
      SELECT 'o_orderdate', CAST(0 AS BIGINT), TRUE,
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
      UNION ALL
      SELECT 'o_orderpriority', CAST(0 AS BIGINT), TRUE,
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    """),
    (s, dir) => {
      val orders = Tables(s, dir, "orders")
      val merged = finalizeProfile(mergeProfileSketches(
        profileSketch(orders.filter(col("o_orderkey") % 2 === 0)),
        profileSketch(orders.filter(col("o_orderkey") % 2 =!= 0))))
      val exact = profile(orders).select(col("col_name"),
        col("n_distinct").as("__nd_exact"))
      merged.join(exact, Seq("col_name"))
        .select(col("col_name"), col("n_nulls"),
          (abs(col("n_distinct_est") - col("__nd_exact")) <=
            greatest(col("__nd_exact") * 0.05, lit(0.5))).as("sketch_ok"),
          col("min_num"), col("max_num"))
    })

  /** Population-Stability-Index drift between a reference and a current
    * snapshot of one numeric column — the standard production screen for
    * "did this feed's distribution move" (credit-scoring lineage; the
    * same statistic ML-observability stacks emit per feature), sitting
    * next to [[profile]]'s per-load snapshot and d50's vocabulary KL:
    * PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i).
    *
    * Bin design is the q67 equi-width mechanism, but bounds come from
    * the REFERENCE side only (the published-baseline contract: bins are
    * frozen with the baseline, so a drifted current snapshot lands in
    * the clamped edge bins instead of silently re-binning itself), and
    * EMPTY bins are kept — a vacated bin is precisely the drift signal,
    * so the bin spine is generated from the bounds row, not from
    * observed data. Add-half smoothing ((2c+1)/(2n+B), integer-only
    * arithmetic until one IEEE division) keeps ln finite on empty bins
    * and is bit-identical cross-engine; the single ln carries ≤1 ulp of
    * libm variance, absorbed by the floor@6 emitted form.
    *
    * Scale: two corpus scans (one per snapshot), each collapsing
    * map-side to ≤ `bins` rows; the bounds row broadcasts into the
    * bucketing scans; everything after the two partial aggregates is
    * bins-sized. No shuffle moves row-level data.
    *
    * Output: (bucket, ref_share, cur_share, psi) — Σ psi is the
    * headline PSI (>0.2 = action in the industry rule of thumb). */
  def psiDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
      bins: Int): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val v = col(valueCol)
    // materialized once (1 row): three consumers — the two bucketing
    // scans and the spine — would each re-derive the aggregate (and its
    // ref scan) otherwise; the cut also lets the empty-baseline guard
    // below fail LOUDLY instead of the NULL bounds silently clamping
    // every current row into the top bin (greatest/least skip NULLs).
    // LAZY: the guard's head() reads the one partition, so it
    // materializes the cut — an eager cut would add a job doing the same
    val bounds = Lineage.cut(ref.agg(min(v).as("lo"), max(v).as("hi"),
      count(v).as("n_ref")), eager = false)
    require(bounds.head().getAs[Long]("n_ref") > 0,
      s"psiDrift: reference snapshot has no non-null $valueCol — " +
        "a PSI against an empty baseline would report fake extreme drift")
    val nCur = cur.agg(count(v).as("n_cur"))
    val width = (col("hi") - col("lo")) / bins
    def bucketCounts(df: DataFrame, cName: String): DataFrame =
      df.select(v.as("__v")).filter(col("__v").isNotNull)
        .crossJoin(broadcast(bounds.select(col("lo"), col("hi"))))
        .select(when(col("hi") === col("lo"), lit(0))
          .otherwise(greatest(lit(0), least(lit(bins - 1),
            floor((col("__v") - col("lo")) / width).cast("int")))).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as(cName))
    val spine = bounds.select(col("n_ref"),
        explode(sequence(lit(0), lit(bins - 1))).as("bucket"))
      .crossJoin(broadcast(nCur))
    val refShare = (col("__c_ref") * 2 + 1).cast("double") /
      (col("n_ref") * 2 + bins)
    val curShare = (col("__c_cur") * 2 + 1).cast("double") /
      (col("n_cur") * 2 + bins)
    spine
      .join(bucketCounts(ref, "__c0"), Seq("bucket"), "left")
      .join(bucketCounts(cur, "__c1"), Seq("bucket"), "left")
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        coalesce(col("__c0"), lit(0L)).as("__c_ref"),
        coalesce(col("__c1"), lit(0L)).as("__c_cur"))
      .select(col("bucket"),
        refShare.as("ref_share"), curShare.as("cur_share"),
        (floor((refShare - curShare) * log(refShare / curShare) * 1e6 + 0.5) / 1e6)
          .as("psi"))
  }

  /** d61 — order-value distribution drift across the 1998 boundary
    * (the corpus' o_orderdate span is 1995-01-01..2001-08-01, so the
    * cutoff splits it ~45/55 — an earlier draft used 1995 and silently
    * selected an EMPTY baseline, which is exactly the failure mode the
    * operator's n_ref guard now rejects). Prices are stationary by
    * construction, so the gate's real work is proving the bin algebra,
    * the smoothing and the clamped edge bins match an independent
    * engine exactly — DataQualitySpec carries the planted-drift
    * cases. */
  val d61PsiDrift: Q = Q(
    "d61_psi_drift",
    Some("""
      WITH ref AS (
        SELECT o_totalprice AS v FROM orders
        WHERE o_orderdate < TIMESTAMP '1998-01-01'),
      cur AS (
        SELECT o_totalprice AS v FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
      bounds AS (SELECT min(v) AS lo, max(v) AS hi,
                        count(*) AS n_ref FROM ref),
      nc AS (SELECT count(*) AS n_cur FROM cur),
      rb AS (
        SELECT CASE WHEN b.hi = b.lo THEN 0
               ELSE greatest(0, least(9, CAST(floor((v - b.lo) /
                 ((b.hi - b.lo) / 10)) AS INT))) END AS bucket
        FROM ref CROSS JOIN bounds b),
      cb AS (
        SELECT CASE WHEN b.hi = b.lo THEN 0
               ELSE greatest(0, least(9, CAST(floor((v - b.lo) /
                 ((b.hi - b.lo) / 10)) AS INT))) END AS bucket
        FROM cur CROSS JOIN bounds b),
      spine AS (SELECT unnest(generate_series(0, 9)) AS bucket),
      rc AS (SELECT bucket, count(*) AS c FROM rb GROUP BY 1),
      cc AS (SELECT bucket, count(*) AS c FROM cb GROUP BY 1),
      shares AS (
        SELECT s.bucket,
               CAST(coalesce(rc.c, 0) * 2 + 1 AS DOUBLE)
                 / (b.n_ref * 2 + 10) AS ref_share,
               CAST(coalesce(cc.c, 0) * 2 + 1 AS DOUBLE)
                 / (nc.n_cur * 2 + 10) AS cur_share
        FROM spine s
        CROSS JOIN bounds b CROSS JOIN nc
        LEFT JOIN rc ON rc.bucket = s.bucket
        LEFT JOIN cc ON cc.bucket = s.bucket)
      SELECT bucket, ref_share, cur_share,
             floor((ref_share - cur_share) * ln(ref_share / cur_share)
               * 1e6 + 0.5) / 1e6 AS psi
      FROM shares
    """),
    (s, dir) => {
      val orders = Tables(s, dir, "orders")
      val cutoff = to_timestamp(lit("1998-01-01"))
      psiDrift(
        orders.filter(col("o_orderdate") < cutoff),
        orders.filter(col("o_orderdate") >= cutoff),
        "o_totalprice", bins = 10)
    })

  /** Per-group quantile profile through the mergeable sketch
    * ([[graft.plans.QuantileSketchAgg]] — the deterministic MRL/KLL
    * ladder completing the sketch trio: Misra-Gries frequencies, KMV
    * cardinality, now quantiles). The corpus collapses map-side to
    * ≤ capacity·levels doubles per partition; every estimator below the
    * aggregate is artifact-sized. Capacity 32768 covers the largest gate
    * group (30,076 rows at sf0.1), so every quantile runs in the sketch's
    * provably-exact regime and the oracle is the plain discrete-quantile
    * rank rule; SketchSpec pins the compaction-regime rank bound, the
    * merge algebra, and the artifact-rollup aggregate. Values pass
    * through the sketch UNTOUCHED (no arithmetic), so the gate emits raw
    * doubles — the only computed numbers are integer target ranks, with
    * q·n forced to DOUBLE on the oracle side (a bare 0.25 literal is
    * DECIMAL in DuckDB and its exact arithmetic diverges from IEEE at
    * integer boundaries). */
  val d64QuantileProfile: Q = Q(
    "d64_quantile_profile",
    Some("""
      WITH r AS (
        SELECT o_orderpriority AS pri, o_totalprice AS v,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders)
      SELECT pri, max(n) AS n_rows,
             min(CASE WHEN rn >= ceil(CAST(0.25 AS DOUBLE) * n) THEN v END) AS p25,
             min(CASE WHEN rn >= ceil(CAST(0.50 AS DOUBLE) * n) THEN v END) AS p50,
             min(CASE WHEN rn >= ceil(CAST(0.75 AS DOUBLE) * n) THEN v END) AS p75,
             min(CASE WHEN rn >= ceil(CAST(0.95 AS DOUBLE) * n) THEN v END) AS p95
      FROM r GROUP BY 1
    """),
    (s, dir) => {
      import graft.plans.QuantileSketchOps._
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(quantileSketch(col("o_totalprice"), 32768).as("sk"))
        .select(col("pri"), qskTotal(col("sk")).as("n_rows"),
          qskQuantile(col("sk"), 0.25).as("p25"),
          qskQuantile(col("sk"), 0.50).as("p50"),
          qskQuantile(col("sk"), 0.75).as("p75"),
          qskQuantile(col("sk"), 0.95).as("p95"))
    })

  /** k-anonymity audit (Sweeney 2002, public): every combination of
    * quasi-identifier values shared by fewer than `k` rows is an
    * equivalence class small enough to re-identify its members by
    * linkage — the audit emits exactly those violating classes with
    * their sizes, the worklist a generalization/suppression pass must
    * clear before publication. Completes the privacy trio: d09 scrubs
    * free text, d54 pseudonymizes direct identifiers, this measures the
    * re-identification risk of what REMAINS. One partial-aggregatable
    * count shuffle; output is violating-class-sized, never row-sized. */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, "k must be >= 2")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)
  }

  /** d69 — k=5 audit of customers under the quasi-identifier triple
    * (market segment, nation, coarsened account-balance band). The
    * band coarsening (floor/1000) is itself the generalization step a
    * real release would tune — the gate shows the audit is what tells
    * you 1000-unit bands are not yet coarse enough. */
  val d69KAnonymity: Q = Q(
    "d69_k_anonymity",
    Some("""
      SELECT c_mktsegment, c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             count(*) AS group_size
      FROM customer
      GROUP BY 1, 2, 3
      HAVING count(*) < 5
    """),
    (s, dir) => kAnonymityAudit(
      Tables(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_nationkey"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band")),
      Seq("c_mktsegment", "c_nationkey", "bal_band"), k = 5))

  /** Differentially-private histogram release — the third rung of the
    * privacy family (d09/d54 transform rows, d69 AUDITS groups, this
    * RELEASES aggregate counts): per-group counts with Laplace(1/ε)
    * noise, the canonical ε-DP mechanism for a histogram (per-row
    * sensitivity 1 — each document contributes to exactly one group).
    * True counts never appear in the output.
    *
    * Noise is the difference-of-exponentials Laplace form
    * `(ln u₁ − ln u₂)/ε` over two seeded 60-bit md5 uniforms in (0,1]
    * (no 1−2|u−½| singularity at the range edge), drawn per GROUP KEY —
    * the d51 replayable-randomness posture: the gate needs a
    * deterministic draw the oracle can replay; production swaps the
    * seed per release (a fixed seed across releases would let releases
    * be differenced to cancel the noise, breaking the guarantee).
    *
    * Two further caveats the ε-DP claim rests on:
    *   - the seed must be SECRET (PRF posture): noise here is a
    *     deterministic function of (seed, group key), so anyone who
    *     learns the seed subtracts the noise and recovers exact counts
    *     from even a single release — treat the seed like a MAC key,
    *     not a configuration value;
    *   - releasing only NON-EMPTY groups leaks group presence
    *     (count ≥ 1) exactly, because the released key domain is
    *     derived from the data. Rigorous DP over a sensitive key space
    *     requires a PUBLIC/FIXED key domain released in full — empty
    *     groups included, carrying pure-noise counts. Here the group
    *     keys (source, lang) are corpus metadata, not secrets; callers
    *     grouping on sensitive attributes must enumerate the domain.
    *
    * Scale shape: one map-side-combinable count to a groups-sized
    * relation; the noise is a pure projection on the skinny result —
    * corpus rows are touched exactly once. */
  def dpHistogram(df: DataFrame, groupCols: Seq[String], eps: Double,
      seed: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(eps > 0, "eps must be positive")
    // INJECTIVE key encoding: each segment is length-prefixed ("v<len>:
    // <value>") so an embedded separator cannot make two distinct groups
    // share a noise draw (two groups sharing a draw lets a reader
    // difference their releases and cancel the noise — the exact attack
    // the per-release seed rotation guards against), and NULL gets its
    // own marker segment instead of silently collapsing.
    def seg(c: String) = when(col(c).isNull, lit("n")).otherwise(
      concat(lit("v"), length(col(c).cast("string")).cast("string"),
        lit(":"), col(c).cast("string")))
    val keyStr = concat_ws("|", groupCols.map(seg): _*)
    def u(salt: String) =
      (conv(substring(md5(concat(lit(seed + salt), keyStr)), 1, 15), 16, 10)
        .cast("long").cast("double") + 1.0) / 1.152921504606846976e18
    val noise = (log(u(":a:")) - log(u(":b:"))) / eps
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .select(groupCols.map(col) :+
        (floor((col("__n") + noise) * 1e6 + 0.5) / 1e6).as("noisy_count") :+
        lit(eps).as("eps"): _*)
  }

  /** DP-histogram gate: noisy (source, lang) document counts at ε=0.5;
    * the oracle replays the seeded uniforms and the Laplace arithmetic,
    * so a noise draw keyed off the wrong column set or a sign slip in
    * the inverse transform diverges on concrete values. */
  val d87DpHistogram: Q = Q(
    "d87_dp_histogram",
    Some("""
      WITH g AS (
        SELECT source, lang, count(*) AS n
        FROM documents GROUP BY 1, 2),
      k AS (
        SELECT source, lang, n,
               (CASE WHEN source IS NULL THEN 'n'
                     ELSE 'v' || CAST(length(source) AS VARCHAR) || ':' || source END)
               || '|' ||
               (CASE WHEN lang IS NULL THEN 'n'
                     ELSE 'v' || CAST(length(lang) AS VARCHAR) || ':' || lang END) AS key
        FROM g),
      u AS (
        SELECT source, lang, n,
               (CAST(CAST(concat('0x', substr(md5('dp:a:' || key), 1, 15)) AS BIGINT) AS DOUBLE) + 1.0)
                 / 1.152921504606846976e18 AS u1,
               (CAST(CAST(concat('0x', substr(md5('dp:b:' || key), 1, 15)) AS BIGINT) AS DOUBLE) + 1.0)
                 / 1.152921504606846976e18 AS u2
        FROM k)
      SELECT source, lang,
             floor((n + (ln(u1) - ln(u2)) / 0.5) * 1e6 + 0.5) / 1e6 AS noisy_count,
             CAST(0.5 AS DOUBLE) AS eps
      FROM u
    """),
    (s, dir) => dpHistogram(
      graft.Tables(s, dir, "documents").select(col("source"), col("lang")),
      Seq("source", "lang"), eps = 0.5, seed = "dp"))

  /** Release delta card — the report a corpus RELEASE pipeline ships
    * next to d88's data card when a new snapshot goes out: per source,
    * how many documents entered, left, or changed between release v1
    * and release v2, and the exact token accounting of the move
    * (tokens added with new docs, retired with removed docs, the net
    * drift inside changed docs, and the net corpus delta). q60 diffs
    * SNAPSHOT ROWS of a lake table; this is the corpus-level release
    * verb — the number a training run's data statement quotes
    * ("release 7 adds 1.2B tokens net, 0.3% of documents changed").
    *
    * Both inputs are (doc_id, source, text). Change detection is exact
    * text inequality on the joined row (no hashing — the join already
    * co-locates the pair); a doc whose source column moved counts
    * under its NEW source (coalesce(v2, v1) — additions/changes are
    * v2's story, removals fall back to v1's).
    *
    * Scale shape: ONE doc_id-keyed full-outer join (both sides shuffle
    * on the key once) into a map-side-combinable per-source aggregate —
    * sources-sized output; all metrics are exact BIGINTs (token counts
    * are integers; sums of integers — no float surface at all).
    * Measured (round 12, d94's releases at sf0.1 and at the 10× sf1
    * corpus, min-of-3): this batch card 0.69 → 0.63 s (flat — fixed
    * costs dominate), the streamed 4-admission lifecycle 3.3 → 6.2 s
    * (its growth is the per-admission v1 join); state and card stay
    * sources-sized at both scales. */
  def releaseDelta(v1: DataFrame, v2: DataFrame): DataFrame = {
    def side(df: DataFrame, suffix: String) = df.select(
      col("doc_id").as("doc_id" + suffix),
      col("source").as("source" + suffix),
      col("text").as("text" + suffix),
      graft.ext.TextStats.tokenCount(col("text")).cast("long")
        .as("tok" + suffix))
    val st = when(col("doc_id_1").isNull, "added")
      .when(col("doc_id_2").isNull, "removed")
      .when(col("text_1") =!= col("text_2"), "changed")
      .otherwise("unchanged")
    side(v1, "_1")
      .join(side(v2, "_2"), col("doc_id_1") === col("doc_id_2"), "full_outer")
      .select(coalesce(col("source_2"), col("source_1")).as("source"),
        st.as("st"),
        coalesce(col("tok_1"), lit(0L)).as("tok1"),
        coalesce(col("tok_2"), lit(0L)).as("tok2"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("st") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("st") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("st") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("st") === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"),
        sum(when(col("st") === "added", col("tok2")).otherwise(0L))
          .as("tok_added"),
        sum(when(col("st") === "removed", col("tok1")).otherwise(0L))
          .as("tok_removed"),
        sum(when(col("st") === "changed", col("tok2") - col("tok1"))
          .otherwise(0L)).as("tok_delta_changed"),
        sum(when(col("st") === "added", col("tok2"))
          .when(col("st") === "removed", -col("tok1"))
          .when(col("st") === "changed", col("tok2") - col("tok1"))
          .otherwise(0L)).as("net_token_delta"))
  }

  /** Shared DuckDB oracle for the two release-delta gates (d94 batch,
    * d95 streamed): the per-source card between the two synthetic
    * releases must be posture-independent, so the streamed path's
    * subtraction arithmetic is checked against the exact same BIGINTs. */
  private val releaseDeltaOracle: String = """
      WITH b AS (
        SELECT doc_id, source, text,
               CAST(concat('0x', substr(md5('rel:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        FROM documents),
      v1 AS (
        SELECT doc_id, source, text,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok
        FROM b WHERE bucket < 90),
      v2 AS (
        SELECT doc_id, source,
               CASE WHEN bucket >= 5 AND bucket < 15
                    THEN text || ' [rev2]' ELSE text END AS text,
               CASE WHEN length(trim(CASE WHEN bucket >= 5 AND bucket < 15
                                          THEN text || ' [rev2]' ELSE text END)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(CASE WHEN bucket >= 5 AND bucket < 15
                                                             THEN text || ' [rev2]' ELSE text END), '\s+')) END AS tok
        FROM b WHERE bucket >= 5),
      f AS (
        SELECT coalesce(v2.source, v1.source) AS source,
               CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2.doc_id IS NULL THEN 'removed'
                    WHEN v1.text <> v2.text THEN 'changed'
                    ELSE 'unchanged' END AS st,
               coalesce(v1.tok, 0) AS tok1, coalesce(v2.tok, 0) AS tok2
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      SELECT source,
             CAST(sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
             CAST(sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             CAST(sum(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             CAST(sum(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
             CAST(sum(CASE WHEN st = 'added' THEN tok2 ELSE 0 END) AS BIGINT) AS tok_added,
             CAST(sum(CASE WHEN st = 'removed' THEN tok1 ELSE 0 END) AS BIGINT) AS tok_removed,
             CAST(sum(CASE WHEN st = 'changed' THEN tok2 - tok1 ELSE 0 END) AS BIGINT) AS tok_delta_changed,
             CAST(sum(CASE WHEN st = 'added' THEN tok2
                           WHEN st = 'removed' THEN -tok1
                           WHEN st = 'changed' THEN tok2 - tok1
                           ELSE 0 END) AS BIGINT) AS net_token_delta
      FROM f GROUP BY 1
    """

  /** The two deterministic synthetic releases (md5 'rel:' buckets):
    * v1 = buckets 0–89 unmodified; v2 drops 0–4 (removals), revises
    * 5–14 (a ' [rev2]' suffix — +1 token per changed doc, both
    * tokenizers agree via the d76-pinned equivalence) and adds 90–99.
    * v2 keeps the bucket column so the streamed gate can split it into
    * disjoint admission batches. Shared by d94 and d95, so the batch and
    * streamed postures are gated on exactly the same releases. */
  private def syntheticReleases(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val b = graft.Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        (conv(substring(md5(concat(lit("rel:"),
          col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
          % 100).as("bucket"))
    val v1 = b.filter(col("bucket") < 90)
      .select(col("doc_id"), col("source"), col("text"))
    val v2 = b.filter(col("bucket") >= 5)
      .select(col("doc_id"), col("source"),
        when(col("bucket") >= 5 && col("bucket") < 15,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text"))
          .as("text"),
        col("bucket"))
    (v1, v2)
  }

  /** Release-delta gate over the synthetic releases. The oracle replays
    * the bucketing, both releases, the full-outer status assignment and
    * every integer sum — a doc counted under the wrong status or a
    * token delta off by one diverges on concrete BIGINTs. */
  val d94ReleaseDelta: Q = Q(
    "d94_release_delta",
    Some(releaseDeltaOracle),
    (s, dir) => {
      val (v1, v2) = syntheticReleases(s, dir)
      releaseDelta(v1, v2.drop("bucket"))
    })

  /** Streamed release-delta gate — the d95 lifecycle posture: the same
    * v2 release arrives as TWO disjoint hand-driven admissions
    * ([[graft.streaming.ReleaseDeltaStreaming.admitBatch]] — buckets
    * 5–54, then 55–99) folded into the persisted sources-sized state,
    * and the card is reported from state. Same oracle as d94: the card
    * must be posture-independent, so a doc double-counted across
    * batches, a match attributed to the wrong v1 source, or a removal
    * subtraction off by one diverges here while d94 stays green. */
  val d95ReleaseDeltaStream: Q = Q(
    "d95_release_delta_stream",
    Some(releaseDeltaOracle),
    (s, dir) => {
      import graft.streaming.ReleaseDeltaStreaming
      val (v1, v2) = syntheticReleases(s, dir)
      // clean slate within an application: commit markers at the root
      // ARE the state, so a re-run must not see the last run's versions
      val root = graft.SessionArtifacts.dir(s, "graft-d95")
      val hPath = new org.apache.hadoop.fs.Path(root)
      hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(hPath, true)
      val statePath = root + "/state"
      ReleaseDeltaStreaming.admitBatch(
        v2.filter(col("bucket") < 55).drop("bucket"), 0L, v1, statePath)
      ReleaseDeltaStreaming.admitBatch(
        v2.filter(col("bucket") >= 55).drop("bucket"), 1L, v1, statePath)
      ReleaseDeltaStreaming.releaseDeltaFromState(
        ReleaseDeltaStreaming.currentState(s, statePath), v1)
    })

  val all: Seq[Q] = Seq(d47KeySkewProfile, d48DataProfile, d54Pseudonymize,
    d55ConstraintAudit, d56MergeableProfile, d61PsiDrift, d64QuantileProfile,
    d69KAnonymity, d87DpHistogram, d94ReleaseDelta, d95ReleaseDeltaStream)
}
