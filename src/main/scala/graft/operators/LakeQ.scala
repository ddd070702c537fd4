package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{LocalTable, Q, Tables}
import graft.lake.Lake

/** Lake-maintenance operators (SURVEY §2.1/§2.5) proven through the
  * correctness gate: MERGE-shaped upsert, dedup-by-rank, schema evolution,
  * idempotent delete+append. The reference runs these as Iceberg SQL; here
  * they are join/window rewrites with identical semantics.
  */
object LakeQ {

  /** S10/J2 — MERGE INTO on a PK with newer-version-wins update, insert of
    * unmatched source rows, survival of untouched target rows
    * (datatrack_spark_utils.py:306-362). */
  val q19MergeUpsert: Q = Q(
    "q19_merge_upsert",
    Some("""
      WITH tgt AS (SELECT *, CAST(1 AS BIGINT) AS version FROM orders),
      src AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice,
               o_orderdate, o_orderpriority, CAST(2 AS BIGINT) AS version
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), 'N', 123.45,
               TIMESTAMP '2000-01-01 00:00:00', '1-URGENT', CAST(2 AS BIGINT))
      SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
             CASE WHEN s.o_orderkey IS NOT NULL
                       AND (t.o_orderkey IS NULL OR s.version > t.version)
                  THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
             CASE WHEN s.o_orderkey IS NOT NULL
                       AND (t.o_orderkey IS NULL OR s.version > t.version)
                  THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
             CASE WHEN s.o_orderkey IS NOT NULL
                       AND (t.o_orderkey IS NULL OR s.version > t.version)
                  THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
             CASE WHEN s.o_orderkey IS NOT NULL
                       AND (t.o_orderkey IS NULL OR s.version > t.version)
                  THEN s.o_orderdate ELSE t.o_orderdate END AS o_orderdate,
             CASE WHEN s.o_orderkey IS NOT NULL
                       AND (t.o_orderkey IS NULL OR s.version > t.version)
                  THEN s.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
      FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
    """),
    (s, dir) => {
      val orders = Tables(s, dir, "orders")
      val target = orders.withColumn("version", lit(1L))
      val updates = orders.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"), lit(2L).as("version"))
      val inserted = LocalTable.of(s,
        StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
          StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
          StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType),
          StructField("version", LongType))),
        Seq(Row(-1L, -1L, "N", 123.45,
          java.sql.Timestamp.valueOf("2000-01-01 00:00:00"), "1-URGENT", 2L)))
      Lake.mergeUpsert(target, updates.unionByName(inserted),
          Seq("o_orderkey"), "version")
        .drop("version")
    })

  /** W1 — dedup-by-rank through `Lake.dedupByKeys`: one surviving row per
    * order, ranked by ship recency with a deterministic tiebreak
    * (datatrack_spark_utils.py:51-95). */
  val q23DedupByRank: Q = Q(
    "q23_dedup_by_rank",
    Some("""
      SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
      FROM (
        SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_shipdate DESC, l_linenumber DESC, l_quantity DESC) AS rn
        FROM lineitem) x
      WHERE rn = 1
    """),
    (s, dir) =>
      Lake.dedupByKeys(
          Tables(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"),
          keys = Seq("l_orderkey"),
          orderCol = Some("l_shipdate"),
          tiebreak = Seq("l_linenumber", "l_quantity")))

  /** Schema evolution — project a source missing two destination columns
    * into the destination shape with typed NULL backfill + reorder
    * (datatrack_spark_utils.py:221-302). */
  val q24SchemaEvolution: Q = Q(
    "q24_schema_evolution",
    Some("""
      SELECT c_custkey,
             CAST(NULL AS VARCHAR) AS c_phone,
             c_name,
             c_acctbal,
             CAST(NULL AS VARCHAR) AS c_comment
      FROM customer
    """),
    (s, dir) =>
      Lake.conformToSchema(
        Tables(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal"),
        StructType(Seq(
          StructField("c_custkey", LongType),
          StructField("c_phone", StringType),
          StructField("c_name", StringType),
          StructField("c_acctbal", DoubleType),
          StructField("c_comment", StringType)))))

  /** I2 — idempotent per-source reload: drop one lineage key's rows,
    * append the re-parse, verify totals per source
    * (forms_main.py:401-423). */
  val q25DeleteAppend: Q = Q(
    "q25_delete_append",
    Some("""
      WITH reloaded AS (
        SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars
        FROM documents WHERE source = 'src1'),
      merged AS (
        SELECT doc_id, text, lang, source, n_chars
        FROM documents WHERE source <> 'src1'
        UNION ALL SELECT * FROM reloaded)
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM merged
      GROUP BY source
    """),
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val reloaded = docs.filter(col("source") === "src1")
        .withColumn("n_chars", length(col("text")).cast("long"))
      Lake.deleteByKeyAppend(docs, reloaded, "source", "src1")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    })

  /** Salted skew join at the gate (builder checklist: "skewed keys →
    * salting"): two thirds of all orders are remapped onto ONE hot
    * customer key, then joined to the customer dim through
    * [[graft.lake.SkewJoin.saltedEquiJoin]] — the hot key's rows spread
    * over 8 (key, salt) reducers instead of hammering one. The dim side
    * carries a shuffle_hash hint so the join actually shuffles (a
    * broadcast would hide the skew — and at 100 TB the build side of a
    * skewed join is not always broadcastable); PlanSpec asserts the
    * broadcast-free shape. The salt never changes row-level results, so
    * the oracle is the plain unsalted join. */
  val q44SkewSaltedJoin: Q = Q(
    "q44_skew_salted_join",
    Some("""
      WITH skewed AS (
        SELECT CASE WHEN o_custkey % 3 = 0 THEN 1 ELSE o_custkey END AS k,
               o_totalprice
        FROM orders)
      SELECT c_mktsegment AS segment,
             round(sum(o_totalprice), 2) AS total,
             count(*) AS n_rows
      FROM skewed JOIN customer ON k = c_custkey
      GROUP BY c_mktsegment
    """),
    (s, dir) => {
      val skewed = Tables(s, dir, "orders")
        .select(when(col("o_custkey") % 3 === 0, lit(1L))
          .otherwise(col("o_custkey")).as("k"), col("o_totalprice"))
      val dim = Tables(s, dir, "customer")
        .select(col("c_custkey").as("rk"), col("c_mktsegment"))
        .hint("shuffle_hash")
      graft.lake.SkewJoin.saltedEquiJoin(skewed, dim, "k", "rk", salts = 8)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(round(sum(col("o_totalprice")), 2).as("total"),
          count(lit(1)).as("n_rows"))
    })

  /** The whole trusted-load lifecycle at the gate: three
    * [[graft.lake.TrustedLoad]] runs against one target table — an
    * initial half-load (rows up to a date split), the incremental
    * remainder (the control-table watermark excludes everything already
    * loaded), and a correction batch at a later version that newer-wins
    * a subset of keys. The final table must equal the one-shot answer —
    * proving the incremental composition loses nothing, duplicates
    * nothing, and applies corrections exactly once; the oracle computes
    * that one-shot answer directly. */
  val q45TrustedLifecycle: Q = Q(
    "q45_trusted_lifecycle",
    Some("""
      SELECT o_orderkey,
             round(o_totalprice + CASE WHEN o_orderkey % 100 = 0
                                       THEN 1000.0 ELSE 0.0 END, 2) AS total,
             c_mktsegment AS segment
      FROM orders JOIN customer ON o_custkey = c_custkey
    """),
    (s, dir) => {
      import graft.lake.{ControlTable, EntityTransformer, TrustedLoad}
      val target = java.nio.file.Files
        .createTempDirectory("graft-q45-").toString + "/t"
      def withTs(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("ingest_ts", col("o_orderdate").cast("timestamp"))
      val orders = withTs(Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"))
      val cust = Tables(s, dir, "customer").select("c_custkey", "c_mktsegment")
      val enricher = new EntityTransformer {
        override val entityName = "trusted.q45"
        override val inputs = Seq("orders", "customer")
        override val primaryKey = Seq("o_orderkey")
        override def transform(dfs: Map[String, org.apache.spark.sql.DataFrame]) =
          dfs("orders").join(dfs("customer"),
              col("o_custkey") === col("c_custkey"))
            .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("total"),
              col("c_mktsegment").as("segment"), col("ingest_ts"))
      }
      val inc = Map("orders" -> "ingest_ts")
      def run(ctl: org.apache.spark.sql.DataFrame,
          src: org.apache.spark.sql.DataFrame, at: String) =
        TrustedLoad.run(enricher,
          n => if (n == "orders") src else cust, ctl, inc, "ingest_ts",
          target, java.sql.Timestamp.valueOf(at)).control
      // run 1: everything shipped before the split date
      val split = "1995-07-01"
      val c1 = run(ControlTable.empty(s),
        orders.filter(col("o_orderdate") < lit(split)), "2025-01-01 00:00:00")
      // run 2: the full source again — the watermark loads only the rest
      val c2 = run(c1, orders, "2025-01-02 00:00:00")
      // run 3: corrections for 1%% of keys at a later version
      val corrections = orders.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("ingest_ts",
          lit(java.sql.Timestamp.valueOf("2035-01-01 00:00:00")))
      run(c2, corrections, "2025-01-03 00:00:00")
      s.read.parquet(target).select("o_orderkey", "total", "segment")
    })

  /** SCD Type-2 dimension lifecycle over the customer dim: day-0 load,
    * then a batch where a deterministic md5 slice of customers changes
    * segment/balance (buckets 0-2), another slice arrives UNCHANGED
    * (proving the no-op path), and one brand-new key appears. The gate
    * output is the full versioned dimension — closed rows with their
    * validity interval, survivors, and the new open versions. */
  val q59Scd2Dimension: Q = Q(
    "q59_scd2_dimension",
    Some("""
      WITH day0 AS (
        SELECT c_custkey, c_mktsegment, c_acctbal,
               DATE '2024-01-01' AS eff_from, CAST(NULL AS DATE) AS eff_to,
               true AS is_current
        FROM customer),
      b AS (
        SELECT c_custkey, c_mktsegment, c_acctbal,
               CAST(concat('0x', substr(md5('scd:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS bk
        FROM customer),
      upd AS (
        SELECT c_custkey, 'MOVED' AS c_mktsegment,
               c_acctbal + 100.0 AS c_acctbal
        FROM b WHERE bk < 3
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_acctbal FROM b WHERE bk IN (3, 4)
        UNION ALL
        SELECT CAST(-1 AS BIGINT), 'NEWSEG', CAST(0.0 AS DOUBLE)),
      openrows AS (SELECT * FROM day0 WHERE is_current),
      changed AS (
        SELECT o.c_custkey
        FROM openrows o JOIN upd u ON u.c_custkey = o.c_custkey
        WHERE o.c_mktsegment IS DISTINCT FROM u.c_mktsegment
           OR o.c_acctbal IS DISTINCT FROM u.c_acctbal)
      SELECT o.c_custkey, o.c_mktsegment, o.c_acctbal, o.eff_from, o.eff_to,
             o.is_current
      FROM openrows o
      WHERE o.c_custkey NOT IN (SELECT c_custkey FROM changed)
      UNION ALL
      SELECT o.c_custkey, o.c_mktsegment, o.c_acctbal, o.eff_from,
             DATE '2024-02-01' AS eff_to, false AS is_current
      FROM openrows o
      WHERE o.c_custkey IN (SELECT c_custkey FROM changed)
      UNION ALL
      SELECT u.c_custkey, u.c_mktsegment, u.c_acctbal,
             DATE '2024-02-01' AS eff_from, CAST(NULL AS DATE) AS eff_to,
             true AS is_current
      FROM upd u
      WHERE u.c_custkey IN (SELECT c_custkey FROM changed)
         OR u.c_custkey NOT IN (SELECT c_custkey FROM openrows)
    """),
    (s, dir) => {
      val cust = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val day0 = cust
        .withColumn("eff_from", lit(java.sql.Date.valueOf("2024-01-01")))
        .withColumn("eff_to", lit(null).cast("date"))
        .withColumn("is_current", lit(true))
      val bk = conv(substring(md5(concat(lit("scd:"),
        col("c_custkey").cast("string"))), 1, 15), 16, 10).cast("long") % 10
      val bucketed = cust.withColumn("bk", bk)
      val updates = bucketed.filter(col("bk") < 3)
        .select(col("c_custkey"), lit("MOVED").as("c_mktsegment"),
          (col("c_acctbal") + 100.0).as("c_acctbal"))
        .unionByName(bucketed.filter(col("bk").isin(3, 4))
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")))
        .unionByName(LocalTable.of(s,
          StructType(Seq(StructField("c_custkey", LongType),
            StructField("c_mktsegment", StringType),
            StructField("c_acctbal", DoubleType))),
          Seq(Row(-1L, "NEWSEG", 0.0))))
      Lake.scdType2Merge(day0, updates, Seq("c_custkey"),
        Seq("c_mktsegment", "c_acctbal"),
        lit(java.sql.Date.valueOf("2024-02-01")))
    })

  /** Snapshot diff between two lake states of the orders table: keys
    * divisible by 17 were removed, keys divisible by 10 changed status
    * and price, and every key divisible by 23 gained a shifted-key new
    * row. The diff emits only the churn — added/removed/changed keys plus
    * the NULL-safe per-column change list — never the unchanged bulk.
    * The %17 ∩ %10 overlap (e.g. 170) lands on `removed` (the new
    * snapshot excludes the key entirely), exercising precedence. */
  val q60SnapshotDiff: Q = Q(
    "q60_snapshot_diff",
    Some("""
      WITH newt AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END
                 AS o_orderstatus,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 17 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'A',
               CAST(1.0 AS DOUBLE), o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 23 = 0)
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'removed'
                  ELSE 'changed' END AS change,
             CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                  THEN concat_ws(',',
                    CASE WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                         THEN 'o_custkey' END,
                    CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                         THEN 'o_orderstatus' END,
                    CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                         THEN 'o_totalprice' END,
                    CASE WHEN o.o_orderdate IS DISTINCT FROM n.o_orderdate
                         THEN 'o_orderdate' END,
                    CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                         THEN 'o_orderpriority' END)
             END AS changed_cols
      FROM orders o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey
      WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
         OR o.o_custkey IS DISTINCT FROM n.o_custkey
         OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
         OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
         OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
         OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
    """),
    (s, dir) => {
      val orders = Tables(s, dir, "orders")
      val changedPred = col("o_orderkey") % 10 === 0
      val newSnap = orders.filter(col("o_orderkey") % 17 =!= 0)
        .withColumn("o_orderstatus",
          when(changedPred, lit("U")).otherwise(col("o_orderstatus")))
        .withColumn("o_totalprice",
          when(changedPred, col("o_totalprice") + 100.0)
            .otherwise(col("o_totalprice")))
        .unionByName(orders.filter(col("o_orderkey") % 23 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_custkey"), lit("A").as("o_orderstatus"),
            lit(1.0).as("o_totalprice"), col("o_orderdate"),
            col("o_orderpriority")))
      Lake.snapshotDiff(orders, newSnap, Seq("o_orderkey"))
    })

  /** ORC round-trip: the second columnar format the environment ships
    * (orc-core is on the Spark classpath; Iceberg/Delta jars remain
    * absent). The gate writes the
    * orders table as ORC, reads it back through the native vectorized
    * ORC reader with a pushable predicate, and aggregates; the oracle
    * computes the identical aggregate straight from parquet — so the
    * ORC write+scan provably preserves every row and type. PlanSpec
    * separately pins that the predicate reaches the ORC scan as a
    * PushedFilter (the format keeps min/max stripes like parquet). */
  val q63OrcRoundtrip: Q = Q(
    "q63_orc_roundtrip",
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             round(sum(o_totalprice), 2) AS total
      FROM orders
      WHERE o_custkey % 10 <> 0
      GROUP BY 1
    """),
    (s, dir) => {
      val dest = java.nio.file.Files
        .createTempDirectory("graft_orc").toString + "/orders_orc"
      Tables(s, dir, "orders").write.mode("overwrite").orc(dest)
      s.read.orc(dest)
        .filter(col("o_custkey") % 10 =!= 0)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
    })

  /** Z-order layout round-trip: orders re-written clustered by
    * (o_custkey, o_totalprice), then a 2-D range query over the
    * clustered copy must equal the same query over the original table —
    * proving the layout rewrite moves bytes, never values. The
    * file-skipping property itself (z-layout reads a fraction of what a
    * single-key sort layout reads for the same predicate) is pinned by
    * LakeSpec's per-file min/max audit and scan-metric comparison —
    * selectivity is a physical property an SQL oracle can't see. */
  val q68ZorderLayout: Q = Q(
    "q68_zorder_layout",
    Some("""
      SELECT o_orderstatus, count(*) AS n,
             round(sum(o_totalprice), 2) AS total
      FROM orders
      WHERE o_custkey <= 500 AND o_totalprice <= 150000
      GROUP BY 1
    """),
    (s, dir) => {
      val dest = java.nio.file.Files
        .createTempDirectory("graft_zorder").toString + "/orders_z"
      graft.lake.Lake.zorderWrite(
        Tables(s, dir, "orders")
          .select(col("o_custkey"), col("o_totalprice"), col("o_orderstatus")),
        dest, "o_custkey", "o_totalprice", numFiles = 16)
      s.read.parquet(dest)
        .filter(col("o_custkey") <= 500 && col("o_totalprice") <= 150000)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
    })

  /** XML source/sink round-trip (the datasource Spark 4 absorbed from
    * spark-xml): orders' stable-typed columns written as <order> rows
    * and read back through the native XML reader, then aggregated —
    * the third columnar-or-not format gate next to parquet and q63's
    * ORC. Columns are restricted to long/string/double so schema
    * inference is deterministic; timestamps stay format-free. */
  val q72XmlRoundtrip: Q = Q(
    "q72_xml_roundtrip",
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             round(sum(o_totalprice), 2) AS total,
             min(o_orderkey) AS min_key
      FROM orders
      WHERE o_custkey % 7 <> 0
      GROUP BY 1
    """),
    (s, dir) => {
      val dest = java.nio.file.Files
        .createTempDirectory("graft_xml").toString + "/orders_xml"
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
          col("o_totalprice"))
        .write.mode("overwrite").option("rowTag", "order").xml(dest)
      // explicit read schema (guide §1.4/§6): without it the XML reader
      // runs a whole extra inference pass over every file before the real
      // scan — at 100 TB a second full-corpus parse. The columns were
      // restricted to stable types precisely so the schema is static;
      // pinning it keeps the read-back values byte-identical while
      // halving the XML parse work.
      s.read.option("rowTag", "order")
        .schema(StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType),
          StructField("o_orderpriority", StringType),
          StructField("o_totalprice", DoubleType))))
        .xml(dest)
        .filter(col("o_custkey") % 7 =!= 0)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          min(col("o_orderkey")).as("min_key"))
    })

  /** Bucketed co-located join — THE shuffle-elimination layout for a
    * repeated big-big equi-join at 100 TB: both sides written
    * `bucketBy(join key)` + sorted within buckets, so every future join
    * on that key reads bucket i against bucket i with NO exchange on
    * either side and no sort (the layout already satisfies the join's
    * distribution + ordering requirements) — the shuffle is paid ONCE
    * at write time and amortized over every downstream join, the same
    * trade the postings/IVF indexes make for their probes. PlanSpec
    * pins the exchange-free SortMergeJoin under a disabled broadcast
    * threshold; this gate proves the bucketed layout returns the same
    * answer as the plain parquet join the oracle runs. */
  val q81BucketedJoin: Q = Q(
    "q81_bucketed_join",
    Some("""
      SELECT c.c_mktsegment,
             CAST(count(*) AS BIGINT) AS n_orders,
             round(sum(o.o_totalprice), 2) AS total_price
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
    """),
    (s, dir) => {
      // drop both the catalog entry AND any stale warehouse location (a
      // crashed prior run leaves the dir without the entry, and managed-
      // table creation refuses an existing location). Tables are pinned
      // to the DEFAULT database so the location math (<warehouse>/<name>)
      // holds regardless of the session's current database.
      def reset(table: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS default.$table")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
      }
      reset("g81_orders_bucketed")
      reset("g81_customer_bucketed")
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("default.g81_orders_bucketed")
      Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("default.g81_customer_bucketed")
      s.table("default.g81_orders_bucketed")
        .join(s.table("default.g81_customer_bucketed"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
    })

  /** The log-structured ACID table format at the gate: the full verb
    * lifecycle through [[graft.lake.LogTable]] — create (v0), append
    * (v1), copy-on-write MERGE with newer-version-wins + insert (v2),
    * stats-pruned DELETE (v3) — then every committed version read back
    * via `VERSION AS OF` time travel and aggregated. The oracle replays
    * the four logical states directly in SQL, so the gate proves the
    * transaction-log fold, the COW rewrite, and the historical snapshots
    * all serve exactly the rows the declarative history implies. */
  val q82LogTableLifecycle: Q = Q(
    "q82_log_table_lifecycle",
    Some("""
      WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      v0 AS (SELECT * FROM base WHERE o_orderkey % 2 = 0),
      v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END
                 AS o_orderstatus,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS o_totalprice
        FROM base
        UNION ALL SELECT CAST(-1 AS BIGINT), 'N', 123.45),
      v3 AS (SELECT * FROM v2 WHERE o_orderstatus <> 'U')
      SELECT CAST(0 AS BIGINT) AS version_id, count(*) AS n,
             round(sum(o_totalprice), 2) AS total FROM v0
      UNION ALL SELECT 1, count(*), round(sum(o_totalprice), 2) FROM base
      UNION ALL SELECT 2, count(*), round(sum(o_totalprice), 2) FROM v2
      UNION ALL SELECT 3, count(*), round(sum(o_totalprice), 2) FROM v3
    """),
    (s, dir) => {
      import graft.lake.LogTable
      val path = java.nio.file.Files
        .createTempDirectory("graft_logtable").toString + "/orders_log"
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("version", lit(1L))
      LogTable.append(s, path, orders.filter(col("o_orderkey") % 2 === 0))
      LogTable.append(s, path, orders.filter(col("o_orderkey") % 2 =!= 0))
      val updates = orders.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          lit(2L).as("version"))
        .unionByName(LocalTable.of(s,
          StructType(Seq(
            StructField("o_orderkey", LongType),
            StructField("o_orderstatus", StringType),
            StructField("o_totalprice", DoubleType),
            StructField("version", LongType))),
          Seq(Row(-1L, "N", 123.45, 2L))))
      LogTable.merge(s, path, updates, Seq("o_orderkey"), "version")
      LogTable.deleteWhere(s, path, "o_orderstatus", "U")
      (0L to 3L).map { v =>
        LogTable.readVersion(s, path, v)
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("total"))
          .withColumn("version_id", lit(v))
      }.reduce(_.unionByName(_)).select("version_id", "n", "total")
    })

  val all: Seq[Q] = Seq(q19MergeUpsert, q23DedupByRank, q24SchemaEvolution,
    q25DeleteAppend, q44SkewSaltedJoin, q45TrustedLifecycle, q59Scd2Dimension,
    q60SnapshotDiff, q63OrcRoundtrip, q68ZorderLayout, q72XmlRoundtrip,
    q81BucketedJoin, q82LogTableLifecycle)
}
