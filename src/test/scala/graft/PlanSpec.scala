package graft

import org.apache.spark.SessionCheckpointDir.{filesUnder, onGraftfs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** Plan-quality audits: the properties that decide whether these operators
  * survive a 100× scale-up — filter/projection pushdown into the parquet
  * scan, broadcast of dimension sides, no accidental cartesian products,
  * whole-stage codegen on the hot paths, bounded shuffle counts. */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  private def physical(df: DataFrame): String =
    df.queryExecution.sparkPlan.toString

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }

  test("q02: predicates and projection are pushed into the parquet scan") {
    val s = scans(run("q02_filter_pushdown"))
    assert(s.nonEmpty)
    val pushed = s.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_quantity"), pushed)
    val readSchema = s.head.metadata("ReadSchema")
    // projection pruning: only the 5 referenced columns, not all 11
    assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_tax"),
      readSchema)
  }

  test("q03: dimension join broadcasts; fact joins are not cartesian") {
    val p = physical(run("q03_revenue_by_nation"))
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("CartesianProduct"))
  }

  test("q01: aggregation is partial (map-side combine) + codegen") {
    val df = run("q01_pricing_summary")
    assert(physical(df).contains("partial_sum"), physical(df).take(800))
    df.collect() // finalize the adaptive plan so codegen spans materialize
    // whole-stage codegen renders as "*(n)" stage annotations
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(executed.contains("*(1)"), executed.take(500))
  }

  test("s03: exact pair join is a grid equi-join — no BNLJ, no cartesian") {
    val p = physical(run("s03_cosine_neardup"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the quadratic work is sharded by the (cell_r, cell_c) equi-key
    assert(p.contains("cell_r") && p.contains("cell_c"), p.take(800))
  }

  test("q33: global rank family plans with NO single-partition Exchange") {
    val df = run("q33_rank_family")
    df.collect() // finalize the adaptive plan
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!executed.contains("Exchange SinglePartition"), executed.take(1200))
    // the window that remains is partitioned by the range-partition id
    // (the range exchange itself ran once, inside the localCheckpoint
    // materialization both passes share)
    assert(executed.contains("__go_pid"), executed.take(1200))
  }

  test("q13: windowed query shuffles exactly once (on the partition key)") {
    val df = run("q13_running_balance")
    df.collect() // finalize the adaptive plan (exchanges are inserted by EnsureRequirements)
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(executed).length
    assert(n === 1, executed.take(800))
    assert(executed.contains("hashpartitioning(user_id"), executed.take(800))
  }

  test("d05: scan reads only the text column for the fingerprint dedup") {
    val s = scans(run("d05_prefix_dedup_groups"))
    val readSchema = s.head.metadata("ReadSchema")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"), readSchema)
  }

  test("rank-limit rewrite: q06's window-dedup plans into TopKPerGroupExec") {
    val df = run("q06_latest_order_per_customer")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("TopKPerGroupNode"), optimized.take(800))
    assert(!optimized.contains("Window"), optimized.take(800))
    val p = physical(df)
    assert(p.contains("TopKPerGroup") && !p.contains("Window"), p.take(800))
    // rewrite preserves semantics: identical rows to the explicit window form
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(org.apache.spark.sql.functions.col("o_orderdate").desc,
        org.apache.spark.sql.functions.col("o_orderkey").desc)
    val viaWindow = Tables(spark, sfDir, "orders")
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(org.apache.spark.sql.functions.col("__rn") === 1)
      .drop("__rn")
      .select(df.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    assert(df.collect().map(_.toSeq).toSet === viaWindow.collect().map(_.toSeq).toSet)
  }

  test("rank-limit rewrite does NOT fire when the rank column is kept") {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val keepsRank = Tables(spark, sfDir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
    assert(!keepsRank.queryExecution.optimizedPlan.toString
      .contains("TopKPerGroupNode"))
  }

  test("q44: salted skew join shuffles on (key, salt) — no broadcast hiding the skew") {
    val df = run("q44_skew_salted_join")
    df.collect() // finalize the adaptive plan
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // a broadcast would make the salting a no-op demonstration
    assert(!executed.contains("BroadcastHashJoin"), executed.take(1000))
    assert(!executed.contains("CartesianProduct"))
    // the join key is the composite (key, salt): the hot key's rows hash
    // to `salts` different reducers
    assert(executed.contains("__salt"), executed.take(1000))
  }

  test("GlobalOrder: reliable-checkpoint path agrees with localCheckpoint path") {
    import org.apache.spark.sql.functions._
    val spend = Tables(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("total"))
    val sortExprs = Seq(col("total").desc, col("o_custkey").asc)
    val tieCols = Seq(col("total"), col("o_custkey"))
    def rows(r: graft.operators.GlobalOrder.Ranked) =
      (r.totalRows, r.df.select("o_custkey", "rn", "rnk", "drnk")
        .collect().map(_.toSeq).toSet)
    // the range-partitioned frame is cut through the graftfs session dir
    // (onGraftfs asserts its checkpoint files land there)
    val (safe, dir) = onGraftfs(spark, "go-ranks") {
      rows(graft.operators.GlobalOrder.withRanks(spend, sortExprs, tieCols))
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val written = filesUnder(dir)
    val fast = rows(graft.operators.GlobalOrder.withRanks(spend, sortExprs, tieCols))
    assert(fast === safe)
    assert(filesUnder(dir) === written)
  }

  test("GlobalOrder.withPrefixSum: agrees with the naive global window; no single-partition Exchange; fault-tolerant path agrees") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("v"))
    val sortExprs = Seq(col("v").desc, col("doc_id").asc)
    val fast = graft.operators.GlobalOrder.withPrefixSum(
      docs, col("v"), sortExprs, outCol = "cs")
    val naive = docs.withColumn("cs",
      sum(col("v")).over(Window.orderBy(sortExprs: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    def rows(df: DataFrame) =
      df.select("doc_id", "cs").collect().map(_.toSeq).toSet
    assert(rows(fast.df) === rows(naive))
    assert(fast.grandTotal ===
      docs.agg(sum(col("v"))).collect()(0).getLong(0))
    fast.df.collect() // finalize the adaptive plan
    val executed = fast.df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!executed.contains("Exchange SinglePartition"), executed.take(1200))
    val ((safeTotal, safeRows), _) = onGraftfs(spark, "go-prefix") {
      val safe = graft.operators.GlobalOrder.withPrefixSum(
        docs, col("v"), sortExprs, outCol = "cs")
      (safe.grandTotal, rows(safe.df))
    }
    assert(safeTotal === fast.grandTotal)
    assert(safeRows === rows(fast.df))
  }

  test("d80: the budget prefix sum never funnels through a single partition") {
    val df = run("d80_token_budget_select")
    df.collect() // finalize the adaptive plan
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!executed.contains("Exchange SinglePartition"), executed.take(1200))
    assert(executed.contains("__go_pid"), executed.take(1200))
  }

  test("d81: the temperature schedule broadcasts onto the corpus scan — no sort-merge, no cartesian on the doc side") {
    val df = run("d81_temperature_mixture")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(executed.contains("BroadcastHashJoin"), executed.take(1200))
    assert(!executed.contains("SortMergeJoin"), executed.take(1200))
    assert(!executed.contains("CartesianProduct"), executed.take(1200))
  }

  test("d83: the vocabulary broadcasts into the scoring scan — no sort-merge join of token rows") {
    val df = run("d83_oov_rate")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(executed.contains("BroadcastHashJoin"), executed.take(1200))
    assert(!executed.contains("SortMergeJoin"), executed.take(1200))
  }

  test("d84: every batch admission rides the range-partitioned prefix sum — no single-partition window") {
    val df = run("d84_budget_lifecycle")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!executed.contains("Exchange SinglePartition"), executed.take(1200))
  }

  test("s25: the apply side is a pure exchange-free projection — the trained ranges ride the plan as literals") {
    val df = run("s25_scalar_quantize")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!executed.contains("Exchange"), executed.take(1200))
    assert(!executed.contains("Join"), executed.take(1200))
  }

  test("d90: the per-source top-p windows share one source partitioning — no single-partition exchange") {
    val df = run("d90_source_top_p")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!executed.contains("Exchange SinglePartition"), executed.take(1200))
    // one exchange total: both windows ride the same hashpartitioning(source)
    val exchanges = "Exchange hashpartitioning"
      .r.findAllIn(executed).size
    assert(exchanges === 1, s"expected one shared exchange, got $exchanges:\n${executed.take(1200)}")
  }

  test("m05: frame sampling is a pure per-row generator — no exchange, no join") {
    val df = run("m05_frame_sample")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!executed.contains("Exchange"), executed.take(1200))
    assert(!executed.contains("Join"), executed.take(1200))
  }

  test("q81: the bucketed co-located join runs with NO exchange and NO sort on either side") {
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val df = run("q81_bucketed_join")
      df.collect()
      val executed = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(executed.contains("SortMergeJoin"), executed.take(1500))
      // both sides read their bucketed layout (all buckets selected)
      assert("Bucketed: true".r.findAllIn(executed).size === 2,
        executed.take(1500))
      // the ONLY exchange is the group-by's re-key on c_mktsegment — the
      // join itself gets its distribution from the bucket layout, so no
      // exchange mentions the join key. (A per-side in-partition Sort
      // remains: multi-file buckets void sortBy's ordering guarantee, so
      // Spark re-sorts; the shuffle — the thing that matters at 100 TB —
      // is gone.)
      val exchanges = "Exchange [a-z]+partitioning\\(([^,]+)"
        .r.findAllMatchIn(executed).map(_.group(1)).toSeq
      assert(exchanges.size === 1 && exchanges.head.startsWith("c_mktsegment"),
        s"join must not re-exchange on the key: $exchanges\n${executed.take(1500)}")
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("s06: PQ encode + ADC scoring is a pure projection — no join, no shuffle before top-k") {
    val df = run("s06_pq_adc")
    val p = physical(df)
    // codes and scores derive from model objects riding inside expressions;
    // the only wide op is the final TakeOrdered
    assert(!p.contains("Join"), p.take(1000))
    assert(!p.contains("Exchange hashpartitioning"), p.take(1000))
    assert(p.contains("TakeOrderedAndProject"), p.take(1000))
  }

  test("d14: stratified sample scan prunes the text column") {
    val s = scans(run("d14_stratified_sample"))
    val readSchema = s.head.metadata("ReadSchema")
    assert(!readSchema.contains("text"), readSchema)
    assert(readSchema.contains("doc_id") && readSchema.contains("lang"), readSchema)
  }

  test("q49: interval join plans as a bucket equi-join — no nested loop") {
    val df = run("q49_interval_bucket_join")
    val p = physical(df)
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1000))
    assert(!p.contains("CartesianProduct"), p.take(1000))
    assert(p.contains("bucket"), p.take(1000))
  }

  test("d07/d08/d17: candidate generation is equi-join only — no BNLJ, no cartesian, no window sort") {
    // d07/d17 materialize their candidate stage eagerly (lineage cuts),
    // so the final query plan no longer contains it — audit the LAZY
    // candidate pipeline directly, at the gate banding
    val docs = Tables(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val cand = graft.ext.Dedup.minhashNearDupCandidates(docs, 3, 96, 48, 2)
    val cp = physical(cand)
    assert(!cp.contains("BroadcastNestedLoopJoin"), cp.take(500))
    assert(!cp.contains("CartesianProduct"), cp.take(500))
    // the r5 regression shape: an always-on Window over bands×N rows
    assert(!cp.contains("Window"), s"candidates plan a window: ${cp.take(500)}")
    // and the full queries (post-cut verify / components / simhash) stay
    // equi-join-only too
    Seq("d07_minhash_lsh_neardup", "d08_simhash_neardup",
      "d17_neardup_components").foreach { q =>
      val p = physical(run(q))
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(500)}")
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(500)}")
      assert(!p.contains("Window"), s"$q plans a window: ${p.take(500)}")
    }
  }

  test("verifyJaccardPairs: corpus reaches the shingle stage only through a semi-join on candidate ids") {
    // the 100 TB contract of the verify half: the full corpus is never
    // shingled wholesale — docs are first LeftSemi-pruned to the ids the
    // candidate list names, so verify cost tracks candidates, not corpus
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val cands = docs.limit(3).select(col("doc_id").as("doc_a"))
      .crossJoin(docs.limit(1).select(col("doc_id").as("doc_b")))
      .filter(col("doc_a") =!= col("doc_b"))
      .localCheckpoint()
    val p = physical(
      graft.ext.Dedup.verifyJaccardPairs(docs, cands, nGram = 3, threshold = 0.5))
    assert(p.contains("LeftSemi"), s"verify plan has no semi-join prefilter: ${p.take(800)}")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(500))
    assert(!p.contains("CartesianProduct"), p.take(500))
  }

  test("d21: span dedup scans the corpus once — duplicate test is count-over-window, not a join-back") {
    val df = run("d21_span_dedup")
    assert(scans(df).length === 1, physical(df).take(800))
    assert(!physical(df).contains("Join"), physical(df).take(800))
    df.collect() // exchanges are inserted by EnsureRequirements at execution
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the only wide ops: the fingerprint exchange and the doc exchange
    // (the island aggregate rides the doc_id partitioning)
    val n = "Exchange hashpartitioning".r.findAllIn(executed).length
    assert(n === 2, executed.take(1200))
  }

  test("d26/d30: the training-order shuffle never funnels through a single partition") {
    for (q <- Seq("d26_shuffle_shards", "d30_curation_pipeline")) {
      val df = run(q)
      df.collect() // finalize the adaptive plan
      val executed = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!executed.contains("Exchange SinglePartition"), s"$q:\n" + executed.take(1200))
    }
  }

  test("d29: source mixing is a joinless, exchange-free projection + generator") {
    val df = run("d29_source_mixing")
    val p = physical(df)
    assert(!p.contains("Join") && !p.contains("Exchange"), p.take(1200))
    assert(p.contains("Generate"), p.take(1200))
  }

  test("d28: the test n-gram side broadcasts; train text never sort-merges") {
    val df = run("d28_ngram_contamination")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(executed.contains("BroadcastHashJoin"), executed.take(1200))
    assert(!executed.contains("SortMergeJoin"), executed.take(1200))
  }

  test("s08: IVF classify probes via equi-join — no cartesian, no BNLJ") {
    val df = run("s08_knn_classify_ivf")
    val p = physical(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
  }

  test("s09: BM25 joins are hash joins — query side broadcasts, no cartesian blow-up") {
    val df = run("s09_bm25_topk")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!executed.contains("CartesianProduct"), executed.take(1200))
    assert(executed.contains("BroadcastHashJoin"), executed.take(1200))
    // the only nested-loop joins are the one-row corpus-stats scalars
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(executed).length
    assert(bnlj <= 2, executed.take(1200))
  }

  test("d31: LM scoring pass scans the candidate corpus once — model joins, no cartesian") {
    val df = run("d31_ngram_lm_score")
    val p = physical(df)
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // the model is materialized (localCheckpoint) — the scoring plan
    // reads it as scan_existing_rdd, so the only parquet scan left is
    // the candidate corpus itself
    assert(scans(df).length === 1, p.take(1200))
  }

  test("d32: content-defined chunking is joinless — one scan, one fingerprint exchange") {
    val df = run("d32_cdc_chunks")
    assert(scans(df).length === 1, physical(df).take(800))
    assert(!physical(df).contains("Join"), physical(df).take(800))
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(executed).length
    assert(n === 1, executed.take(1200))
  }

  test("d33: tokenizer-fertility stats are a pure exchange-free projection") {
    val p = physical(run("d33_bpe_token_stats"))
    assert(!p.contains("Join") && !p.contains("Exchange"), p.take(800))
  }

  test("q50: the funnel is ONE shuffle on the user key — no join, no window sort") {
    val df = run("q50_funnel")
    val p = physical(df)
    assert(!p.contains("Join"), p.take(800))
    assert(!p.contains("Window"), p.take(800))
    // sf0.001 reads as one partition, which satisfies the clustered
    // distribution outright — at most the one user-key exchange appears
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 1, s"$n exchanges:\n${p.take(1000)}")
    assert(p.contains("user_id"), p.take(400))
  }

  test("d34: DSIR scoring is an exchange-free projection under a driver-side model") {
    val df = run("d34_dsir_weights")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the B-cell model rides into generated code as a reference object
    // (DotProductLitExpr): the scoring pass has no join, no exchange, no
    // aggregate — bucket counts and the weight dot product are in-row
    assert(!executed.contains("Join"), executed.take(800))
    assert(!executed.contains("Exchange"), executed.take(800))
    assert(!executed.contains("Aggregate"), executed.take(800))
  }

  test("d35: classifier scoring is an exchange-free projection with plan-literal weights") {
    val w = Array.tabulate(64)(i => i * 0.01)
    val df = graft.ext.TextStats.scoreHashedLogReg(
      Tables(spark, sfDir, "documents").select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")),
      "text", w, 0.1)
    val p = physical(df)
    // bucket counts + dot product are in-row kernels: no join, no
    // exchange, no aggregate anywhere in the scoring pass
    assert(!p.contains("Join"), p.take(800))
    assert(!p.contains("Exchange"), p.take(800))
    assert(!p.contains("Aggregate"), p.take(800))
  }

  test("d36: the heavy-hitters sketch partial-aggregates before the shuffle") {
    val p = physical(run("d36_heavy_hitters"))
    // ObjectHashAggregate with a partial sketch on the map side: the
    // exchange carries <=capacity counters per partition, not the corpus
    assert(p.contains("ObjectHashAggregate"), p.take(800))
    assert(p.contains("partial_freq_items_sketch"), p.take(800))
    assert(!p.contains("SortAggregate"), p.take(800))
  }

  test("d39: the Gopher rule suite is a pure exchange-free projection") {
    val p = physical(run("d39_gopher_rules"))
    assert(!p.contains("Join") && !p.contains("Exchange"), p.take(800))
  }

  test("d40: repetition signals scan the corpus text once") {
    val df = run("d40_repetition_signals")
    // one scan carries text; the doc-id spine join reads only doc_id
    val textScans = scans(df).count(_.metadata("ReadSchema").contains("text"))
    assert(textScans === 1, scans(df).map(_.metadata("ReadSchema")).mkString("\n"))
    assert(!physical(df).contains("CartesianProduct"))
  }

  test("SQL surface: native kernels registered as SQL functions") {
    graft.plans.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
      "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c, " +
      "shingles('a b c d', 3) AS sh, " +
      "minhash_sig(shingles('a b c d', 3), 4) AS sig").collect()(0)
    assert(r.getDouble(0) === 1.0)
    assert(r.getSeq[String](1) === Seq("a b c", "b c d"))
    assert(r.getSeq[Long](2).length === 4)
    // the sketch aggregate is on the SQL surface too
    val hh = spark.sql(
      "SELECT freq_items_sketch(t, 4) AS hh FROM VALUES ('a'),('a'),('b') AS v(t)")
      .selectExpr("explode(hh)").collect()
      .map(x => { val s0 = x.getStruct(0); (s0.getString(0), s0.getLong(1)) })
    assert(hh.toSeq === Seq(("a", 2L), ("b", 1L)))
    // entropy kernel: optional tokenLevel flag defaults to characters
    val ent = spark.sql(
      "SELECT text_entropy('abab'), text_entropy('x y x y', true)").collect()(0)
    assert(ent.getDouble(0) === 1.0 && ent.getDouble(1) === 1.0)
    // BPE merge application joins the SQL surface
    val bpe = spark.sql("SELECT bpe_apply('a a a b', 'a a')").collect()(0)
    assert(bpe.getString(0) === "aa a b")
    // the reference's per-row rules entry point: same compiled chain as
    // the Column API, so SQL callers get identical categorization
    val cat = spark.sql(
      "SELECT categorize_bb('UBER *TRIP 99'), categorize_bb('LOJA X PARC 02/10')")
      .collect()(0)
    val c0 = cat.getStruct(0)
    assert(c0.getString(0) === "Transporte" && c0.getString(1) === "Apps/Taxi")
    val c1 = cat.getStruct(1)
    assert(c1.getString(0) === "Compras" &&
      c1.getString(1) === "Parcelado (loja física)" && c1.getBoolean(3))
  }

  test("d42: entropy signals are a pure exchange-free projection") {
    val p = physical(run("d42_entropy_signals"))
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(800))
  }

  test("d41: perplexity bucketing ranks with NO single-partition Exchange") {
    val df = run("d41_perplexity_buckets")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!executed.contains("Exchange SinglePartition"), executed.take(1200))
    assert(executed.contains("__go_pid"), executed.take(1200))
  }

  test("q55: RANGE-frame window shuffles once on the user key") {
    val df = run("q55_trailing_range_sum")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(executed).length
    assert(n === 1, executed.take(800))
    assert(executed.contains("hashpartitioning(user_id"), executed.take(800))
    assert(!executed.contains("Exchange SinglePartition"))
  }

  test("q56: global rank distributions plan with NO single-partition Exchange") {
    val df = run("q56_rank_distributions")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!executed.contains("Exchange SinglePartition"), executed.take(1200))
    assert(executed.contains("__go_pid"), executed.take(1200))
  }

  test("q53: transition matrix windows per user/prev-state — no single-partition Exchange") {
    val df = run("q53_event_transitions")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!executed.contains("Exchange SinglePartition"), executed.take(1200))
    assert(!executed.contains("CartesianProduct"))
    assert(executed.contains("hashpartitioning(user_id"), executed.take(1200))
  }

  test("q61: anomaly series aggregates partially and windows on the series key") {
    val df = run("q61_anomaly_zscore")
    val p = physical(df)
    // corpus collapses map-side before any exchange
    assert(p.contains("partial_count") || p.contains("partial count"), p.take(1200))
    assert(!p.contains("Exchange SinglePartition"), p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("d47: key-skew top-K cut is TakeOrderedAndProject, never a global sort of all keys") {
    val df = run("d47_key_skew_profile")
    val p = physical(df)
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    // the only single-partition stage is the bounded topK-row window/total
    assert(!p.contains("CartesianProduct"))
  }

  test("q63: the predicate pushes into the ORC scan like parquet") {
    val df = run("q63_orc_roundtrip")
    val orcScans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.fileFormat.toString.toLowerCase.contains("orc") => f
    }
    assert(orcScans.nonEmpty, "expected a native ORC scan")
    val meta = orcScans.head.metadata
    assert(meta("PushedFilters").contains("IsNotNull"), meta("PushedFilters"))
    // projection pruning: only the 3 referenced columns come off disk
    assert(!meta("ReadSchema").contains("o_orderdate"), meta("ReadSchema"))
  }

  test("q60: snapshot diff joins once on the key — no broadcast of a table-sized side") {
    val df = run("q60_snapshot_diff")
    val p = physical(df)
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    import org.apache.spark.sql.functions._
    // fact partitioned on the join key's column — the 100 TB layout where
    // DPP turns a selective dim filter into a fact partition skip
    val base = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    graft.Tables(spark, sfDir, "orders")
      .write.partitionBy("o_orderpriority").parquet(s"$base/fact")
    val fact = spark.read.parquet(s"$base/fact")
    // the dim filter sits on a NON-join column, so the qualifying
    // partition values are only known at runtime — a statically
    // transposable filter (e.g. on the join key itself) would be pushed
    // as a constant partition filter and never need DPP
    val dim = graft.Tables(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(min(col("o_custkey")).as("rep"))
      .filter(col("rep") >= 0) // runtime-opaque, never empty
    val q = fact.join(broadcast(dim), Seq("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val p = q.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a DynamicPruning partition filter on the fact scan:\n${p.take(1200)}")
    // and it must compute the right answer through the pruned scan
    val n = q.collect()(0).getLong(0)
    val keep = dim.collect().map(_.getString(0)).toSet
    val direct = graft.Tables(spark, sfDir, "orders")
      .filter(col("o_orderpriority").isin(keep.toSeq: _*)).count()
    assert(n === direct && n > 0)
  }

  test("runtime bloom filter: a selective dim join injects a row-level filter") {
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      // production thresholds assume TB-sized scans; at spec scale let
      // any creation side qualify and any application scan be "big
      // enough", and force the shuffle join the filter is designed for
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1B")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val base = java.nio.file.Files.createTempDirectory("graft_rbf").toString
      graft.Tables(spark, sfDir, "lineitem").write.parquet(s"$base/fact")
      graft.Tables(spark, sfDir, "orders").write.parquet(s"$base/dim")
      val fact = spark.read.parquet(s"$base/fact")
      val dim = spark.read.parquet(s"$base/dim")
        .filter(col("o_orderpriority") === "1-URGENT")
      val q = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .agg(round(sum(col("l_quantity")), 2).as("qty"))
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter_agg") && p.contains("might_contain"),
        s"expected an injected runtime bloom filter:\n${p.take(1200)}")
      q.collect() // and the filtered plan still executes correctly
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("d72: the domain cap plans into TopKPerGroupExec — no per-source sort materialization") {
    val df = run("d72_domain_cap")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("TopKPerGroupNode"), optimized.take(800))
    val p = physical(df)
    assert(p.contains("TopKPerGroup") && !p.contains("Window"), p.take(800))
  }

  test("d73: boilerplate scrub is ONE window pass — no second tokenize+hash, no count_distinct Expand") {
    val df = run("d73_boilerplate_scrub")
    val p = df.queryExecution.sparkPlan
    // one Generate (the window posexplode) — the first draft had two
    val explodes = p.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(explodes.size === 1, s"expected 1 window explode, got ${explodes.size}")
    // two corpus scans total: the window pass + the final text rewrite
    assert(scans(df).size === 2, s"expected 2 scans, got ${scans(df).size}")
    // distinct-doc counting is windowed, not an Expand-planning distinct agg
    assert(!p.toString.contains("Expand"), p.toString.take(800))
  }

  test("KMeans iteration: the nearest-centroid assignment stays BELOW the Generate — never re-evaluated per exploded element") {
    // a generator in the same select puts sibling expressions in the
    // post-Generate Project, re-evaluating the k·dim centroid scan once
    // per exploded ELEMENT (dim× the work — measured 18.9 s vs 0.9 s per
    // Lloyd iteration at k=128/dim=64 on the sf1 corpus, the round-15
    // s22 regression). Pin the fixed shape: in the physical plan, the
    // NearestCentroidExpr kernel call lives in GenerateExec's CHILD
    // subtree, and no operator ABOVE the Generate carries one.
    val v = spark.range(50).selectExpr(
      "array(cast(id as float), cast(id+1 as float)) as v")
    val cs = Array(Array(1f, 0f), Array(0f, 1f), Array(0.5f, 0.5f))
    val df = graft.ext.KMeans.iterationAssigned(v, cs)
    val p = df.queryExecution.sparkPlan
    val gens = p.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.size === 1, p.toString.take(800))
    def hasNearest(plan: org.apache.spark.sql.execution.SparkPlan): Boolean =
      plan.expressions.exists(_.exists {
        case s: org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke =>
          s.staticObject == graft.plans.NearestCentroidExpr.getClass
        case _ => false
      })
    assert(gens.head.child.collect {
      case n if hasNearest(n) => n }.nonEmpty,
      s"assignment must be computed below the Generate:\n${p.toString.take(1200)}")
    // nothing from the Generate upward re-evaluates the assignment
    var above = List.empty[org.apache.spark.sql.execution.SparkPlan]
    def walk(n: org.apache.spark.sql.execution.SparkPlan): Unit = {
      if (n eq gens.head) () // stop at the Generate: its child is exempt
      else { above ::= n; n.children.foreach(walk) }
    }
    walk(p)
    assert(!above.exists(hasNearest),
      s"assignment re-evaluated above the Generate:\n${p.toString.take(1200)}")
    // and the exploded frame itself is correct: one cid per source row,
    // carried to every element
    val rows = df.collect()
    assert(rows.length === 100) // 50 vectors x 2 elements
    assert(rows.map(_.getInt(0)).distinct.sorted.forall(c => c >= 0 && c < 3))
  }

  test("q03/q04/q07: customer broadcasts via STATS, not hints — degrades to shuffle join when stats say big") {
    // customer scales with SF (15 B rows at the 100 TB posture), so it must
    // carry NO broadcast() hint: a hint overrides every size threshold and
    // OOMs at scale. nation (25 rows, fixed) keeps its explicit hint.
    val names = Seq("q03_revenue_by_nation", "q04_top_revenue_orders",
      "q07_mode_priority_per_nation")
    def joinLines(name: String, op: String): Seq[String] =
      physical(run(name)).linesIterator.filter(l =>
        l.contains(op) && l.contains("c_custkey")).toSeq
    // default thresholds + tiny files: stats alone pick broadcast
    names.foreach { n =>
      assert(joinLines(n, "BroadcastHashJoin").nonEmpty,
        s"$n: expected stats-driven broadcast of customer at gate scale")
    }
    // forced large-stats session: the customer join must degrade, proving
    // no hint is hiding underneath
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      names.foreach { n =>
        assert(joinLines(n, "BroadcastHashJoin").isEmpty,
          s"$n: customer still broadcast with thresholds off — a hint is back")
        val p = physical(run(n))
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"$n: expected a shuffle join on customer:\n${p.take(800)}")
      }
      // the fixed-cardinality nation hint survives thresholds-off (q03/q07)
      Seq("q03_revenue_by_nation", "q07_mode_priority_per_nation").foreach { n =>
        val nat = physical(run(n)).linesIterator.filter(l =>
          l.contains("BroadcastHashJoin") && l.contains("n_nationkey")).toSeq
        assert(nat.nonEmpty, s"$n: nation hint should still broadcast")
      }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("d94: release delta is ONE doc_id-keyed join into a partial per-source aggregate") {
    val df = run("d94_release_delta")
    val p = physical(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // per-source counters combine map-side before the sources-sized shuffle
    assert(p.contains("partial_sum"), p.take(1200))
    val joins = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joins.size === 1,
      s"expected exactly one doc_id join, got ${joins.size}:\n${p.take(1200)}")
  }

  test("d95: the streamed release-delta report reads counters-only state — no text or doc_id column, no cartesian") {
    val df = run("d95_release_delta_stream") // runs the lifecycle (eager)
    val p = physical(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    val stateScans = scans(df)
      .filter(_.metadata("Location").contains("graft-d95"))
    assert(stateScans.nonEmpty, "report must read the persisted state")
    stateScans.foreach { s =>
      val rs = s.metadata("ReadSchema")
      // the state is sources-sized counters; a text or doc_id column here
      // would mean corpus-sized state leaked into the lifecycle
      assert(!rs.contains("text") && !rs.contains("doc_id"), rs)
    }
  }
}
