package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Lineage, Q, Tables}

/** Iterative graph analytics over relationally-derived edge lists — the
  * second member of the engine's Pregel-shaped family next to
  * [[Dedup.connectedComponents]]. The motivating pipeline use is the
  * published web-corpus quality prior: link-graph centrality (PageRank
  * over the crawl graph) ranks pages for curation the way the reference
  * corpora (Common Crawl derivatives) were themselves built.
  *
  * Scale posture mirrors connectedComponents: each iteration is ONE
  * shuffle join (ranks ⋈ edges on the source key) plus one aggregate on
  * the destination key; ranks are a node-sized table, edges are scanned
  * per round but never expanded; lineage is cut per round so the plan
  * does not grow with the iteration count.
  */
object Graph {

  /** Damped PageRank, `iters` synchronous rounds from a uniform start.
    *
    * `edges` is a directed (src, dst) edge list — callers deduplicate if
    * multi-edges should not weigh double. Every node must appear as a
    * source (no dangling-mass redistribution is implemented); symmetric
    * edge lists satisfy this by construction, and the builder below
    * emits both directions. Per-round ranks round to 9 decimals — the
    * d35 training-loop contract that makes the iteration bit-identical
    * across engines and partitionings, which is what lets DuckDB UNROLL
    * the loop in SQL and hash-match the distributed result.
    *
    * Durable cuts come from setting `spark.checkpoint.dir` on the
    * session ([[graft.Lineage.cut]]); without it rounds cut through
    * executor-local `localCheckpoint`.
    *
    * Output: (node, rank) with rank rounded to 6. */
  def pageRank(edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0,1)")
    // EAGER cuts, deliberately: fixed-iteration PageRank reads no
    // per-round convergence metric, so lazy cuts (one job, no
    // barriers) are semantically fine — but measured SLOWER (d46
    // same-session A/B: eager 4.33 s vs lazy 5.68 s; d53 3.23 vs
    // 4.31), because an eagerly-executed round runs under AQE with
    // runtime stats (broadcast conversions on the node-sized rank
    // table) while a lazily-chained round's physical plan freezes at
    // construction. The per-round barrier is what buys the adaptive
    // re-plan.
    val e = Lineage.cut(edges.select(col("src"), col("dst")))
    val nodes = Lineage.cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    val base = (1.0 - damping) / n
    // out-degrees folded into the node spine ONCE (guide §2.4): outDeg was
    // a lazy aggregate over the edge list, so every round's eager cut
    // re-ran the 2E-row scan + (src) shuffle and re-joined it to the
    // edges — iters extra edge-table aggregates per query. The spine join
    // is left (contract says every node appears as a source, but a
    // contract-violating dangling node must keep its rank row, exactly as
    // before: such a node matches no edge in the contribs join, so its
    // NULL deg is never read). Carrying `deg` through the per-round rank
    // table costs one long per node-row of checkpoint block.
    val nd = Lineage.cut(nodes.join(
      e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .withColumnRenamed("src", "node"),
      Seq("node"), "left"))
    var ranks = nd.withColumn("rank",
      floor(lit(1.0 / n) * 1e9 + 0.5) / 1e9)
    for (_ <- 1 to iters) {
      val contribs = e
        .join(ranks.select(col("node").as("src"),
          (col("rank") / col("deg")).as("c")), Seq("src"))
        .select(col("dst").as("node"), col("c"))
      ranks = Lineage.cut(nd
        .join(contribs.groupBy(col("node")).agg(sum(col("c")).as("s")),
          Seq("node"), "left")
        .select(col("node"), col("deg"),
          (floor((lit(base) + lit(damping) * coalesce(col("s"), lit(0.0)))
            * 1e9 + 0.5) / 1e9).as("rank")))
    }
    ranks.select(col("node"), (floor(col("rank") * 1e6 + 0.5) / 1e6).as("rank"))
  }

  /** The corpus' natural link graph: the customer–supplier bipartite
    * graph from order lines (distinct trading pairs), both directions so
    * every node has out-degree ≥ 1. Node ids are prefixed to keep the
    * two key spaces apart. */
  def tradeEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val pairs = lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("c"),
        concat(lit("s"), col("l_suppkey")).as("s"))
      .distinct()
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .union(pairs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** PageRank over the customer–supplier trade graph, 3 rounds. */
  val d46PageRank: Q = Q(
    "d46_pagerank",
    Some("""
      WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
               's' || CAST(l_suppkey AS VARCHAR) AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      e AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM e
                UNION SELECT DISTINCT dst FROM e),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      r0 AS (SELECT node, floor(1.0 / nn.n * 1e9 + 0.5) / 1e9 AS rank FROM nodes CROSS JOIN nn),
      r1 AS (
        SELECT nodes.node,
               floor((0.15 / nn.n + 0.85 * coalesce(s.s, 0.0)) * 1e9 + 0.5) / 1e9 AS rank
        FROM nodes CROSS JOIN nn
        LEFT JOIN (
          SELECT e.dst AS node, sum(r0.rank / deg.deg) AS s
          FROM e JOIN r0 ON r0.node = e.src JOIN deg ON deg.src = e.src
          GROUP BY 1) s ON s.node = nodes.node),
      r2 AS (
        SELECT nodes.node,
               floor((0.15 / nn.n + 0.85 * coalesce(s.s, 0.0)) * 1e9 + 0.5) / 1e9 AS rank
        FROM nodes CROSS JOIN nn
        LEFT JOIN (
          SELECT e.dst AS node, sum(r1.rank / deg.deg) AS s
          FROM e JOIN r1 ON r1.node = e.src JOIN deg ON deg.src = e.src
          GROUP BY 1) s ON s.node = nodes.node),
      r3 AS (
        SELECT nodes.node,
               floor((0.15 / nn.n + 0.85 * coalesce(s.s, 0.0)) * 1e9 + 0.5) / 1e9 AS rank
        FROM nodes CROSS JOIN nn
        LEFT JOIN (
          SELECT e.dst AS node, sum(r2.rank / deg.deg) AS s
          FROM e JOIN r2 ON r2.node = e.src JOIN deg ON deg.src = e.src
          GROUP BY 1) s ON s.node = nodes.node)
      SELECT node, floor(rank * 1e6 + 0.5) / 1e6 AS rank FROM r3
    """),
    (s, dir) => pageRank(
      tradeEdges(Tables(s, dir, "orders"), Tables(s, dir, "lineitem")),
      iters = 3))

  /** Synchronous label propagation, `iters` rounds — the community-
    * detection member of the Pregel family (connectedComponents finds
    * REACHABILITY classes; LPA finds DENSITY classes — near-dup cluster
    * grouping, host/domain communities in a crawl graph, supplier
    * cliques). Every node starts as its own label; each round a node
    * adopts the majority label among its in-neighbors, ties broken by
    * the smallest label — fully deterministic, so the DuckDB oracle
    * unrolls the rounds and matches exactly (votes are integer counts;
    * no floating point anywhere).
    *
    * Per round: one ranks⋈edges shuffle + one (node, label) count
    * aggregate + a per-node rank-limit window — all key-partitioned,
    * lineage cut per round. Synchronous LPA can oscillate on bipartite
    * structure (labels swap sides); the operator is the fixed-iteration
    * kernel — production picks iters or composes with a convergence
    * check exactly like connectedComponents' observed metric.
    * Requires every node to appear as a destination (symmetric edge
    * lists satisfy this by construction, as in [[pageRank]]).
    * Durable cuts come from setting `spark.checkpoint.dir` on the
    * session ([[graft.Lineage.cut]]). */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // eager cuts — same A/B-measured AQE argument as pageRank's
    val e = Lineage.cut(edges.select(col("src"), col("dst")))
    val nodes = Lineage.cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    var labels = nodes.withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      // ONE exchange per round (guide §2.4, was two): the vote rows are
      // hash-partitioned by the destination node once; the (node, label)
      // vote count then needs no exchange (hash(node) already clusters
      // every (node, label) group), and the winner pick is a second
      // same-partitioning hash aggregate — min over (−votes, label)
      // structs IS "max votes, ties to the smallest label", replacing the
      // previous row_number window (its own exchange on node plus a
      // per-partition sort) with an O(1)-state aggregate. Measured
      // (round 16, alternating min-of-4/5 A/B, identical results):
      // parity with the window shape at sf0.1 (3.56 vs 3.46-3.63 s) and
      // sf1 (11.1-11.5 vs 10.2-11.8 s); kept for half the shuffle
      // barriers at cluster scale. A map-side-combined vote aggregate
      // plus this min-struct winner (two exchanges, no sort) lost at
      // sf1 (12-30 s).
      val votes = e
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .repartition(col("dst"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("votes"))
      labels = Lineage.cut(votes
        .groupBy(col("node"))
        .agg(min(struct((-col("votes")).as("nv"), col("label").as("l")))
          .getField("l").as("label")))
    }
    labels.select(col("node"), col("label").as("community"))
  }

  /** d53 — 2 rounds of label propagation over the trade graph. */
  val d53LabelPropagation: Q = Q(
    "d53_label_propagation",
    Some("""
      WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
               's' || CAST(l_suppkey AS VARCHAR) AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      e AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM e
                UNION SELECT DISTINCT dst FROM e),
      l0 AS (SELECT node, node AS label FROM nodes),
      v1 AS (SELECT e.dst AS node, l0.label, count(*) AS votes
             FROM e JOIN l0 ON l0.node = e.src GROUP BY 1, 2),
      l1 AS (SELECT node, label FROM (
               SELECT node, label, row_number() OVER (
                 PARTITION BY node ORDER BY votes DESC, label ASC) AS rn
               FROM v1) WHERE rn = 1),
      v2 AS (SELECT e.dst AS node, l1.label, count(*) AS votes
             FROM e JOIN l1 ON l1.node = e.src GROUP BY 1, 2),
      l2 AS (SELECT node, label FROM (
               SELECT node, label, row_number() OVER (
                 PARTITION BY node ORDER BY votes DESC, label ASC) AS rn
               FROM v2) WHERE rn = 1)
      SELECT node, label AS community FROM l2
    """),
    (s, dir) => labelPropagation(
      tradeEdges(Tables(s, dir, "orders"), Tables(s, dir, "lineitem")),
      iters = 2))

  /** Per-node triangle participation counts over an undirected edge
    * list — the local-clustering signal (link-farm/boilerplate detection
    * in a crawl graph, community density next to [[labelPropagation]]'s
    * labels).
    *
    * Scale design is the classic DEGREE ORIENTATION: normalize and
    * deduplicate edges, then orient every edge from its lower-(degree,
    * node) endpoint to the higher one. The orientation is acyclic and
    * bounds every node's out-degree by O(√E) regardless of skew — a
    * celebrity node of degree millions contributes wedges only through
    * its (few) higher-degree neighbors, so the wedge expansion
    * Σ outdeg² stays near-linear where the naive neighbor-pair expansion
    * is quadratic in the hottest degree. Each triangle materializes
    * exactly once (at its orientation-minimal vertex, closed by the
    * single oriented (v,w) edge), so no post-hoc de-duplication pass is
    * needed. Three equi-joins on node keys; nothing is ever cartesian.
    *
    * Output: (node, triangles) for nodes in ≥1 triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("__da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("__db")), Seq("b"))
    val toB = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("a") < col("b"))
    // lazy shared-RDD cut: the oriented list feeds the wedge join twice
    // and the closing semi-join — without it each consumer re-derives
    // the dedup + degree joins (the minhashNearDupPairs lesson: AQE's
    // broadcast conversions defeat ReusedExchange on shared subtrees)
    val oriented = Lineage.cut(withDeg.select(
        when(toB, struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")), eager = false)
    val wedges = oriented.alias("x")
      .join(oriented.select(col("u"), col("v").as("w")).alias("y"), Seq("u"))
      .filter(col("v") =!= col("w"))
    val tris = wedges.join(
      oriented.select(col("u").as("v"), col("v").as("w")),
      Seq("v", "w"), "left_semi")
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
  }

  /** Ordered-pair expansion of a sorted array column: all (ps[i], ps[j])
    * with i < j, as structs named (`aName`, `bName`). The slice offset is
    * i + 2 because Catalyst's transform index is 0-based while slice
    * positions are 1-based — a subtlety that must live in exactly one
    * place. Shared by [[copurchaseEdges]] and [[associationRules]]. */
  private def orderedPairs(ps: Column, aName: String, bName: String): Column =
    explode(flatten(transform(ps, (x, i) =>
      transform(slice(ps, i + 2, size(ps)),
        y => struct(x.as(aName), y.as(bName))))))

  /** The co-purchase graph: parts appearing together in an order, over a
    * deterministic orderkey sample (both engines replay `% mod`). Pair
    * expansion happens INSIDE a per-order aggregate (orders carry ≤ 7
    * lines, so the collect_list buffer and the pair fan-out are both
    * constant-bounded) — never a lineitem self-join. */
  def copurchaseEdges(lineitem: DataFrame, sampleMod: Int): DataFrame =
    lineitem.filter(col("l_orderkey") % sampleMod === 0)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(array_distinct(collect_list(col("l_partkey")))).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(orderedPairs(col("ps"), "src", "dst").as("p"))
      .select(col("p.src"), col("p.dst"))
      .distinct()

  /** d62 — triangle counts over the part co-purchase graph (5% order
    * sample keeps the brute-force oracle honest while leaving thousands
    * of triangles at both gate scales). */
  val d62TriangleCounts: Q = Q(
    "d62_triangle_counts",
    Some("""
      WITH sel AS (
        SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 20 = 0),
      pairs AS (
        SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        FROM sel a JOIN sel b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      deg AS (
        SELECT node, count(*) AS deg FROM (
          SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs)
        GROUP BY 1),
      o AS (
        SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.a < p.b)
                    THEN p.a ELSE p.b END AS u,
               CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.a < p.b)
                    THEN p.b ELSE p.a END AS v
        FROM pairs p
        JOIN deg da ON da.node = p.a JOIN deg db ON db.node = p.b),
      tri AS (
        SELECT x.u, x.v, y.v AS w
        FROM o x JOIN o y ON x.u = y.u AND x.v <> y.v
        WHERE EXISTS (SELECT 1 FROM o z WHERE z.u = x.v AND z.v = y.v))
      SELECT node, count(*) AS triangles FROM (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri)
      GROUP BY 1
    """),
    (s, dir) => triangleCounts(
      copurchaseEdges(Tables(s, dir, "lineitem"), sampleMod = 20)))

  /** Market-basket association rules (support / confidence / lift) —
    * the co-occurrence analytics verb next to [[triangleCounts]]'
    * structure and d60's text-side PMI: for every part pair sharing a
    * basket (order) at least `minPairCount` times, confidence
    * P(b|a) = c_ab/c_a and lift c_ab·N/(c_a·c_b).
    *
    * Scale shape: baskets collapse to DISTINCT (order, item) rows once;
    * pair expansion happens inside the per-order aggregate (basket
    * sizes are small and bounded — never an item-table self-join); item
    * and pair counts are partial-aggregatable; the final ranking is a
    * TakeOrdered, not a global sort. Confidence and lift are single
    * IEEE divisions of exact counts — bit-identical cross-engine, no
    * rounding anywhere. */
  def associationRules(lineitem: DataFrame, minPairCount: Long,
      topK: Int): DataFrame = {
    require(minPairCount >= 1 && topK >= 1, "minPairCount and topK must be positive")
    // lazy shared-RDD cut: three consumers (basket count, item counts,
    // pair counts) would each re-run the corpus scan + distinct shuffle
    // otherwise — the triangleCounts/minhashNearDupPairs lesson (AQE
    // re-prunes each copy; ReusedExchange does not survive it)
    val baskets = Lineage.cut(lineitem
      .select(col("l_orderkey"), col("l_partkey")).distinct(), eager = false)
    val n = baskets.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n"))
    val itemCounts = baskets.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("c_item"))
    val pairCounts = baskets
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_partkey"))).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(orderedPairs(col("ps"), "a", "b").as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairCount)
    pairCounts
      .join(itemCounts.select(col("l_partkey").as("a"), col("c_item").as("c_a")), Seq("a"))
      .join(itemCounts.select(col("l_partkey").as("b"), col("c_item").as("c_b")), Seq("b"))
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("c_ab"),
        (col("c_ab").cast("double") / col("c_a")).as("confidence"),
        (col("c_ab").cast("double") * col("n") / (col("c_a") * col("c_b")))
          .as("lift"))
      .orderBy(col("lift").desc, col("a").asc, col("b").asc)
      .limit(topK)
  }

  /** q75 — top-20 co-purchase rules by lift over the full lineitem. */
  val q75AssociationRules: Q = Q(
    "q75_association_rules",
    Some("""
      WITH bk AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      nn AS (SELECT count(DISTINCT l_orderkey) AS n FROM bk),
      ic AS (SELECT l_partkey, count(*) AS c FROM bk GROUP BY 1),
      pc AS (
        SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS c_ab
        FROM bk x JOIN bk y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2)
      SELECT a, b, c_ab,
             CAST(c_ab AS DOUBLE) / ia.c AS confidence,
             CAST(c_ab AS DOUBLE) * nn.n / (ia.c * ib.c) AS lift
      FROM pc
      JOIN ic ia ON ia.l_partkey = pc.a
      JOIN ic ib ON ib.l_partkey = pc.b
      CROSS JOIN nn
      WHERE c_ab >= 2
      ORDER BY lift DESC, a ASC, b ASC
      LIMIT 20
    """),
    (s, dir) => associationRules(Tables(s, dir, "lineitem"),
      minPairCount = 2, topK = 20))

  /** Multi-source BFS hop distances, the reachability-DEPTH member of
    * the Pregel family (connectedComponents answers "which component",
    * BFS answers "how far" — crawl-depth priors, blast-radius audits,
    * link-distance features). Frontier expansion: each round joins the
    * frontier against the edge list and anti-joins the visited set, so
    * a node is labeled the FIRST round it is reached — its minimum hop
    * count, by induction. Per round one shuffle join + one distinct +
    * one anti-join, all key-partitioned; rounds ≤ maxDepth; lineage cut
    * per round (the CC posture). The empty-frontier early exit reads
    * the just-checkpointed frontier's cached blocks — no recompute.
    * Emits (node, hops) for every node within `maxDepth` of a seed;
    * unreached nodes are absent (the caller's left join decides the
    * sentinel). Durable cuts come from setting `spark.checkpoint.dir` on
    * the session ([[graft.Lineage.cut]]). */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, "maxDepth must be non-negative")
    val e = Lineage.cut(edges.select(col("src"), col("dst")))
    var visited = Lineage.cut(seeds.select(col("node")).distinct()
      .withColumn("hops", lit(0)))
    var frontier = visited
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      depth += 1
      val next = Lineage.cut(frontier
        .join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .withColumn("hops", lit(depth)))
      // the accumulated set IS re-cut each round even though every piece
      // of the union is itself an already-materialized round: skipping
      // this cut (anti-join against the growing union of cached RDDs)
      // was MEASURED SLOWER (min-of-6 A/B: 2.52 → 3.03 s, controls flat)
      // — the per-round eager barrier buys AQE's runtime re-plan of the
      // anti-join, the r11 eager-vs-lazy lesson again.
      visited = Lineage.cut(visited.unionByName(next))
      frontier = next
    }
    visited
  }

  /** BFS over the trade graph from the smallest customer node, depth 3
    * (customer → its suppliers → their co-customers → those customers'
    * suppliers). The oracle walks the same graph with a recursive
    * UNION CTE (UNION, not UNION ALL — the dedup bounds the walk at
    * (node, hops) pairs where ALL would path-count combinatorially) and
    * takes min(hops). The seed derives from the data (min o_custkey),
    * not a literal, so the gate is corpus-drift-proof. */
  val d68BfsHops: Q = Q(
    "d68_bfs_hops",
    Some("""
      WITH RECURSIVE pairs AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
               's' || CAST(l_suppkey AS VARCHAR) AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      e AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs),
      walk(node, hops) AS (
        SELECT 'c' || CAST(min(o_custkey) AS VARCHAR), 0 FROM orders
        UNION
        SELECT e.dst, w.hops + 1
        FROM walk w JOIN e ON e.src = w.node
        WHERE w.hops < 3)
      SELECT node, min(hops) AS hops FROM walk GROUP BY 1
    """),
    (s, dir) => {
      val orders = Tables(s, dir, "orders")
      val seedKey = orders.agg(min(col("o_custkey"))).head().getLong(0)
      val seeds = orders.sparkSession.range(1)
        .select(concat(lit("c"), lit(seedKey).cast("string")).as("node"))
      bfsHops(tradeEdges(orders, Tables(s, dir, "lineitem")), seeds,
        maxDepth = 3)
    })

  val all: Seq[Q] = Seq(d46PageRank, d53LabelPropagation, d62TriangleCounts,
    q75AssociationRules, d68BfsHops)
}
