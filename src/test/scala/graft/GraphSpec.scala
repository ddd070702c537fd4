package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import org.apache.spark.SessionCheckpointDir.{filesUnder, onGraftfs}

import graft.ext.Graph

/** PageRank semantics on hand-checkable graphs — the oracle gate (d46)
  * proves corpus agreement with DuckDB's unrolled SQL; these pin the
  * per-iteration math and the invariants. */
class GraphSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("src", StringType), StructField("dst", StringType)))

  private def edges(rows: (String, String)*) =
    LocalTable.of(spark, schema, rows.map { case (a, b) => Row(a, b) })

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("pageRank: symmetric pair is a fixed point at uniform rank") {
    val r = ranks(Graph.pageRank(edges(("a", "b"), ("b", "a")), iters = 3))
    assert(r === Map("a" -> 0.5, "b" -> 0.5))
  }

  test("pageRank: one iteration of the star matches the hand computation") {
    // center c ↔ leaves l1..l3; N=4, uniform 0.25 start, damping 0.85:
    // c  = 0.15/4 + 0.85·(3·(0.25/1)) = 0.675
    // li = 0.15/4 + 0.85·(0.25/3)     = 0.108333333
    val star = edges(
      ("c", "l1"), ("c", "l2"), ("c", "l3"),
      ("l1", "c"), ("l2", "c"), ("l3", "c"))
    val r = ranks(Graph.pageRank(star, iters = 1))
    assert(r("c") === 0.675)
    assert(r("l1") === 0.108333 && r("l2") === 0.108333 && r("l3") === 0.108333)
  }

  test("pageRank: mass is conserved and hubs outrank leaves after convergence steps") {
    val g = edges(
      ("hub", "x"), ("x", "hub"), ("hub", "y"), ("y", "hub"),
      ("hub", "z"), ("z", "hub"), ("x", "y"), ("y", "x"))
    val r = ranks(Graph.pageRank(g, iters = 5))
    assert(math.abs(r.values.sum - 1.0) < 1e-4,
      s"rank mass must stay ~1, got ${r.values.sum}")
    assert(r("hub") > r("z"), r.toString)
  }

  test("pageRank: bit-identical under repartitioning (the round-9 contract)") {
    val g = edges(
      ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "a"), ("a", "c"),
      ("d", "a"), ("a", "d"))
    val r1 = ranks(Graph.pageRank(g, iters = 3))
    val r2 = ranks(Graph.pageRank(g.repartition(7), iters = 3))
    assert(r1 === r2)
    intercept[IllegalArgumentException](Graph.pageRank(g, iters = 0))
    intercept[IllegalArgumentException](Graph.pageRank(g, iters = 1, damping = 1.0))
  }

  test("labelPropagation: two bridged cliques collapse to one community each") {
    def clique(ns: Seq[String]) =
      for { a <- ns; b <- ns if a != b } yield (a, b)
    val g = edges((clique(Seq("a1", "a2", "a3", "a4")) ++
      clique(Seq("b1", "b2", "b3", "b4")) ++
      Seq(("a1", "b1"), ("b1", "a1"))): _*)
    val got = Graph.labelPropagation(g, iters = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // hand-traced 2 rounds with the smallest-label tiebreak:
    // round 1 sends every a-node to a1/a2 ties → a-side converges on a1's
    // clique label; round 2 leaves each clique unanimous
    assert(Set("a1", "a2", "a3", "a4").map(got).size === 1,
      s"clique A fragmented: $got")
    assert(Set("b1", "b2", "b3", "b4").map(got).size === 1,
      s"clique B fragmented: $got")
    // deterministic under repartitioning
    val again = Graph.labelPropagation(g.repartition(7), iters = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again === got)
    intercept[IllegalArgumentException](Graph.labelPropagation(g, iters = 0))
  }

  private def triangles(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("triangleCounts: K4 has 4 triangles, every node in 3") {
    val ns = Seq("a", "b", "c", "d")
    val k4 = edges((for { x <- ns; y <- ns if x < y } yield (x, y)): _*)
    val got = triangles(Graph.triangleCounts(k4))
    assert(got === Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("triangleCounts: bipartite square has none; closing one diagonal makes two") {
    val square = edges(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
    assert(Graph.triangleCounts(square).isEmpty)
    val withDiag = edges(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
      ("a", "c"))
    val got = triangles(Graph.triangleCounts(withDiag))
    // abc and acd: a and c in both, b and d in one each
    assert(got === Map("a" -> 2L, "c" -> 2L, "b" -> 1L, "d" -> 1L))
  }

  test("triangleCounts: duplicate, reversed and self-loop edges don't change counts") {
    val messy = edges(("a", "b"), ("b", "a"), ("a", "b"),
      ("b", "c"), ("c", "a"), ("a", "a"))
    val got = triangles(Graph.triangleCounts(messy))
    assert(got === Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("triangleCounts: hot-node star only counts closed wedges (orientation bound)") {
    // hub connected to 5 leaves; only l1-l2 closed -> exactly 1 triangle
    val star = edges(("hub", "l1"), ("hub", "l2"), ("hub", "l3"),
      ("hub", "l4"), ("hub", "l5"), ("l1", "l2"))
    val got = triangles(Graph.triangleCounts(star))
    assert(got === Map("hub" -> 1L, "l1" -> 1L, "l2" -> 1L))
  }

  test("triangleCounts: deterministic under repartitioning") {
    val ns = Seq("a", "b", "c", "d", "e", "f")
    val g = edges((for { x <- ns; y <- ns if x < y; if (x + y).hashCode % 3 != 0 }
      yield (x, y)): _*)
    val a = triangles(Graph.triangleCounts(g))
    val b = triangles(Graph.triangleCounts(g.repartition(7)))
    assert(a === b)
  }

  test("copurchaseEdges: per-order pairs, cross-order dedup, deterministic sample") {
    val li = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
    val rows = Seq(
      Row(20L, 1L), Row(20L, 2L), Row(20L, 3L), // order in sample: 3 pairs
      Row(40L, 1L), Row(40L, 2L),               // repeats pair (1,2): dedup
      Row(40L, 2L),                             // duplicate line: no self pair
      Row(21L, 7L), Row(21L, 8L),               // orderkey % 20 != 0: dropped
      Row(60L, 9L))                             // single-line order: no pairs
    val d = LocalTable.of(spark, li, rows)
    val got = Graph.copurchaseEdges(d, sampleMod = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("bfsHops: min hop counts on a path, truncation, disconnection, multi-seed min") {
    // path a-b-c-d (symmetric) plus isolated x-y
    val e = edges(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("c", "d"), ("d", "c"), ("x", "y"), ("y", "x"))
    def seedDf(ns: String*) = LocalTable.of(spark,
      StructType(Seq(StructField("node", StringType))), ns.map(Row(_)))
    val hops = Graph.bfsHops(e, seedDf("a"), maxDepth = 10)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(hops === Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3),
      "x/y are unreachable and must be absent")
    // depth truncation
    val trunc = Graph.bfsHops(e, seedDf("a"), maxDepth = 1)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(trunc === Map("a" -> 0, "b" -> 1))
    // two seeds: each node labels at the NEARER seed's distance
    val multi = Graph.bfsHops(e, seedDf("a", "d"), maxDepth = 10)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(multi === Map("a" -> 0, "d" -> 0, "b" -> 1, "c" -> 1))
  }

  test("iterative family: reliable-checkpoint strategy agrees with localCheckpoint, incl. on graftfs://") {
    // two bridged triangles + a pendant — asymmetric enough that a
    // dropped/duplicated round would move ranks, labels and hops
    val g = edges(
      ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "a"), ("a", "c"),
      ("c", "d"), ("d", "c"),
      ("d", "e"), ("e", "d"), ("e", "f"), ("f", "e"), ("f", "d"), ("d", "f"),
      ("f", "p"), ("p", "f"))
    def seedDf(ns: String*) = LocalTable.of(spark,
      StructType(Seq(StructField("node", StringType))), ns.map(Row(_)))
    def pr() = ranks(Graph.pageRank(g, iters = 4))
    def lp() = Graph.labelPropagation(g, iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def bfs() = Graph.bfsHops(g, seedDf("a"), maxDepth = 5)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // each operator's rounds cut through the graftfs session dir: its
    // checkpoint files land there (onGraftfs asserts it)
    val (prReliable, prDir) = onGraftfs(spark, "pagerank")(pr())
    val (lpReliable, _) = onGraftfs(spark, "lpa")(lp())
    val (bfsReliable, _) = onGraftfs(spark, "bfs")(bfs())
    // with the session dir cleared the same calls cut locally and write
    // no checkpoint file
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val written = filesUnder(prDir)
    assert(pr() === prReliable)
    assert(lp() === lpReliable)
    assert(bfs() === bfsReliable)
    assert(filesUnder(prDir) === written)
  }
}
