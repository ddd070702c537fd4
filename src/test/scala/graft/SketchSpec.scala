package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.MisraGriesAgg

/** Misra-Gries sketch guarantees in the regime the oracle gate cannot
  * exercise: capacity SMALLER than the distinct-key universe. */
class SketchSpec extends SparkSpec {

  private def itemsDf(items: Seq[String], parts: Int = 4) =
    LocalTable.of(spark,
      StructType(Seq(StructField("item", StringType))),
      items.map(Row(_))).repartition(parts)

  // frequencies: a=50, b=30, c=20, then 40 singletons
  private val stream: Seq[String] =
    Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c") ++
      (1 to 40).map(i => f"x$i%03d")

  private def sketch(items: Seq[String], capacity: Int,
      parts: Int = 4): Map[String, Long] =
    itemsDf(items, parts)
      .agg(MisraGriesAgg.freqItems(col("item"), capacity).as("hh"))
      .select(explode(col("hh")))
      .collect().map(r => {
        val s = r.getStruct(0); s.getString(0) -> s.getLong(1)
      }).toMap

  test("exact when capacity covers the distinct universe") {
    val got = sketch(stream, capacity = 64)
    assert(got("a") === 50L && got("b") === 30L && got("c") === 20L)
    assert(got.size === 43)
    assert((1 to 40).forall(i => got(f"x$i%03d") === 1L))
  }

  test("capacity-starved: estimates within N/(k+1), heavy keys never lost") {
    val n = stream.size // 140
    for (k <- Seq(4, 8, 16); parts <- Seq(1, 4, 13)) {
      val got = sketch(stream, capacity = k, parts = parts)
      assert(got.size <= k, s"k=$k parts=$parts kept ${got.size}")
      val bound = n.toDouble / (k + 1)
      val truth = Map("a" -> 50L, "b" -> 30L, "c" -> 20L).withDefaultValue(1L)
      got.foreach { case (item, est) =>
        assert(est <= truth(item), s"$item overestimated: $est > ${truth(item)}")
        assert(truth(item) - est <= bound,
          s"$item est $est vs true ${truth(item)} breaks N/(k+1)=$bound (k=$k parts=$parts)")
      }
      // any key with true frequency > N/(k+1) must survive the sketch
      truth.filter(_._2 > bound).keys.foreach(h =>
        assert(got.contains(h), s"heavy key $h lost at k=$k parts=$parts"))
    }
  }

  test("merge (partial aggregation) preserves the bound across partitionings") {
    // same data, radically different partition counts → different merge
    // trees; the guarantee must hold for all of them
    val k = 5
    val single = sketch(stream, k, parts = 1)
    val wide = sketch(stream, k, parts = 29)
    for (got <- Seq(single, wide)) {
      assert(got("a") >= 50L - 140.0 / (k + 1))
      assert(got.contains("a"), "the dominant key survives any merge tree")
    }
  }

  test("deterministic output order: est desc, item asc") {
    val rows = itemsDf(Seq("b", "b", "a", "a", "c"))
      .agg(MisraGriesAgg.freqItems(col("item"), 8).as("hh"))
      .select(explode(col("hh")))
      .collect().map(r => { val s = r.getStruct(0); (s.getString(0), s.getLong(1)) })
    assert(rows.toSeq === Seq(("a", 2L), ("b", 2L), ("c", 1L)))
  }

  test("nulls are ignored, empty input yields an empty sketch") {
    val df = LocalTable.of(spark,
      StructType(Seq(StructField("item", StringType))),
      Seq(Row(null), Row("z"), Row(null)))
    val got = df.agg(MisraGriesAgg.freqItems(col("item"), 4).as("hh"))
      .select(size(col("hh"))).collect()(0).getInt(0)
    assert(got === 1)
    val empty = itemsDf(Nil)
      .agg(MisraGriesAgg.freqItems(col("item"), 4).as("hh"))
      .select(size(col("hh"))).collect()(0).getInt(0)
    assert(empty === 0)
  }

  test("sketch artifacts merge across snapshots: day1 ⊕ day2 obeys the combined bound") {
    // two "daily" corpora sketched independently (the persisted-artifact
    // posture), merged WITHOUT re-scanning day 1
    val day1 = stream // a=50 b=30 c=20 + 40 singletons (N=140)
    val day2 = Seq.fill(25)("a") ++ Seq.fill(35)("d") ++ (1 to 20).map(i => f"y$i%03d")
    val k = 6
    val s1 = sketch(day1, k).toSeq
    val s2 = sketch(day2, k).toSeq
    val merged = graft.plans.MisraGriesAgg.mergeSketches(s1, s2, k).toMap
    assert(merged.size <= k)
    val n = day1.size + day2.size // 220
    val truth = Map("a" -> 75L, "b" -> 30L, "c" -> 20L, "d" -> 35L).withDefaultValue(1L)
    val bound = n.toDouble / (k + 1)
    merged.foreach { case (item, est) =>
      assert(est <= truth(item), s"$item overestimated")
      assert(truth(item) - est <= bound, s"$item breaks the combined bound")
    }
    // a (75 > 220/7≈31.4) and d (35 > 31.4) must survive the merge
    assert(merged.contains("a") && merged.contains("d"))
  }

  test("partial aggregation happens map-side: plan shows partial + final sketch") {
    val df = itemsDf(stream, parts = 8)
      .groupBy(lit(1).as("g"))
      .agg(MisraGriesAgg.freqItems(col("item"), 8).as("hh"))
    val plan = df.queryExecution.executedPlan.toString
    assert("partial_freq_items_sketch|partial.*freq_items_sketch".r
      .findFirstIn(plan).isDefined || plan.contains("freq_items_sketch"),
      s"sketch aggregate missing from plan:\n${plan.take(800)}")
  }

  // ---- KMV distinct/intersection sketch --------------------------------

  import graft.plans.KmvAgg

  private def kmvOf(items: Seq[String], k: Int, parts: Int = 4): Seq[Long] =
    itemsDf(items, parts)
      .agg(KmvAgg.kmvSketch(col("item"), k).as("sk"))
      .collect().head.getSeq[Long](0)

  test("kmv: exact regime — under capacity the sketch holds the whole distinct set") {
    val items = (1 to 100).map(i => s"u$i") ++ (1 to 100).map(i => s"u$i")
    val sk = kmvOf(items, k = 256)
    assert(sk.length === 100, "duplicates must collapse; all 100 hashes kept")
    assert(sk === sk.sorted, "artifact must be ascending")
    val est = itemsDf(items).agg(KmvAgg.kmvSketch(col("item"), 256).as("sk"))
      .select(KmvAgg.kmvDistinctEstimate(col("sk"), 256).as("e"))
      .collect().head.getDouble(0)
    assert(est === 100.0)
  }

  test("kmv: capacity regime — 5000 distinct estimated within 20% by 256 mins") {
    val items = (1 to 5000).map(i => s"v$i")
    val est = itemsDf(items, parts = 8)
      .agg(KmvAgg.kmvSketch(col("item"), 256).as("sk"))
      .select(KmvAgg.kmvDistinctEstimate(col("sk"), 256).as("e"))
      .collect().head.getDouble(0)
    assert(math.abs(est - 5000.0) <= 1000.0, s"estimate $est too far from 5000")
  }

  test("kmv: merge of two sketches equals the sketch of the concatenated stream") {
    val a = (1 to 400).map(i => s"a$i")
    val b = (200 to 600).map(i => s"a$i") // overlap 200..400
    val k = 64
    val skA = kmvOf(a, k)
    val skB = kmvOf(b, k)
    val whole = kmvOf(a ++ b, k)
    val merged = itemsDf(Seq("x")).select(
      KmvAgg.kmvMerge(
        typedLit(skA), typedLit(skB), k).as("m"))
      .collect().head.getSeq[Long](0)
    assert(merged === whole, "k-min of union must equal union of k-mins")
  }

  test("kmv: intersection estimator — exact under capacity, bounded above it") {
    val shared = (1 to 80).map(i => s"s$i")
    val a = shared ++ (1 to 60).map(i => s"a$i")
    val b = shared ++ (1 to 50).map(i => s"b$i")
    val k = 512 // union 190 < k -> exact branch
    val inter = itemsDf(Seq("x")).select(
      KmvAgg.kmvIntersectEstimate(
        typedLit(kmvOf(a, k)), typedLit(kmvOf(b, k)), k).as("i"))
      .collect().head.getDouble(0)
    assert(inter === 80.0)
    // capacity regime: 3000-item sets sharing 1000
    val bigShared = (1 to 1000).map(i => s"S$i")
    val bigA = bigShared ++ (1 to 2000).map(i => s"A$i")
    val bigB = bigShared ++ (1 to 2000).map(i => s"B$i")
    val k2 = 256
    val interBig = itemsDf(Seq("x")).select(
      KmvAgg.kmvIntersectEstimate(
        typedLit(kmvOf(bigA, k2)), typedLit(kmvOf(bigB, k2)), k2).as("i"))
      .collect().head.getDouble(0)
    assert(math.abs(interBig - 1000.0) <= 400.0,
      s"intersection estimate $interBig too far from 1000")
  }

  test("kmv: partitioning-invariant, nulls ignored, mergeAll == pairwise merge") {
    val items = (1 to 500).map(i => s"p$i")
    assert(kmvOf(items, 64, parts = 2) === kmvOf(items, 64, parts = 13))
    val withNull = LocalTable.of(spark,
      StructType(Seq(StructField("item", StringType))),
      Seq(Row("a"), Row(null), Row("b")))
    val sk = withNull.agg(KmvAgg.kmvSketch(col("item"), 8).as("sk"))
      .collect().head.getSeq[Long](0)
    assert(sk.length === 2)
    val s1 = kmvOf((1 to 100).map(i => s"m$i"), 32)
    val s2 = kmvOf((50 to 150).map(i => s"m$i"), 32)
    val s3 = kmvOf((120 to 220).map(i => s"m$i"), 32)
    val viaAll = itemsDf(Seq("x")).select(
      KmvAgg.kmvMergeAll(typedLit(Seq(s1, s2, s3)), 32).as("m"))
      .collect().head.getSeq[Long](0)
    val viaPairs = itemsDf(Seq("x")).select(
      KmvAgg.kmvMerge(KmvAgg.kmvMerge(typedLit(s1), typedLit(s2), 32),
        typedLit(s3), 32).as("m"))
      .collect().head.getSeq[Long](0)
    assert(viaAll === viaPairs)
  }

  test("kmv: SQL surface — kmv_sketch registered") {
    graft.plans.GraftFunctions.register(spark)
    itemsDf((1 to 20).map(i => s"q$i")).createOrReplaceTempView("kmv_in")
    val n = spark.sql(
      "SELECT size(kmv_sketch(item, 64)) AS n FROM kmv_in")
      .collect().head.getInt(0)
    assert(n === 20)
  }

  // ---- quantile sketch -----------------------------------------------

  import graft.plans.QuantileSketchOps

  private def valuesDf(vs: Seq[Double], parts: Int = 4) =
    LocalTable.of(spark,
      StructType(Seq(StructField("v", DoubleType))),
      vs.map(Row(_))).repartition(parts)

  /** (value, weight) artifact of a sketch over `vs`. */
  private def qskOf(vs: Seq[Double], capacity: Int,
      parts: Int): Seq[(Double, Long)] =
    valuesDf(vs, parts)
      .agg(QuantileSketchOps.quantileSketch(col("v"), capacity).as("sk"))
      .select(explode(col("sk")))
      .collect().map(r => {
        val s = r.getStruct(0); (s.getDouble(0), s.getLong(1))
      }).toSeq

  private def qskQuantiles(vs: Seq[Double], capacity: Int, qs: Seq[Double],
      parts: Int): Seq[Double] = {
    val agg = valuesDf(vs, parts)
      .agg(QuantileSketchOps.quantileSketch(col("v"), capacity).as("sk"))
    agg.select(qs.map(q =>
        QuantileSketchOps.qskQuantile(col("sk"), q).as(s"q$q")): _*)
      .collect().head.toSeq.map(_.asInstanceOf[Double])
  }

  /** Lower discrete quantile — the contract's rank rule, by hand. */
  private def exactQ(vs: Seq[Double], q: Double): Double = {
    val sorted = vs.sorted
    val target = math.max(1, math.ceil(q * sorted.length).toLong).toInt
    sorted(target - 1)
  }

  test("qsk: exact regime — below capacity every quantile is the discrete quantile") {
    val vs = scala.util.Random.shuffle((1 to 1000).map(_.toDouble)).toSeq
    for (parts <- Seq(1, 4, 13)) {
      val got = qskQuantiles(vs, capacity = 2048,
        qs = Seq(0.01, 0.25, 0.5, 0.75, 0.95, 1.0), parts = parts)
      val want = Seq(0.01, 0.25, 0.5, 0.75, 0.95, 1.0).map(exactQ(vs, _))
      assert(got === want, s"parts=$parts")
      // exact-regime artifact IS the sorted input at weight 1
      val art = qskOf(vs, capacity = 2048, parts = parts)
      assert(art === vs.sorted.map((_, 1L)))
    }
  }

  test("qsk: total weight is exact through compaction (odd-leftover rule)") {
    val vs = (1 to 10000).map(_.toDouble)
    for (capacity <- Seq(16, 64, 128); parts <- Seq(1, 7)) {
      val total = valuesDf(vs, parts)
        .agg(QuantileSketchOps.quantileSketch(col("v"), capacity).as("sk"))
        .select(QuantileSketchOps.qskTotal(col("sk")).as("n"))
        .collect().head.getLong(0)
      assert(total === 10000L, s"capacity=$capacity parts=$parts")
      val art = qskOf(vs, capacity, parts)
      assert(art.length <= capacity * 16,
        s"artifact not bounded: ${art.length} at capacity=$capacity")
      art.foreach { case (_, w) =>
        assert(w >= 1 && (w & (w - 1)) == 0, s"non-power-of-two weight $w") }
    }
  }

  test("qsk: compaction regime — rank error within 3% of N at capacity 128") {
    val n = 50000
    val vs = scala.util.Random.shuffle((1 to n).map(_.toDouble)).toSeq
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    for (parts <- Seq(1, 8)) {
      val got = qskQuantiles(vs, capacity = 128, qs = qs, parts = parts)
      qs.zip(got).foreach { case (q, est) =>
        // values are 1..n, so the true rank of the estimate is itself
        val trueRank = est
        val target = math.ceil(q * n)
        assert(math.abs(trueRank - target) <= 0.03 * n,
          s"q=$q est=$est target=$target parts=$parts")
      }
    }
  }

  test("qsk: artifact rollup — merge agg over per-group sketches ≡ whole-stream in the exact regime") {
    graft.plans.GraftFunctions.register(spark)
    val vs = scala.util.Random.shuffle((1 to 800).map(_.toDouble)).toSeq
    val grouped = LocalTable.of(spark,
      StructType(Seq(StructField("g", IntegerType), StructField("v", DoubleType))),
      vs.zipWithIndex.map { case (v, i) => Row(i % 5, v) }).repartition(6)
    val rolled = grouped
      .groupBy(col("g"))
      .agg(QuantileSketchOps.quantileSketch(col("v"), 2048).as("sk"))
      .agg(expr("quantile_sketch_merge(sk, 2048)").as("sk"))
    val art = rolled.select(explode(col("sk")))
      .collect().map(r => { val s = r.getStruct(0); (s.getDouble(0), s.getLong(1)) })
    assert(art.toSeq === vs.sorted.map((_, 1L)),
      "rollup of exact-regime shards must be the exact whole")
    val q = rolled.select(QuantileSketchOps.qskQuantile(col("sk"), 0.5).as("m"))
      .collect().head.getDouble(0)
    assert(q === exactQ(vs, 0.5))
  }

  test("qsk: artifact rollup stays rank-bounded in the compaction regime") {
    graft.plans.GraftFunctions.register(spark)
    val n = 20000
    val vs = scala.util.Random.shuffle((1 to n).map(_.toDouble)).toSeq
    val grouped = LocalTable.of(spark,
      StructType(Seq(StructField("g", IntegerType), StructField("v", DoubleType))),
      vs.zipWithIndex.map { case (v, i) => Row(i % 4, v) }).repartition(6)
    val rolled = grouped
      .groupBy(col("g"))
      .agg(QuantileSketchOps.quantileSketch(col("v"), 128).as("sk"))
      .agg(expr("quantile_sketch_merge(sk, 128)").as("sk"))
    val est = rolled.select(QuantileSketchOps.qskQuantile(col("sk"), 0.5).as("m"))
      .collect().head.getDouble(0)
    assert(math.abs(est - math.ceil(0.5 * n)) <= 0.04 * n,
      s"rolled-up median $est too far from ${0.5 * n}")
    val total = rolled.select(QuantileSketchOps.qskTotal(col("sk")).as("t"))
      .collect().head.getLong(0)
    assert(total === n.toLong, "rollup must preserve total weight exactly")
  }

  test("qsk: nulls ignored; empty input yields empty artifact and null quantile") {
    val withNull = LocalTable.of(spark,
      StructType(Seq(StructField("v", DoubleType))),
      Seq(Row(2.0), Row(null), Row(1.0)))
    val art = withNull.agg(QuantileSketchOps.quantileSketch(col("v"), 16).as("sk"))
      .select(explode(col("sk"))).collect()
    assert(art.length === 2)
    val empty = valuesDf(Nil, 1)
      .agg(QuantileSketchOps.quantileSketch(col("v"), 16).as("sk"))
    val row = empty.select(size(col("sk")).as("n"),
      QuantileSketchOps.qskQuantile(col("sk"), 0.5).as("m")).collect().head
    assert(row.getInt(0) === 0 && row.isNullAt(1))
  }

  test("qsk: SQL surface — quantile_sketch / quantile_sketch_merge registered") {
    graft.plans.GraftFunctions.register(spark)
    valuesDf((1 to 100).map(_.toDouble)).createOrReplaceTempView("qsk_in")
    val n = spark.sql(
      "SELECT size(quantile_sketch(v, 256)) AS n FROM qsk_in")
      .collect().head.getInt(0)
    assert(n === 100)
    val m = spark.sql("""
      SELECT size(quantile_sketch_merge(sk, 256)) AS n FROM (
        SELECT quantile_sketch(v, 256) AS sk FROM qsk_in GROUP BY v % 3)
    """).collect().head.getInt(0)
    assert(m === 100)
  }

  // ---- Count-Min sketch ------------------------------------------------

  private def cms(items: Seq[String], depth: Int, width: Int,
      parts: Int = 4): Seq[Long] =
    itemsDf(items, parts)
      .agg(graft.plans.CountMinAgg.cmSketch(col("item"), depth, width).as("sk"))
      .collect().head.getSeq[Long](0)

  test("cms: JVM bucket hash is bit-identical to the Column/SQL form") {
    import graft.plans.CountMinAgg
    val items = Seq("alpha", "beta", "x001", "", "ação", "7")
    val jvm = for (r <- 0 until 3; it <- items) yield CountMinAgg.bucket(r, it, 64)
    val viaSql = (0 until 3).flatMap { r =>
      val h1 = conv(substring(md5(col("item")), 1, 15), 16, 10).cast("long")
      val h2 = conv(substring(md5(col("item")), 17, 15), 16, 10).cast("long")
      val m = itemsDf(items, 1).select(
        (((h1 + h2 * lit(r.toLong)) % 64).cast("int")).as("b"), col("item"))
        .collect().map(x => x.getString(1) -> x.getInt(0)).toMap
      items.map(m)
    }
    assert(jvm.toSeq === viaSql)
  }

  test("cms: estimates never undercount, and are exact without collisions") {
    val est = cmsEstimates(stream, depth = 3, width = 256)
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    truth.foreach { case (k, c) =>
      assert(est(k) >= c, s"$k undercounted: ${est(k)} < $c")
    }
    // width 256 over 43 distinct items: each item's min cell is very
    // likely collision-free; assert the aggregate inflation is tiny
    val inflation = truth.keys.map(k => est(k) - truth(k)).sum
    assert(inflation <= stream.size / 4, s"inflation $inflation too large")
  }

  test("cms: collision regime still never undercounts; merge is partition-invariant") {
    val est = cmsEstimates(stream, depth = 3, width = 8)
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    truth.foreach { case (k, c) => assert(est(k) >= c) }
    // partial aggregation (map-side combine + merge) must not change a
    // single counter: 1 partition vs 7 partitions give identical sketches
    assert(cms(stream, 3, 8, parts = 1) === cms(stream, 3, 8, parts = 7))
  }

  test("cms: persisted sketches fold by element-wise addition") {
    val (day1, day2) = stream.splitAt(60)
    val merged = cms(day1, 3, 32).zip(cms(day2, 3, 32)).map { case (a, b) => a + b }
    assert(merged === cms(stream, 3, 32))
  }

  private def cmsEstimates(items: Seq[String], depth: Int,
      width: Int): Map[String, Long] = {
    val sk = itemsDf(items)
      .agg(graft.plans.CountMinAgg.cmSketch(col("item"), depth, width).as("sk"))
    itemsDf(items.distinct).crossJoin(sk)
      .select(col("item"),
        graft.plans.CountMinAgg.cmEstimate(col("sk"), col("item"), depth, width)
          .as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}
