package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{coalesce, lit, typedLit}
import org.apache.spark.sql.types._

/** Exact in-kernel twin of Spark's `round(doubleCol, 6)` (RoundBase on
  * DoubleType: NaN/Inf pass through, else
  * `BigDecimal.valueOf(d).setScale(6, HALF_UP).toDouble` — the
  * shortest-decimal value is what gets rounded, NOT the binary
  * expansion). The brute-force kNN kernels must reproduce the window
  * formulations they replace BIT-identically, and the s17 round-15
  * incident (a .5-micro boundary split by summation order) is exactly
  * the class of bug a "close enough" reimplementation would ship — so
  * the boundary cases delegate to the same BigDecimal arithmetic Spark
  * runs, and only provably-safe cases take the fast double path.
  *
  * Fast-path proof sketch, for |x| < 8 only: with y = fl(x·10⁶), the
  * shortest-decimal value d of x lies within half an ulp of x, so
  * |d·10⁶ − x·10⁶| ≤ 10⁶·2⁻⁵¹ ≈ 4.4·10⁻¹⁰, and the product rounds by at
  * most half an ulp of y, 2⁻³¹ ≈ 4.7·10⁻¹⁰ for |y| < 8·10⁶ < 2²³ — so
  * d·10⁶ and y differ by < 10⁻⁹. When frac(y) is more than 10⁻⁹ away from every
  * decision boundary {0, ½, 1}, both land on the same integer micro m,
  * and m/10⁶ in double division is the correctly-rounded double of the
  * rational m/10⁶ — identical to BigDecimal(m·10⁻⁶).toDouble. From
  * |x| ≥ 8 the two errors can exceed 10⁻⁹ (16.6896225 and 64.8506475
  * sit a hair off a .5-micro boundary and would round down), so larger
  * magnitudes always take the BigDecimal path. */
object Round6 {

  def round6(x: Double): Double = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
    if (Math.abs(x) < 8) {
      val y = x * 1e6
      val f = Math.floor(y)
      val frac = y - f
      if (frac > 1e-9 && frac < 0.5 - 1e-9) return f / 1e6
      if (frac > 0.5 + 1e-9 && frac < 1.0 - 1e-9) return (f + 1.0) / 1e6
    }
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Exact integer micros of an already-round6'd double — what
    * `round(r * 1e6).cast("long")` computes on such values: r is the
    * nearest double of m/10⁶, so fl(r·10⁶) is within 2·10⁻¹⁰ of the
    * integer m and any nearest-integer rounding recovers m exactly. */
  def micros(r: Double): Long = Math.round(r * 1e6)
}

/** Driver-collected reference copy of a labeled seed set (the side a
  * broadcast join would ship anyway), aligned by index. Plain class:
  * identity equality keeps Catalyst canonicalization honest — two
  * instances are never spuriously equal (the DotProductLitExpr array
  * lesson), at the cost of CSE never deduping two identical kernels. */
final class KnnSeedsRef(val ids: Array[Long], val embs: Array[Array[Float]],
    val labels: Array[Int]) extends Serializable {
  def size: Int = ids.length
}

/** Reference copy of a margin-mining target side: ids, embeddings and
  * each target's OWN kNN-average (pass A's output), aligned by index. */
final class MarginTargetsRef(val ids: Array[Long],
    val embs: Array[Array[Float]], val knn: Array[Double]) extends Serializable {
  def size: Int = ids.length
}

/** In-row brute-force kNN majority vote against a driver-sized labeled
  * seed set (s07): for one query vector, the exact top-k neighbors by
  * (round@6 cosine DESC, seed id ASC) and the majority label among them
  * (votes DESC, label ASC) — the crossJoin(broadcast) → rank-limit
  * window → vote-count → vote-rank pipeline of the previous shape
  * collapsed into a single whole-stage-codegen projection. The N×M
  * score matrix is never materialized as rows and nothing is shuffled
  * (guide §2.4; the §8 lesson — every decision here depends only on the
  * seed refs and the row's own vector).
  *
  * Bit-parity with the window formulation: cosines go through the same
  * [[CosineSimilarityExpr.cosine]] accumulation and the exact
  * [[Round6]] twin of `round(_, 6)`; ordering compares the integer
  * micros those doubles ARE. A null query vector reproduces the old
  * all-NULL-cos_sim ordering (rank by seed id alone): the helper feeds
  * it to the kernel as the empty vector, whose cosine is 0.0 against
  * every seed. So the output is never null — the caller guarantees a
  * non-empty, null-free seed set (it falls back to the exchange shape
  * otherwise). */
object KnnVoteExpr {

  private val outType: DataType = StructType(Seq(
    StructField("pred_label", IntegerType, nullable = false),
    StructField("votes", LongType, nullable = false)))

  /** Top-k + vote kernel. */
  def vote(v: ArrayData, seeds: KnnSeedsRef, k: Int): InternalRow = {
    val q = v.toFloatArray()
    val n = seeds.size
    val kk = math.min(k, n)
    // exact top-kk by (micros DESC, id ASC): insertion into a sorted
    // prefix, O(1) reject against the current cutoff for the common case
    val topM = new Array[Long](kk)
    val topI = new Array[Int](kk)
    var filled = 0
    var i = 0
    while (i < n) {
      val m = Round6.micros(Round6.round6(
        CosineSimilarityExpr.cosine(q, seeds.embs(i))))
      val id = seeds.ids(i)
      if (filled < kk ||
          m > topM(filled - 1) ||
          (m == topM(filled - 1) && id < seeds.ids(topI(filled - 1)))) {
        var p = if (filled < kk) filled else kk - 1
        while (p > 0 && (m > topM(p - 1) ||
            (m == topM(p - 1) && id < seeds.ids(topI(p - 1))))) {
          topM(p) = topM(p - 1); topI(p) = topI(p - 1); p -= 1
        }
        topM(p) = m; topI(p) = i
        if (filled < kk) filled += 1
      }
      i += 1
    }
    // majority vote among the kk neighbors: votes DESC, label ASC
    var bestLabel = 0
    var bestVotes = -1L
    var a = 0
    while (a < filled) {
      val la = seeds.labels(topI(a))
      var dup = false
      var b = 0
      while (b < a && !dup) { if (seeds.labels(topI(b)) == la) dup = true; b += 1 }
      if (!dup) {
        var v = 0L
        var c = 0
        while (c < filled) { if (seeds.labels(topI(c)) == la) v += 1L; c += 1 }
        if (v > bestVotes || (v == bestVotes && la < bestLabel)) {
          bestVotes = v; bestLabel = la
        }
      }
      a += 1
    }
    new GenericInternalRow(Array[Any](bestLabel, bestVotes))
  }

  def knnVote(c: Column, seeds: KnnSeedsRef, k: Int): Column =
    GraftSqlBridge.kernel(KnnVoteExpr, "vote", outType,
      coalesce(c, typedLit(Array.emptyFloatArray)), GraftSqlBridge.model(seeds), lit(k))
}

/** In-row kNN-average half of margin mining (s16 pass A): for one row's
  * vector, the mean of its top-k round@6 cosines against the reference
  * side, as exact integer micros — `floor(Σmicros / n + 0.5) / 1e6`,
  * the [[graft.ext.Similarity]] knnAvgOf algebra verbatim. Which
  * neighbor wins a boundary tie is irrelevant here: equal micros
  * contribute equally to the sum, so the top-k MULTISET (not the id
  * tie-break) determines the value — exactly as in the window shape.
  * `rowIsLeft` pins the cosine accumulation's argument order to the
  * side the scores table put on the left. */
object KnnAvgMicrosExpr {

  def knnAvg(v: ArrayData, refs: Array[Array[Float]], k: Int,
      rowIsLeft: Boolean): Double = {
    val q = v.toFloatArray()
    val n = refs.length
    val kk = math.min(k, n)
    if (kk == 0) return 0.0 // unreachable: callers guarantee non-empty refs
    // top-kk micros as a sorted-ascending prefix (min at 0): replace the
    // minimum while a larger micro arrives
    val top = new Array[Long](kk)
    var filled = 0
    var i = 0
    while (i < n) {
      val c = if (rowIsLeft) CosineSimilarityExpr.cosine(q, refs(i))
              else CosineSimilarityExpr.cosine(refs(i), q)
      val m = Round6.micros(Round6.round6(c))
      if (filled < kk) {
        var p = filled
        while (p > 0 && top(p - 1) > m) { top(p) = top(p - 1); p -= 1 }
        top(p) = m
        filled += 1
      } else if (m > top(0)) {
        var p = 0
        while (p + 1 < kk && top(p + 1) < m) { top(p) = top(p + 1); p += 1 }
        top(p) = m
      }
      i += 1
    }
    var sum = 0L
    var j = 0
    while (j < filled) { sum += top(j); j += 1 }
    Math.floor(sum.toDouble / filled + 0.5) / 1e6
  }

  def knnAvgMicros(c: Column, refEmbs: Array[Array[Float]], k: Int,
      rowIsLeft: Boolean): Column =
    GraftSqlBridge.kernel(KnnAvgMicrosExpr, "knnAvg", DoubleType,
      c, GraftSqlBridge.model(refEmbs), lit(k), lit(rowIsLeft))
}

/** In-row forward-best margin selection (s16 pass B): for one source
  * vector, its OWN kNN average over the target refs (the pass-A kernel
  * inlined), then the best target by
  * (floor@6 ratio margin DESC, tgt_id ASC) over targets with positive
  * denominator — i.e. the margin join + per-source rank window of the
  * previous shape, without ever materializing the |src|×|tgt| score
  * matrix (round-15 verdict: a 4.3 GiB localCheckpoint spill at sf1).
  * Returns an empty array when no target survives the denominator
  * filter or the best margin is under `tau` — exactly the rows the old
  * `rk = 1 AND margin >= tau` filter dropped — else the one best
  * target. Arithmetic is the marginSelect algebra verbatim: denom =
  * src_knn/2 + tgt_knn/2, margin = floor(cos/denom·1e6 + 0.5)/1e6 on
  * round@6 cosines.
  *
  * The zero-or-one array is what pins ONE evaluation per source: the
  * caller expands it with `inline`, a generator the optimizer neither
  * inlines into a filter nor pushes below the round-robin spread. A
  * nullable struct plus an `isNotNull` filter let the optimizer copy the
  * N² kernel into the filter below the spread — measured: the whole
  * scoring ran twice, once serially on the single input split (13.4 s of
  * a 14.2 s sf1 query) and again in the projection. */
object MarginBestExpr {

  private val outType: DataType = ArrayType(StructType(Seq(
    StructField("tgt_id", LongType, nullable = false),
    StructField("cos_sim", DoubleType, nullable = false),
    StructField("margin", DoubleType, nullable = false))), containsNull = false)

  // per-thread micro scratch, grown to the target count: pass B reads
  // each cosine twice (top-k, then margin), so the first loop stores the
  // micros instead of recomputing the dot products
  private val scratch = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](0)
  }

  def best(v: ArrayData, targets: MarginTargetsRef, k: Int,
      tau: Double): ArrayData = {
    val q = v.toFloatArray()
    val n = targets.size
    var ms = scratch.get()
    if (ms.length < n) { ms = new Array[Long](n); scratch.set(ms) }
    val kk = math.min(k, n)
    val top = new Array[Long](kk)
    var filled = 0
    var i = 0
    while (i < n) {
      // scores table order: cosine(src, tgt) — the row is the left arg
      val m = Round6.micros(Round6.round6(
        CosineSimilarityExpr.cosine(q, targets.embs(i))))
      ms(i) = m
      if (filled < kk) {
        var p = filled
        while (p > 0 && top(p - 1) > m) { top(p) = top(p - 1); p -= 1 }
        top(p) = m
        filled += 1
      } else if (m > top(0)) {
        var p = 0
        while (p + 1 < kk && top(p + 1) < m) { top(p) = top(p + 1); p += 1 }
        top(p) = m
      }
      i += 1
    }
    var sum = 0L
    var j = 0
    while (j < filled) { sum += top(j); j += 1 }
    val srcKnn = Math.floor(sum.toDouble / filled + 0.5) / 1e6
    // forward-best: (margin DESC, tgt_id ASC) over positive denominators
    var bestIdx = -1
    var bestMargin = 0.0
    var t = 0
    while (t < n) {
      val denom = srcKnn / 2 + targets.knn(t) / 2
      if (denom > 0) {
        val cos = ms(t).toDouble / 1e6
        val margin = Math.floor(cos / denom * 1e6 + 0.5) / 1e6
        if (bestIdx < 0 || margin > bestMargin ||
            (margin == bestMargin && targets.ids(t) < targets.ids(bestIdx))) {
          bestIdx = t; bestMargin = margin
        }
      }
      t += 1
    }
    if (bestIdx < 0 || bestMargin < tau) new GenericArrayData(Array.empty[Any])
    else new GenericArrayData(Array[Any](new GenericInternalRow(Array[Any](
      targets.ids(bestIdx), ms(bestIdx).toDouble / 1e6, bestMargin))))
  }

  def marginBest(c: Column, targets: MarginTargetsRef, k: Int,
      tau: Double): Column =
    GraftSqlBridge.kernel(MarginBestExpr, "best", outType,
      c, GraftSqlBridge.model(targets), lit(k), lit(tau))
}
