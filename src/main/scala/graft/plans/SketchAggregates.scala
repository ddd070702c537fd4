package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters sketch as a native mergeable aggregate —
  * the bounded-memory "top frequent items per group" primitive (token /
  * domain / n-gram heavy hitters over a 100 TB corpus, where an exact
  * per-key count table may itself be too hot to hold).
  *
  * Guarantees (Misra-Gries 1982; merge step per Agarwal et al.,
  * "Mergeable Summaries", PODS 2012 — both public): with `capacity` k
  * counters over N observed items, every estimate satisfies
  * `true − N/(k+1) ≤ est ≤ true`, any item with frequency > N/(k+1) is
  * guaranteed present, and merging two sketches preserves the combined
  * bound — so partial aggregation (map-side combine) is safe, which is
  * the whole point: the shuffle moves k counters per partition, never
  * the key universe. When k is at least the number of distinct items the
  * sketch degrades gracefully into EXACT counts (what the oracle gate
  * pins; the error bound is what the spec pins).
  *
  * Why TypedImperativeAggregate: the buffer is a hash map, not a fixed
  * row — Spark's own collect_set/percentile family uses exactly this
  * node; it partial-aggregates and serializes between stages like any
  * built-in.
  */
case class MisraGriesAgg(
    child: Expression,
    capacity: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]]
  with UnaryLike[Expression] {

  require(capacity > 0, "capacity must be positive")

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType), StructField("est", LongType))))

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null)
      MisraGriesAgg.observe(buf, v.asInstanceOf[UTF8String].toString)(capacity)
    buf
  }

  override def merge(b1: mutable.HashMap[String, Long],
      b2: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] =
    MisraGriesAgg.mergeCounters(b1, b2, capacity)

  /** Deterministic output order: estimate descending, item ascending —
    * ties cannot reorder across partitionings. */
  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val sorted = buf.toArray.sortBy { case (k, c) => (-c, k) }
    new GenericArrayData(sorted.map { case (k, c) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(k), c))
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (k, c) =>
      val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb); out.writeLong(c)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(storage: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(storage))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](in.readInt()); in.readFully(kb)
      buf(new String(kb, java.nio.charset.StandardCharsets.UTF_8)) = in.readLong()
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesAgg =
    copy(child = newChild)
  override def prettyName: String = "freq_items_sketch"
}

object MisraGriesAgg {

  /** Aggregate Column: array of (item, est) structs, estimate-descending
    * with item-ascending tiebreak. Exact when `capacity` covers the
    * group's distinct items; Misra-Gries-bounded otherwise. */
  def freqItems(c: Column, capacity: Int): Column =
    GraftSqlBridge.column(
      MisraGriesAgg(GraftSqlBridge.expression(c), capacity)
        .toAggregateExpression())

  /** One Misra-Gries observation — the aggregate's single-item update:
    * bump an existing counter, claim a free slot, or run the classic
    * decrement step (every counter pays one, zeroed counters free their
    * slot). */
  def observe(buf: mutable.HashMap[String, Long], k: String)(capacity: Int): Unit =
    buf.get(k) match {
      case Some(c) => buf(k) = c + 1
      case None if buf.size < capacity => buf(k) = 1L
      case None =>
        val dead = mutable.ArrayBuffer.empty[String]
        buf.keysIterator.foreach { key =>
          val c = buf(key) - 1
          if (c == 0L) dead += key else buf(key) = c
        }
        dead.foreach(buf.remove)
    }

  /** The mergeable-summaries reduction (Agarwal et al., PODS 2012),
    * shared by the aggregate's partial merge and ARTIFACT maintenance:
    * merging yesterday's persisted sketch with today's batch sketch
    * yields a sketch obeying the combined-stream bound — so a standing
    * heavy-hitters view over a growing corpus never re-scans the
    * archive (the d18/d24 index-maintenance posture, for sketches).
    * Mutates and returns `b1`. */
  def mergeCounters(b1: mutable.HashMap[String, Long],
      b2: mutable.HashMap[String, Long],
      capacity: Int): mutable.HashMap[String, Long] = {
    b2.foreach { case (k, c) => b1(k) = b1.getOrElse(k, 0L) + c }
    if (b1.size > capacity) {
      // subtract the (k+1)-th largest counter from everything and drop
      // the non-positive
      val vs = b1.values.toArray
      java.util.Arrays.sort(vs)
      val t = vs(vs.length - capacity - 1)
      val dead = mutable.ArrayBuffer.empty[String]
      b1.keysIterator.foreach { key =>
        val c = b1(key) - t
        if (c <= 0L) dead += key else b1(key) = c
      }
      dead.foreach(b1.remove)
    }
    b1
  }

  /** Sketch-artifact form of [[mergeCounters]] over the (item, est)
    * pairs [[freqItems]] emits / a caller persists. */
  private[graft] def mergeSketches(a: Seq[(String, Long)], b: Seq[(String, Long)],
      capacity: Int): Seq[(String, Long)] = {
    val m = mergeCounters(mutable.HashMap(a: _*), mutable.HashMap(b: _*), capacity)
    m.toSeq.sortBy { case (k, c) => (-c, k) }
  }
}

/** K-Minimum-Values distinct sketch (Bar-Yossef et al. 2002; Beyer et
  * al., SIGMOD 2007) — the mergeable cardinality summary whose killer
  * feature over HLL is set INTERSECTION: two KMV sketches estimate
  * |A ∩ B| (cross-source vocabulary overlap, audience overlap,
  * contamination between corpus snapshots), which HLL unions cannot do
  * without inclusion-exclusion error blow-up.
  *
  * State is the k smallest xxhash64 values of the group's distinct
  * items — a bounded sorted set, so map-side partials ship ≤ k longs per
  * partition regardless of the key universe (the [[MisraGriesAgg]]
  * posture, for cardinality). Hashes are stored SIGN-FLIPPED
  * (h ^ Long.MinValue) so natural signed ordering equals the unsigned
  * ordering of the raw hash: the emitted array is ascending, merge is a
  * plain `array_sort(array_union)[1..k]` of Catalyst array functions,
  * and the estimator's uniform u = flipped/2⁶⁴ + 0.5 ∈ [0,1).
  *
  * Estimators (all plain Column arithmetic over the array artifact —
  * see the companion): a sketch holding fewer than k hashes has seen
  * its whole distinct set and is EXACT; at capacity the unbiased
  * estimate is (k−1)/u₍ₖ₎.
  */
case class KmvAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k >= 2, "k must be >= 2")

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType)

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def insert(buf: java.util.TreeSet[java.lang.Long], f: Long): Unit =
    if (buf.size < k) { buf.add(f); () }
    else if (f < buf.last()) {
      if (buf.add(f)) { buf.remove(buf.last()); () }
    }

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val u = v.asInstanceOf[UTF8String]
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      insert(buf, h ^ java.lang.Long.MIN_VALUE)
    }
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
      b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b2.iterator()
    while (it.hasNext) insert(b1, it.next())
    b1
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) out.writeLong(it.next().longValue())
    out.flush(); bos.toByteArray
  }

  override def deserialize(storage: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(storage))
    val n = in.readInt()
    val buf = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { buf.add(in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvAgg =
    copy(child = newChild)
  override def prettyName: String = "kmv_sketch"
}

/** Deterministic MRL/KLL-family quantile sketch (Manku–Rajagopalan–
  * Lindsay, SIGMOD 1998; Karnin–Lang–Liberty, FOCS 2016 — both public):
  * the bounded-memory mergeable quantile summary completing the sketch
  * trio next to [[MisraGriesAgg]] (frequencies) and [[KmvAgg]]
  * (cardinality/overlap) — per-group percentile profiles over a 100 TB
  * corpus where an exact sort-based percentile would shuffle the whole
  * group.
  *
  * State is a ladder of levels: level i holds items of weight 2^i, at
  * most `capacity` of them. A full level compacts: sort, pair adjacent
  * items, promote one survivor per pair to the next level at doubled
  * weight. Survivor choice ALTERNATES between the pair's lower and upper
  * member per level (the MRL deterministic schedule, no RNG — the
  * per-partition computation is replayable and retry-safe; in the
  * COMPACTION regime the RETAINED artifact can still vary across runs
  * with the final-merge arrival order of shuffled partials, which Spark
  * does not fix — the rank bound holds for every such artifact, but only
  * the exact regime below is bit-deterministic, and that is the regime
  * the gate pins); adjacent compactions cancel
  * rank drift, giving the classic O(log²(N/c)/c)·N rank-error bound. An
  * odd leftover stays at its level, so TOTAL WEIGHT IS PRESERVED EXACTLY
  * — the sketch's total weight equals the group's row count, always.
  *
  * Below `capacity` rows nothing ever compacts and the sketch IS the
  * sorted group: every quantile is exact (what the oracle gate pins; the
  * spec pins the compaction-regime rank bound and the merge algebra).
  * Merging concatenates level-wise and re-compacts — partial aggregation
  * ships ≤ capacity·levels doubles per partition, never the group.
  */
case class QuantileSketchAgg(
    child: Expression,
    capacity: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketchOps.Buf]
  with UnaryLike[Expression] {

  require(capacity >= 4, "capacity must be >= 4")

  override def nullable: Boolean = false
  override def dataType: DataType = QuantileSketchOps.artifactType

  override def createAggregationBuffer(): QuantileSketchOps.Buf =
    QuantileSketchOps.newBuf()

  override def update(buf: QuantileSketchOps.Buf,
      input: InternalRow): QuantileSketchOps.Buf = {
    val v = child.eval(input)
    if (v != null) QuantileSketchOps.add(buf, v.asInstanceOf[Double], 0, capacity)
    buf
  }

  override def merge(b1: QuantileSketchOps.Buf,
      b2: QuantileSketchOps.Buf): QuantileSketchOps.Buf =
    QuantileSketchOps.mergeBufs(b1, b2, capacity)

  override def eval(buf: QuantileSketchOps.Buf): Any =
    QuantileSketchOps.evalBuf(buf)

  override def serialize(buf: QuantileSketchOps.Buf): Array[Byte] =
    QuantileSketchOps.serializeBuf(buf)
  override def deserialize(storage: Array[Byte]): QuantileSketchOps.Buf =
    QuantileSketchOps.deserializeBuf(storage)

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): QuantileSketchAgg =
    copy(child = newChild)
  override def prettyName: String = "quantile_sketch"
}

/** Artifact-merge twin of [[QuantileSketchAgg]]: aggregates PERSISTED
  * sketch artifacts (the (value, weight) arrays a per-load profile job
  * wrote) into the combined sketch — the d56 rollup posture for
  * quantiles, so percentile history over a growing corpus never re-scans
  * the archive. Weights are powers of two by construction (compaction
  * only doubles); a foreign artifact with an arbitrary weight is folded
  * in by binary decomposition, so any non-negative-weight input is
  * accepted exactly. */
case class QuantileSketchMergeAgg(
    child: Expression,
    capacity: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketchOps.Buf]
  with UnaryLike[Expression] {

  require(capacity >= 4, "capacity must be >= 4")

  override def nullable: Boolean = false
  override def dataType: DataType = QuantileSketchOps.artifactType

  override def createAggregationBuffer(): QuantileSketchOps.Buf =
    QuantileSketchOps.newBuf()

  override def update(buf: QuantileSketchOps.Buf,
      input: InternalRow): QuantileSketchOps.Buf = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      var i = 0
      while (i < arr.numElements()) {
        // null elements and null struct FIELDS are skippable (our own
        // artifacts never emit them, but the SQL surface accepts
        // arbitrary arrays — reading a null field via getDouble would
        // silently inject 0.0 into the sketch)
        if (!arr.isNullAt(i)) {
          val row = arr.getStruct(i, 2)
          if (!row.isNullAt(0) && !row.isNullAt(1))
            QuantileSketchOps.addWeighted(buf, row.getDouble(0), row.getLong(1), capacity)
        }
        i += 1
      }
    }
    buf
  }

  override def merge(b1: QuantileSketchOps.Buf,
      b2: QuantileSketchOps.Buf): QuantileSketchOps.Buf =
    QuantileSketchOps.mergeBufs(b1, b2, capacity)

  override def eval(buf: QuantileSketchOps.Buf): Any =
    QuantileSketchOps.evalBuf(buf)

  override def serialize(buf: QuantileSketchOps.Buf): Array[Byte] =
    QuantileSketchOps.serializeBuf(buf)
  override def deserialize(storage: Array[Byte]): QuantileSketchOps.Buf =
    QuantileSketchOps.deserializeBuf(storage)

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): QuantileSketchMergeAgg =
    copy(child = newChild)
  override def prettyName: String = "quantile_sketch_merge"
}

/** Shared buffer mechanics + the Column-algebra estimators over the
  * emitted artifact (ascending (value, weight) pairs). All estimator
  * work is artifact-sized (≤ capacity · levels elements), never
  * data-sized. */
object QuantileSketchOps {

  import org.apache.spark.sql.functions._

  /** levels(i) holds weight-2^i items; flips(i) is the level's MRL
    * survivor-parity bit (alternates per compaction for drift
    * cancellation). */
  final class Buf(
      val levels: mutable.ArrayBuffer[mutable.ArrayBuffer[Double]],
      val flips: mutable.ArrayBuffer[Boolean])

  val artifactType: DataType = ArrayType(StructType(Seq(
    StructField("value", DoubleType), StructField("weight", LongType))))

  def newBuf(): Buf =
    new Buf(mutable.ArrayBuffer(mutable.ArrayBuffer.empty[Double]),
      mutable.ArrayBuffer(false))

  private def ensureLevel(buf: Buf, level: Int): Unit =
    while (buf.levels.size <= level) {
      buf.levels += mutable.ArrayBuffer.empty[Double]
      buf.flips += false
    }

  def add(buf: Buf, v: Double, level: Int, capacity: Int): Unit = {
    ensureLevel(buf, level)
    buf.levels(level) += v
    compactFrom(buf, level, capacity)
  }

  /** Fold a (value, weight) artifact pair in by binary decomposition of
    * the weight — exact for any weight ≥ 0 (weight 0 is a no-op: zero
    * copies of the value; weights from our own compaction are single
    * powers of two, so the loop runs once). */
  def addWeighted(buf: Buf, v: Double, weight: Long, capacity: Int): Unit = {
    require(weight >= 0, s"artifact weight must be >= 0, got $weight")
    var w = weight
    var level = 0
    while (w != 0) {
      if ((w & 1L) == 1L) add(buf, v, level, capacity)
      w >>>= 1
      level += 1
    }
  }

  /** Compaction cascade: sort the over-full level, promote one survivor
    * per adjacent pair at doubled weight (parity alternating per level —
    * the deterministic MRL schedule), leave an odd leftover in place so
    * total weight is exact. */
  private def compactFrom(buf: Buf, from: Int, capacity: Int): Unit = {
    var i = from
    while (i < buf.levels.size && buf.levels(i).size > capacity) {
      val lvl = buf.levels(i)
      val sorted = lvl.toArray
      java.util.Arrays.sort(sorted)
      val pairs = sorted.length / 2
      val offset = if (buf.flips(i)) 0 else 1
      buf.flips(i) = !buf.flips(i)
      ensureLevel(buf, i + 1)
      val next = buf.levels(i + 1)
      var j = 0
      while (j < pairs) { next += sorted(2 * j + offset); j += 1 }
      lvl.clear()
      if (sorted.length % 2 == 1) lvl += sorted(sorted.length - 1)
      i += 1
    }
  }

  def mergeBufs(b1: Buf, b2: Buf, capacity: Int): Buf = {
    var i = 0
    while (i < b2.levels.size) {
      if (b2.levels(i).nonEmpty) {
        ensureLevel(b1, i)
        b1.levels(i) ++= b2.levels(i)
        compactFrom(b1, i, capacity)
      }
      i += 1
    }
    b1
  }

  /** Ascending (value, weight) artifact — (value, weight) ordering makes
    * the emission deterministic given the retained multiset. */
  def evalBuf(buf: Buf): Any = {
    val out = mutable.ArrayBuffer.empty[(Double, Long)]
    var i = 0
    while (i < buf.levels.size) {
      val w = 1L << i
      buf.levels(i).foreach(v => out += ((v, w)))
      i += 1
    }
    val sorted = out.toArray.sortBy(identity)
    new GenericArrayData(sorted.map { case (v, w) =>
      new GenericInternalRow(Array[Any](v, w))
    }.asInstanceOf[Array[Any]])
  }

  def serializeBuf(buf: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.levels.size)
    var i = 0
    while (i < buf.levels.size) {
      out.writeBoolean(buf.flips(i))
      out.writeInt(buf.levels(i).size)
      buf.levels(i).foreach(out.writeDouble)
      i += 1
    }
    out.flush(); bos.toByteArray
  }

  def deserializeBuf(storage: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(storage))
    val n = in.readInt()
    val levels = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Double]]
    val flips = mutable.ArrayBuffer.empty[Boolean]
    var i = 0
    while (i < n) {
      flips += in.readBoolean()
      val m = in.readInt()
      val lvl = new mutable.ArrayBuffer[Double](m)
      var j = 0
      while (j < m) { lvl += in.readDouble(); j += 1 }
      levels += lvl
      i += 1
    }
    new Buf(levels, flips)
  }

  // ---- Column API ----------------------------------------------------

  /** Aggregate Column: the sketch artifact of a double column. */
  def quantileSketch(c: Column, capacity: Int): Column =
    GraftSqlBridge.column(
      QuantileSketchAgg(GraftSqlBridge.expression(c), capacity)
        .toAggregateExpression())

  /** Total weight of the artifact — the group's exact row count (the
    * odd-leftover rule preserves weight through every compaction). */
  def qskTotal(sk: Column): Column =
    aggregate(sk, lit(0L), (acc, x) => acc + x.getField("weight"))

  /** Quantile estimate: the smallest retained value whose cumulative
    * weight reaches ceil(q · total) — the lower discrete quantile, exact
    * below capacity, rank-bounded above. TWO artifact-sized linear
    * scans in pure Column algebra; `q` must be a literal double in
    * (0, 1].
    *
    * The total is bound ONCE through a single-element `transform` lambda
    * before the scan references it: interpreted HOF lambdas re-evaluate
    * their whole expression tree per element, so embedding qskTotal (an
    * O(artifact) aggregate) directly in the scan's condition is
    * O(artifact²) — measured 13+ minutes on the 30k-element exact-regime
    * gate artifacts vs seconds with the binding (the d31/d32 nested-HOF
    * lesson, at estimator scale). */
  def qskQuantile(sk: Column, q: Double): Column = {
    require(q > 0.0 && q <= 1.0, "q must be in (0, 1]")
    element_at(
      transform(array(qskTotal(sk)), t => {
        val target = greatest(ceil(lit(q) * t).cast("long"), lit(1L))
        aggregate(sk,
          struct(lit(0L).as("cum"), lit(null).cast("double").as("ans")),
          (acc, x) => {
            val cum = acc.getField("cum") + x.getField("weight")
            struct(cum.as("cum"),
              coalesce(acc.getField("ans"),
                when(cum >= target, x.getField("value"))).as("ans"))
          }).getField("ans")
      }), 1)
  }
}

object KmvAgg {

  import org.apache.spark.sql.functions._

  /** Aggregate Column: the ascending array of the group's k min flipped
    * hashes — the persisted artifact every estimator below reads. */
  def kmvSketch(c: Column, k: Int): Column =
    GraftSqlBridge.column(
      KmvAgg(GraftSqlBridge.expression(c), k).toAggregateExpression())

  /** Merge two sketch artifacts — hash-distinct union, keep the k
    * smallest. Associative/commutative, so snapshots fold in any
    * grouping (q42's union pattern). Pure Catalyst array functions: the
    * custom code is ONLY in the bounded aggregate. */
  def kmvMerge(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_union(a, b)), 1, k)

  /** Merge a collected LIST of sketch artifacts (cross-group rollup). */
  def kmvMergeAll(sks: Column, k: Int): Column =
    slice(array_sort(array_distinct(flatten(sks))), 1, k)

  private def uOf(f: Column): Column =
    f.cast("double") / 1.8446744073709552e19 + 0.5

  /** Distinct-count estimate: exact below capacity, (k−1)/u₍ₖ₎ at it. */
  def kmvDistinctEstimate(sk: Column, k: Int): Column =
    when(size(sk) < k, size(sk).cast("double"))
      .otherwise(lit((k - 1).toDouble) / uOf(element_at(sk, k)))

  /** Intersection estimate of the sets behind two sketches: over the
    * merged k-min union L, the members present in BOTH inputs estimate
    * the Jaccard similarity, scaled by the union estimate (Beyer et al.
    * 2007). Exact when the union fits under capacity (then L is the
    * whole hash-distinct union and the match count IS the exact
    * intersection — the branch keeps it integer-clean rather than
    * re-deriving it through (m/|L|)·|L| float arithmetic). */
  def kmvIntersectEstimate(a: Column, b: Column, k: Int): Column = {
    val l = kmvMerge(a, b, k)
    val matches = size(array_intersect(array_intersect(l, a), b))
    when(size(l) < k, matches.cast("double"))
      .otherwise(matches.cast("double") / size(l) * kmvDistinctEstimate(l, k))
  }
}

/** Count-Min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) as a
  * native mergeable aggregate — the bounded-memory POINT-FREQUENCY
  * summary next to [[MisraGriesAgg]]'s top-k view: Misra-Gries answers
  * "which items are frequent", Count-Min answers "how often is THIS
  * item" for any item, under a hard `depth × width` counter budget,
  * with the one-sided guarantee est ≥ true (collisions only ever
  * inflate). Merging is element-wise addition, so map-side partials
  * ship depth·width longs per partition — never the key universe — and
  * a persisted sketch folds with tomorrow's batch sketch by the same
  * addition (the standing-artifact posture the heavy-hitters and KMV
  * sketches already take).
  *
  * The row hashes are md5-derived via double hashing (Kirsch &
  * Mitzenmacher 2006): ONE md5 per observation yields two 60-bit
  * halves h1/h2 and row r's bucket is `(h1 + r*h2) % width` —
  * data-independent and replayable in SQL on both engines
  * (`conv(substr(md5(item), 1, 15)…)` / `…substr(md5(item), 17, 15)…`), which is what lets
  * the d97 gate pin every COUNTER of the sketch against a DuckDB
  * replay, not just a summary statistic.
  */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(depth >= 1 && width >= 2, "need depth >= 1 and width >= 2")

  override def nullable: Boolean = false
  /** Row-major depth × width counter matrix. */
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      // ONE md5 per observation (double hashing derives every row's
      // bucket), digesting the UTF8 bytes directly — no String, no hex
      val digest = CountMinAgg.md5Digest.get()
      digest.reset()
      val bytes = v.asInstanceOf[UTF8String].getBytes
      val d = digest.digest(bytes)
      val h1 = CountMinAgg.first60(d, 0)
      val h2 = CountMinAgg.first60(d, 8)
      var r = 0
      while (r < depth) {
        buf(r * width + ((h1 + r * h2) % width).toInt) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < buf.length) { out.writeLong(buf(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(storage: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(storage))
    val buf = new Array[Long](depth * width)
    var i = 0
    while (i < buf.length) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CountMinAgg =
    copy(child = newChild)
  override def prettyName: String = "count_min_sketch_graft"
}

object CountMinAgg {
  import org.apache.spark.sql.functions._

  private[plans] val md5Digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Hex chars [off*2+1 .. off*2+15] of an md5 as a 60-bit long — i.e.
    * the long of 8 bytes starting at `off`, dropping the low nibble;
    * identical to SQL `conv(substr(md5(x), off*2+1, 15), 16, 10)`. */
  private[plans] def first60(d: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = off
    while (i < off + 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Row-r bucket of `item` via double hashing (Kirsch–Mitzenmacher):
    * `(h1 + r·h2) mod width`, where h1/h2 are the first and second
    * 60-bit halves of ONE md5(item) — one digest serves every row, and
    * the SQL twin is two `substr(md5(item), …, 15)` casts. SketchSpec
    * pins the JVM and Column forms bit-identical. */
  private[graft] def bucket(r: Int, item: String, width: Int): Int = {
    val d = md5Digest.get()
    d.reset()
    val h = d.digest(item.getBytes("UTF-8"))
    ((first60(h, 0) + r * first60(h, 8)) % width).toInt
  }

  /** Aggregate Column: the row-major depth × width counter array. */
  def cmSketch(c: Column, depth: Int, width: Int): Column =
    GraftSqlBridge.column(
      CountMinAgg(GraftSqlBridge.expression(c), depth, width)
        .toAggregateExpression())

  /** Point-frequency estimate of `item` from a sketch Column: the min
    * over the depth rows of each row's hashed counter — pure built-in
    * Columns (md5/conv/element_at/least), codegen-friendly, and the
    * exact expression the DuckDB oracle mirrors. */
  def cmEstimate(sketch: Column, item: Column, depth: Int, width: Int): Column = {
    val h1 = conv(substring(md5(item), 1, 15), 16, 10).cast("long")
    val h2 = conv(substring(md5(item), 17, 15), 16, 10).cast("long")
    val cells = (0 until depth).map { r =>
      element_at(sketch,
        ((h1 + h2 * lit(r.toLong)) % width + r * width + 1).cast("int"))
    }
    if (cells.size == 1) cells.head else least(cells: _*)
  }
}
