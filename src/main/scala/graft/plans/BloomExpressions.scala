package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership of a long hash column against a SERIALIZED
  * filter riding in the plan — the archive-membership primitive of
  * incremental exact dedup: "might this content hash already be in the
  * 100 TB archive?" answered per row with zero shuffle and zero join.
  *
  * Why a kernel: Spark's own `BloomFilterMightContain` is internal to its
  * runtime-filter rewrite (not constructible from the public Column API),
  * and a Scala UDF closure would break whole-stage codegen on the batch
  * scan. The filter travels as its serialized bytes (a plan model, like
  * the centroid matrices); executors deserialize once per distinct filter
  * through a content-keyed cache, so the per-row cost is
  * `mightContainLong` on a shared in-memory sketch.
  */
object BloomMightContainExpr {

  /** Executor-side deserialization cache, keyed by filter CONTENT (a
    * wrapped byte buffer hashes/compares by bytes): each distinct filter
    * deserializes once per JVM no matter how many tasks evaluate it.
    * Bounded by the number of distinct filters a JVM ever sees — filters
    * are per-archive-snapshot artifacts, so this stays small. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    java.nio.ByteBuffer, BloomFilter]()

  def mightContain(bytes: Array[Byte], h: Long): Boolean =
    cache.computeIfAbsent(java.nio.ByteBuffer.wrap(bytes), _ =>
      BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)))
      .mightContainLong(h)

  /** Column-level entry point: `c` must be a LONG hash column put into
    * `bloom` via `putLong` (`DataFrameStatFunctions.bloomFilter` on a
    * long column does exactly that). */
  def mightContainLong(c: Column, bloom: BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    GraftSqlBridge.kernel(BloomMightContainExpr, "mightContain", BooleanType,
      GraftSqlBridge.model(bos.toByteArray), c)
  }
}
