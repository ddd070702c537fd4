package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.Lake

/** Lake-op semantics: MERGE upsert (update-if-newer / insert / keep),
  * dedup-by-rank with degradation, schema conform, idempotent reload,
  * incremental watermark (SURVEY §2.1/§2.5/§2.10). */
class LakeSpec extends SparkSpec {

  private val kv = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType),
    StructField("ver", LongType)))

  private def df(rows: (Long, String, Long)*) =
    LocalTable.of(spark, kv, rows.map { case (k, v, t) => Row(k, v, t) })

  test("mergeUpsert: newer wins, older loses, unmatched insert + survive") {
    val target = df((1L, "t1", 5L), (2L, "t2", 5L), (3L, "t3", 5L))
    val source = df((2L, "s2-new", 9L), (3L, "s3-old", 1L), (4L, "s4-ins", 9L))
    val got = Lake.mergeUpsert(target, source, Seq("k"), "ver")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "t1"), (2L, "s2-new"), (3L, "t3"), (4L, "s4-ins")))
  }

  test("dedupByKeys keeps max orderCol; degrades to dropDuplicates without") {
    val d = df((1L, "old", 1L), (1L, "new", 2L), (2L, "only", 1L))
    val got = Lake.dedupByKeys(d, Seq("k"), Some("ver"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "new"), (2L, "only")))
    assert(Lake.dedupByKeys(d.select("k"), Seq("k")).count() === 2)
  }

  test("conformToSchema backfills typed NULLs and reorders") {
    val src = df((1L, "x", 1L)).select("v", "k") // missing 'extra', wrong order
    val dest = StructType(Seq(
      StructField("k", LongType), StructField("extra", DoubleType),
      StructField("v", StringType)))
    val out = Lake.conformToSchema(src, dest)
    assert(out.columns.toSeq === Seq("k", "extra", "v"))
    assert(out.schema("extra").dataType === DoubleType)
    val r = out.collect()(0)
    assert(r.getLong(0) === 1L && r.isNullAt(1) && r.getString(2) === "x")
  }

  test("deleteByKeyAppend is idempotent per lineage key") {
    val table = df((1L, "src1", 1L), (2L, "src1", 1L), (3L, "src2", 1L))
    val fresh = df((1L, "src1", 2L), (2L, "src1", 2L))
    val once  = Lake.deleteByKeyAppend(table, fresh, "v", "src1")
    val twice = Lake.deleteByKeyAppend(once, fresh, "v", "src1")
    assert(once.count() === 3 && twice.count() === 3)
    assert(twice.filter(col("v") === "src1").agg(sum("ver")).collect()(0).getLong(0) === 4L)
  }

  test("deleteByKeysAppend displaces fresh keys without driver collection") {
    val table = df((1L, "src1", 1L), (2L, "src1", 1L), (3L, "src2", 1L))
    val fresh = df((1L, "src1", 2L), (2L, "src1", 2L))
    val once  = Lake.deleteByKeysAppend(table, fresh, "v")
    val twice = Lake.deleteByKeysAppend(once, fresh, "v")
    assert(once.count() === 3 && twice.count() === 3)
    assert(twice.filter(col("v") === "src1").agg(sum("ver")).collect()(0).getLong(0) === 4L)
    // src2 rows survive untouched
    assert(twice.filter(col("v") === "src2").count() === 1)
  }

  test("incrementalAfter is strictly-greater; maxWatermark returns new max") {
    val d = df((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
    assert(Lake.incrementalAfter(d, "ver", lit(20L)).count() === 1)
    assert(Lake.maxWatermark(d, "ver").collect()(0).getLong(0) === 30L)
  }

  test("withIngestionColumns derives partition columns deterministically") {
    val out = Lake.withIngestionColumns(df((1L, "a", 1L)),
      java.sql.Timestamp.valueOf("2026-08-12 10:30:00"))
    val r = out.select("ingestao_date", "ingestao_year", "ingestao_month", "ingestao_day")
      .collect()(0)
    assert(r.get(0).toString === "2026-08-12" && r.getInt(1) === 2026 &&
      r.getInt(2) === 8 && r.getInt(3) === 12)
  }

  private val scdSchema = StructType(Seq(
    StructField("k", LongType), StructField("attr", StringType),
    StructField("eff_from", DateType), StructField("eff_to", DateType),
    StructField("is_current", BooleanType)))

  private val updSchema = StructType(Seq(
    StructField("k", LongType), StructField("attr", StringType)))

  test("scdType2Merge: close-and-version lifecycle across two batches") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val day0 = LocalTable.of(spark, scdSchema, Seq(
      Row(1L, "a", d("2024-01-01"), null, true),
      Row(2L, "b", d("2024-01-01"), null, true),
      Row(3L, null, d("2024-01-01"), null, true))) // null attr: null-safe diff
    // batch 1: k=1 changes, k=2 arrives unchanged (no-op), k=3 null→"c",
    // k=4 is brand new
    val b1 = LocalTable.of(spark, updSchema, Seq(
      Row(1L, "a2"), Row(2L, "b"), Row(3L, "c"), Row(4L, "d")))
    val after1 = Lake.scdType2Merge(day0, b1, Seq("k"), Seq("attr"),
      lit(d("2024-02-01")))
    val rows1 = after1.collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).orNull,
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString).orNull,
        r.getBoolean(4))).toSet
    assert(rows1 === Set(
      (1L, "a", "2024-01-01", "2024-02-01", false), // closed
      (1L, "a2", "2024-02-01", null, true),          // new version
      (2L, "b", "2024-01-01", null, true),           // unchanged no-op
      (3L, null, "2024-01-01", "2024-02-01", false), // null attr closed
      (3L, "c", "2024-02-01", null, true),
      (4L, "d", "2024-02-01", null, true)))          // new key
    // batch 2 on the merged result: k=1 changes AGAIN — history chains
    val b2 = LocalTable.of(spark, updSchema, Seq(Row(1L, "a3")))
    val after2 = Lake.scdType2Merge(after1, b2, Seq("k"), Seq("attr"),
      lit(d("2024-03-01")))
    val k1 = after2.filter(col("k") === 1L).collect()
      .map(r => (Option(r.getString(1)).orNull,
        Option(r.getDate(3)).map(_.toString).orNull, r.getBoolean(4))).toSet
    assert(k1 === Set(
      ("a", "2024-02-01", false), ("a2", "2024-03-01", false),
      ("a3", null, true)))
    // exactly one open row per key, intervals abut
    val openCount = after2.filter(col("is_current"))
      .groupBy(col("k")).count().collect().map(_.getLong(1))
    assert(openCount.forall(_ === 1L))
  }

  test("snapshotDiff: added/removed/changed with NULL-safe column lists") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("a", StringType),
      StructField("b", DoubleType)))
    def snap(rows: (Long, String, java.lang.Double)*) =
      LocalTable.of(spark, schema, rows.map { case (k, a, b) => Row(k, a, b) })
    val old = snap((1L, "same", 1.0), (2L, "gone", 2.0),
      (3L, "was", 3.0), (4L, null, null), (5L, null, 5.0))
    val neu = snap((1L, "same", 1.0), (3L, "now", 3.5),
      (4L, null, null), (5L, "filled", 5.0), (6L, "new", 6.0))
    val got = Lake.snapshotDiff(old, neu, Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq
    assert(got === Seq(
      (2L, "removed", None),          // only in old
      (3L, "changed", Some("a,b")),   // both columns differ
      (5L, "changed", Some("a")),     // NULL -> value is a change
      (6L, "added", None)))           // only in new
    // k=1 identical and k=4 NULL==NULL emit nothing
  }

  test("snapshotDiff rejects misaligned schemas and missing keys") {
    val d = df((1L, "x", 1L))
    intercept[IllegalArgumentException] {
      Lake.snapshotDiff(d, d.select("k", "v"), Seq("k"))
    }
    intercept[IllegalArgumentException] {
      Lake.snapshotDiff(d, d, Seq("nope"))
    }
  }

  // ---- z-order layout --------------------------------------------------

  private val xy = StructType(Seq(
    StructField("x", LongType), StructField("y", LongType)))

  /** 4096 rows over a 1000×1000 grid, deterministic pseudo-random. */
  private def grid(): org.apache.spark.sql.DataFrame =
    LocalTable.of(spark, xy, (0 until 4096).map { i =>
      Row(((i * 2654435761L) % 1000 + 1000) % 1000,
        ((i * 40503L + 7919) % 1000 + 1000) % 1000)
    })

  test("zorderBy: z-values respect 2-D locality and bit interleave") {
    val d = LocalTable.of(spark, xy, Seq(
      Row(0L, 0L), Row(999L, 0L), Row(0L, 999L), Row(999L, 999L)))
    val z = Lake.zorderBy(d, "x", "y", bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(z((0L, 0L)) === 0L)
    // x=max -> cell 15 = 1111 -> even bit positions: 0b01010101 = 85
    assert(z((999L, 0L)) === 85L)
    // y=max -> odd bit positions: 0b10101010 = 170
    assert(z((0L, 999L)) === 170L)
    assert(z((999L, 999L)) === 255L)
  }

  test("zorderWrite: contents round-trip unchanged; layout clusters BOTH dims") {
    val d = grid()
    val base = java.nio.file.Files.createTempDirectory("graft_zspec").toString
    Lake.zorderWrite(d, s"$base/z", "x", "y", numFiles = 16)
    // single-key comparison layout: range-sorted by x only
    d.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.parquet(s"$base/xsort")
    val zBack = spark.read.parquet(s"$base/z")
    assert(zBack.count() === 4096)
    assert(zBack.exceptAll(d).isEmpty && d.exceptAll(zBack).isEmpty,
      "z-order rewrite must not change the row multiset")
    def filesAdmitting(path: String, colName: String, lo: Long, hi: Long): Long =
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(colName)).as("mn"), max(col(colName)).as("mx"))
        .filter(col("mn") <= hi && col("mx") >= lo)
        .count()
    // a 5% y-band: z-layout tiles y into bands, so only a fraction of the
    // 16 files can contain it; the x-sorted layout spreads every y value
    // across every file
    val zFiles = filesAdmitting(s"$base/z", "y", 0L, 50L)
    val xFiles = filesAdmitting(s"$base/xsort", "y", 0L, 50L)
    assert(xFiles === 16L, s"x-sorted layout should admit all files, got $xFiles")
    assert(zFiles <= 8L, s"z-layout should confine a 5% y-band, got $zFiles files")
    // and the z-layout still clusters x as well (both dims, not one)
    val zFilesX = filesAdmitting(s"$base/z", "x", 0L, 50L)
    assert(zFilesX <= 8L, s"z-layout should also confine a 5% x-band, got $zFilesX")
  }

  test("zorderWrite: parquet row-group stats actually skip at scan time") {
    val d = grid()
    val base = java.nio.file.Files.createTempDirectory("graft_zskip").toString
    Lake.zorderWrite(d, s"$base/z", "x", "y", numFiles = 16)
    d.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.parquet(s"$base/xsort")
    def scanRows(path: String): Long = {
      val q = spark.read.parquet(path).filter(col("y") <= 50)
      q.collect()
      val scans = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, q.queryExecution.executedPlan.toString.take(500))
      scans.map(_.metrics("numOutputRows").value).sum
    }
    val zRows = scanRows(s"$base/z")
    val xRows = scanRows(s"$base/xsort")
    assert(xRows === 4096L,
      s"x-sorted layout has no y locality; expected full scan, got $xRows")
    assert(zRows <= 2048L,
      s"z-layout scan should skip most row groups, got $zRows rows out of 4096")
  }

  test("zorderBy: NULL dims get NULL z and cluster together; arg guards") {
    val d = LocalTable.of(spark, xy,
      Seq(Row(1L, 2L), Row(null, 5L), Row(3L, null)))
    val z = Lake.zorderBy(d, "x", "y", bits = 4).collect()
      .map(r => Option(r.get(0)).map(_.toString).getOrElse("null") -> r.isNullAt(2)).toMap
    assert(z("null") === true && z("3") === true && z("1") === false)
    intercept[IllegalArgumentException](Lake.zorderBy(d, "x", "y", bits = 0))
    intercept[IllegalArgumentException](Lake.zorderBy(d, "x", "y", bits = 21))
  }
}
