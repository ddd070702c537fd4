package graft

import java.nio.file.Files

import org.apache.spark.JobCounter
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{ParquetTableFormat => fmt, SkewJoin}

/** Test-only Hadoop filesystem: local storage under a distinct
  * `graftfs://` scheme, so specs can prove the lake verbs resolve every
  * path through `Path.getFileSystem` (object-store portability) instead
  * of assuming `file:`. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** The trusted parquet table's verbs and DDL over real parquet
  * directories + salted skew-join equivalence. */
class TableFormatSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType),
    StructField("ver", LongType)))

  private def df(rows: (Long, String, Long)*) =
    LocalTable.of(spark, schema, rows.map { case (k, v, t) => Row(k, v, t) })

  /** Full verb lifecycle against an arbitrary scheme-qualified path —
    * shared by the file: and graftfs: variants. */
  private def lifecycle(path: String): Unit = {
    assert(!fmt.exists(spark, path))
    fmt.createOrAppend(df((1L, "a", 1L), (2L, "b", 1L)), path, Nil)
    assert(fmt.exists(spark, path) && fmt.read(spark, path).count() === 2)

    // merge: update k=2 (newer), insert k=3, leave k=1
    fmt.merge(spark, path, df((2L, "b2", 2L), (3L, "c", 2L)), Seq("k"), "ver", Nil)
    val afterMerge = fmt.read(spark, path).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(afterMerge === Seq((1L, "a"), (2L, "b2"), (3L, "c")))

    // stale merge: older version must NOT overwrite
    fmt.merge(spark, path, df((2L, "stale", 0L)), Seq("k"), "ver", Nil)
    assert(fmt.read(spark, path).filter(col("k") === 2)
      .collect()(0).getString(1) === "b2")
  }

  test("createOrAppend → merge lifecycle on a parquet dir") {
    lifecycle(Files.createTempDirectory("graft-fmt-").toString + "/table")
  }

  test("same lifecycle on a non-file Hadoop FS scheme (graftfs://)") {
    // registers a second scheme in the live session; every verb must
    // resolve the filesystem from the path, or this explodes on file:
    // assumptions (snapshots, rewrites, reads included)
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val local = Files.createTempDirectory("graft-fs2-").toString
    val path = s"graftfs://$local/table"
    lifecycle(path)
    // snapshot archival + expiry also ran through graftfs: the lifecycle
    // did two rewrites (merge, stale merge) → snapshots exist under the scheme
    assert(fmt.listSnapshots(path).nonEmpty)
    assert(fmt.listSnapshots(path).head.toUri.getScheme === "graftfs")
    fmt.expireSnapshots(path, 0)
    assert(fmt.listSnapshots(path).isEmpty)
  }

  test("rewrites archive snapshots; expireSnapshots retains the newest N") {
    val path = Files.createTempDirectory("graft-snap-").toString + "/table"
    fmt.createOrAppend(df((1L, "a", 1L), (2L, "b", 1L)), path, Nil)
    assert(fmt.listSnapshots(path).isEmpty)
    fmt.merge(spark, path, df((2L, "b2", 2L)), Seq("k"), "ver", Nil)     // snapshot 0
    fmt.merge(spark, path, df((1L, "a2", 2L)), Seq("k"), "ver", Nil)    // snapshot 1
    assert(fmt.listSnapshots(path).map(_.getName.takeRight(5)) === Seq("00000", "00001"))
    // time travel: snapshot 0 is the pre-merge table
    assert(spark.read.parquet(fmt.listSnapshots(path).head.toString).count() === 2)
    // a third rewrite auto-expires beyond autoRetainSnapshots (=2): the
    // numbering keeps advancing, the oldest snapshot is reclaimed inline
    fmt.merge(spark, path, df((9L, "z", 9L)), Seq("k"), "ver", Nil)       // snapshot 2
    assert(fmt.listSnapshots(path).map(_.getName.takeRight(5)) === Seq("00001", "00002"))
    fmt.expireSnapshots(path, retainLast = 1)
    assert(fmt.listSnapshots(path).map(_.getName.takeRight(5)) === Seq("00002"))
    fmt.expireSnapshots(path, retainLast = 0)
    assert(fmt.listSnapshots(path).isEmpty)
    // live table untouched by expiry
    assert(fmt.read(spark, path).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a2"), (2L, "b2"), (9L, "z")))
  }

  test("a MERGE runs a fixed number of jobs and cuts no lineage of its own") {
    val path = Files.createTempDirectory("graft-merge-jobs-").toString + "/table"
    fmt.createOrAppend(df((1L, "a", 1L), (2L, "b", 1L)), path, Nil)
    val source = df((2L, "b2", 2L), (3L, "c", 2L))
    val (_, jobs) = JobCounter.jobs(spark)(
      fmt.merge(spark, path, source, Seq("k"), "ver", Nil))
    // the target's schema inference and the rewrite's write, with the
    // shuffle stages AQE runs as jobs of their own
    assert(jobs === 4)
    assert(fmt.read(spark, path).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("external-table DDL + MSCK recovers partitions added behind the catalog") {
    val path = Files.createTempDirectory("graft-ddl-").toString + "/table"
    fmt.createOrAppend(df((1L, "a", 1L)).withColumn("p", lit(0)), path, Seq("p"))
    val t = fmt.createExternalTable(spark, "graft_ddl_spec", path)
    assert(t.count() === 1)
    // new partition lands directly in the directory, not via the catalog
    fmt.createOrAppend(df((2L, "b", 1L)).withColumn("p", lit(1)), path, Seq("p"))
    fmt.repairTable(spark, "graft_ddl_spec")
    assert(spark.table("graft_ddl_spec").count() === 2)
    assert(spark.table("graft_ddl_spec")
      .filter(col("p") === 1).select("v").collect().map(_.getString(0)).toSeq === Seq("b"))
    spark.sql("DROP TABLE graft_ddl_spec")
  }

  test("evolveTable adds missing columns, rejects type changes") {
    val path = Files.createTempDirectory("graft-evolve-").toString + "/table"
    fmt.createOrAppend(df((1L, "a", 1L)), path, Nil)
    fmt.createExternalTable(spark, "graft_evolve_spec", path)
    val evolved = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("ver", LongType), StructField("extra", DoubleType)))
    assert(fmt.evolveTable(spark, "graft_evolve_spec", evolved) === Seq("extra"))
    // idempotent: nothing further to add
    assert(fmt.evolveTable(spark, "graft_evolve_spec", evolved) === Seq.empty)
    // old rows read back with NULL in the new column
    val r = spark.table("graft_evolve_spec").select("k", "extra").collect()(0)
    assert(r.getLong(0) === 1L && r.isNullAt(1))
    // incompatible type change fails loudly
    intercept[IllegalArgumentException] {
      fmt.evolveTable(spark, "graft_evolve_spec",
        StructType(Seq(StructField("v", LongType))))
    }
    spark.sql("DROP TABLE graft_evolve_spec")
  }

  test("salted equi-join matches the plain join on skewed data") {
    // heavy skew: 90% of rows share key 7
    val rows = (1L to 1000L).map(i => (if (i <= 900) 7L else i, s"r$i", 1L))
    val left = df(rows: _*)
    val right = LocalTable.of(spark,
      StructType(Seq(StructField("rk", LongType), StructField("rv", StringType))),
      (1L to 50L).map(i => Row(i, s"dim$i")) :+ Row(7L, "hot"))
    val plain = left.join(right, col("k") === col("rk"))
      .select("k", "v", "rv").collect().map(_.toSeq).toSet
    val salted = SkewJoin.saltedEquiJoin(left, right, "k", "rk", salts = 8)
      .select("k", "v", "rv").collect().map(_.toSeq).toSet
    assert(salted === plain)
    // 900 hot-key rows × 2 right matches (dim7 + hot); k=901..1000 unmatched
    assert(plain.size === 1800)
  }
}
