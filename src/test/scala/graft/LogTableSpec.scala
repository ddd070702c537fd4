package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{Lake, LogTable}

/** The log-structured table format: ACID commit fold, snapshot
  * isolation, optimistic concurrency, stats-pruned DELETE, time travel,
  * checkpoints, vacuum. */
class LogTableSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType),
    StructField("ver", LongType)))

  private def df(rows: (Long, String, Long)*) =
    LocalTable.of(spark, schema, rows.map { case (k, v, t) => Row(k, v, t) })

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/table"

  test("verb lifecycle: create → merge → stale merge loses → delete → compact") {
    val path = tmp("graft-log-lifecycle-")
    assert(!LogTable.exists(path))
    LogTable.append(spark, path, df((1L, "a", 1L), (2L, "b", 1L)))
    assert(LogTable.exists(path) && LogTable.read(spark, path).count() === 2)
    LogTable.merge(spark, path, df((2L, "b2", 2L), (3L, "c", 2L)), Seq("k"), "ver")
    val afterMerge = LogTable.read(spark, path).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(afterMerge === Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    LogTable.merge(spark, path, df((2L, "stale", 0L)), Seq("k"), "ver")
    assert(LogTable.read(spark, path).filter(col("k") === 2)
      .collect()(0).getString(1) === "b2")
    LogTable.deleteWhere(spark, path, "v", "a")
    assert(LogTable.read(spark, path).count() === 2)
    assert(LogTable.read(spark, path).filter(col("v") === "a").count() === 0)
    LogTable.compact(spark, path)
    assert(LogTable.read(spark, path).count() === 2)
  }

  test("append commits versions; reads are snapshot-isolated; time travel works") {
    val path = tmp("graft-log-tt-")
    assert(LogTable.append(spark, path, df((1L, "a", 1L))) === 0L)
    assert(LogTable.append(spark, path, df((2L, "b", 1L))) === 1L)
    val v1 = LogTable.readVersion(spark, path, 1L) // resolved BEFORE the merge
    LogTable.merge(spark, path, df((1L, "a2", 2L)), Seq("k"), "ver")
    // snapshot isolation: the pre-merge frame still reads the old value
    assert(v1.filter(col("k") === 1).collect()(0).getString(1) === "a")
    assert(LogTable.read(spark, path)
      .filter(col("k") === 1).collect()(0).getString(1) === "a2")
    // time travel re-resolves each historical version
    assert(LogTable.readVersion(spark, path, 0L).count() === 1)
    assert(LogTable.readVersion(spark, path, 1L).count() === 2)
    intercept[IllegalArgumentException](LogTable.readVersion(spark, path, 99L))
  }

  test("schema evolution on append: new column, typed NULL backfill, type change refused") {
    val path = tmp("graft-log-evolve-")
    LogTable.append(spark, path, df((1L, "a", 1L)))
    val wide = LocalTable.of(spark,
      StructType(schema.fields :+ StructField("extra", DoubleType)),
      Seq(Row(2L, "b", 1L, 9.5)))
    LogTable.append(spark, path, wide)
    val rows = LogTable.read(spark, path).orderBy("k")
      .select("k", "extra").collect()
    assert(rows(0).isNullAt(1)) // old file reads the evolved column as NULL
    assert(rows(1).getDouble(1) === 9.5)
    // a narrower append still works (missing columns backfill as NULL)
    LogTable.append(spark, path, df((3L, "c", 1L)))
    assert(LogTable.read(spark, path).count() === 3)
    val conflict = LocalTable.of(spark,
      StructType(Seq(StructField("k", LongType), StructField("v", LongType))),
      Seq(Row(4L, 4L)))
    intercept[IllegalArgumentException](LogTable.append(spark, path, conflict))
  }

  test("deleteWhere rewrites ONLY the files whose stats admit the value") {
    val path = tmp("graft-log-skip-")
    // three commits with disjoint v-ranges → disjoint per-file stats
    LogTable.append(spark, path, df((1L, "aaa", 1L), (2L, "abc", 1L)))
    LogTable.append(spark, path, df((3L, "mmm", 1L), (4L, "mno", 1L)))
    LogTable.append(spark, path, df((5L, "zzz", 1L), (6L, "zzy", 1L)))
    val before = LogTable.snapshot(path).files.map(_.path).toSet
    LogTable.deleteWhere(spark, path, "v", "mmm")
    val after = LogTable.snapshot(path).files.map(_.path).toSet
    // the a- and z-range files survive AS THE SAME FILES (no rewrite)
    val untouched = before.intersect(after)
    assert(untouched.size >= 2,
      s"stats pruning failed: only $untouched survived of $before")
    // and the rewritten range dropped exactly the matching row
    assert(LogTable.read(spark, path).count() === 5)
    assert(LogTable.read(spark, path).filter(col("v") === "mmm").count() === 0)
    // a value no stats admit: NO commit at all (version unchanged)
    val vBefore = LogTable.currentVersion(path).get
    LogTable.deleteWhere(spark, path, "v", "qqq")
    assert(LogTable.currentVersion(path).get === vBefore)
  }

  test("concurrent appenders both land (optimistic retry, no data rewrite)") {
    val path = tmp("graft-log-race-")
    LogTable.append(spark, path, df((0L, "seed", 1L)))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try LogTable.append(spark, path,
          df((i.toLong * 10, s"t$i", 1L), (i.toLong * 10 + 1, s"t$i", 1L)))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"racing append failed: ${errs.peek()}")
    // every append serialized into its own version; all rows present
    assert(LogTable.currentVersion(path).get === 4L)
    assert(LogTable.read(spark, path).count() === 9)
  }

  test("copy-on-write merge rebases over a concurrent append") {
    val path = tmp("graft-log-cow-race-")
    LogTable.append(spark, path, df((1L, "a", 1L), (2L, "b", 1L)))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val merger = new Thread(() => {
      try LogTable.merge(spark, path, df((2L, "b2", 2L)), Seq("k"), "ver")
      catch { case t: Throwable => errs.add(t) }
    })
    val appender = new Thread(() => {
      try LogTable.append(spark, path, df((3L, "c", 1L)))
      catch { case t: Throwable => errs.add(t) }
    })
    merger.start(); appender.start(); merger.join(); appender.join()
    assert(errs.isEmpty, s"cow race failed: ${errs.peek()}")
    // merge-then-append and append-then-merge give the same multiset
    // here (the merge only touches k=2), so the final state is exact
    // regardless of which writer won version 1
    val rows = LogTable.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === Set((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("a crashed writer's data files are invisible and vacuum reclaims them") {
    val path = tmp("graft-log-orphan-")
    LogTable.append(spark, path, df((1L, "a", 1L)))
    // simulate a crash mid-commit: data files written, version never lands
    val orphanDir = s"$path/data/deadbeef"
    df((99L, "ghost", 1L)).write.parquet(orphanDir)
    assert(LogTable.read(spark, path).count() === 1) // readers never see it
    LogTable.vacuum(path, retainLast = 1, orphanGraceMs = 0L)
    assert(!new java.io.File(orphanDir).exists())
    assert(LogTable.read(spark, path).count() === 1)
  }

  test("checkpoints bound the fold; vacuum drops pre-horizon history and keeps reads exact") {
    val path = tmp("graft-log-ckpt-")
    (0 until 12).foreach(i => LogTable.append(spark, path, df((i.toLong, s"r$i", 1L))))
    val logDir = new java.io.File(s"$path/_graft_log")
    assert(logDir.list().exists(_.startsWith("ckpt_v"))) // interval hit at v10
    val fullBefore = LogTable.read(spark, path)
      .collect().map(_.toSeq).toSet
    LogTable.vacuum(path, retainLast = 2, orphanGraceMs = 0L)
    // pre-horizon entries gone, horizon checkpoint present
    val names = logDir.list().toSeq
    assert(!names.contains("v00000000.json"))
    assert(names.contains("ckpt_v00000010.json"))
    // live + retained reads still exact
    assert(LogTable.read(spark, path).collect().map(_.toSeq).toSet === fullBefore)
    assert(LogTable.readVersion(spark, path, 10L).count() === 11)
    // past the horizon: loud, never a silently different version
    intercept[IllegalArgumentException](LogTable.readVersion(spark, path, 3L))
  }

  test("merge result matches Lake.mergeUpsert on the same inputs") {
    val path = tmp("graft-log-merge-eq-")
    val target = df((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
    val source = df((2L, "b2", 2L), (4L, "d", 2L), (3L, "stale", 0L))
    LogTable.append(spark, path, target)
    LogTable.merge(spark, path, source, Seq("k"), "ver")
    val got = LogTable.read(spark, path).collect().map(_.toSeq).toSet
    val want = Lake.mergeUpsert(target, source, Seq("k"), "ver")
      .collect().map(_.toSeq).toSet
    assert(got === want)
  }

  test("compact bin-packs small files without changing the fold") {
    val path = tmp("graft-log-compact-")
    (0 until 6).foreach(i => LogTable.append(spark, path, df((i.toLong, s"r$i", 1L))))
    val before = LogTable.read(spark, path).collect().map(_.toSeq).toSet
    val nBefore = LogTable.snapshot(path).files.size
    LogTable.compact(spark, path)
    assert(LogTable.snapshot(path).files.size < nBefore)
    assert(LogTable.read(spark, path).collect().map(_.toSeq).toSet === before)
  }

  test("the commit inherits the FS contract guard: unknown schemes refuse before I/O") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val local = Files.createTempDirectory("graft-log-guard-").toString
    intercept[UnsupportedOperationException] {
      LogTable.append(spark, s"graftfs://$local/table", df((1L, "a", 1L)))
    }
  }

  test("conditional-put commit path: the full lifecycle on the simulated object store") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[GraftS3aSimFs].getName)
    conf.setBoolean("fs.s3a.impl.disable.cache", false)
    val local = Files.createTempDirectory("graft-log-s3a-").toString
    val path = s"s3a://graft-sim$local/table"
    LogTable.append(spark, path, df((1L, "a", 1L), (2L, "b", 1L)))
    LogTable.merge(spark, path, df((2L, "b2", 2L), (3L, "c", 2L)), Seq("k"), "ver")
    LogTable.deleteWhere(spark, path, "v", "a")
    val rows = LogTable.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === Set((2L, "b2"), (3L, "c")))
    // the version files were committed through create-if-absent: a
    // pre-existing version refuses a second commit → racing appends on
    // the sim store still serialize
    val vBefore = LogTable.currentVersion(path).get
    LogTable.append(spark, path, df((9L, "z", 1L)))
    assert(LogTable.currentVersion(path).get === vBefore + 1)
  }

  test("txn appends are exactly-once: redelivery no-ops, the ledger survives checkpoints and vacuum") {
    val path = tmp("graft-log-txn-")
    assert(LogTable.append(spark, path, df((1L, "a", 1L)),
      txn = Some(("app1", 0L))) === 0L)
    // redelivery of the same batch: no new version, no new rows
    LogTable.append(spark, path, df((1L, "a", 1L)), txn = Some(("app1", 0L)))
    assert(LogTable.currentVersion(path).get === 0L)
    assert(LogTable.read(spark, path).count() === 1)
    // a different app's batch 0 is independent
    LogTable.append(spark, path, df((2L, "b", 1L)), txn = Some(("app2", 0L)))
    assert(LogTable.read(spark, path).count() === 2)
    // drive past the checkpoint interval, then vacuum away the entries
    // that carried the txn actions — the ledger must survive via the
    // checkpoint, or a replay after retention would double-append
    (1L to 11L).foreach(b => LogTable.append(spark, path,
      df((100L + b, s"x$b", 1L)), txn = Some(("app1", b))))
    LogTable.vacuum(path, retainLast = 2, orphanGraceMs = 0L)
    val n = LogTable.read(spark, path).count()
    LogTable.append(spark, path, df((999L, "replay", 1L)),
      txn = Some(("app1", 5L))) // long-committed batch, entries vacuumed
    assert(LogTable.read(spark, path).count() === n,
      "a replayed old batch must no-op after vacuum (ledger in checkpoint)")
  }

  test("duplicate same-id writers racing one batch: exactly one lands") {
    val path = tmp("graft-log-twin-")
    LogTable.append(spark, path, df((0L, "seed", 1L)))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val twins = (1 to 3).map { i =>
      new Thread(() => {
        try LogTable.append(spark, path, df((7L, s"twin$i", 1L)),
          txn = Some(("dup-app", 1L)))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    twins.foreach(_.start()); twins.foreach(_.join())
    assert(errs.isEmpty, s"twin race failed: ${errs.peek()}")
    // exactly ONE twin's batch landed — the ledger re-check on the lost
    // version race turns the losers into clean skips
    assert(LogTable.read(spark, path).filter(col("k") === 7L).count() === 1)
  }

  test("stats pruning is conservative: non-ASCII bounds and statless columns never skip") {
    import graft.lake.LogTable.{AddFile, Stat}
    val ascii = AddFile("f", 1, 1, Map("v" -> Stat(Some("aaa"), Some("bbb"), 0)))
    assert(!LogTable.mayContain(ascii, "v", StringType, "zzz"))
    assert(LogTable.mayContain(ascii, "v", StringType, "abc"))
    val utf = AddFile("f", 1, 1, Map("v" -> Stat(Some("ação"), Some("zé"), 0)))
    assert(LogTable.mayContain(utf, "v", StringType, "zzz")) // never skip past ASCII
    val nostats = AddFile("f", 1, 1, Map.empty)
    assert(LogTable.mayContain(nostats, "v", StringType, "anything"))
    val allNull = AddFile("f", 1, 1, Map("v" -> Stat(None, None, 5)))
    assert(!LogTable.mayContain(allNull, "v", StringType, "x")) // = never matches NULL
    val num = AddFile("f", 1, 1, Map("k" -> Stat(Some("10"), Some("20"), 0)))
    assert(LogTable.mayContain(num, "k", LongType, "15"))
    assert(!LogTable.mayContain(num, "k", LongType, "21"))
    assert(LogTable.mayContain(num, "k", LongType, "not-a-number")) // unparseable: no skip
  }
}
