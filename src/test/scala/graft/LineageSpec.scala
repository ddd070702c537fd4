package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SessionCheckpointDir.{filesUnder, onGraftfs, withCheckpointDir}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Dedup, Retrieval}
import graft.lake.ParquetTableFormat

/** `graft.Lineage.cut` is the engine's only lineage cut: a shared
  * subtree cut lazily computes once, with or without a session
  * checkpoint dir, and the paths that used to call `localCheckpoint`
  * directly take reliable checkpoints when the session sets one. */
class LineageSpec extends SparkSpec {
  import LineageSpec._

  /** `df` with every row's `text` passed through a non-deterministic
    * identity UDF that counts its evaluations. */
  private def counted(df: DataFrame) = {
    val evals = spark.sparkContext.longAccumulator
    val tag = udf((s: String) => { evals.add(1); s }).asNondeterministic()
    (df.select(col("doc_id"), tag(col("text")).as("text")), evals)
  }

  private val textRows = LocalTable.of(spark,
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
    (1L to 200L).map(i => Row(i, s"doc ${i % 7} body $i"))).repartition(4)

  test("a lazy cut computes its subtree once, locally and under a session checkpoint dir") {
    // two consumers joined in ONE action: the shared RDD feeds both sides
    def run(): (Long, Long) = {
      val (docs, evals) = counted(textRows)
      val cut = Lineage.cut(docs.withColumn("len", length(col("text"))), eager = false)
      val n = cut.join(cut.groupBy(col("len")).count(), "len").count()
      (n, evals.value)
    }
    assert(run() === ((200L, 200L)))
    // a reliable checkpoint written after the action would recompute an
    // unpersisted subtree: the cut must not evaluate any row twice
    val (reliable, _) = onGraftfs(spark, "lazy")(run())
    assert(reliable === ((200L, 200L)))
  }

  test("d07's lazy band-row and candidate cuts compute once per run, over repeated runs") {
    // every run evaluates each document exactly twice: once in the
    // band pipeline behind the lazy cuts (read by the count, cold and
    // hot consumers as concurrent jobs), once in the verify side's
    // candidate-filtered corpus scan — a partition of either cut that
    // two jobs computed would push a run above 2n. The corpus is 40
    // near-dup clusters of 10 documents (29 shared words, 1 own word).
    val base = Lineage.cut(LocalTable.of(spark, textRows.schema,
      (1L to 400L).map { i =>
        Row(i, ((0 until 29).map(j => s"t${i % 40}w$j") :+ s"own$i").mkString(" "))
      }).repartition(8))
    val n = base.count()
    val runs = (1 to 6).map { _ =>
      val (docs, evals) = counted(base)
      val pairs = Dedup.minhashNearDupPairs(docs, nGram = 3, k = 96, bands = 48,
        rowsPerBand = 2, threshold = 0.5).collect().length
      (pairs, evals.value)
    }
    assert(runs.map(_._2).toSet === Set(2 * n), s"evaluations per run: $runs")
    assert(runs.map(_._1).toSet.size === 1 && runs.head._1 > 0)
  }

  /** The messages `logger` logs while `body` runs. */
  private def logged(logger: String)(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("lineage-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val log = LogManager.getLogger(logger).asInstanceOf[Logger]
    log.addAppender(appender)
    try body finally { log.removeAppender(appender); appender.stop() }
    seen.toArray(Array.empty[String]).toSeq
  }

  /** A lazy cut of a one-partition scan; the pre-cut frame stays local. */
  private def lazyCut(): DataFrame =
    Lineage.cut(textRows.coalesce(1).withColumn("len", length(col("text"))), eager = false)

  test("a lazy cut read by a still-running job keeps its subtree's SQL metrics registered") {
    // job B computes the cut's partition, then blocks; job A reads the
    // cached partition and finishes, which truncates the cut's lineage.
    // B's task still reports the metrics of the subtree behind the cut
    // when it ends: they must be registered on the driver, not
    // garbage-collected with the truncated lineage
    val errors = logged("org.apache.spark.scheduler.DAGScheduler") {
      val cut = lazyCut()
      val gate = udf((id: Long) => { entered.countDown(); released.await(60, TimeUnit.SECONDS); id })
        .asNondeterministic()
      val b = Future(cut.filter(gate(col("doc_id")) > 0L).count())
      try {
        assert(entered.await(60, TimeUnit.SECONDS))
        assert(cut.count() === 200L)
        (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
      } finally released.countDown()
      assert(Await.result(b, 60.seconds) === 200L)
    }
    assert(errors.filter(_.contains("accumulator")).isEmpty, errors.mkString("\n"))
  }

  test("s09's postings cut is reliable under a session checkpoint dir; MERGE cuts none") {
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("ver", LongType)))
    def rows(rs: (Long, String, Long)*) =
      LocalTable.of(spark, schema, rs.map { case (k, v, ver) => Row(k, v, ver) })
    def merged(): Seq[(Long, String)] = {
      val path = Files.createTempDirectory("graft-lineage-").toString + "/table"
      ParquetTableFormat.createOrAppend(rows((1L, "a", 1L), (2L, "b", 1L)), path, Nil)
      ParquetTableFormat.merge(spark, path,
        rows((2L, "b2", 2L), (3L, "c", 2L), (1L, "stale", 0L)), Seq("k"), "ver", Nil)
      ParquetTableFormat.read(spark, path).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    }
    val docs = textRows.select(col("doc_id"), col("text"))
    val queries = LocalTable.of(spark,
      StructType(Seq(StructField("query_id", LongType), StructField("text", StringType))),
      Seq(Row(1L, "doc 3 body"), Row(2L, "body 17")))
    def bm25(): Seq[Row] =
      Retrieval.bm25TopK(docs, queries, k = 3).orderBy("query_id", "rank").collect().toSeq

    val (bm25Reliable, bm25Dir) = onGraftfs(spark, "bm25")(bm25())
    // the MERGE's rewrite reads its input to the end before it moves the
    // table aside, so it takes no cut, reliable or local
    val mergeDir = Files.createTempDirectory("graft-ckpt-merge").toString
    val mergeReliable = withCheckpointDir(spark, s"graftfs://$mergeDir")(merged())
    assert(filesUnder(mergeDir).isEmpty)
    // the helpers cleared the dir: the same calls cut locally and write
    // nothing more under the reliable dir
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val written = filesUnder(bm25Dir)
    assert(merged() === mergeReliable)
    assert(mergeReliable === Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    assert(bm25() === bm25Reliable)
    assert(bm25Reliable.map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(filesUnder(bm25Dir) === written)
  }
}

object LineageSpec {
  private val entered = new CountDownLatch(1)
  private val released = new CountDownLatch(1)
}
