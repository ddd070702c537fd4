package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ext.{Dedup, TextStats}

/** Decontaminate-on-ingest — the d28 n-gram contamination check as the
  * persisted-artifact lifecycle every production corpus pipeline
  * actually runs: the evaluation/benchmark sets are admitted ONCE into
  * a versioned DISTINCT-n-gram index (benchmarks are added rarely —
  * a new eval suite, a new held-out split), and training documents are
  * scored against the committed index per micro-batch forever after.
  * Benchmark text is never re-read, and the index is MBs against a
  * 100 TB corpus, so every scoring batch is one broadcast join with
  * zero shuffle of corpus text (see
  * [[graft.ext.TextStats.ngramContaminationAgainst]]).
  *
  * Exactly-once: benchmark admissions use the standard versioned-dir +
  * marker commit ([[DocIndexStreaming]]'s contract — the
  * distinct-n-gram set merges by union-distinct, so each version
  * rewrites the index; replays no-op). Scoring is STATELESS per batch,
  * so its exactly-once is overwrite-by-batch-dir: a replayed batch
  * rewrites identical bytes.
  *
  * Forward-only semantics, spelled out: a training batch scored before
  * a benchmark admission is NOT re-scored when the index later grows —
  * the same forward-only contract as every probe-the-index admission
  * here. Pipelines that admit a new benchmark re-screen the already-
  * released corpus with one batch [[graft.ext.TextStats.ngramContaminationAgainst]]
  * run over the delta n-grams. */
object ContaminationStreaming {

  private val ngSchema = StructType(Seq(StructField("ng", StringType)))

  private def fs(s: SparkSession, p: String) =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The n-gram width the committed index was built with, if any
    * admission has persisted one (a tiny `_NGRAM_N` metadata file
    * written at first admission). The width is PART of the index — a
    * score or admission run at a different `n` shares no n-grams with
    * the committed set and silently reports ~zero contamination, the
    * worst possible failure for a decontamination safety check — so
    * both entry points validate against this instead of trusting a
    * docstring contract. */
  def persistedN(s: SparkSession, indexPath: String): Option[Int] = {
    val f = fs(s, indexPath)
    val p = new Path(indexPath, "_NGRAM_N")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
      finally in.close()
    }
  }

  private def writePersistedN(s: SparkSession, indexPath: String,
      n: Int): Unit = {
    val out = fs(s, indexPath).create(new Path(indexPath, "_NGRAM_N"), true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Validate `n` against the committed index's metadata. The check is
    * keyed on a COMMITTED VERSION existing: metadata without a committed
    * index is the orphan of a crashed first admission (meaningless —
    * overwritable), while a committed index WITHOUT metadata predates
    * the width contract and cannot be verified — refusing to guess is
    * the only safe answer (stamping the caller's n would certify a
    * possibly-wrong width forever, the exact silent-zero-hits corruption
    * the metadata exists to prevent). */
  private def requireMatchingN(s: SparkSession, indexPath: String, n: Int,
      op: String): Unit =
    if (DocIndexStreaming.latestVersion(s, indexPath).isDefined)
      persistedN(s, indexPath) match {
        case Some(built) =>
          require(built == n,
            s"$op called with n=$n against a benchmark index built with " +
              s"n=$built at $indexPath — mismatched widths share no " +
              "n-grams, so scoring would silently report zero contamination")
        case None => throw new IllegalStateException(
          s"$op: committed benchmark index at $indexPath has no _NGRAM_N " +
            "width metadata (built before the width contract) — its n " +
            "cannot be verified; write _NGRAM_N manually after confirming " +
            "the build width, or rebuild the index")
      }

  /** The committed benchmark n-gram index (empty before any commit):
    * one distinct `ng` string per row. */
  def currentBenchmarkNgrams(s: SparkSession, indexPath: String): DataFrame =
    DocIndexStreaming.latestVersion(s, indexPath) match {
      case Some(v) => s.read.schema(ngSchema).parquet(s"$indexPath/v$v")
      case None    => graft.LocalTable.of(s, ngSchema, Seq.empty[Row])
    }

  /** One benchmark admission: shingle the batch's `text` into distinct
    * `n`-grams, union-distinct into version `v<batchId>`, commit the
    * marker. Distinct-union is associative and idempotent, so the grown
    * index is provably ≡ a from-scratch build over every admitted set —
    * and unlike the counting indexes, re-admitting overlapping CONTENT
    * is harmless (set semantics), only the batchId replay guard is
    * needed for exactly-once. */
  def admitBenchmarkBatch(batch: DataFrame, batchId: Long, indexPath: String,
      n: Int): Unit = {
    require(n > 0, "n must be positive")
    if (batch.isEmpty) return
    val s = batch.sparkSession
    requireMatchingN(s, indexPath, n, "admitBenchmarkBatch")
    val committed = DocIndexStreaming.latestVersion(s, indexPath)
    if (committed.exists(_ >= batchId)) return // replay of an admitted batch
    // (re)stamp the width BEFORE the first version commit so any reader
    // of a committed index always finds the metadata. Stamping is keyed
    // on NO committed version existing — an _NGRAM_N left by a crashed
    // first admission describes no index and is safely overwritten at
    // whatever width the (re)build actually uses.
    if (committed.isEmpty) writePersistedN(s, indexPath, n)
    StagedCommit.commit(
      p => currentBenchmarkNgrams(s, indexPath)
        .unionByName(batch
          .select(explode(Dedup.shingles(col("text"), n)).as("ng")))
        .distinct()
        .write.mode("overwrite").parquet(p),
      fs(s, indexPath), s.sparkContext.hadoopConfiguration,
      s"$indexPath/v$batchId",
      new Path(indexPath, s"_COMMIT_v$batchId"))
    ()
  }

  /** Score one training batch (doc_id, text) against the CURRENT
    * committed benchmark index — stateless, so callers can run it any
    * time (ad-hoc re-screens included). */
  def scoreBatch(batch: DataFrame, indexPath: String, n: Int,
      threshold: Double): DataFrame = {
    requireMatchingN(batch.sparkSession, indexPath, n, "scoreBatch")
    TextStats.ngramContaminationAgainst(batch,
      currentBenchmarkNgrams(batch.sparkSession, indexPath), n, threshold)
  }

  /** The decontaminate-on-ingest writer: each training micro-batch is
    * scored against the committed benchmark index and its per-doc
    * verdicts land in `scoredPath/batch=<id>` (overwrite — replays
    * rewrite identical bytes). Scoring mutates nothing, so there is no
    * state to advance. */
  def contaminationStream(docs: DataFrame, indexPath: String,
      scoredPath: String, checkpointDir: String, n: Int, threshold: Double)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          scoreBatch(batch, indexPath, n, threshold)
            .write.mode("overwrite").parquet(s"$scoredPath/batch=$batchId")
      }
}
