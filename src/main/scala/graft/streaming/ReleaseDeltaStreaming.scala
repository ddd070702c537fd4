package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming twin of the d94 release-delta card
  * ([[graft.ext.DataQuality.releaseDelta]]): the new release (v2)
  * arrives as a document stream instead of a finished snapshot, and the
  * per-source accounting accumulates ADDITIVELY across micro-batches —
  * the same mergeable-aggregate posture as the d88 data card and the LM
  * counts lifecycle.
  *
  * The key observation that makes the delta streamable WITHOUT ever
  * re-scanning v2 or holding a doc-id set: every v2 doc is classified
  * against the static v1 snapshot at admission (added / changed /
  * unchanged — a doc-id left join), and REMOVALS are recoverable at
  * report time by subtraction — per v1-source,
  * `n_removed = |v1| − matched-so-far` — because a v1 doc is "removed"
  * exactly when no batch ever matched it. So the state is sources-sized
  * (two contribution rows per source per batch, summed), never
  * corpus-sized.
  *
  * Contract: each doc_id appears in AT MOST ONE batch of the v2 stream
  * (the disjoint-doc admission contract every index lifecycle here
  * relies on); a doc re-delivered in a later batch would double-count.
  * Exactly-once versus engine replays is the standard marker contract
  * of [[DocIndexStreaming]]: versioned state dirs, marker commit,
  * replayed batches no-op.
  *
  * Scale shape: per batch, ONE doc_id-keyed left join (batch side is
  * micro-batch-sized; v1 shuffles once per batch — callers with a big
  * v1 should persist it bucketed by doc_id so the join co-locates scan-
  * side) into a map-side-combinable per-source aggregate; the state
  * merge unions two sources-sized relations. The report is a
  * sources-sized full-outer join. No corpus-sized state anywhere. */
object ReleaseDeltaStreaming {

  private val stateSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("n_added", LongType), StructField("n_changed", LongType),
    StructField("n_unchanged", LongType), StructField("tok_added", LongType),
    StructField("tok_delta_changed", LongType),
    StructField("n_matched", LongType), StructField("tok_matched", LongType)))

  private def fs(s: SparkSession, p: String) =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The committed delta state (empty before any commit): per source,
    * the v2-attributed counters (added/changed/unchanged docs and their
    * token movement) plus the v1-attributed match counters the removal
    * subtraction needs. */
  def currentState(s: SparkSession, statePath: String): DataFrame =
    DocIndexStreaming.latestVersion(s, statePath) match {
      case Some(v) => s.read.schema(stateSchema).parquet(s"$statePath/v$v")
      case None    => graft.LocalTable.of(s, stateSchema, Seq.empty[Row])
    }

  private def toks(c: Column): Column =
    graft.ext.TextStats.tokenCount(c).cast("long")

  /** One batch's sources-sized contribution: classify each batch doc
    * against v1 (added / changed / unchanged), then emit
    *   - one row per v2 source with the status and token counters
    *     (additions/changes are the NEW source's story — the same
    *     attribution as the batch operator's coalesce), and
    *   - one row per v1 source with the match counters (what the
    *     removal subtraction consumes — attributed to the OLD source,
    *     so a doc whose source column moved still settles v1's books).
    */
  private def batchContribution(batch: DataFrame, v1: DataFrame): DataFrame = {
    val b = batch.select(col("doc_id"), col("source").as("source_2"),
      col("text").as("text_2"), toks(col("text")).as("tok2"))
    val o = v1.select(col("doc_id"), lit(1L).as("in_v1"),
      col("source").as("source_1"),
      col("text").as("text_1"), toks(col("text")).as("tok1"))
    val joined = b.join(o, Seq("doc_id"), "left").select(
      col("source_2"), col("source_1"),
      when(col("in_v1").isNull, "added")
        .when(col("text_1") =!= col("text_2"), "changed")
        .otherwise("unchanged").as("st"),
      col("tok1"), col("tok2"))
    // attribution matches the batch operator EXACTLY: coalesce(new, old).
    // For a doc that moved to a NULL source this falls back to the OLD
    // source (the operator cannot distinguish a null v2 source from an
    // absent v2 row) — the property test caught the plain source_2
    // grouping diverging on exactly that case.
    val v2Side = joined
      .groupBy(coalesce(col("source_2"), col("source_1")).as("source")).agg(
      sum(when(col("st") === "added", 1L).otherwise(0L)).as("n_added"),
      sum(when(col("st") === "changed", 1L).otherwise(0L)).as("n_changed"),
      sum(when(col("st") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
      sum(when(col("st") === "added", col("tok2")).otherwise(0L))
        .as("tok_added"),
      sum(when(col("st") === "changed", col("tok2") - col("tok1"))
        .otherwise(0L)).as("tok_delta_changed"),
      lit(0L).as("n_matched"), lit(0L).as("tok_matched"))
    val v1Side = joined.filter(col("st") =!= "added")
      .groupBy(col("source_1").as("source")).agg(
        lit(0L).as("n_added"), lit(0L).as("n_changed"),
        lit(0L).as("n_unchanged"), lit(0L).as("tok_added"),
        lit(0L).as("tok_delta_changed"),
        count(lit(1)).as("n_matched"),
        sum(col("tok1")).as("tok_matched"))
    v2Side.unionByName(v1Side)
  }

  private def mergeState(cur: DataFrame, add: DataFrame): DataFrame =
    cur.unionByName(add).groupBy(col("source")).agg(
      sum(col("n_added")).as("n_added"),
      sum(col("n_changed")).as("n_changed"),
      sum(col("n_unchanged")).as("n_unchanged"),
      sum(col("tok_added")).as("tok_added"),
      sum(col("tok_delta_changed")).as("tok_delta_changed"),
      sum(col("n_matched")).as("n_matched"),
      sum(col("tok_matched")).as("tok_matched"))

  /** One admission: fold the batch's contribution into state version
    * `v<batchId>`, commit the marker. Counts MERGE (sums), so each
    * version REWRITES the sources-sized state — the fingerprint-index
    * pattern, not the postings pure union. Same exactly-once contract
    * as [[DocIndexStreaming]]. Public so specs and
    * hand-driven lifecycles can replay it without a streaming engine. */
  def admitBatch(batch: DataFrame, batchId: Long, v1: DataFrame,
      statePath: String): Unit = {
    if (batch.isEmpty) return
    val s = batch.sparkSession
    val committed = DocIndexStreaming.latestVersion(s, statePath)
    if (committed.exists(_ >= batchId)) return // replay of an admitted batch
    StagedCommit.commit(
      p => mergeState(currentState(s, statePath), batchContribution(batch, v1))
        .write.mode("overwrite").parquet(p),
      fs(s, statePath), s.sparkContext.hadoopConfiguration,
      s"$statePath/v$batchId",
      new Path(statePath, s"_COMMIT_v$batchId"))
    ()
  }

  /** The release-delta card from the current state — same columns and
    * semantics as the batch operator: removals are the v1 per-source
    * totals minus the matched-so-far counters, so the card is exact the
    * moment the v2 stream has delivered everything (and a valid
    * "removed-so-far upper bound" report at any point before). Sources
    * present only in v1 (everything removed, no v2 rows at all) appear
    * via the full-outer join; the source join is NULL-SAFE — a NULL
    * source is a real group on both sides. */
  def releaseDeltaFromState(state: DataFrame, v1: DataFrame): DataFrame = {
    val v1tot = v1.groupBy(col("source").as("v1_source")).agg(
      count(lit(1)).as("n_v1"), sum(toks(col("text"))).as("tok_v1"))
    def z(c: String): Column = coalesce(col(c), lit(0L))
    // Tripwire for the at-most-one-batch-per-doc_id admission contract:
    // a doc_id re-delivered across v2 batches double-counts n_matched,
    // driving n_removed negative — which the plain subtraction would
    // silently absorb into a corrupted card. A negative removal count is
    // ALWAYS a contract breach (you cannot match more v1 docs than v1
    // has), so it fails the report instead of shipping garbage.
    val nRemoved = z("n_v1") - z("n_matched")
    val guardedNRemoved = when(nRemoved < 0, raise_error(concat(
        lit("release-delta contract breach: n_matched > n_v1 for source '"),
        coalesce(col("source"), col("v1_source"), lit("<null>")),
        lit("' (a doc_id was delivered in more than one v2 batch)"))))
      .otherwise(nRemoved)
    state.join(v1tot, col("source") <=> col("v1_source"), "full_outer")
      .select(
        coalesce(col("source"), col("v1_source")).as("source"),
        z("n_added").as("n_added"),
        guardedNRemoved.as("n_removed"),
        z("n_changed").as("n_changed"),
        z("n_unchanged").as("n_unchanged"),
        z("tok_added").as("tok_added"),
        (z("tok_v1") - z("tok_matched")).as("tok_removed"),
        z("tok_delta_changed").as("tok_delta_changed"),
        (z("tok_added") - (z("tok_v1") - z("tok_matched"))
          + z("tok_delta_changed")).as("net_token_delta"))
      // drop all-zero phantom groups a source-free corpus could mint
      .filter(col("n_added") + col("n_removed") + col("n_changed")
        + col("n_unchanged") > 0)
  }

  /** The streaming writer: the v2 release as a document stream
    * (doc_id, source, text), folded into the persisted per-source delta
    * state per batch; `v1` is the static previous release. Report any
    * time via `releaseDeltaFromState(currentState(...), v1)`. */
  def releaseDeltaStream(v2docs: DataFrame, v1: DataFrame, statePath: String,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    v2docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitBatch(batch, batchId, v1, statePath)
      }
}
