package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming maintenance of the BM25 postings index — the s24 family's
  * persisted-index posture run forever over a document stream: each
  * micro-batch's postings land as their OWN immutable `b<batchId>` root
  * and the reader unions the committed roots; [[compactPostings]] folds
  * them into one `c<id>` root so the union stays bounded on a
  * long-lived stream.
  *
  * Exactly-once contract, spelled out (a naive read-append-overwrite
  * breaks in two ways):
  *   - every root is committed by CREATING a marker file
  *     (`_COMMIT_v<batchId>` for a batch, `_COMMIT_c<id>` for a fold),
  *     written LAST through [[StagedCommit]] — file creation is atomic,
  *     so a crash mid-write leaves the previous markers authoritative
  *     and readers never see a partial root (no delete-then-rename
  *     window);
  *   - a REPLAYED batch (foreachBatch redelivery after a crash between
  *     the marker and the engine checkpoint) finds its own marker
  *     already committed and skips the write — without this, the replay
  *     would add the batch's postings twice and inflate tf/df/BM25.
  *
  * [[latestVersion]] is the one reader of that marker contract; the
  * release-delta and contamination lifecycles commit their versioned
  * state the same way and resolve it through it.
  *
  * foreachBatch serializes batches, so the index seen after batch N
  * holds exactly batches 0..N; StreamingSpec proves the streamed index
  * equals a from-scratch build and the replay no-op. */
object DocIndexStreaming {

  private def fs(s: SparkSession, p: String) =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The committed version, if any — the max id among `_COMMIT_v<id>`
    * marker files. A marker either exists or it doesn't (file creation
    * is the atomic commit point), so no state transition ever passes
    * through "no committed version": a crash before the marker leaves
    * the previous commit authoritative, a crash after it leaves the new
    * one — there is no delete-then-rename window to die in. Old markers
    * are retained (tiny) as the commit history. */
  def latestVersion(s: SparkSession, indexPath: String): Option[Long] = {
    val f = fs(s, indexPath)
    val dir = new Path(indexPath)
    if (!f.exists(dir)) None
    else {
      val ids = f.listStatus(dir).toSeq
        .map(_.getPath.getName)
        .filter(_.startsWith("_COMMIT_v"))
        .map(_.stripPrefix("_COMMIT_v").toLong)
      if (ids.isEmpty) None else Some(ids.max)
    }
  }

  private val postingsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("term", org.apache.spark.sql.types.StringType),
    StructField("tf", LongType)))

  /** The committed postings index: the latest committed COMPACTED root
    * (if any) unioned with every committed batch root newer than it.
    * Under the disjoint-doc admission contract an append is a PURE
    * UNION ([[graft.ext.Retrieval.appendToPostings]]), so — unlike a
    * count index, which must rewrite merged counts per version — each
    * batch's postings land as their OWN immutable
    * `b<batchId>` directory (a plain INSERT through a table format) and
    * the reader unions the committed roots. Per-root reads, not one
    * multi-path read (the multi-root lesson from
    * [[AnnIndexStreaming]]). Without [[compactPostings]] the union
    * grows one leg per batch forever — a long-lived stream degrades
    * every query's plan even though each leg is tiny — so production
    * runs a periodic compaction and the reader's recent-batch union
    * stays bounded by the compaction interval. */
  private[graft] def currentPostings(s: SparkSession, indexPath: String): DataFrame =
    readPostingsRoots(s, rootPaths(indexPath, postingsRoots(s, indexPath)))

  /** Reader-view roots for ONE directory listing: the latest committed
    * compacted root (if any) plus every committed batch root newer than
    * it. Factored so [[compactPostings]] folds EXACTLY the roots of a
    * single listing — see its docstring for why re-listing would race. */
  private def rootPaths(indexPath: String,
      listing: (Option[Long], Seq[Long])): Seq[String] = {
    val (cMax, batchIds) = listing
    cMax.map(c => s"$indexPath/c$c").toSeq ++
      batchIds.filter(id => cMax.forall(id > _)).map(id => s"$indexPath/b$id")
  }

  private def readPostingsRoots(s: SparkSession,
      roots: Seq[String]): DataFrame =
    if (roots.isEmpty) graft.LocalTable.of(s, postingsSchema, Seq.empty[Row])
    else roots.map(r => s.read.schema(postingsSchema).parquet(r))
      .reduce(_ unionByName _)

  /** (latest committed compaction id, ascending committed batch ids). */
  private def postingsRoots(s: SparkSession,
      indexPath: String): (Option[Long], Seq[Long]) = {
    val f = fs(s, indexPath)
    val dir = new Path(indexPath)
    val names =
      if (!f.exists(dir)) Seq.empty[String]
      else f.listStatus(dir).toSeq.map(_.getPath.getName)
    (names.filter(_.startsWith("_COMMIT_c"))
       .map(_.stripPrefix("_COMMIT_c").toLong).sorted.lastOption,
     names.filter(_.startsWith("_COMMIT_v"))
       .map(_.stripPrefix("_COMMIT_v").toLong).sorted)
  }

  /** Fold the current reader view (previous compacted root + committed
    * batch roots) into ONE merged root `c<maxBatchId>`, committed by
    * creating `_COMMIT_c<maxBatchId>` — the log-structured compaction
    * that bounds [[currentPostings]]'s union legs on a long-lived
    * stream. Append semantics are untouched: postings are disjoint-doc
    * rows, so the merged root is a byte-equivalent re-layout, and
    * batches admitted after the fold keep landing as pure-union
    * `b<id>` roots until the next compaction. Same crash contract as
    * every marker commit here: a crash mid-write leaves the marker
    * absent and the half-written `c` dir invisible; a re-run overwrites
    * it. Single-writer by design (call between batches — foreachBatch
    * serializes); readers are safe at any time because they resolve the
    * max committed compaction ONCE. Old roots are retained for
    * time-travel/GC, invisible to readers. */
  def compactPostings(s: SparkSession, indexPath: String): Boolean =
    compactPostingsImpl(s, indexPath, () => ())

  /** [[compactPostings]] with a test seam between the fold write and the
    * marker commit, so the tripwire spec can inject a concurrent commit
    * into exactly the window the single-writer contract protects. */
  private[graft] def compactPostingsImpl(s: SparkSession, indexPath: String,
      betweenFoldAndCommit: () => Unit): Boolean = {
    val f = fs(s, indexPath)
    val listing = postingsRoots(s, indexPath)
    val batchIds = listing._2
    if (batchIds.isEmpty) return false
    val hi = batchIds.max
    if (listing._1.exists(_ >= hi)) return false // every committed batch already folded
    // Fold EXACTLY the roots of this ONE listing. Re-listing (e.g. via
    // currentPostings) between resolving `hi` and reading the fold input
    // would race an external-cadence compactor's concurrent batch commit:
    // a b<hi+1> landing between the two listings would be folded into
    // c<hi> yet still unioned by readers (id > hi), duplicating its
    // postings and inflating tf/df/BM25.
    //
    // The fold commits through [[StagedCommit]] (stage → claim-by-rename
    // → marker), so a same-hi compactor can never clobber a committed
    // c<hi> dir, PLUS the single-writer tripwire as its abortIf: re-list
    // before publishing — if the layout changed during the fold (a
    // writer committed a batch past our fold point, or another compactor
    // committed a fold at/above ours), a concurrent writer was active
    // and our fold raced it: ABORT instead of publishing. The abort
    // corrupts nothing — the staging dir is deleted, the reader view
    // stays the previous compaction plus every committed batch root, and
    // the next compaction re-folds from a fresh listing. Cost: one
    // directory listing per fold.
    StagedCommit.commit(
      p => readPostingsRoots(s, rootPaths(indexPath, listing))
        .write.mode("overwrite").parquet(p),
      f, s.sparkContext.hadoopConfiguration,
      s"$indexPath/c$hi", new Path(indexPath, s"_COMMIT_c$hi"),
      beforeClaim = betweenFoldAndCommit,
      abortIf = () => {
        val after = postingsRoots(s, indexPath)
        val hit = after._2.exists(_ > hi) || after._1.exists(_ >= hi)
        if (hit) System.err.println(s"[graft] compactPostings($indexPath): " +
          s"concurrent commit detected during fold at hi=$hi " +
          s"(batches=${after._2.mkString(",")}, compacted=${after._1}) — " +
          "single-writer contract violated; aborting the fold " +
          "(readers unaffected)")
        hit
      })
  }

  /** State-keyed compaction trigger — the [[AnnIndexStreaming]]
    * `maybeRetrain` posture applied to the postings log: fold only when
    * the READER's union has grown past `maxUnionLegs` roots (latest
    * compacted root + trailing committed batches), and no-op otherwise.
    * Keying on observed layout rather than batch cadence means a bursty
    * stream compacts exactly as often as its read-plan degradation
    * demands — an every-N-batches cadence either folds too eagerly
    * (rewrite cost) or lets a fast stream's plan grow N legs between
    * folds regardless of their size. Self-stabilizing under replays for
    * the same reason maybeRetrain is: the decision re-derives from the
    * committed layout, and a redundant fold is a byte-equivalent
    * re-layout. Returns whether a fold ran. */
  def maybeCompactPostings(s: SparkSession, indexPath: String,
      maxUnionLegs: Int): Boolean = {
    require(maxUnionLegs >= 1, "maxUnionLegs must be >= 1")
    val legs = rootPaths(indexPath, postingsRoots(s, indexPath)).size
    // true only when a fold COMMITTED — a tripwire-aborted fold reports
    // false so callers keyed on the result retry next trigger
    legs > maxUnionLegs && compactPostings(s, indexPath)
  }

  /** One postings admission: tokenize+aggregate the batch and write its
    * postings as the immutable `b<batchId>` root, commit the marker.
    * Nothing else updates — every BM25 corpus statistic (df, dl, N,
    * avgdl) re-derives from the postings aggregate at query time.
    * Exactly-once per the object doc: staged write, marker commit,
    * replay no-op. */
  def admitPostingsBatch(batch: DataFrame, batchId: Long,
      indexPath: String): Unit = {
    if (batch.isEmpty) return
    val s = batch.sparkSession
    val f = fs(s, indexPath)
    val committed = latestVersion(s, indexPath)
    if (committed.exists(_ >= batchId)) return // replay of an admitted batch
    StagedCommit.commit(
      p => graft.ext.Retrieval.postings(batch)
        .write.mode("overwrite").parquet(p),
      f, s.sparkContext.hadoopConfiguration,
      s"$indexPath/b$batchId",
      new Path(indexPath, s"_COMMIT_v$batchId"))
    ()
  }

  /** The streaming writer for the postings lifecycle: a document stream
    * (doc_id, text) indexed per batch. Queries run any time afterwards
    * via `Retrieval.bm25TopKFromPostings(currentPostings(...), ...)` —
    * the persisted-index posture, corpus text never re-read.
    * `compactEvery` > 0 folds the committed roots every that-many
    * batches ([[compactPostings]]), bounding the reader's union legs on
    * a long-lived stream; `maxUnionLegs` > 0 instead folds whenever the
    * reader's union exceeds that many roots ([[maybeCompactPostings]] —
    * the state-keyed trigger); both 0 leaves compaction to an external
    * cadence. */
  def postingsStream(docs: DataFrame, indexPath: String,
      checkpointDir: String, compactEvery: Int = 0, maxUnionLegs: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    require(compactEvery >= 0, "compactEvery must be >= 0")
    require(maxUnionLegs >= 0, "maxUnionLegs must be >= 0")
    require(compactEvery == 0 || maxUnionLegs == 0,
      "pick ONE compaction trigger: batch cadence or union-leg count")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitPostingsBatch(batch, batchId, indexPath)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          compactPostings(batch.sparkSession, indexPath)
          ()
        } else if (maxUnionLegs > 0) {
          maybeCompactPostings(batch.sparkSession, indexPath, maxUnionLegs)
          ()
        }
      }
  }
}
