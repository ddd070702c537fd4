package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.IvfIndex
import graft.plans.NearestCentroidExpr

/** Streaming maintenance of the IVF ANN index — FAISS's
  * train-once/add-many contract run forever over an embedding stream
  * (the s22 lifecycle's streaming face): a base build trains
  * the quantizer and writes the base inverted lists; each micro-batch
  * is assigned with the FROZEN quantizer and lands as its OWN
  * per-batch list layout (`b<batchId>/centroid_id=…`), committed by
  * creating an atomic `_COMMIT_batch_<batchId>` marker file.
  *
  * Why per-batch directories instead of the batch path's in-place
  * `mode(append)` ([[IvfIndex.append]]): an in-place append cannot be
  * made exactly-once under foreachBatch redelivery — a replay after a
  * crash between the append and the engine checkpoint would
  * double-insert rows, and partially-written files become visible to
  * readers immediately. Per-batch dirs restore both properties: the
  * marker is the atomic commit point (an uncommitted dir is never
  * unioned and a replay overwrites it byte-for-byte), and a replayed
  * batch sees its own marker and no-ops. Probes union the base and
  * every COMMITTED batch dir; each root is centroid_id-partitioned and
  * the `centroid_id IN (probe lists)` filter pushes through the Union
  * into every root's scan, so a probe still reads ~nProbe/k of the
  * data.
  *
  * Root count grows one-per-batch exactly like any log-structured
  * layout; [[compact]] bounds it: fold the current roots into a fresh
  * base, RE-TRAINING the quantizer on the grown corpus — the moment a
  * production pipeline re-trains anyway, because a quantizer fitted on
  * the original archive drifts as the corpus distribution moves. A base
  * commit is `_COMMIT_base_v<version>_f<fold>`: `version` is a monotone
  * counter naming the dir, `fold` is the first batch id NOT folded —
  * kept SEPARATE so a fold with no unfolded batches (a pure re-train or
  * takedown) does not advance past the stream's next batch id and
  * silently orphan it. Readers resolve the max committed base ONCE and
  * derive everything (centroids path, fold point, batch roots) from
  * that single resolution, so a compact landing mid-read cannot mix an
  * old base with a new fold point. An `exclude` set turns the fold into
  * the ANN takedown path — the only way to DELETE from inverted lists
  * without transactional rewrites. */
object AnnIndexStreaming {

  private def fs(s: SparkSession, p: String) =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def markers(s: SparkSession, indexPath: String,
      prefix: String): Seq[String] = {
    val f = fs(s, indexPath)
    val dir = new Path(indexPath)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))
  }

  /** One committed-base resolution: (version, fold point). Every reader
    * entry point resolves this ONCE and threads it through. */
  final case class Base(version: Long, fold: Long)

  private val BaseMarker = """v(\d+)_f(\d+)""".r

  /** The committed base with the highest (version, fold). The fold is
    * the tiebreak because same-version racers commit under DIFFERENT
    * fold-point markers (each names its own dir — see [[basePath]]);
    * both are self-consistent (the fold rides in both the marker and
    * the dir name), and the higher fold has folded more batches. */
  def currentBase(s: SparkSession, indexPath: String): Base = {
    val bases = markers(s, indexPath, "_COMMIT_base_").collect {
      case BaseMarker(v, f) => Base(v.toLong, f.toLong)
    }
    if (bases.isEmpty) throw new IllegalStateException(
      s"no committed base under $indexPath — call init() first")
    bases.maxBy(b => (b.version, b.fold))
  }

  /** A base's directory carries BOTH marker coordinates
    * (`base_v<version>_f<fold>`), keeping marker ↔ dir strictly 1:1 —
    * two compactors racing the same next-version but different fold
    * points claim DIFFERENT dirs instead of fighting over one — and the
    * build lives under ONE parent (`<dir>/ivf` + `<dir>/ivf.centroids`)
    * so the claim is a single atomic rename: no interleaving can ever
    * publish one build's lists with another's centroids. */
  def basePath(indexPath: String, b: Base): String =
    s"$indexPath/base_v${b.version}_f${b.fold}/ivf"

  private def commitBaseDirs(s: SparkSession, indexPath: String, b: Base,
      write: String => Unit): Boolean =
    StagedCommit.commit(
      // stage the whole parent: write() populates `<stage>/ivf` (+ its
      // `.centroids` sibling INSIDE the stage), one rename claims both
      p => write(s"$p/ivf"),
      fs(s, indexPath), s.sparkContext.hadoopConfiguration,
      s"$indexPath/base_v${b.version}_f${b.fold}",
      new Path(indexPath, s"_COMMIT_base_v${b.version}_f${b.fold}"))

  /** Train the quantizer on the archive corpus and commit base v0
    * (fold point 0: every future batch rides alongside it). Staged like
    * every versioned commit here ([[StagedCommit]]): two concurrent
    * inits cannot clobber each other's committed base. Fails fast on an
    * EMPTY archive (an index with an empty quantizer can admit nothing
    * and — because a committed base refuses re-init — could never be
    * repaired) and on an ALREADY-INITIALIZED path (a silent no-op would
    * discard the caller's build; re-training an existing index is
    * [[compact]]'s job). */
  def init(archive: DataFrame, vecCol: String, k: Int, iters: Int,
      indexPath: String): Unit = {
    val s = archive.sparkSession
    // cheap marker listing FIRST — an already-initialized path must not
    // cost a Spark job (or misreport as "empty archive")
    if (markers(s, indexPath, "_COMMIT_base_").nonEmpty)
      throw new IllegalStateException(
        s"init: $indexPath already has a committed base — use compact() " +
          "to re-train it, or point at a fresh indexPath")
    require(!archive.isEmpty,
      s"init: empty archive for $indexPath — an index cannot be " +
        "initialized without training vectors")
    // the pre-check is TOCTOU against a concurrent init: StagedCommit
    // detects the racer's marker and returns false — surface it, a
    // silent no-op would discard this caller's build
    if (!commitBaseDirs(s, indexPath, Base(0L, 0L),
        p => { IvfIndex.build(archive, vecCol, k, iters, p); () }))
      throw new IllegalStateException(
        s"init: lost an initialization race on $indexPath — another " +
          "writer committed a base first")
  }

  private def committedBatchIds(s: SparkSession, indexPath: String,
      base: Base): Seq[Long] =
    markers(s, indexPath, "_COMMIT_batch_").map(_.toLong)
      .filter(_ >= base.fold).sorted

  /** Ids of batches whose commit marker exists AND that are not yet
    * folded into the committed base, ascending. */
  private[graft] def committedBatches(s: SparkSession, indexPath: String): Seq[Long] =
    committedBatchIds(s, indexPath, currentBase(s, indexPath))

  /** One admission: assign the batch with the frozen CURRENT-base
    * quantizer, write its lists to `b<batchId>`, commit the marker.
    * Idempotent per batchId (see class doc). Public so the spec can
    * drive and replay it without a streaming engine. */
  def admitBatch(batch: DataFrame, batchId: Long, vecCol: String,
      indexPath: String): Unit =
    admitBatchImpl(batch, batchId, vecCol, indexPath)

  /** `beforeClaim` is a test seam into the assign→claim window — the
    * race the quantizer-coherence tripwire below closes. */
  private[graft] def admitBatchImpl(batch: DataFrame, batchId: Long,
      vecCol: String, indexPath: String,
      beforeClaim: () => Unit = () => ()): Unit = {
    if (batch.isEmpty) return
    val s = batch.sparkSession
    val f = fs(s, indexPath)
    val marker = new Path(indexPath, s"_COMMIT_batch_$batchId")
    if (f.exists(marker)) return // replay
    val base = currentBase(s, indexPath)
    val cs = IvfIndex.loadCentroids(s, basePath(indexPath, base))
    require(cs.nonEmpty, s"admitBatch: empty quantizer at $indexPath " +
      s"base v${base.version} — the base was built on an empty corpus; rebuild")
    // width tripwire vs the committed quantizer: a mismatched vector
    // would assign-and-score silently wrong forever (the cosine kernel
    // truncates) — fail the admission; the marker is never created, so
    // state stays intact and a fixed batch re-admits cleanly
    val outcome = StagedCommit.commitOutcome(
      p => IvfIndex.writeLists(
        IvfIndex.requireDims(batch, vecCol, cs.head.length)
          .withColumn("centroid_id",
            NearestCentroidExpr.nearestCentroid(col(vecCol), cs)), p),
      f, s.sparkContext.hadoopConfiguration,
      s"$indexPath/b$batchId", marker,
      beforeClaim = beforeClaim,
      // Quantizer-coherence tripwire: a concurrent compact (another
      // session retraining the same tree — the single-writer contract
      // already violated) that commits a NEW base between our
      // assignment and the claim would publish centroid_ids computed
      // under the OLD quantizer into the new base's read view — probes
      // would prune against the new centroids and silently miss these
      // vectors until the next fold reassigns them. Abort instead; the
      // throw below makes the caller retry, re-assigning under the new
      // base. In-session this never fires (admit and retrain alternate
      // on one thread); the residual abortIf→marker sliver is bounded
      // and self-healing — the next fold reassigns everything, and the
      // health check sees the degraded recall and triggers it.
      abortIf = () => currentBase(s, indexPath) != base)
    // Every non-committed outcome needs a retry, but for different
    // reasons — and each is named by its TYPED cause, never by
    // re-probing the base after the fact (a lost claim plus an
    // unrelated concurrent retrain would re-probe as "tripwire",
    // sending an operator hunting a retrain that aborted nothing):
    //   Tripped    — the tripwire above fired; the retry re-assigns
    //                under the new quantizer.
    //   LostClaim  — a live same-id twin won the claim and its marker
    //                is still pending; the retry no-ops once it lands,
    //                or rescues the batch if the twin crashed in its
    //                claim→marker window.
    //   RacerCommitted — the twin's marker is already down: the batch
    //                IS committed (equivalent content); nothing to do.
    outcome match {
      case StagedCommit.Outcome.Committed
         | StagedCommit.Outcome.RacerCommitted => ()
      case StagedCommit.Outcome.Tripped =>
        throw new IllegalStateException(
          s"admitBatch($batchId): the committed base changed " +
            "mid-admission (a concurrent retrain/compact on this index " +
            "tree) — the staged assignment used the old quantizer and " +
            "was discarded; retry the batch to re-assign under the new " +
            "base")
      case StagedCommit.Outcome.LostClaim =>
        throw new IllegalStateException(
          s"admitBatch($batchId): lost the claim to a concurrent " +
            "same-id writer whose marker is still pending — retry the " +
            "batch (it no-ops once the twin's marker lands, or rescues " +
            "the batch if the twin crashed)")
    }
  }

  private def listsOf(s: SparkSession, indexPath: String,
      base: Base): DataFrame =
    (basePath(indexPath, base) +:
        committedBatchIds(s, indexPath, base).map(id => s"$indexPath/b$id"))
      .map(r => s.read.parquet(r))
      .reduce(_.unionByName(_))

  /** The grown index: committed base ∪ its unfolded committed batches.
    * Each root is read separately (its own partition discovery) and
    * unioned, so a centroid_id filter prunes inside every root. */
  private[graft] def currentLists(s: SparkSession, indexPath: String): DataFrame =
    listsOf(s, indexPath, currentBase(s, indexPath))

  /** Fold base + committed batches into a fresh base, RE-TRAINING the
    * quantizer on the grown corpus (k may change — the occupancy knob
    * stays ∝ √N as the corpus grows). The new fold point is one past
    * the max folded batch id — or UNCHANGED when no batches were folded
    * (a pure re-train/takedown must not advance past the stream's next
    * batch id, which would orphan it). Commit goes through
    * [[StagedCommit]] like every other versioned-dir writer here: the
    * build stages into a hidden dir, the `base_v<N>_f<M>` parent is
    * claimed by no-overwrite rename, the marker lands last — a crash
    * anywhere before the marker leaves the old base authoritative and
    * only marker-less orphans behind (invisible to readers, cleared by
    * the next commit); committed dirs are never overwritten.
    * `exclude` drops vectors during the fold — the
    * takedown/GDPR path for a layout whose per-list files are
    * immutable. Old roots are retained for time-travel/GC, invisible
    * to readers. Single-writer by design (the streaming operator calls
    * it between batches); readers are safe at any time. */
  def compact(s: SparkSession, indexPath: String, vecCol: String,
      k: Int, iters: Int, exclude: Set[Long] = Set.empty): Unit = {
    val base = currentBase(s, indexPath)
    val folded = committedBatchIds(s, indexPath, base)
    val next = Base(
      version = base.version + 1,
      fold = if (folded.isEmpty) base.fold else folded.max + 1)
    val corpus = listsOf(s, indexPath, base).drop("centroid_id")
    val kept =
      if (exclude.isEmpty) corpus
      else corpus.filter(!col("vec_id").isin(exclude.toSeq: _*))
    // a takedown that empties the corpus would commit an empty-quantizer
    // base — the irreparable state init() refuses to create (re-init is
    // forbidden, and a further compact has nothing to train on). Refuse
    // it: deleting the LAST vectors means deleting the index. Checked
    // only on the exclude path — a plain fold cannot empty a corpus that
    // init() required non-empty, so the common retrain stays job-free.
    if (exclude.nonEmpty) require(!kept.isEmpty,
      s"compact: the exclude set would empty $indexPath — an empty " +
        "quantizer cannot be rebuilt; delete the index instead")
    // staged commit ([[StagedCommit]]): two compactors racing the same
    // next version stage independently and exactly one claims the
    // base_v<N>_f<M> parent dir — the loser aborts without touching the
    // winner's committed build
    commitBaseDirs(s, indexPath, next,
      p => { IvfIndex.build(kept, vecCol, k, iters, p); () })
    ()
  }

  /** Top-k cosine probe over the grown index — [[IvfIndex.probe]]'s
    * contract over the log-structured layout. The base is resolved once
    * for centroids AND roots, so a concurrent compact cannot mix a new
    * quantizer with old lists. */
  def probe(s: SparkSession, indexPath: String, queryVec: Array[Float],
      k: Int, nProbe: Int, excludeVecId: Option[Long] = None): DataFrame = {
    val base = currentBase(s, indexPath)
    IvfIndex.probeLists(listsOf(s, indexPath, base),
      IvfIndex.loadCentroids(s, basePath(indexPath, base)),
      queryVec, k, nProbe, excludeVecId)
  }

  /** The streaming writer: an embedding stream (vec_id, label, `vecCol`)
    * admitted into the index per micro-batch. Callers own trigger/start;
    * [[init]] must have built the base index first. */
  def annIndexStream(embeddings: DataFrame, indexPath: String,
      checkpointDir: String, vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    embeddings.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitBatch(batch, batchId, vecCol, indexPath)
      }

  /** The s27 health report evaluated over the CURRENT log-structured
    * index (committed base quantizer + grown lists) instead of a
    * from-scratch fit: recall@k of the frozen-quantizer probe against
    * brute force over the index's own holdings, plus occupancy
    * imbalance of the grown lists. One row — (n_queries, mean_recall,
    * n_lists, imbalance) — the same floored arithmetic as
    * [[graft.ext.Similarity.ivfRetrainTrigger]]. The base is resolved
    * ONCE for centroids and lists, so a compact landing mid-read cannot
    * mix models. */
  def indexHealth(s: SparkSession, indexPath: String, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val base = currentBase(s, indexPath)
    val cs = IvfIndex.loadCentroids(s, basePath(indexPath, base))
    val lists = listsOf(s, indexPath, base)
    val rec = graft.ext.Similarity
      .annRecallOverLists(lists, cs, queries, k, nProbe)
      .agg(sum(col("n_hits")).as("__hits"), count(lit(1)).as("__nq"))
      .select(col("__nq").cast("long").as("n_queries"),
        (floor(col("__hits").cast("double") / (col("__nq") * k) * 1e6 + 0.5)
          / 1e6).as("mean_recall"))
    val occ = lists.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vecs"))
      .agg(count(lit(1)).cast("long").as("n_lists"),
        (floor(max(col("n_vecs")).cast("double") /
          (sum(col("n_vecs")).cast("double") / count(lit(1))) * 1e6 + 0.5)
          / 1e6).as("imbalance"))
    rec.crossJoin(broadcast(occ))
  }

  /** The s27 keep/re-train decision CLOSED over the streaming
    * lifecycle: evaluate [[indexHealth]] against the held-out `queries`
    * and, on a breach (mean recall below `minRecall` OR imbalance above
    * `maxImbalance`), fold-and-re-train via [[compact]] (quantizer
    * refit on the grown corpus, `retrainK` lists — the √N occupancy
    * knob). Returns whether a retrain ran.
    *
    * Exactly-once posture: the decision is deliberately NOT
    * marker-gated — it is SELF-STABILIZING. A foreachBatch replay that
    * re-evaluates after an already-committed retrain sees the healthy
    * post-retrain index and no-ops; if health is still breached, a
    * second fold rebuilds an equivalent base (same corpus, same seeded
    * fit) through the same atomic single-marker cutover — never a
    * corrupt or mixed state, at worst a redundant build. That is the
    * correct semantics for a health trigger: it keys on observed state,
    * not on which batch happened to trip it. */
  def maybeRetrain(s: SparkSession, indexPath: String, vecCol: String,
      queries: DataFrame, k: Int, nProbe: Int, minRecall: Double,
      maxImbalance: Double, retrainK: Int, iters: Int): Boolean = {
    require(minRecall >= 0 && minRecall <= 1, "minRecall must be in [0,1]")
    require(maxImbalance >= 1, "maxImbalance must be >= 1")
    val h = indexHealth(s, indexPath, queries, k, nProbe).head()
    // empty `queries` ⇒ n_queries=0 and a NULL mean_recall, which
    // getAs[Double] would unbox to 0.0 — an unconditional retrain on
    // every check instead of a decision. Fail fast with the real cause.
    require(h.getAs[Long]("n_queries") > 0L,
      "maybeRetrain: `queries` is empty — mean recall is undefined; " +
        "supply a non-empty held-out query set")
    val breach = h.getAs[Double]("mean_recall") < minRecall ||
      h.getAs[Double]("imbalance") > maxImbalance
    if (breach) compact(s, indexPath, vecCol, retrainK, iters)
    breach
  }

  /** [[annIndexStream]] with the health loop wired in: every
    * `checkEvery` batches the just-grown index is health-checked
    * against the held-out `queries` and re-trained on breach — the
    * full FAISS-style ops loop (admit → monitor → re-train) as one
    * streaming writer. Batches admitted after a mid-stream retrain ride
    * the new base automatically ([[admitBatch]] resolves the committed
    * base per batch). */
  def annIndexStreamWithRetrain(embeddings: DataFrame, indexPath: String,
      checkpointDir: String, queries: DataFrame, k: Int, nProbe: Int,
      minRecall: Double, maxImbalance: Double, retrainK: Int, iters: Int,
      checkEvery: Int = 1, vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    require(checkEvery >= 1, "checkEvery must be >= 1")
    embeddings.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitBatch(batch, batchId, vecCol, indexPath)
        if ((batchId + 1) % checkEvery == 0) {
          maybeRetrain(batch.sparkSession, indexPath, vecCol, queries, k,
            nProbe, minRecall, maxImbalance, retrainK, iters)
          ()
        }
      }
  }
}
