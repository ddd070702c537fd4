package graft

import org.apache.spark.SessionCheckpointDir.{filesUnder, withCheckpointDir}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ext.{DataQuality, Retrieval, TextStats}
import graft.streaming.{AnnIndexStreaming, ContaminationStreaming,
  DocIndexStreaming, ReleaseDeltaStreaming}

/** End-to-end soak of the four persisted-index streaming lifecycles —
  * postings with state-keyed compaction, ANN admit + health-triggered
  * retrain, release-delta accounting, and decontaminate-on-ingest — run
  * CONCURRENTLY in one SparkSession against a rate-limited file source
  * (maxFilesPerTrigger=1) over the sf0.1 corpus, 20+ micro-batches per
  * stream, with `maybeCompactPostings` and `maybeRetrain` firing on
  * their own observed-state triggers mid-stream.
  *
  * The per-module MemoryStream specs prove each lifecycle's algebra in
  * isolation; what they CANNOT see is cross-lifecycle interaction —
  * four foreachBatch loops sharing one session (catalog, FileSystem
  * cache, AQE, shuffle service) while two of them rewrite their own
  * log-structured layouts. The soak's contract is the strongest one
  * available: after the storm, every artifact equals its from-scratch
  * batch recomputation exactly.
  *
  * Scale posture note: the final comparisons run distributed
  * (`exceptAll` both ways), not as driver-side collects — the same
  * check would run unchanged against a 100 TB corpus. */
class StreamingSoakSpec extends SparkSpec {

  private def symmetricEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Move the single part file of a coalesce(1) parquet write into the
    * landing dir under a deterministic name — the file-source "one more
    * file arrived" event. */
  private def stage(chunkDir: java.io.File, landing: java.io.File,
      name: String): Unit = {
    val part = chunkDir.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(fail(s"no part file in $chunkDir"))
    java.nio.file.Files.move(part.toPath,
      new java.io.File(landing, name).toPath)
  }

  test("four-lifecycle concurrent soak over sf0.1: 20+ rate-limited file-source batches per stream, compaction and retrain firing mid-stream; every final artifact equals batch recomputation") {
    val sfDir = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$sfDir/documents.parquet").exists(),
      "sf0.1 corpus not present")
    val base = java.nio.file.Files.createTempDirectory("graft-soak-").toFile
    def dir(n: String): java.io.File = {
      val f = new java.io.File(base, n); f.mkdirs(); f
    }
    val docsLanding = dir("landing_docs")
    val embLanding = dir("landing_emb")
    val postPath = s"$base/postings"
    val annPath = s"$base/ann"
    val deltaState = s"$base/delta_state"
    val benchIdx = s"$base/benchmark"
    val scoredPath = s"$base/scored"

    // ---- corpus + deterministic derived inputs -------------------------
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

    // v1 release: some docs changed (text tail), some moved (source
    // suffix), ~1/7 of v2 absent from v1 (⇒ "added"), plus 200 synthetic
    // v1-only docs (⇒ "removed"). Frozen once — the static previous
    // release every per-batch join reads.
    val removedRows = (0 until 200).map(j =>
      Row(10000L + j, s"src${j % 20}", s"retired r$j corpus line"))
    val v1 = docs
      .filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("source"), lit("_old"))).otherwise(col("source"))
          .as("source"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" v1 tail"))).otherwise(col("text"))
          .as("text"))
      .unionByName(LocalTable.of(spark, docs.schema, removedRows))
      .localCheckpoint()

    // benchmark eval set: ~1/97 of the corpus verbatim, so streamed
    // training batches contain REAL contamination hits
    val evalTexts = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("text")).localCheckpoint()
    // admitted ONCE, in two batches, before any scoring — the committed
    // index is complete for the whole soak (forward-only contract)
    ContaminationStreaming.admitBenchmarkBatch(
      evalTexts.filter(length(col("text")) % 2 === 0), 0L, benchIdx, n = 3)
    ContaminationStreaming.admitBenchmarkBatch(
      evalTexts.filter(length(col("text")) % 2 === 1), 1L, benchIdx, n = 3)

    // ANN: 200-vector archive trains base v0; 20 held-out archive
    // vectors are the health queries; the remaining 1800 stream in
    val archive = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
      .localCheckpoint()
    val heldOut = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      .localCheckpoint()
    AnnIndexStreaming.init(archive, "embedding", k = 8, iters = 0, annPath)

    // ---- pre-write the chunks (22 doc files, 21 embedding files) -------
    val nDocChunks = 22
    val nEmbChunks = 21
    (0 until nDocChunks).foreach { i =>
      docs.filter(pmod(col("doc_id"), lit(nDocChunks)) === i)
        .coalesce(1).write.parquet(s"$base/doc_chunks/$i")
    }
    (0 until nEmbChunks).foreach { i =>
      emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
        .filter(pmod(col("vec_id"), lit(nEmbChunks)) === i)
        .coalesce(1).write.parquet(s"$base/emb_chunks/$i")
    }

    // ---- the four concurrent streams -----------------------------------
    def docStream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(docsLanding.getPath)
    val embStream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(embLanding.getPath)

    val qPost = DocIndexStreaming.postingsStream(
        docStream.select(col("doc_id"), col("text")), postPath,
        s"$base/ckpt_post", maxUnionLegs = 4)
      .start()
    val qDelta = ReleaseDeltaStreaming.releaseDeltaStream(
        docStream, v1, deltaState, s"$base/ckpt_delta")
      .start()
    val qContam = ContaminationStreaming.contaminationStream(
        docStream.select(col("doc_id"), col("text")), benchIdx, scoredPath,
        s"$base/ckpt_contam", n = 3, threshold = 0.3)
      .start()
    // maxImbalance=1.2 is deliberately tight: the health check breaches
    // on real occupancy skew, so retrains DO fire mid-soak (asserted
    // below) while three other lifecycles are mutating their layouts
    val qAnn = AnnIndexStreaming.annIndexStreamWithRetrain(
        embStream, annPath, s"$base/ckpt_ann", heldOut, k = 8, nProbe = 2,
        minRecall = 0.6, maxImbalance = 1.2, retrainK = 16, iters = 0,
        checkEvery = 3)
      .start()
    val queries = Seq(qPost, qDelta, qContam, qAnn)

    // a fifth, BATCH workload to run mid-soak: reliable-checkpoint label
    // propagation, its rounds cut through the SparkContext-global
    // session checkpoint dir while the four streams run (a concurrency
    // the per-module specs never exercise)
    val edgeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dst",
        org.apache.spark.sql.types.LongType)))
    val eRows = (0L until 500L).flatMap { i =>
      val j = (i * 17 + 1) % 500; Seq(Row(i, j), Row(j, i))
    }
    val edges = LocalTable.of(spark, edgeSchema, eRows)
    def lp(ckpt: String): Seq[(Long, Long)] = withCheckpointDir(spark, ckpt) {
      graft.ext.Graph.labelPropagation(edges, iters = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }

    // ---- drive: three waves of file arrivals, all four streams churning
    // concurrently (processAllAvailable blocks on ONE stream while the
    // other three keep processing on their own microbatch threads; the
    // main thread's mid-wave label propagation runs concurrently too)
    var lpDuring: Seq[(Long, Long)] = Seq.empty
    val waves = Seq(0 until 8, 8 until 15, 15 until nDocChunks)
    waves.zipWithIndex.foreach { case (w, wi) =>
      w.foreach { i =>
        stage(new java.io.File(s"$base/doc_chunks/$i"), docsLanding,
          f"d$i%02d.parquet")
        if (i < nEmbChunks)
          stage(new java.io.File(s"$base/emb_chunks/$i"), embLanding,
            f"e$i%02d.parquet")
      }
      // wave 2: the reliable-checkpoint iterative operator runs WHILE
      // all four streams are processing the freshly-staged files
      if (wi == 1) lpDuring = lp(s"$base/reliable_ckpt")
      queries.foreach(_.processAllAvailable())
    }
    queries.foreach(_.processAllAvailable())
    // every stream must have seen 20+ rate-limited batches
    queries.foreach { q =>
      val n = q.recentProgress.length
      assert(n >= 20, s"${q.name} saw only $n micro-batches")
    }
    queries.foreach(_.stop())

    // ---- oracle 1: postings ≡ from-scratch build; reader legs bounded;
    // compaction really fired mid-stream
    val postBatch = Retrieval.postings(docs.select(col("doc_id"), col("text")))
    assert(symmetricEqual(
      DocIndexStreaming.currentPostings(spark, postPath), postBatch),
      "streamed postings != batch build")
    val postLegs = DocIndexStreaming.currentPostings(spark, postPath)
      .inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct.length
    assert(postLegs <= 4, s"reader union grew past the cap: $postLegs legs")
    val nFolds = new java.io.File(postPath).listFiles()
      .count(_.getName.startsWith("_COMMIT_c"))
    assert(nFolds >= 3, s"expected repeated mid-stream compactions, got $nFolds")

    // ---- oracle 2: contamination verdicts ≡ the end-to-end batch
    // operator over the whole corpus (index was complete before scoring)
    val verdictCols = Seq("doc_id", "total_ngrams", "hit_ngrams",
      "overlap_frac", "contaminated").map(col)
    val streamedVerdicts = spark.read.parquet(scoredPath)
      .select(verdictCols: _*)
    val batchVerdicts = TextStats.ngramContamination(
        docs.select(col("doc_id"), col("text")), evalTexts,
        n = 3, threshold = 0.3)
      .select(verdictCols: _*)
    assert(symmetricEqual(streamedVerdicts, batchVerdicts),
      "streamed contamination verdicts != batch operator")
    assert(streamedVerdicts.filter(col("contaminated")).count() >= 40,
      "the planted verbatim quotes must be flagged")

    // ---- oracle 3: release-delta card ≡ the batch operator; the
    // synthetic v1-only docs surface as removals
    val streamedCard = ReleaseDeltaStreaming.releaseDeltaFromState(
      ReleaseDeltaStreaming.currentState(spark, deltaState), v1)
    val batchCard = DataQuality.releaseDelta(v1, docs)
    assert(symmetricEqual(streamedCard, batchCard),
      "streamed release-delta card != batch card")
    assert(streamedCard.agg(sum(col("n_removed"))).head().getLong(0) >= 200L)

    // ---- oracle 4: ANN index — every vector admitted exactly once,
    // health-triggered retrains really fired, and the final fold equals
    // a from-scratch build (iters=0 seeded fit is a pure function of the
    // vector set)
    val annBase = AnnIndexStreaming.currentBase(spark, annPath)
    assert(annBase.version >= 1,
      "no health-triggered retrain fired during the soak")
    val ids = AnnIndexStreaming.currentLists(spark, annPath)
      .select(col("vec_id"))
    assert(ids.count() === 2000L && ids.distinct().count() === 2000L,
      "ANN index must hold every admitted vector exactly once")
    AnnIndexStreaming.compact(spark, annPath, "embedding", k = 16, iters = 0)
    AnnIndexStreaming.init(emb, "embedding", k = 16, iters = 0,
      s"$base/ann_scratch")
    def layout(p: String): DataFrame = AnnIndexStreaming
      .currentLists(spark, p).select(col("vec_id"), col("centroid_id"))
    assert(symmetricEqual(layout(annPath), layout(s"$base/ann_scratch")),
      "soaked ANN index != from-scratch build after final fold")

    // ---- oracle 5: the reliable-checkpoint label propagation that ran
    // CONCURRENTLY with the four streams equals a quiet re-run — the
    // checkpoint-dir global and the streams did not corrupt each other
    assert(lpDuring.nonEmpty, "the mid-soak label propagation never ran")
    assert(filesUnder(s"$base/reliable_ckpt").nonEmpty,
      "the mid-soak label propagation wrote no reliable checkpoint")
    assert(lpDuring === lp(s"$base/reliable_ckpt_quiet"),
      "mid-soak reliable-checkpoint label propagation != quiet re-run")
  }

  test("restart soak: all four lifecycles stopped mid-stream with data pending, committed batches hand-replayed (the crash-after-commit window), restarted from checkpoints — final artifacts still equal batch recomputation") {
    val sfDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sfDir/documents.parquet").exists(),
      "sf0.01 corpus not present")
    val base = java.nio.file.Files.createTempDirectory("graft-restart-").toFile
    def dir(n: String): java.io.File = {
      val f = new java.io.File(base, n); f.mkdirs(); f
    }
    val docsLanding = dir("landing_docs")
    val embLanding = dir("landing_emb")
    val postPath = s"$base/postings"
    val annPath = s"$base/ann"
    val deltaState = s"$base/delta_state"
    val benchIdx = s"$base/benchmark"
    val scoredPath = s"$base/scored"

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val v1 = docs
      .filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"), col("source"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" v1 tail"))).otherwise(col("text"))
          .as("text"))
      .localCheckpoint()
    val evalTexts = docs.filter(pmod(col("doc_id"), lit(29)) === 0)
      .select(col("text")).localCheckpoint()
    ContaminationStreaming.admitBenchmarkBatch(evalTexts, 0L, benchIdx, n = 3)
    val archive = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
      .localCheckpoint()
    AnnIndexStreaming.init(archive, "embedding", k = 4, iters = 0, annPath)

    val nDocChunks = 12
    val nEmbChunks = 10
    (0 until nDocChunks).foreach { i =>
      docs.filter(pmod(col("doc_id"), lit(nDocChunks)) === i)
        .coalesce(1).write.parquet(s"$base/doc_chunks/$i")
    }
    (0 until nEmbChunks).foreach { i =>
      emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
        .filter(pmod(col("vec_id"), lit(nEmbChunks)) === i)
        .coalesce(1).write.parquet(s"$base/emb_chunks/$i")
    }
    def stageRange(docIds: Range): Unit = docIds.foreach { i =>
      stage(new java.io.File(s"$base/doc_chunks/$i"), docsLanding,
        f"d$i%02d.parquet")
      if (i < nEmbChunks)
        stage(new java.io.File(s"$base/emb_chunks/$i"), embLanding,
          f"e$i%02d.parquet")
    }

    def docStream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(docsLanding.getPath)
    def startAll(): Seq[org.apache.spark.sql.streaming.StreamingQuery] = Seq(
      DocIndexStreaming.postingsStream(
        docStream.select(col("doc_id"), col("text")), postPath,
        s"$base/ckpt_post", maxUnionLegs = 3).start(),
      ReleaseDeltaStreaming.releaseDeltaStream(
        docStream, v1, deltaState, s"$base/ckpt_delta").start(),
      ContaminationStreaming.contaminationStream(
        docStream.select(col("doc_id"), col("text")), benchIdx, scoredPath,
        s"$base/ckpt_contam", n = 3, threshold = 0.3).start(),
      AnnIndexStreaming.annIndexStream(
        spark.readStream.schema(emb.schema)
          .option("maxFilesPerTrigger", "1").parquet(embLanding.getPath),
        annPath, s"$base/ckpt_ann").start())

    // phase 1: first half of the corpus arrives and is processed
    val run1 = startAll()
    stageRange(0 until 6)
    run1.foreach(_.processAllAvailable())
    // more data lands, then the session "crashes" with it still pending
    stageRange(6 until 9)
    run1.foreach(_.stop())

    // the crash-after-commit window: the engine can redeliver a batch
    // whose index commit already landed. Hand-replay the LAST committed
    // batch of each marker-guarded lifecycle — every one must no-op.
    val lastPost = DocIndexStreaming.latestVersion(spark, postPath).get
    val postBefore = DocIndexStreaming.currentPostings(spark, postPath)
      .count()
    DocIndexStreaming.admitPostingsBatch(
      docs.limit(20).select(col("doc_id"), col("text")), lastPost, postPath)
    assert(DocIndexStreaming.currentPostings(spark, postPath).count()
      === postBefore, "a replayed postings batch must no-op")
    val lastDelta = DocIndexStreaming.latestVersion(spark, deltaState).get
    val deltaBefore = ReleaseDeltaStreaming.currentState(spark, deltaState)
      .collect().toSet
    ReleaseDeltaStreaming.admitBatch(docs.limit(20), lastDelta, v1, deltaState)
    assert(ReleaseDeltaStreaming.currentState(spark, deltaState)
      .collect().toSet === deltaBefore, "a replayed delta batch must no-op")
    val annBatches = AnnIndexStreaming.committedBatches(spark, annPath)
    val annBefore = AnnIndexStreaming.currentLists(spark, annPath).count()
    AnnIndexStreaming.admitBatch(emb.limit(20), annBatches.max, "embedding",
      annPath)
    assert(AnnIndexStreaming.currentLists(spark, annPath).count()
      === annBefore, "a replayed ANN batch must no-op")

    // phase 2: restart from the same checkpoints; the pending files are
    // delivered, then the rest of the corpus arrives
    val run2 = startAll()
    run2.foreach(_.processAllAvailable())
    stageRange(9 until nDocChunks)
    run2.foreach(_.processAllAvailable())
    run2.foreach(_.stop())

    // final artifacts ≡ batch recomputation, exactly as in the soak
    assert(symmetricEqual(
      DocIndexStreaming.currentPostings(spark, postPath),
      Retrieval.postings(docs.select(col("doc_id"), col("text")))),
      "restarted postings != batch build")
    val verdictCols = Seq("doc_id", "total_ngrams", "hit_ngrams",
      "overlap_frac", "contaminated").map(col)
    assert(symmetricEqual(
      spark.read.parquet(scoredPath).select(verdictCols: _*),
      TextStats.ngramContamination(docs.select(col("doc_id"), col("text")),
        evalTexts, n = 3, threshold = 0.3).select(verdictCols: _*)),
      "restarted contamination verdicts != batch operator")
    assert(symmetricEqual(
      ReleaseDeltaStreaming.releaseDeltaFromState(
        ReleaseDeltaStreaming.currentState(spark, deltaState), v1),
      DataQuality.releaseDelta(v1, docs)),
      "restarted release-delta card != batch card")
    val ids = AnnIndexStreaming.currentLists(spark, annPath)
      .select(col("vec_id"))
    assert(ids.count() === 500L && ids.distinct().count() === 500L,
      "restarted ANN index must hold every vector exactly once")
  }
}
