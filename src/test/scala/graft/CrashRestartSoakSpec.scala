package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{DataQuality, Retrieval, TextStats}
import graft.streaming.{AnnIndexStreaming, ContaminationStreaming,
  DocIndexStreaming, ReleaseDeltaStreaming}

/** The ENGINE-DRIVEN crash/restart soak: the four persisted-index
  * streaming lifecycles run in a real SEPARATE JVM
  * ([[graft.tools.SoakWorker]]) which this spec `kill -9`s mid-wave —
  * in-flight micro-batches torn mid-write, staged dirs left on disk,
  * checkpoints cut wherever the signal landed — then restarts on the
  * SAME checkpoints in a fresh JVM and asserts every final artifact
  * equals its from-scratch batch recomputation. Round 13's restart soak
  * stopped streams gracefully and hand-replayed committed batches; this
  * closes the remaining gap between that and a real engine crash:
  * SIGKILL cannot be caught, so no shutdown hook, stream drain, or
  * FileSystem cache flush softens the cut. The recovery JVM is then
  * killed mid-drain too — recovery is just another process, so a crash
  * DURING recovery must be exactly as survivable as the first.
  *
  * The second test is the StagedCommit tripwire's production case: TWO
  * live JVMs driving the same logical admissions against ONE index tree
  * (an orphaned duplicate job still writing while its replacement runs)
  * with compaction and health-retrain firing from both sides, one of
  * them kill -9'd mid-race and restarted — whatever interleaving the
  * schedulers produce, the marker protocol must keep every artifact
  * exactly-once and readers exact.
  *
  * Both tests assert through the same distributed oracles as the
  * in-JVM soaks (exceptAll both ways, no collects). */
class CrashRestartSoakSpec extends SparkSpec {

  private def symmetricEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def stage(chunkDir: java.io.File, landing: java.io.File,
      name: String): Unit = {
    val part = chunkDir.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(fail(s"no part file in $chunkDir"))
    java.nio.file.Files.move(part.toPath,
      new java.io.File(landing, name).toPath)
  }

  /** Fork a SoakWorker JVM with the same module-opens the build gives
    * forked tests; stdout/stderr land in files under `base` so a hung or
    * failed worker is diagnosable from the spec's failure message. */
  private def forkWorker(base: String, tag: String,
      args: Seq[String]): Process = {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx3g", "-Dspark.ui.enabled=false",
      s"-Dderby.system.home=$base/derby_$tag",
      "-cp", sys.props("java.class.path"),
      "graft.tools.SoakWorker") ++ args)
    new ProcessBuilder(cmd: _*)
      .redirectOutput(new java.io.File(base, s"worker_$tag.out"))
      .redirectError(new java.io.File(base, s"worker_$tag.err"))
      .start()
  }

  private def logTail(base: String, tag: String): String =
    Seq("out", "err").map { ext =>
      val f = java.nio.file.Paths.get(base, s"worker_$tag.$ext")
      val lines = if (java.nio.file.Files.exists(f))
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(f)).asScala.takeRight(15)
      else Seq("<missing>")
      s"--- worker_$tag.$ext tail ---\n${lines.mkString("\n")}"
    }.mkString("\n")

  private def markerCount(dir: String, prefix: String): Int = {
    val fl = new java.io.File(dir).listFiles()
    if (fl == null) 0 else fl.count(_.getName.startsWith(prefix))
  }

  private def awaitOrFail(base: String, tag: String, timeoutMs: Long,
      what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline)
        fail(s"timed out waiting for $what\n${logTail(base, tag)}")
      Thread.sleep(100)
    }
  }

  test("engine-driven crash soak: kill -9 the worker JVM mid-wave with all four lifecycles in flight, plant crash orphans, kill -9 the recovery JVM mid-drain too — the second recovery on the same checkpoints converges every artifact to batch recomputation") {
    val sfDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sfDir/documents.parquet").exists(),
      "sf0.01 corpus not present")
    val baseDir = java.nio.file.Files.createTempDirectory("graft-kill-").toFile
    val base = baseDir.toString
    def dir(n: String): java.io.File = {
      val f = new java.io.File(baseDir, n); f.mkdirs(); f
    }
    val docsLanding = dir("landing_docs")
    val embLanding = dir("landing_emb")

    // ---- parent-owned setup (same corpus derivations as the restart
    // soak, but everything the worker needs persisted under base) ------
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val v1 = docs
      .filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"), col("source"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" v1 tail"))).otherwise(col("text"))
          .as("text"))
    v1.write.parquet(s"$base/v1")
    val evalTexts = docs.filter(pmod(col("doc_id"), lit(29)) === 0)
      .select(col("text")).localCheckpoint()
    ContaminationStreaming.admitBenchmarkBatch(
      evalTexts, 0L, s"$base/benchmark", n = 3)
    val archive = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
      .localCheckpoint()
    AnnIndexStreaming.init(archive, "embedding", k = 4, iters = 0, s"$base/ann")
    emb.filter(pmod(col("vec_id"), lit(50)) === 0).write
      .parquet(s"$base/held_out")
    docs.limit(0).write.parquet(s"$base/schemas/docs")
    emb.limit(0).write.parquet(s"$base/schemas/emb")
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
    def stageRange(ids: Range): Unit = ids.foreach { i =>
      stage(new java.io.File(s"$base/doc_chunks/$i"), docsLanding,
        f"d$i%02d.parquet")
      if (i < nEmbChunks)
        stage(new java.io.File(s"$base/emb_chunks/$i"), embLanding,
          f"e$i%02d.parquet")
    }

    // ---- phase 1: wave 1 arrives, the worker JVM churns ---------------
    stageRange(0 until 6)
    val run = forkWorker(base, "run", Seq("run", base, s"$base/ckpt"))
    try {
      awaitOrFail(base, "run", 240000L,
        "first committed postings+ANN batches") {
        markerCount(s"$base/postings", "_COMMIT_") >= 2 &&
          markerCount(s"$base/ann", "_COMMIT_batch_") >= 2
      }
      // wave 2 lands; the moment ONE more postings commit appears the
      // engine is mid-wave (several single-file batches still pending on
      // four streams) — SIGKILL right there, no drain, no warning
      val markersAtWave2 = markerCount(s"$base/postings", "_COMMIT_")
      stageRange(6 until 9)
      awaitOrFail(base, "run", 240000L, "a mid-wave postings commit") {
        markerCount(s"$base/postings", "_COMMIT_") > markersAtWave2
      }
    } finally {
      run.destroyForcibly()
      run.waitFor()
    }
    assert(run.exitValue() != 0,
      "SIGKILL must be the worker's cause of death, not a clean exit")

    // what the crash actually left behind (diagnostic, shape varies by
    // where the signal landed)
    val wreckage = Seq("postings", "ann", "delta_state", "scored").flatMap {
      d =>
        val fl = new java.io.File(base, d).listFiles()
        if (fl == null) Seq.empty
        else fl.filter(_.getName.contains("_stage_")).map(f => s"$d/${f.getName}")
    }
    info(s"kill -9 wreckage: ${
      if (wreckage.isEmpty) "no staged dirs caught mid-write" else
        wreckage.mkString(", ")}")

    // plant the worst-case crash artifacts deterministically, so the
    // restart provably tolerates them even when the signal missed the
    // window: an orphaned staging dir (kill mid-stage-write) and a
    // claimed-but-unmarked target (kill between claim and marker)
    def plant(path: String): Unit = {
      val d = new java.io.File(path); d.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "junk"), "crash debris")
    }
    plant(s"$base/postings/.b99_stage_dead")
    plant(s"$base/delta_state/.v99_stage_dead")
    plant(s"$base/ann/b99")

    // ---- phase 2: the rest of the corpus lands, a FRESH JVM restarts
    // the writers on the same checkpoints — and CRASHES TOO, mid-drain
    // (the recovery process is just another process; a crash during
    // recovery must be exactly as survivable as the first one) ---------
    stageRange(9 until nDocChunks)
    val markersAtRestart = markerCount(s"$base/postings", "_COMMIT_")
    val fin1 = forkWorker(base, "finish1", Seq("finish", base, s"$base/ckpt"))
    val deadline1 = System.currentTimeMillis() + 240000L
    // kill the moment recovery visibly commits — unless it already
    // finished the (small) drain, in which case a clean exit is fine
    while (fin1.isAlive &&
        markerCount(s"$base/postings", "_COMMIT_") == markersAtRestart &&
        System.currentTimeMillis() < deadline1)
      Thread.sleep(50)
    val killedRecovery = fin1.isAlive
    fin1.destroyForcibly()
    fin1.waitFor()
    info(if (killedRecovery)
      "recovery JVM killed mid-drain (double crash)"
    else "recovery JVM drained before the kill window — single crash run")

    // ---- phase 3: the SECOND recovery completes --------------------
    val fin = forkWorker(base, "finish", Seq("finish", base, s"$base/ckpt"))
    val finished = fin.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) fin.destroyForcibly()
    assert(finished && fin.exitValue() == 0,
      s"finish worker failed (rc=${if (finished) fin.exitValue() else "timeout"})\n${logTail(base, "finish")}")

    // ---- oracles: identical to the in-JVM soaks --------------------
    val v1r = spark.read.parquet(s"$base/v1")
    assert(symmetricEqual(
      DocIndexStreaming.currentPostings(spark, s"$base/postings"),
      Retrieval.postings(docs.select(col("doc_id"), col("text")))),
      "crash-restarted postings != batch build")
    val verdictCols = Seq("doc_id", "total_ngrams", "hit_ngrams",
      "overlap_frac", "contaminated").map(col)
    assert(symmetricEqual(
      spark.read.parquet(s"$base/scored").select(verdictCols: _*),
      TextStats.ngramContamination(docs.select(col("doc_id"), col("text")),
        evalTexts, n = 3, threshold = 0.3).select(verdictCols: _*)),
      "crash-restarted contamination verdicts != batch operator")
    assert(symmetricEqual(
      ReleaseDeltaStreaming.releaseDeltaFromState(
        ReleaseDeltaStreaming.currentState(spark, s"$base/delta_state"), v1r),
      DataQuality.releaseDelta(v1r, docs)),
      "crash-restarted release-delta card != batch card")
    val ids = AnnIndexStreaming.currentLists(spark, s"$base/ann")
      .select(col("vec_id"))
    assert(ids.count() === 500L && ids.distinct().count() === 500L,
      "crash-restarted ANN index must hold every vector exactly once")
    // final fold ≡ from-scratch (iters=0 seeded fit is a pure function
    // of the vector set), regardless of how many mid-soak retrains the
    // crash interrupted
    AnnIndexStreaming.compact(spark, s"$base/ann", "embedding",
      k = 8, iters = 0)
    AnnIndexStreaming.init(emb, "embedding", k = 8, iters = 0,
      s"$base/ann_scratch")
    def layout(p: String): DataFrame = AnnIndexStreaming
      .currentLists(spark, p).select(col("vec_id"), col("centroid_id"))
    assert(symmetricEqual(layout(s"$base/ann"), layout(s"$base/ann_scratch")),
      "crashed+restarted ANN index != from-scratch build after final fold")
    // the planted claimed-but-unmarked orphan stayed invisible: no
    // marker ever pointed at it
    assert(!new java.io.File(s"$base/ann").listFiles()
      .exists(_.getName == "_COMMIT_batch_99"),
      "a crash orphan must never acquire a marker")
  }

  test("two concurrent live JVMs driving one index tree (duplicate-job case), one kill -9'd mid-race and restarted: admissions exactly-once under racing markers, compaction/retrain races resolve by the staged-commit claim, readers end exact") {
    val sfDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sfDir/documents.parquet").exists(),
      "sf0.01 corpus not present")
    val baseDir = java.nio.file.Files.createTempDirectory("graft-dup-").toFile
    val base = baseDir.toString

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val v1 = docs
      .filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"), col("source"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" v1 tail"))).otherwise(col("text"))
          .as("text"))
    v1.write.parquet(s"$base/v1")
    val archive = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
      .localCheckpoint()
    AnnIndexStreaming.init(archive, "embedding", k = 4, iters = 0, s"$base/ann")
    emb.filter(pmod(col("vec_id"), lit(50)) === 0).write
      .parquet(s"$base/held_out")
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

    // both workers drive ALL batches in order — the duplicate-job shape:
    // same logical stream, two live writers, one tree. Worker b gets
    // kill -9'd mid-race (a crashed duplicate) and RESTARTED from
    // scratch: the hand-driven loop is idempotent by the same replay
    // guards, so the restart re-offers batches 0..N and no-ops the ones
    // already won by either incarnation or by a.
    val a = forkWorker(base, "a", Seq("handrace", base, "a"))
    val b = forkWorker(base, "b", Seq("handrace", base, "b"))
    val bKillDeadline = System.currentTimeMillis() + 120000L
    while (b.isAlive && markerCount(s"$base/postings", "_COMMIT_v") < 4 &&
        System.currentTimeMillis() < bKillDeadline)
      Thread.sleep(50)
    val killedB = b.isAlive
    b.destroyForcibly()
    b.waitFor()
    info(if (killedB) "worker b killed mid-race and restarted"
    else "worker b finished before the kill window — restart still runs")
    val b2 = forkWorker(base, "b2", Seq("handrace", base, "b2"))
    val aDone = a.waitFor(420, java.util.concurrent.TimeUnit.SECONDS)
    val b2Done = b2.waitFor(420, java.util.concurrent.TimeUnit.SECONDS)
    if (!aDone) a.destroyForcibly()
    if (!b2Done) b2.destroyForcibly()
    assert(aDone && a.exitValue() == 0,
      s"worker a failed\n${logTail(base, "a")}")
    assert(b2Done && b2.exitValue() == 0,
      s"worker b2 failed\n${logTail(base, "b2")}")
    // did the single-writer tripwire / claim race actually fire? purely
    // diagnostic — the invariants below hold for EVERY interleaving
    val raceLines = Seq("a", "b", "b2").flatMap { t =>
      val f = java.nio.file.Paths.get(base, s"worker_$t.err")
      if (!java.nio.file.Files.exists(f)) Seq.empty
      else scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(f)).asScala
        .filter(_.contains("aborting the commit"))
    }
    info(s"observed ${raceLines.size} aborted-commit race resolutions " +
      "across the two writers")

    // readers exact: dup-free postings identical to a from-scratch batch
    // build (symmetricEqual catches BOTH duplicated and dropped postings)
    assert(symmetricEqual(
      DocIndexStreaming.currentPostings(spark, s"$base/postings"),
      Retrieval.postings(docs.select(col("doc_id"), col("text")))),
      "duplicate-writer postings != batch build")
    // release-delta state settles to the batch card despite every batch
    // having been offered twice
    val v1r = spark.read.parquet(s"$base/v1")
    assert(symmetricEqual(
      ReleaseDeltaStreaming.releaseDeltaFromState(
        ReleaseDeltaStreaming.currentState(spark, s"$base/delta_state"), v1r),
      DataQuality.releaseDelta(v1r, docs)),
      "duplicate-writer release-delta card != batch card")
    // ANN exactly-once across both writers and any retrain folds
    val ids = AnnIndexStreaming.currentLists(spark, s"$base/ann")
      .select(col("vec_id"))
    assert(ids.count() === 500L && ids.distinct().count() === 500L,
      "duplicate writers must not double-admit or drop ANN vectors")
    // a final quiet fold converges the layout to one root and stays exact
    DocIndexStreaming.maybeCompactPostings(spark, s"$base/postings",
      maxUnionLegs = 1)
    assert(symmetricEqual(
      DocIndexStreaming.currentPostings(spark, s"$base/postings"),
      Retrieval.postings(docs.select(col("doc_id"), col("text")))),
      "post-fold postings != batch build")
  }
}
