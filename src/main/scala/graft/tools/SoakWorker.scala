package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.{AnnIndexStreaming, ContaminationStreaming,
  DocIndexStreaming, ReleaseDeltaStreaming}

/** The forkable half of the engine-driven crash/restart soak: a real
  * separate JVM running the four persisted-index streaming lifecycles,
  * so the test harness can `kill -9` it MID-micro-batch — the one crash
  * shape an in-JVM spec can never produce (graceful `stop()` drains the
  * current batch; SIGKILL tears the process out from under in-flight
  * parquet writes, staged dirs, and checkpoint appends).
  *
  * The parent test (CrashRestartSoakSpec) owns setup (corpus chunks,
  * v1 release, benchmark index, ANN base init) and all assertions; this
  * main only RUNS. Layout under `base` (all written by the parent):
  * `schemas/{docs,emb}` 0-row parquet for readStream schemas,
  * `landing_docs/`+`landing_emb/` file-source inputs, `v1/` the frozen
  * previous release, `held_out/` ANN health queries, and the four
  * artifact trees `postings/ ann/ delta_state/ benchmark/ scored/`.
  *
  * Modes:
  *   - `run <base> <ckptRoot>`: start all four streams and pump
  *     `processAllAvailable` forever, printing a progress line per loop —
  *     the parent watches committed markers and SIGKILLs at will;
  *   - `finish <base> <ckptRoot>`: restart the same streams on the same
  *     checkpoints, drain everything pending, stop gracefully, exit 0;
  *   - `handrace <base> <workerId>`: no streaming engine — drive the
  *     marker-committed admissions BY HAND over the shared chunk list,
  *     with compaction and retrain firing between batches. Two of these
  *     run CONCURRENTLY against ONE index tree: the StagedCommit /
  *     compaction-tripwire production case (an orphaned duplicate job
  *     still writing while its replacement runs).
  */
object SoakWorker {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, // every mode consumes all three arguments
      "usage: SoakWorker <run|finish|handrace> <base> <ckptRoot|workerId>")
    val mode = args(0)
    val base = args(1)
    val spark = SparkSession.builder()
      .master("local[6]")
      .appName(s"graft-soak-worker-$mode")
      .config("spark.sql.shuffle.partitions", "6")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$base/warehouse_" +
        args(2).replaceAll("[^A-Za-z0-9]", "_"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    mode match {
      case "run" | "finish" => engineMode(spark, mode, base,
        ckptRoot = args(2))
      case "handrace" => handRace(spark, base, workerId = args(2))
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
    // non-daemon Spark/Hadoop threads can outlive stop(); the contract
    // with the parent is the exit code, so leave nothing to chance
    System.out.flush(); System.err.flush()
    System.exit(0)
  }

  private def engineMode(spark: SparkSession, mode: String, base: String,
      ckptRoot: String): Unit = {
    val docsSchema = spark.read.parquet(s"$base/schemas/docs").schema
    val embSchema = spark.read.parquet(s"$base/schemas/emb").schema
    val v1 = spark.read.parquet(s"$base/v1")
    val heldOut = spark.read.parquet(s"$base/held_out")
    def docStream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/landing_docs")
    val embStream = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/landing_emb")
    val queries = Seq(
      DocIndexStreaming.postingsStream(
        docStream.select(col("doc_id"), col("text")), s"$base/postings",
        s"$ckptRoot/post", maxUnionLegs = 3).start(),
      ReleaseDeltaStreaming.releaseDeltaStream(
        docStream, v1, s"$base/delta_state", s"$ckptRoot/delta").start(),
      ContaminationStreaming.contaminationStream(
        docStream.select(col("doc_id"), col("text")), s"$base/benchmark",
        s"$base/scored", s"$ckptRoot/contam", n = 3, threshold = 0.3).start(),
      AnnIndexStreaming.annIndexStreamWithRetrain(
        embStream, s"$base/ann", s"$ckptRoot/ann", heldOut,
        k = 4, nProbe = 2, minRecall = 0.6, maxImbalance = 1.2,
        retrainK = 8, iters = 0, checkEvery = 3).start())
    mode match {
      case "run" =>
        // pump until killed: the parent owns the lifetime
        while (true) {
          queries.foreach(_.processAllAvailable())
          val n = queries.map(_.recentProgress.length).sum
          System.out.println(s"[worker] progress batches=$n")
          System.out.flush()
          Thread.sleep(150)
        }
      case _ => // finish: drain everything pending, then stop cleanly
        queries.foreach(_.processAllAvailable())
        queries.foreach(_.processAllAvailable())
        queries.foreach(_.stop())
        System.out.println("[worker] done")
    }
  }

  /** Hand-driven duplicate writer: admit every chunk IN ORDER (the
    * monotonic replay guards make whoever-gets-there-first win and the
    * other a no-op), with the observed-state compaction and
    * health-retrain triggers firing between batches so fold/retrain
    * commits RACE the twin worker's. Postings/delta content per batch id
    * is identical by construction (a deterministic function of the chunk
    * and the committed chain); an ANN admission's content additionally
    * depends on the base its assignment used — the quantizer-coherence
    * tripwire in admitBatch aborts a stale assignment when the twin's
    * retrain lands mid-admission, and the retry loop below models the
    * engine's batch redelivery. Jitter is seeded per worker so
    * interleavings vary but the run is reproducible. */
  private def handRace(spark: SparkSession, base: String,
      workerId: String): Unit = {
    val v1 = spark.read.parquet(s"$base/v1")
    val heldOut = spark.read.parquet(s"$base/held_out")
    val nDoc = new java.io.File(s"$base/doc_chunks").listFiles().length
    val nEmb = new java.io.File(s"$base/emb_chunks").listFiles().length
    val rnd = new scala.util.Random(workerId.hashCode.toLong)
    // model the engine's batch redelivery for every loud-retry shape a
    // duplicate writer can hit: the quantizer-coherence tripwire and the
    // pending-marker lost-claim (IllegalStateException "retry the
    // batch"), and StagedCommit's vanished-target residual
    // (IOException "caller must retry") — admissions and maintenance
    // (fold, retrain) alike, since a retrain or fold that loses the
    // staged-commit race throws the same residual. Bounded — anything
    // else, or a 6th failure, propagates and fails the worker loudly.
    def withEngineRetry[A](what: String)(op: => A): A = {
      var attempts = 0
      var result: Option[A] = None
      while (result.isEmpty) {
        try result = Some(op)
        catch {
          case e @ (_: IllegalStateException | _: java.io.IOException)
              if attempts < 5 && Option(e.getMessage).exists(m =>
                m.contains("retry the batch") ||
                  m.contains("caller must retry")) =>
            attempts += 1
            System.out.println(s"[worker-$workerId] $what retried " +
              s"(${e.getClass.getSimpleName}): attempt ${attempts + 1}")
            System.out.flush()
        }
      }
      result.get
    }
    (0 until nDoc).foreach { i =>
      val docs = spark.read.parquet(s"$base/doc_chunks/$i")
      withEngineRetry(s"batch=$i postings admit") {
        DocIndexStreaming.admitPostingsBatch(
          docs.select(col("doc_id"), col("text")), i.toLong,
          s"$base/postings")
      }
      withEngineRetry(s"batch=$i delta admit") {
        ReleaseDeltaStreaming.admitBatch(docs, i.toLong, v1,
          s"$base/delta_state")
      }
      if (i < nEmb) withEngineRetry(s"batch=$i ann admit") {
        AnnIndexStreaming.admitBatch(
          spark.read.parquet(s"$base/emb_chunks/$i"), i.toLong,
          "embedding", s"$base/ann")
      }
      if (i % 2 == 1) {
        val folded = withEngineRetry(s"batch=$i postings fold") {
          DocIndexStreaming.maybeCompactPostings(
            spark, s"$base/postings", maxUnionLegs = 3)
        }
        val retrained = withEngineRetry(s"batch=$i ann retrain") {
          AnnIndexStreaming.maybeRetrain(
            spark, s"$base/ann", "embedding", heldOut, k = 4, nProbe = 2,
            minRecall = 0.6, maxImbalance = 1.2, retrainK = 8, iters = 0)
        }
        System.out.println(
          s"[worker-$workerId] batch=$i folded=$folded retrained=$retrained")
        System.out.flush()
      }
      Thread.sleep(rnd.nextInt(80).toLong)
    }
    System.out.println(s"[worker-$workerId] done")
  }
}
