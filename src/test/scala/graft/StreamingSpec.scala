package graft

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Test-only simulated S3A store: local storage under the real `s3a://`
  * scheme with the ONE property that matters faithfully broken — rename
  * is a non-atomic file-by-file copy then a source delete, with no
  * dst-exists check (two movers interleave freely), exactly the S3A
  * semantics StagedCommit's allow-list exists to refuse for the rename
  * claim. create(f, overwrite=false) stays atomic create-if-absent (the
  * conditional put the object-store claim rides). Registered via
  * `fs.s3a.impl`, so the WHOLE stack above it — parquet committers,
  * marker listings, StagedCommit's scheme routing — resolves it through
  * `Path.getFileSystem` like a real deployment would. */
class GraftS3aSimFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "s3a"
  override def getUri: java.net.URI = java.net.URI.create("s3a://graft-sim/")
  // RawLocal's DeprecatedRawLocalFileStatus lazy-loads permissions via
  // `new File(path.toUri)`, which rejects non-file schemes — return
  // plain FileStatus objects with permissions pre-filled instead (an
  // object store has no POSIX permissions anyway)
  private def fix(st: org.apache.hadoop.fs.FileStatus) =
    new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory, 1,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      org.apache.hadoop.fs.permission.FsPermission.getDefault, "", "",
      st.getPath)
  override def getFileStatus(f: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileStatus = fix(super.getFileStatus(f))
  override def listStatus(f: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(fix)
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    val s = pathToFile(src).toPath
    val d = pathToFile(dst).toPath
    if (!java.nio.file.Files.exists(s)) return false
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val tgt = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(tgt)
      else {
        java.nio.file.Files.createDirectories(tgt.getParent)
        java.nio.file.Files.copy(p, tgt,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
    super.delete(src, true)
    true
  }
}

/** Streaming semantics driven through real micro-batches (MemoryStream
  * or file source → foreachBatch): exactly-once index lifecycles, their
  * replay no-ops, and the staged-commit races behind them. */
class StreamingSpec extends SparkSpec {

  test("file source -> AvailableNow -> parquet sink: incremental, exactly-once") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-stream-").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ckDir = s"$root/ck"
    Files.createDirectories(Paths.get(inDir))
    Files.writeString(Paths.get(inDir, "batch1.csv"), "7,click,1.5\n8,view,2.5\n")

    def runOnce(): Unit = {
      val in = spark.readStream
        .schema("user_id LONG, event_type STRING, value DOUBLE")
        .csv(inDir)
      val q = in.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    runOnce()
    assert(spark.read.parquet(outDir).count() === 2)
    // restart with NO new files: checkpoint skips everything (the I3
    // modifiedTime-skip semantics, carried by the engine not the driver)
    runOnce()
    assert(spark.read.parquet(outDir).count() === 2)
    // a new landing file is picked up incrementally on the next run
    Files.writeString(Paths.get(inDir, "batch2.csv"), "7,click,9.0\n")
    runOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() === 3)
    assert(out.agg(org.apache.spark.sql.functions.sum("value"))
      .collect()(0).getDouble(0) === 13.0)
  }

  test("foreachBatch incremental dedup: per-batch label maintenance equals from-scratch") {
    // the full streaming production loop of the incremental posture:
    // each micro-batch of documents is probed against the archive's band
    // index, its pairs merged into the persisted labeling via
    // updateComponents, and the index rebuilt over the grown archive —
    // at no point is the archive re-paired or re-labeled from scratch
    import graft.ext.Dedup
    implicit val sql = spark.sqlContext
    implicit val encD = Encoders.product[(Long, String)]
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val dup2 = "one two three four five six seven eight nine"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    var archive = LocalTable.of(spark, schema, Seq.empty)
    var index = Dedup.minhashBandIndex(archive, 3, 16, 8, 2)
    var labels = Dedup.connectedComponents(
      LocalTable.of(spark, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_a", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("doc_b", org.apache.spark.sql.types.LongType))),
        Seq.empty))
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (raw: org.apache.spark.sql.DataFrame, _: Long) =>
        val batch = raw.localCheckpoint()
        val internal = Dedup.minhashNearDupPairs(batch, 3, 16, 8, 2, 0.5)
          .select(col("doc_a"), col("doc_b"))
        val cross = Dedup.minhashProbePairs(batch, archive, index, 3, 16, 8, 2, 0.5)
          .select(col("doc_new").as("doc_a"), col("doc_old").as("doc_b"))
        labels = Dedup.updateComponents(labels, internal.union(cross)).localCheckpoint()
        archive = archive.unionByName(batch).localCheckpoint()
        index = Dedup.minhashBandIndex(archive, 3, 16, 8, 2).localCheckpoint()
        ()
      }
      .start()
    in.addData((1L, dup), (2L, dup), (3L, "unique first document body here today"))
    q.processAllAvailable()
    in.addData((4L, dup), (5L, dup2), (6L, dup2)) // 4 merges cross-batch into {1,2}
    q.processAllAvailable()
    q.stop()
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Dedup.connectedComponents(
      Dedup.minhashNearDupPairs(archive, 3, 16, 8, 2, 0.5).select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === scratch)
    assert(got === Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L))
    assert(archive.count() === 6 && index.count() === 6 * 8)
  }

  test("foreachBatch incremental span dedup: streamed fingerprint-index maintenance equals from-scratch") {
    // the span-family streaming twin of the band-index loop above: each
    // micro-batch's spans are scored against the maintained fingerprint
    // index (archive text never re-scanned), then its window counts are
    // merged into the index — counting is associative, so the maintained
    // index must equal a rebuild over everything ever streamed
    import graft.ext.Dedup
    implicit val sql = spark.sqlContext
    implicit val encD = Encoders.product[(Long, String)]
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val W = 4
    var archive = LocalTable.of(spark, schema, Seq.empty)
    var index = Dedup.fingerprintIndex(archive, W)
    val perBatch = collection.mutable.ArrayBuffer[Set[(Long, Long, Long, Long)]]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (raw: org.apache.spark.sql.DataFrame, _: Long) =>
        val batch = raw.localCheckpoint()
        perBatch += Dedup.incrementalSpans(batch, index, W).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        index = Dedup.appendToFingerprintIndex(index, batch, W).localCheckpoint()
        archive = archive.unionByName(batch).localCheckpoint()
        ()
      }
      .start()
    val hdr = "h1 h2 h3 h4"
    in.addData((1L, s"$hdr body one two three"), (2L, s"$hdr other body words here"))
    q.processAllAvailable()
    // doc 3 repeats the header — duplicated via the INDEX count alone
    in.addData((3L, s"intro words $hdr tail"), (4L, "completely unique text body"))
    q.processAllAvailable()
    q.stop()
    def scratchFor(ids: Long*) = Dedup.duplicatedSpans(archive, W)
      .filter(col("doc_id").isin(ids: _*)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(perBatch(0) === scratchFor(1L, 2L), "batch-1 spans (in-batch duplicate header)")
    assert(perBatch(1) === scratchFor(3L, 4L), "batch-2 spans (index-counted header)")
    assert(perBatch(1).map(_._1) === Set(3L), "only the header-bearing doc gains a span")
    val maintained = index.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = Dedup.fingerprintIndex(archive, W).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maintained === rebuilt, "maintained index ≡ rebuild over everything streamed")
  }

  test("foreachBatch heavy-hitters maintenance: streamed sketch obeys the combined bound") {
    implicit val sql = spark.sqlContext
    implicit val enc = Encoders.product[Tuple1[String]]
    val k = 6
    // the persisted artifact: a driver-held sketch maintained per batch —
    // the archive stream is never re-scanned
    var standing = Seq.empty[(String, Long)]
    var total = 0L
    val in = MemoryStream[Tuple1[String]]
    val q = in.toDF().toDF("item").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.agg(
          graft.plans.MisraGriesAgg.freqItems(col("item"), k).as("hh"))
          .select(explode(col("hh"))).collect()
          .map(r => { val s = r.getStruct(0); (s.getString(0), s.getLong(1)) })
        standing = graft.plans.MisraGriesAgg.mergeSketches(standing, rows, k)
        total += batch.count()
      }.start()
    in.addData((Seq.fill(40)("hot") ++ (1 to 30).map(i => s"a$i")).map(Tuple1(_)): _*)
    q.processAllAvailable()
    in.addData((Seq.fill(35)("hot") ++ (1 to 25).map(i => s"b$i")).map(Tuple1(_)): _*)
    q.processAllAvailable()
    q.stop()
    val got = standing.toMap
    assert(got.size <= k)
    val bound = total.toDouble / (k + 1) // 130/7 ≈ 18.6
    assert(got("hot") <= 75L && 75L - got("hot") <= bound,
      s"hot=${got.get("hot")} total=$total")
    assert(got.contains("hot"), "the cross-batch heavy key must survive")
  }

  test("annIndexStream: frozen-model commits, grown probe is exact under full probe, replay no-ops, pruning per root") {
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}
    import graft.streaming.AnnIndexStreaming
    implicit val sql = spark.sqlContext
    implicit val enc = Encoders.product[(Long, Seq[Float], Int)]
    // 4 planted clusters of 25: center ± small noise (the SimilaritySpec corpus)
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(4)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = (0 until 100).map { i =>
      (i.toLong,
        centers(i % 4).map(v => v + 0.05f * rnd.nextGaussian().toFloat).toSeq,
        i % 4)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    def df(rs: Seq[(Long, Seq[Float], Int)]) = LocalTable.of(spark, schema,
      rs.map { case (id, e, l) => Row(id, e, l) })
    val indexPath = java.nio.file.Files
      .createTempDirectory("graft-annstream-").toString + "/index"
    val archive = rows.filter(_._1 < 60)
    AnnIndexStreaming.init(df(archive), "embedding", k = 8, iters = 3, indexPath)
    val cs = graft.ext.IvfIndex.loadCentroids(spark,
      AnnIndexStreaming.basePath(indexPath,
        AnnIndexStreaming.currentBase(spark, indexPath)))

    val in = MemoryStream[(Long, Seq[Float], Int)]
    val q = AnnIndexStreaming.annIndexStream(
        in.toDF().toDF("vec_id", "embedding", "label"), indexPath,
        java.nio.file.Files.createTempDirectory("graft-annstream-ckpt-").toString)
      .start()
    val (b0, b1) = (rows.filter(r => r._1 >= 60 && r._1 < 80),
      rows.filter(_._1 >= 80))
    Seq(b0, b1).foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    assert(AnnIndexStreaming.committedBatches(spark, indexPath) === Seq(0L, 1L))

    // grown layout ≡ assigning EVERY vector under the frozen model
    val grown = AnnIndexStreaming.currentLists(spark, indexPath)
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val expected = graft.ext.Similarity.ivfAssignments(df(rows), cs)
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(grown === expected)

    // exhaustive probe (nProbe = k) over the grown index ≡ brute force —
    // streamed vectors fully searchable
    val qv = rows.find(_._1 == 95L).get._2.toArray
    val got = AnnIndexStreaming.probe(spark, indexPath, qv, k = 10,
        nProbe = 8, excludeVecId = Some(95L))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val brute = df(rows).filter(col("vec_id") =!= 95L)
      .select(col("vec_id"),
        round(graft.ext.Similarity.cosine(col("embedding"),
          typedlit(qv.toIndexedSeq)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === brute)

    // replaying an admitted batch leaves the index untouched
    val before = AnnIndexStreaming.currentLists(spark, indexPath).count()
    AnnIndexStreaming.admitBatch(df(b0), batchId = 0L, "embedding", indexPath)
    assert(AnnIndexStreaming.currentLists(spark, indexPath).count() === before)

    // a pruned probe partition-prunes in EVERY root (base + both batches)
    val probeDf = AnnIndexStreaming.probe(spark, indexPath, qv, k = 10,
      nProbe = 2, excludeVecId = Some(95L))
    probeDf.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val ss = scans(probeDf.queryExecution.executedPlan)
    assert(ss.nonEmpty)
    ss.foreach(s => assert(s.metadata("PartitionFilters").contains("centroid_id"),
      s.metadata("PartitionFilters")))
    assert(ss.map(_.metrics("numFiles").value).sum <= 2L * ss.size,
      s"pruned probe read ${ss.map(_.metrics("numFiles").value).sum} files")

    // compaction: fold base + batches into a retrained base; readers cut
    // over atomically (no unfolded batches remain), answers unchanged
    AnnIndexStreaming.compact(spark, indexPath, "embedding", k = 8, iters = 3)
    assert(AnnIndexStreaming.committedBatches(spark, indexPath).isEmpty)
    assert(AnnIndexStreaming.currentLists(spark, indexPath).count() === 100)
    val afterCompact = AnnIndexStreaming.probe(spark, indexPath, qv, k = 10,
        nProbe = 8, excludeVecId = Some(95L))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(afterCompact === brute)

    // takedown fold: excluded vectors leave the layout entirely
    AnnIndexStreaming.compact(spark, indexPath, "embedding", k = 8,
      iters = 3, exclude = Set(95L))
    assert(AnnIndexStreaming.currentLists(spark, indexPath)
      .filter(col("vec_id") === 95L).isEmpty)
    assert(AnnIndexStreaming.currentLists(spark, indexPath).count() === 99)

    // post-compaction admissions keep working under the retrained model.
    // batchId = 2 is what the stream's checkpoint would actually deliver
    // next — two compacts (the second folding NOTHING) must not have
    // advanced the fold point past it and orphaned its vectors
    AnnIndexStreaming.admitBatch(
      df(Seq((200L, rows.find(_._1 == 95L).get._2, 3))),
      batchId = 2L, "embedding", indexPath)
    assert(AnnIndexStreaming.committedBatches(spark, indexPath) === Seq(2L))
    val late = AnnIndexStreaming.probe(spark, indexPath, qv, k = 1, nProbe = 8)
      .collect()
    assert(late.head.getLong(0) === 200L && late.head.getDouble(2) === 1.0)
  }

  test("annIndexStreamWithRetrain: breach retrains mid-stream, stream equals the driven lifecycle, replay no-ops, recall preserved") {
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}
    import graft.streaming.AnnIndexStreaming
    implicit val sql = spark.sqlContext
    implicit val enc = Encoders.product[(Long, Seq[Float], Int)]
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(4)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = (0 until 100).map { i =>
      (i.toLong,
        centers(i % 4).map(v => v + 0.05f * rnd.nextGaussian().toFloat).toSeq,
        i % 4)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    def df(rs: Seq[(Long, Seq[Float], Int)]) = LocalTable.of(spark, schema,
      rs.map { case (id, e, l) => Row(id, e, l) })
    val archive = rows.filter(_._1 < 60)
    val (b0, b1) = (rows.filter(r => r._1 >= 60 && r._1 < 80),
      rows.filter(_._1 >= 80))
    val queries = df(rows.filter(_._1 < 10))
    // maxImbalance = 1.0 (+ minRecall = 1.0) makes a breach essentially
    // structural on this corpus — the point is exercising the
    // mid-stream retrain path, deterministically under the fixed seed
    val (minRecall, maxImbalance) = (1.0, 1.0)

    val streamIdx = java.nio.file.Files
      .createTempDirectory("graft-annretrain-").toString + "/index"
    AnnIndexStreaming.init(df(archive), "embedding", k = 8, iters = 3, streamIdx)
    assert(AnnIndexStreaming.currentBase(spark, streamIdx).version === 0L)
    val in = MemoryStream[(Long, Seq[Float], Int)]
    val q = AnnIndexStreaming.annIndexStreamWithRetrain(
        in.toDF().toDF("vec_id", "embedding", "label"), streamIdx,
        java.nio.file.Files.createTempDirectory("graft-annretrain-ckpt-").toString,
        queries, k = 5, nProbe = 2, minRecall, maxImbalance,
        retrainK = 8, iters = 3)
      .start()
    in.addData(b0: _*); q.processAllAvailable()
    // the breach fired mid-stream: base advanced and batch 0 is folded
    val afterB0 = AnnIndexStreaming.currentBase(spark, streamIdx)
    assert(afterB0.version === 1L && afterB0.fold === 1L,
      s"retrain must fold batch 0: $afterB0")
    in.addData(b1: _*); q.processAllAvailable()
    q.stop()

    // the streamed lifecycle ≡ the same sequence driven by hand
    val drivenIdx = java.nio.file.Files
      .createTempDirectory("graft-annretrain-driven-").toString + "/index"
    AnnIndexStreaming.init(df(archive), "embedding", k = 8, iters = 3, drivenIdx)
    AnnIndexStreaming.admitBatch(df(b0), 0L, "embedding", drivenIdx)
    assert(AnnIndexStreaming.maybeRetrain(spark, drivenIdx, "embedding",
      queries, k = 5, nProbe = 2, minRecall, maxImbalance,
      retrainK = 8, iters = 3), "driven lifecycle must breach too")
    AnnIndexStreaming.admitBatch(df(b1), 1L, "embedding", drivenIdx)
    AnnIndexStreaming.maybeRetrain(spark, drivenIdx, "embedding",
      queries, k = 5, nProbe = 2, minRecall, maxImbalance,
      retrainK = 8, iters = 3)
    def layout(p: String) = AnnIndexStreaming.currentLists(spark, p)
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(AnnIndexStreaming.currentBase(spark, streamIdx) ===
      AnnIndexStreaming.currentBase(spark, drivenIdx))
    assert(layout(streamIdx) === layout(drivenIdx))

    // every vector is still searchable post-retrain (recall preserved
    // under the exhaustive probe), and nothing was lost or duplicated
    assert(AnnIndexStreaming.currentLists(spark, streamIdx).count() === 100)
    val qv = rows.find(_._1 == 95L).get._2.toArray
    val got = AnnIndexStreaming.probe(spark, streamIdx, qv, k = 10,
        nProbe = 8, excludeVecId = Some(95L))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val brute = df(rows).filter(col("vec_id") =!= 95L)
      .select(col("vec_id"),
        round(graft.ext.Similarity.cosine(col("embedding"),
          typedlit(qv.toIndexedSeq)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === brute)

    // a replayed admission after the retrain is a no-op: its marker is
    // committed even though its rows were folded into the base
    val before = layout(streamIdx)
    AnnIndexStreaming.admitBatch(df(b0), 0L, "embedding", streamIdx)
    assert(layout(streamIdx) === before)
    // and a replayed health check on the (possibly re-trained) index is
    // self-stabilizing: at worst it rebuilds an equivalent base
    val baseBefore = AnnIndexStreaming.currentBase(spark, streamIdx)
    AnnIndexStreaming.maybeRetrain(spark, streamIdx, "embedding",
      queries, k = 5, nProbe = 2, minRecall, maxImbalance,
      retrainK = 8, iters = 3)
    assert(layout(streamIdx) === before)
    assert(AnnIndexStreaming.currentBase(spark, streamIdx).fold
      === baseBefore.fold, "a pure re-train must not advance the fold point")
  }

  test("postingsStream: streamed index equals from-scratch postings; BM25 over it equals the corpus query; replay no-ops") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.streaming.DocIndexStreaming
    import graft.ext.Retrieval
    implicit val sql = spark.sqlContext
    implicit val enc = Encoders.product[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("graft-poststream-").toString
    val indexPath = s"$base/postings"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq((1L, "spark shuffle exchange plan"), (2L, "parquet scan pushdown")),
      Seq((10L, "shuffle partitions skew salt"), (11L, "broadcast join plan")),
      Seq((20L, "scan plan shuffle shuffle")))
    val in = MemoryStream[(Long, String)]
    val q = DocIndexStreaming.postingsStream(
        in.toDF().toDF("doc_id", "text"), indexPath, s"$base/ckpt")
      .start()
    batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    // the committed postings equal a from-scratch build over everything
    val allDocs = LocalTable.of(spark, schema,
      batches.flatten.map { case (id, t) => Row(id, t) })
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"),
        r.getAs[Long]("tf"))).toSet
    val streamed = rows(DocIndexStreaming.currentPostings(spark, indexPath))
    assert(streamed === rows(Retrieval.postings(allDocs)))
    // a BM25 query over the streamed index equals the direct corpus query
    val queries = LocalTable.of(spark,
      StructType(Seq(StructField("query_id", LongType),
        StructField("text", StringType))),
      Seq(Row(1L, "shuffle plan"), Row(2L, "parquet pushdown")))
    def ranked(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank"))).toSet
    val viaIndex = ranked(Retrieval.bm25TopKFromPostings(
      DocIndexStreaming.currentPostings(spark, indexPath), queries, k = 3))
    assert(viaIndex === ranked(Retrieval.bm25TopK(allDocs, queries, k = 3)))
    // replaying an admitted batch leaves version and index untouched
    val before = DocIndexStreaming.latestVersion(spark, indexPath)
    DocIndexStreaming.admitPostingsBatch(
      LocalTable.of(spark, schema, batches(1).map { case (id, t) => Row(id, t) }),
      batchId = 1L, indexPath)
    assert(DocIndexStreaming.latestVersion(spark, indexPath) === before)
    assert(rows(DocIndexStreaming.currentPostings(spark, indexPath)) === streamed)
  }

  test("compactPostings: reader view unchanged, single root after fold, later appends pure-union, idempotent") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.streaming.DocIndexStreaming
    import graft.ext.Retrieval
    val base = java.nio.file.Files.createTempDirectory("graft-postcompact-").toString
    val indexPath = s"$base/postings"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def admit(id: Long, docs: (Long, String)*): Unit =
      DocIndexStreaming.admitPostingsBatch(
        LocalTable.of(spark, schema, docs.map { case (d, t) => Row(d, t) }),
        batchId = id, indexPath)
    def rows() = DocIndexStreaming.currentPostings(spark, indexPath).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"),
        r.getAs[Long]("tf"))).toSet
    admit(0L, 1L -> "spark shuffle exchange", 2L -> "parquet scan")
    admit(1L, 10L -> "shuffle skew salt")
    admit(2L, 20L -> "plan shuffle shuffle")
    val preFold = rows()
    DocIndexStreaming.compactPostings(spark, indexPath)
    // fold is a pure re-layout: identical reader view, now ONE root
    assert(rows() === preFold)
    val folded = DocIndexStreaming.currentPostings(spark, indexPath)
    assert(folded.inputFiles.nonEmpty &&
      folded.inputFiles.forall(_.contains("/c2/")),
      s"post-fold reader must read only the compacted root: ${folded.inputFiles.toSeq}")
    // appends after the fold keep landing as pure-union batch roots
    admit(3L, 30L -> "broadcast join plan")
    val grown = rows()
    assert(grown === preFold ++ Set((30L, "broadcast", 1L), (30L, "join", 1L),
      (30L, "plan", 1L)))
    // a second fold absorbs the new batch; a third is a no-op
    DocIndexStreaming.compactPostings(spark, indexPath)
    assert(rows() === grown)
    val after2 = DocIndexStreaming.currentPostings(spark, indexPath)
    assert(after2.inputFiles.forall(_.contains("/c3/")))
    DocIndexStreaming.compactPostings(spark, indexPath)
    assert(rows() === grown)
    // BM25 over the compacted index still equals the direct corpus query
    val allDocs = LocalTable.of(spark, schema, Seq(
      Row(1L, "spark shuffle exchange"), Row(2L, "parquet scan"),
      Row(10L, "shuffle skew salt"), Row(20L, "plan shuffle shuffle"),
      Row(30L, "broadcast join plan")))
    val queries = LocalTable.of(spark,
      StructType(Seq(StructField("query_id", LongType),
        StructField("text", StringType))),
      Seq(Row(1L, "shuffle plan")))
    def ranked(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank"))).toSet
    assert(ranked(Retrieval.bm25TopKFromPostings(
        DocIndexStreaming.currentPostings(spark, indexPath), queries, k = 3))
      === ranked(Retrieval.bm25TopK(allDocs, queries, k = 3)))
  }

  test("maybeRetrain: an empty held-out query set fails fast — NULL recall must not read as a breach and force a retrain") {
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}
    import graft.streaming.AnnIndexStreaming
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    def df(rs: Seq[(Long, Seq[Float], Int)]) = LocalTable.of(spark, schema,
      rs.map { case (id, e, l) => Row(id, e, l) })
    val rnd = new scala.util.Random(7)
    val rows = (0 until 20).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat), i % 2))
    val idx = java.nio.file.Files
      .createTempDirectory("graft-annempty-").toString + "/index"
    AnnIndexStreaming.init(df(rows), "embedding", k = 2, iters = 2, idx)
    val before = AnnIndexStreaming.currentBase(spark, idx)
    val e = intercept[IllegalArgumentException] {
      AnnIndexStreaming.maybeRetrain(spark, idx, "embedding", df(Seq.empty),
        k = 2, nProbe = 1, minRecall = 0.5, maxImbalance = 100.0,
        retrainK = 2, iters = 2)
    }
    assert(e.getMessage.contains("empty"))
    // and the failed check must not have retrained as a side effect
    assert(AnnIndexStreaming.currentBase(spark, idx) === before)
  }

  test("maybeCompactPostings: state-keyed trigger bounds the reader's union legs; postings stay equal to a from-scratch build") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.streaming.DocIndexStreaming
    import graft.ext.Retrieval
    implicit val sql = spark.sqlContext
    implicit val enc = Encoders.product[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("graft-postlegs-").toString
    val indexPath = s"$base/postings"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val batches: Seq[Seq[(Long, String)]] = (0 until 5).map(i =>
      Seq((i * 10L, s"shuffle plan term$i"), (i * 10L + 1, s"scan term$i")))
    def legs(): Int = {
      val files = DocIndexStreaming.currentPostings(spark, indexPath).inputFiles
      files.map(_.replaceAll("/[^/]*$", "")).distinct.length
    }
    val in = MemoryStream[(Long, String)]
    val q = DocIndexStreaming.postingsStream(
        in.toDF().toDF("doc_id", "text"), indexPath, s"$base/ckpt",
        maxUnionLegs = 2)
      .start()
    batches.foreach { b =>
      in.addData(b: _*); q.processAllAvailable()
      assert(legs() <= 2, s"reader union must stay ≤ 2 roots, got ${legs()}")
    }
    q.stop()
    val allDocs = LocalTable.of(spark, schema,
      batches.flatten.map { case (id, t) => Row(id, t) })
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"),
        r.getAs[Long]("tf"))).toSet
    assert(rows(DocIndexStreaming.currentPostings(spark, indexPath))
      === rows(Retrieval.postings(allDocs)))
    // under the leg cap a fresh listing needs no fold: the trigger no-ops
    assert(!DocIndexStreaming.maybeCompactPostings(spark, indexPath,
      maxUnionLegs = 2))
    // a tighter cap folds immediately and reports it
    DocIndexStreaming.admitPostingsBatch(
      LocalTable.of(spark, schema, Seq(Row(100L, "late append"))),
      batchId = 5L, indexPath)
    assert(DocIndexStreaming.maybeCompactPostings(spark, indexPath,
      maxUnionLegs = 1))
    assert(legs() === 1)
  }

  test("compactPostings tripwire: a concurrent commit between fold and marker aborts the compaction — readers stay exact, the next fold recovers") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.streaming.DocIndexStreaming
    import graft.ext.Retrieval
    val base = java.nio.file.Files.createTempDirectory("graft-posttrip-").toString
    val indexPath = s"$base/postings"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def df(rs: (Long, String)*) = LocalTable.of(spark, schema,
      rs.map { case (id, t) => Row(id, t) })
    DocIndexStreaming.admitPostingsBatch(df((0L, "alpha plan")), 0L, indexPath)
    DocIndexStreaming.admitPostingsBatch(df((1L, "beta scan")), 1L, indexPath)
    def cMarkers(): Seq[String] = new java.io.File(indexPath).listFiles()
      .map(_.getName).filter(_.startsWith("_COMMIT_c")).toSeq
    // a batch commits inside the fold→marker window (the single-writer
    // contract violation an external-cadence compactor can produce):
    // the fold must detect it and ABORT its marker commit
    val committed = DocIndexStreaming.compactPostingsImpl(spark, indexPath,
      () => DocIndexStreaming.admitPostingsBatch(
        df((2L, "gamma concurrent")), 2L, indexPath))
    assert(!committed, "a raced fold must not publish its marker")
    assert(cMarkers().isEmpty, "the aborted fold must leave no _COMMIT_c")
    // readers are untouched by the orphaned fold dir: every committed
    // batch — including the concurrent one — is still visible, exact
    def rows(dfr: org.apache.spark.sql.DataFrame) = dfr.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"),
        r.getAs[Long]("tf"))).toSet
    val all = df((0L, "alpha plan"), (1L, "beta scan"), (2L, "gamma concurrent"))
    assert(rows(DocIndexStreaming.currentPostings(spark, indexPath))
      === rows(Retrieval.postings(all)))
    // an uncontended re-fold commits, folds ALL batches, readers unchanged
    assert(DocIndexStreaming.compactPostings(spark, indexPath))
    assert(cMarkers() === Seq("_COMMIT_c2"))
    assert(rows(DocIndexStreaming.currentPostings(spark, indexPath))
      === rows(Retrieval.postings(all)))
    // a concurrent COMPACTOR committing at/above our fold point in the
    // same window also trips the abort (no double-publish of c-markers)
    DocIndexStreaming.admitPostingsBatch(df((3L, "delta late")), 3L, indexPath)
    val raced = DocIndexStreaming.compactPostingsImpl(spark, indexPath,
      () => { // the other compactor wins the race and commits c3 first
        val f = new java.io.File(indexPath, "_COMMIT_c3")
        assert(f.createNewFile())
      })
    assert(!raced)
    // the aborted folds deleted their staging dirs and NEVER touched the
    // committed c2 (folds stage to a unique dir and claim the target by
    // no-overwrite rename — a same-hi loser cannot clobber a winner)
    assert(!new java.io.File(indexPath).listFiles()
      .exists(_.getName.contains("_stage_")), "staging dirs must be cleaned")
    // crashed-fold recovery: drop the injected competitor's marker (its
    // dir never existed) and leave a marker-less c<hi> orphan occupying
    // the target (a fold that died before its marker) — the re-fold
    // clears it, claims by rename, commits, and readers stay exact
    assert(new java.io.File(indexPath, "_COMMIT_c3").delete())
    new java.io.File(indexPath, "c3/half").mkdirs() // fake half-written dir
    assert(DocIndexStreaming.compactPostings(spark, indexPath))
    assert(cMarkers().sorted === Seq("_COMMIT_c2", "_COMMIT_c3"))
    assert(rows(DocIndexStreaming.currentPostings(spark, indexPath))
      === rows(Retrieval.postings(
        df((0L, "alpha plan"), (1L, "beta scan"), (2L, "gamma concurrent"),
          (3L, "delta late")))))
  }

  test("StagedCommit: a committed target is never deleted by a racer; orphans are cleared; failed writes clean their stages and propagate") {
    import org.apache.hadoop.fs.Path
    import graft.streaming.StagedCommit
    val base = java.nio.file.Files.createTempDirectory("graft-staged-").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base).getFileSystem(conf)
    // the commit unit is ONE dir; multi-part artifacts nest inside it
    def writeDir(path: String, tag: String): Unit =
      Seq("ivf", "ivf.centroids").foreach { inner =>
        val d = new java.io.File(path, inner); d.mkdirs()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d.getPath, "data"), tag)
      }
    def names() = new java.io.File(base).listFiles().map(_.getName).toSet
    // 1) plain commit: the nested build lands, marker created, no stages
    assert(StagedCommit.commit(p => writeDir(p, "v1"), fs, conf,
      s"$base/base_v1_f0", new Path(base, "_COMMIT_v1_f0")))
    assert(names().contains("base_v1_f0"))
    assert(!names().exists(_.contains("_stage_")))
    def committedData(dir: String): String = java.nio.file.Files.readString(
      java.nio.file.Paths.get(base, dir, "ivf", "data"))
    assert(committedData("base_v1_f0") === "v1")
    // 2) a racer already committed the marker: our commit aborts, the
    // winner's committed dir is untouched (re-running the same commit
    // IS the racer case)
    assert(!StagedCommit.commit(p => writeDir(p, "loser"), fs, conf,
      s"$base/base_v1_f0", new Path(base, "_COMMIT_v1_f0")))
    assert(!names().exists(_.contains("_stage_")), "loser must clean stages")
    assert(committedData("base_v1_f0") === "v1",
      "the winner's committed bytes must be untouched")
    // 2b) a failed stage write leaks no staging dirs and PROPAGATES
    // (silently dropping a batch would let the checkpoint advance)
    intercept[RuntimeException] {
      StagedCommit.commit(p => { writeDir(p, "x"); sys.error("job died") },
        fs, conf, s"$base/base_v9_f0", new Path(base, "_COMMIT_v9_f0"))
    }
    assert(!names().exists(_.contains("_stage_")),
      "a failed write must clean its stages")
    assert(!names().contains("base_v9_f0"))
    // 3) a marker-less orphan at the target (crashed writer): cleared,
    // claimed, committed
    writeDir(s"$base/base_v2_f0", "orphan")
    assert(StagedCommit.commit(p => writeDir(p, "v2"), fs, conf,
      s"$base/base_v2_f0", new Path(base, "_COMMIT_v2_f0")))
    assert(committedData("base_v2_f0") === "v2")
  }

  test("StagedCommit FS contract: schemes route by claim capability — rename-atomic stores rename, conditional-put stores claim-file, everything else refused up front") {
    import org.apache.hadoop.fs.Path
    import graft.streaming.StagedCommit
    import graft.streaming.StagedCommit.ClaimStrategy
    val conf = spark.sparkContext.hadoopConfiguration
    val base = java.nio.file.Files.createTempDirectory("graft-fsguard-").toString
    val fs = new Path(base).getFileSystem(conf)
    // the guard is an ALLOW-LIST per capability (a deny-list of object
    // stores can never be complete): every scheme off BOTH lists dies
    // BEFORE any I/O — no stage write, no fs call against a store whose
    // client jars may not even be on the classpath — so the deployment
    // fails on its first commit with the contract spelled out. Covers
    // stores a deny-list missed (cosn, obs, oci) AND a made-up scheme
    // (unknown ⇒ refused by default).
    Seq("oss", "swift", "cos", "wasb", "wasbs",
      "cosn", "obs", "oci", "somefuturefs")
      .foreach { scheme =>
        var wrote = false
        val e = intercept[UnsupportedOperationException] {
          StagedCommit.commit(p => { wrote = true }, fs, conf,
            s"$scheme://bucket/index/base_v1_f0",
            new Path(s"$scheme://bucket/index/_COMMIT_v1_f0"))
        }
        assert(e.getMessage.contains("no atomic"),
          s"$scheme guard message must state the contract")
        assert(e.getMessage.contains("conditional-put"),
          s"$scheme guard message must point at the conditional-put route")
        assert(!wrote, s"$scheme: the guard must fire before the stage write")
      }
    // conditional-put-capable object stores ROUTE to the claim-file
    // protocol instead of refusing (the reference's production lake is
    // MinIO/S3A) — strategy resolution is pure, no I/O to assert here;
    // the protocol itself is battle-tested in PropertySpec's simulated
    // object-store battery
    Seq("s3a", "s3", "s3n", "gs").foreach { scheme =>
      assert(StagedCommit.claimStrategyFor(
        s"$scheme://bucket/index/base_v1_f0", fs)
        === ClaimStrategy.ConditionalPut, s"$scheme must route, not refuse")
    }
    // case-insensitive (URI schemes are): S3A:// is the same store
    assert(StagedCommit.claimStrategyFor(
      "S3A://bucket/index/base_v1_f0", fs) === ClaimStrategy.ConditionalPut)
    // hierarchical filesystems rename: scheme-less local paths (the
    // whole suite), an explicit file:// target, and hdfs/abfs/viewfs
    // (the latter two with documented HNS / rename-atomic-mount caveats)
    Seq(s"file://$base/x", "hdfs://nn/x", "abfss://c@a.dfs.example/x",
      "viewfs://cluster/x").foreach { target =>
      assert(StagedCommit.claimStrategyFor(target, fs)
        === ClaimStrategy.AtomicRename, s"$target must take the rename claim")
    }
    assert(StagedCommit.commit(p => { fs.mkdirs(new Path(p)); () },
      fs, conf, s"file://$base/ok_v1", new Path(s"file://$base/_COMMIT_ok_v1")))
  }

  test("ANN quantizer-coherence tripwire: a retrain committing mid-admission aborts the stale assignment loudly; the retry assigns under the new base") {
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}
    import graft.streaming.AnnIndexStreaming
    val rnd = new scala.util.Random(4242)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = (0 until 40).map { i =>
      (i.toLong,
        centers(i % 4).map(v => v + 0.05f * rnd.nextGaussian().toFloat).toSeq,
        i % 4)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    def df(rs: Seq[(Long, Seq[Float], Int)]) = LocalTable.of(spark, schema,
      rs.map { case (id, e, l) => Row(id, e, l) })
    val indexPath = java.nio.file.Files
      .createTempDirectory("graft-anntrip-").toString + "/index"
    AnnIndexStreaming.init(df(rows.take(30)), "embedding", k = 4, iters = 0,
      indexPath)
    val batch = rows.drop(30)
    // a concurrent session's retrain lands in the assign→claim window:
    // the admission's centroid_ids were computed under base v0, but the
    // read view is now v1 — committing them would make probes prune
    // wrong (silently missed vectors). The tripwire must abort + THROW
    // so the engine retries the batch.
    val e = intercept[IllegalStateException] {
      AnnIndexStreaming.admitBatchImpl(df(batch), 0L, "embedding", indexPath,
        beforeClaim = () => AnnIndexStreaming.compact(
          spark, indexPath, "embedding", k = 8, iters = 0))
    }
    assert(e.getMessage.contains("mid-admission"))
    val f = new java.io.File(indexPath)
    assert(!f.listFiles().exists(_.getName == "_COMMIT_batch_0"),
      "an aborted stale admission must not commit its marker")
    assert(!f.listFiles().exists(_.getName.contains("_stage_")),
      "the aborted admission must clean its staging dir")
    assert(AnnIndexStreaming.currentLists(spark, indexPath).count() === 30L,
      "readers must still see exactly the folded archive")
    // the retry (what the engine's redelivery does) assigns under v1
    AnnIndexStreaming.admitBatch(df(batch), 0L, "embedding", indexPath)
    val base = AnnIndexStreaming.currentBase(spark, indexPath)
    assert(base.version === 1L, "the retrain's base must be the read view")
    val cs = graft.ext.IvfIndex.loadCentroids(spark,
      AnnIndexStreaming.basePath(indexPath, base))
    val got = AnnIndexStreaming.currentLists(spark, indexPath)
      .filter(col("vec_id") >= 30L)
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val expected = graft.ext.Similarity.ivfAssignments(df(batch), cs)
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === expected,
      "the retried admission must be assigned under the NEW quantizer")
  }

  test("external-cadence compactor thread racing live admissions: whatever folds commit or abort, readers stay exact and the layout converges") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.streaming.DocIndexStreaming
    import graft.ext.Retrieval
    val base = java.nio.file.Files.createTempDirectory("graft-postrace-").toString
    val indexPath = s"$base/postings"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def df(rs: (Long, String)*) = LocalTable.of(spark, schema,
      rs.map { case (id, t) => Row(id, t) })
    // a REAL second writer: an external-cadence compactor looping while
    // the main thread admits batches — the production shape the
    // single-writer tripwire exists for. The race outcome (which folds
    // commit, which abort) is nondeterministic by design; the INVARIANT
    // is not: at every point readers resolve committed markers only, so
    // the final postings must equal a from-scratch build exactly.
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val folds = new java.util.concurrent.atomic.AtomicInteger(0)
    val compactorErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val compactor = new Thread(() => {
      try while (!stop.get()) {
        if (DocIndexStreaming.compactPostings(spark, indexPath))
          folds.incrementAndGet()
        Thread.sleep(3)
      } catch { case t: Throwable => compactorErr.set(t) }
    }, "graft-test-compactor")
    compactor.start()
    val all = (0L until 24L).map(i => (i, s"doc w${i % 7} w${(i + 3) % 7} common"))
    try all.grouped(2).zipWithIndex.foreach { case (b, i) =>
      DocIndexStreaming.admitPostingsBatch(df(b: _*), i.toLong, indexPath)
    } finally {
      stop.set(true); compactor.join(30000)
    }
    assert(compactorErr.get() == null,
      s"compactor thread died: ${compactorErr.get()}")
    def rows(dfr: org.apache.spark.sql.DataFrame) = dfr.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"),
        r.getAs[Long]("tf"))).toSet
    assert(rows(DocIndexStreaming.currentPostings(spark, indexPath))
      === rows(Retrieval.postings(df(all: _*))),
      s"racy compaction corrupted the postings (committed folds: ${folds.get()})")
    // a final quiet fold converges the layout to one root, still exact
    DocIndexStreaming.compactPostings(spark, indexPath)
    assert(rows(DocIndexStreaming.currentPostings(spark, indexPath))
      === rows(Retrieval.postings(df(all: _*))))
    val legs = DocIndexStreaming.currentPostings(spark, indexPath)
      .inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct.length
    assert(legs === 1)
  }

  test("releaseDeltaStream: streamed per-source delta card equals the batch operator; replay no-ops; v1-only sources surface as removals") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.streaming.ReleaseDeltaStreaming
    import graft.ext.DataQuality
    implicit val sql = spark.sqlContext
    implicit val enc = Encoders.product[(Long, Option[String], String)]
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    def df(rs: Seq[(Long, Option[String], String)]) = LocalTable.of(spark,
      schema, rs.map { case (id, src, t) => Row(id, src.orNull, t) })
    // v1: web(1,2,3), apis(4,5), books(6), null-source(7)
    val v1rows: Seq[(Long, Option[String], String)] = Seq(
      (1L, Some("web"), "alpha beta gamma"), (2L, Some("web"), "delta"),
      (3L, Some("web"), "epsilon zeta"), (4L, Some("apis"), "eta theta"),
      (5L, Some("apis"), "iota"), (6L, Some("books"), "kappa lambda mu"),
      (7L, None, "nu xi"))
    // v2: 1 unchanged; 2 changed (+2 tokens); 3 removed; 4 moved
    // apis→web AND changed; 5 unchanged; books entirely removed;
    // null-source doc changed; additions to web and a brand-new source
    val v2rows: Seq[(Long, Option[String], String)] = Seq(
      (1L, Some("web"), "alpha beta gamma"),
      (2L, Some("web"), "delta prime second"),
      (4L, Some("web"), "eta theta revised"),
      (5L, Some("apis"), "iota"),
      (7L, None, "nu xi omicron"),
      (8L, Some("web"), "pi rho"),
      (9L, Some("forums"), "sigma tau upsilon"))
    val v1 = df(v1rows)
    val base = java.nio.file.Files.createTempDirectory("graft-reldelta-").toString
    val statePath = s"$base/state"
    val in = MemoryStream[(Long, Option[String], String)]
    val q = ReleaseDeltaStreaming.releaseDeltaStream(
        in.toDF().toDF("doc_id", "source", "text"), v1, statePath, s"$base/ckpt")
      .start()
    // three micro-batches, disjoint doc_ids
    Seq(v2rows.take(3), v2rows.slice(3, 5), v2rows.drop(5)).foreach { b =>
      in.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    def card(dfr: org.apache.spark.sql.DataFrame) = dfr.collect().map(r =>
      (Option(r.getAs[String]("source")), r.getAs[Long]("n_added"),
        r.getAs[Long]("n_removed"), r.getAs[Long]("n_changed"),
        r.getAs[Long]("n_unchanged"), r.getAs[Long]("tok_added"),
        r.getAs[Long]("tok_removed"), r.getAs[Long]("tok_delta_changed"),
        r.getAs[Long]("net_token_delta"))).toSet
    val streamed = card(ReleaseDeltaStreaming.releaseDeltaFromState(
      ReleaseDeltaStreaming.currentState(spark, statePath), v1))
    val batch = card(DataQuality.releaseDelta(v1, df(v2rows)))
    assert(streamed === batch, s"streamed $streamed\nbatch $batch")
    // spot-check the books source: present only in v1 ⇒ pure removal
    val books = streamed.find(_._1.contains("books")).get
    assert(books === ((Some("books"), 0L, 1L, 0L, 0L, 0L, 3L, 0L, -3L)))
    // replaying an admitted batch leaves the state untouched
    ReleaseDeltaStreaming.admitBatch(df(v2rows.take(3)), 0L, v1, statePath)
    assert(card(ReleaseDeltaStreaming.releaseDeltaFromState(
      ReleaseDeltaStreaming.currentState(spark, statePath), v1)) === streamed)
  }

  test("contaminationStream: streamed verdicts equal the batch operator; benchmark admissions merge by set union; replays and growth are forward-only") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.streaming.{ContaminationStreaming, DocIndexStreaming}
    import graft.ext.TextStats
    implicit val sql = spark.sqlContext
    implicit val enc = Encoders.product[(Long, String)]
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val textSchema = StructType(Seq(StructField("text", StringType)))
    def texts(ts: String*) = LocalTable.of(spark, textSchema, ts.map(Row(_)))
    val base = java.nio.file.Files
      .createTempDirectory("graft-contam-").toString
    val idx = s"$base/benchmark"
    // two benchmark admissions with OVERLAPPING content (set semantics)
    val eval0 = Seq("the quick brown fox jumps", "alpha beta gamma delta")
    val eval1 = Seq("alpha beta gamma delta", "zeta eta theta iota kappa")
    ContaminationStreaming.admitBenchmarkBatch(texts(eval0: _*), 0L, idx, n = 3)
    ContaminationStreaming.admitBenchmarkBatch(texts(eval1: _*), 1L, idx, n = 3)
    def ngrams() = ContaminationStreaming
      .currentBenchmarkNgrams(spark, idx).collect().map(_.getString(0)).toSet
    val fromScratch = texts((eval0 ++ eval1).distinct: _*)
      .select(explode(graft.ext.Dedup.shingles(col("text"), 3)).as("ng"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(ngrams() === fromScratch)
    // replaying an admitted benchmark batch is a no-op
    val v = DocIndexStreaming.latestVersion(spark, idx)
    ContaminationStreaming.admitBenchmarkBatch(texts(eval0: _*), 0L, idx, n = 3)
    assert(DocIndexStreaming.latestVersion(spark, idx) === v)
    // score a training stream in two micro-batches
    val train: Seq[(Long, String)] = Seq(
      (1L, "page quoting the quick brown fox jumps verbatim"),
      (2L, "clean document about spark shuffles and exchanges"),
      (3L, "alpha beta gamma delta copied wholesale here"),
      (4L, "short"))
    val in = MemoryStream[(Long, String)]
    val q = ContaminationStreaming.contaminationStream(
        in.toDF().toDF("doc_id", "text"), idx, s"$base/scored",
        s"$base/ckpt", n = 3, threshold = 0.2)
      .start()
    Seq(train.take(2), train.drop(2)).foreach { b =>
      in.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("total_ngrams"),
        r.getAs[Long]("hit_ngrams"), r.getAs[Double]("overlap_frac"),
        r.getAs[Boolean]("contaminated"))).toSet
    val streamed = verdicts(spark.read.parquet(s"$base/scored")
      .select(col("doc_id"), col("total_ngrams"), col("hit_ngrams"),
        col("overlap_frac"), col("contaminated")))
    val batch = verdicts(TextStats.ngramContamination(
      LocalTable.of(spark, docSchema,
        train.map { case (id, t) => Row(id, t) }),
      texts((eval0 ++ eval1): _*), n = 3, threshold = 0.2))
    assert(streamed === batch, s"$streamed\nvs\n$batch")
    // forward-only: a later benchmark admission changes FUTURE scoring
    // only — already-scored batches stay as written
    ContaminationStreaming.admitBenchmarkBatch(
      texts("spark shuffles and exchanges everywhere"), 2L, idx, n = 3)
    val late = verdicts(ContaminationStreaming.scoreBatch(
      LocalTable.of(spark, docSchema, Seq(Row(2L,
        "clean document about spark shuffles and exchanges"))),
      idx, n = 3, threshold = 0.2))
    assert(late.head._3 > 0L, "the grown index must hit the new n-grams")
    assert(verdicts(spark.read.parquet(s"$base/scored")
      .select(col("doc_id"), col("total_ngrams"), col("hit_ngrams"),
        col("overlap_frac"), col("contaminated"))) === streamed)
  }

  test("contamination index persists its n-gram width: admissions and scoring at a different n fail fast instead of silently missing") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.streaming.ContaminationStreaming
    val textSchema = StructType(Seq(StructField("text", StringType)))
    def texts(ts: String*) = LocalTable.of(spark, textSchema, ts.map(Row(_)))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val idx = java.nio.file.Files
      .createTempDirectory("graft-contam-n-").toString + "/benchmark"
    ContaminationStreaming.admitBenchmarkBatch(
      texts("the quick brown fox jumps"), 0L, idx, n = 3)
    assert(ContaminationStreaming.persistedN(spark, idx) === Some(3))
    // admitting at a different width is a fail-fast, not a silent merge
    val eAdmit = intercept[IllegalArgumentException] {
      ContaminationStreaming.admitBenchmarkBatch(
        texts("alpha beta gamma delta"), 1L, idx, n = 4)
    }
    assert(eAdmit.getMessage.contains("n=4") &&
      eAdmit.getMessage.contains("n=3"))
    // scoring at a different width — the silent-false-negative case the
    // guard exists for — also fails fast
    val eScore = intercept[IllegalArgumentException] {
      ContaminationStreaming.scoreBatch(
        LocalTable.of(spark, docSchema,
          Seq(Row(1L, "the quick brown fox jumps verbatim"))),
        idx, n = 4, threshold = 0.2)
    }
    assert(eScore.getMessage.contains("scoreBatch"))
    // the matching width still admits and scores normally
    ContaminationStreaming.admitBenchmarkBatch(
      texts("alpha beta gamma delta"), 1L, idx, n = 3)
    val hit = ContaminationStreaming.scoreBatch(
      LocalTable.of(spark, docSchema,
        Seq(Row(1L, "page quoting the quick brown fox jumps verbatim"))),
      idx, n = 3, threshold = 0.2).collect().head
    assert(hit.getAs[Long]("hit_ngrams") > 0L)
    // a LEGACY index (committed versions, no metadata — built before the
    // width contract) cannot be verified: both entry points refuse to
    // guess rather than stamping the caller's n as truth
    assert(new java.io.File(idx, "_NGRAM_N").delete())
    val eLegacy = intercept[IllegalStateException] {
      ContaminationStreaming.scoreBatch(
        LocalTable.of(spark, docSchema, Seq(Row(1L, "anything"))),
        idx, n = 3, threshold = 0.2)
    }
    assert(eLegacy.getMessage.contains("no _NGRAM_N"))
    intercept[IllegalStateException] {
      ContaminationStreaming.admitBenchmarkBatch(
        texts("more eval text here"), 2L, idx, n = 3)
    }
    // an ORPHAN metadata file (crashed first admission: _NGRAM_N written,
    // no version ever committed) describes no index — a rebuild at a
    // DIFFERENT width overwrites it instead of failing forever
    val idx2 = java.nio.file.Files
      .createTempDirectory("graft-contam-orphan-").toString + "/benchmark"
    new java.io.File(idx2).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(idx2, "_NGRAM_N"), "3")
    ContaminationStreaming.admitBenchmarkBatch(
      texts("fresh benchmark suite text"), 0L, idx2, n = 4)
    assert(ContaminationStreaming.persistedN(spark, idx2) === Some(4))
  }

  test("release-delta tripwire: a doc_id delivered in two v2 batches fails the report loudly instead of shipping a negative removal count") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.streaming.ReleaseDeltaStreaming
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    def df(rs: Seq[(Long, String, String)]) = LocalTable.of(spark, schema,
      rs.map { case (id, src, t) => Row(id, src, t) })
    val v1 = df(Seq((1L, "web", "alpha beta"), (2L, "web", "gamma")))
    val statePath = java.nio.file.Files
      .createTempDirectory("graft-reldelta-trip-").toString + "/state"
    // contract breach: doc 1 delivered in batch 0 AND batch 1
    ReleaseDeltaStreaming.admitBatch(
      df(Seq((1L, "web", "alpha beta"))), 0L, v1, statePath)
    ReleaseDeltaStreaming.admitBatch(
      df(Seq((1L, "web", "alpha beta"), (2L, "web", "gamma"))), 1L, v1,
      statePath)
    // n_matched(web) = 3 > n_v1(web) = 2 ⇒ the report must raise, not
    // silently absorb the error into n_removed = -1
    val e = intercept[Exception] {
      ReleaseDeltaStreaming.releaseDeltaFromState(
        ReleaseDeltaStreaming.currentState(spark, statePath), v1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("contract breach")),
      s"expected the contract-breach tripwire, got: ${messages(e)}")
  }

  test("StagedCommit outcomes are typed by the actual abort cause, not a post-hoc probe: tripwire ⇒ Tripped, racer marker ⇒ RacerCommitted, claim race ⇒ LostClaim") {
    import org.apache.hadoop.fs.Path
    import graft.streaming.StagedCommit
    import graft.streaming.StagedCommit.Outcome
    val conf = spark.sparkContext.hadoopConfiguration
    val base = java.nio.file.Files
      .createTempDirectory("graft-scout-").toString
    val realFs = new Path(base).getFileSystem(conf)
    def writeDir(path: String): Unit = {
      val d = new java.io.File(path, "part"); d.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(d.getPath, "data"), "x")
    }
    // Tripped: the caller's own tripwire — regardless of any other state
    assert(StagedCommit.commitOutcome(writeDir, realFs, conf,
      s"$base/t0", new Path(base, "_COMMIT_t0"),
      abortIf = () => true) === Outcome.Tripped)
    // RacerCommitted: a racer's marker lands in the stage→claim window
    assert(StagedCommit.commitOutcome(writeDir, realFs, conf,
      s"$base/t1", new Path(base, "_COMMIT_t1"),
      beforeClaim = () => {
        writeDir(s"$base/t1")
        realFs.create(new Path(base, "_COMMIT_t1"), true).close()
      }) === Outcome.RacerCommitted)
    // LostClaim: the racer's claimed-but-unmarked dir survives our
    // orphan-clear (delete suppressed once — the delete→rename window),
    // so the no-overwrite rename itself loses. The cause must be typed
    // LostClaim even though a "base changed"-style post-hoc probe of any
    // unrelated state would say something else.
    class DeleteSwallowFs(u: org.apache.hadoop.fs.FileSystem)
        extends org.apache.hadoop.fs.FilterFileSystem(u) {
      @volatile var swallowOnce: String = null
      override def delete(f: Path, recursive: Boolean): Boolean = {
        if (swallowOnce != null && f.toUri.getPath == swallowOnce) {
          swallowOnce = null
          true // claims success, deletes nothing — racer re-claimed
        } else super.delete(f, recursive)
      }
    }
    val swFs = new DeleteSwallowFs(realFs)
    swFs.swallowOnce = s"$base/t2"
    assert(StagedCommit.commitOutcome(writeDir, swFs, conf,
      s"$base/t2", new Path(base, "_COMMIT_t2"),
      beforeClaim = () => writeDir(s"$base/t2")) === Outcome.LostClaim)
    assert(!realFs.exists(new Path(base, "_COMMIT_t2")),
      "a lost claim must not commit a marker")
    assert(!new java.io.File(base).listFiles()
      .exists(_.getName.contains("_stage_")), "all aborts clean the stage")
    // and the clean path still reports Committed
    assert(StagedCommit.commitOutcome(writeDir, realFs, conf,
      s"$base/t3", new Path(base, "_COMMIT_t3")) === Outcome.Committed)
  }

  test("ANN lifecycle end-to-end on a SIMULATED s3a store: the conditional-put claim carries init → admit → replay → retrain, layout ≡ the file:// twin, no claim/stage residue") {
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}
    import graft.streaming.{AnnIndexStreaming, StagedCommit}
    import graft.streaming.StagedCommit.ClaimStrategy
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[GraftS3aSimFs].getName)
    val rnd = new scala.util.Random(31337)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = (0 until 40).map { i =>
      (i.toLong,
        centers(i % 4).map(v => v + 0.05f * rnd.nextGaussian().toFloat).toSeq,
        i % 4)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    def df(rs: Seq[(Long, Seq[Float], Int)]) = LocalTable.of(spark, schema,
      rs.map { case (id, e, l) => Row(id, e, l) })
    // same lifecycle over two roots: the simulated object store (every
    // path resolves through fs.s3a.impl — parquet committers included —
    // and every StagedCommit routes to the conditional-put claim) and a
    // plain local twin (the rename claim)
    val s3Base = "s3a://graft-sim" +
      java.nio.file.Files.createTempDirectory("graft-s3asim-").toString
    val localBase = java.nio.file.Files
      .createTempDirectory("graft-s3atwin-").toString
    assert(StagedCommit.claimStrategyFor(s"$s3Base/index",
      new org.apache.hadoop.fs.Path(s3Base).getFileSystem(conf))
      === ClaimStrategy.ConditionalPut)
    def drive(base: String): Unit = {
      val indexPath = s"$base/index"
      AnnIndexStreaming.init(df(rows.take(20)), "embedding", k = 4,
        iters = 0, indexPath)
      AnnIndexStreaming.admitBatch(df(rows.slice(20, 30)), 0L, "embedding",
        indexPath)
      // replay of an admitted batch must no-op (marker seen)
      AnnIndexStreaming.admitBatch(df(rows.slice(20, 30)), 0L, "embedding",
        indexPath)
      // fold + re-train: a base_v1 conditional-put (or rename) commit
      AnnIndexStreaming.compact(spark, indexPath, "embedding", k = 8,
        iters = 0)
    }
    drive(s3Base)
    drive(localBase)
    def layout(base: String) = AnnIndexStreaming
      .currentLists(spark, s"$base/index")
      .select(col("vec_id"), col("centroid_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(layout(s3Base) === layout(localBase),
      "the conditional-put lifecycle must land the identical layout")
    val qv = rows.head._2.toArray
    def probe(base: String) = AnnIndexStreaming
      .probe(spark, s"$base/index", qv, k = 5, nProbe = 2)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    assert(probe(s3Base) === probe(localBase))
    // commit hygiene on the object store: every claim released, every
    // stage renamed away or cleaned, base v1 committed
    val idxDir = new java.io.File(
      new java.net.URI(s"$s3Base/index").getPath)
    val names = idxDir.listFiles().map(_.getName)
    assert(!names.exists(_.contains("_claim")),
      s"unreleased claim files: ${names.mkString(",")}")
    assert(!names.exists(_.contains("_stage_")),
      s"leaked stage dirs: ${names.mkString(",")}")
    assert(names.contains("_COMMIT_base_v1_f1") &&
      names.contains("_COMMIT_batch_0"), names.mkString(","))
  }
}
