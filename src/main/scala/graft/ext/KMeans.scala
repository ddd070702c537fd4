package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.LocalTable
import graft.plans.{CosineSimilarityExpr, NearestCentroidExpr}

/** Distributed Lloyd's k-means over DataFrames — the IVF coarse-quantizer
  * fit (spherical variant: assignment by max cosine, update by elementwise
  * mean, which cosine treats identically to the normalized mean).
  *
  * Scale shape per iteration:
  *   - assignment is a pure projection (NearestCentroidExpr carries the
  *     k×d centroid matrix into codegen as a reference object) — one scan,
  *     zero shuffle;
  *   - the centroid update is posexplode → groupBy(cid, pos).avg with
  *     map-side partial aggregation, so the shuffle is at most k×d rows
  *     per map task regardless of corpus size;
  *   - only the k×d means come back to the driver (k-means' standard
  *     driver-side model update — MLlib's KMeans does the same), never
  *     corpus rows.
  *
  * Determinism: init picks the vectors of the k ids with the lowest
  * md5-derived hash (an ANSI-SQL-reproducible choice — the same trick
  * that made d08/s04 oracle-checkable), and every subsequent step is a
  * deterministic aggregate, so the same corpus always yields the same
  * model in any engine.
  */
object KMeans {

  /** One Lloyd iteration's exploded assignment frame
    * (`cid, pos, x` per vector element). The assignment is computed
    * BELOW the generate (withColumn, then a separate select) so it runs
    * once per VECTOR: a generator in the same select puts every sibling
    * expression in the post-Generate Project, re-evaluating the k·dim
    * nearest-centroid scan once per exploded ELEMENT — dim× the work
    * (measured 18.9 s vs 0.9 s per iteration at k=128/dim=64 on the
    * sf1 corpus). PlanSpec pins the shape. */
  private[graft] def iterationAssigned(v: DataFrame,
      centroids: Array[Array[Float]]): DataFrame =
    v.withColumn("cid",
        NearestCentroidExpr.nearestCentroid(col("v"), centroids))
      .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))

  /** Fit k centroids on `vectors(vecCol: Array[Float])`; `idCol` seeds
    * the deterministic init. */
  def fit(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
      maxIters: Int): Array[Array[Float]] = {
    require(k > 0 && maxIters >= 0)
    val v = vectors.select(col(vecCol).as("v")).filter(col("v").isNotNull)
    var centroids: Array[Array[Float]] = vectors
      .select(col(idCol).cast("string").as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
      .withColumn("h",
        conv(substring(md5(col("id")), 1, 15), 16, 10).cast("long"))
      .orderBy(col("h"), col("id"))
      .limit(k)
      .select("v")
      .collect()
      .map(_.getSeq[Float](0).toArray)
    var iter = 0
    while (iter < maxIters) {
      val assigned = iterationAssigned(v, centroids)
      val means = assigned
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("c"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).map(_.toFloat).toArray)
        .toMap
      // empty clusters keep their previous centroid
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i))).toArray
      iter += 1
    }
    centroids
  }
}

/** IVF (inverted-file) ANN index: k-means coarse quantizer + inverted
  * lists physically PARTITIONED BY centroid id, so a probe of `nProbe`
  * lists is a partition-pruned scan — the layout is the index.
  *
  * Mirrors the classic IVF-Flat design (Sivic & Zisserman's visual-words
  * inverted files; FAISS IVF): at 100 TB the lists directory is the
  * long-lived artifact, built once per corpus snapshot and probed by every
  * query, reading `nProbe/k` of the data per query.
  */
object IvfIndex {

  /** Width tripwire for every path where vectors enter a PERSISTED
    * layout: the cosine kernels score over min(|x|, |y|) — a
    * mismatched-width vector yields a plausible-but-wrong similarity
    * instead of an error — so a bad vector admitted into an index would
    * poison probes silently and forever. The guard is a per-row
    * codegen'd `when` riding the existing scan/write (no extra job, no
    * extra shuffle): any row whose `vecCol` is NULL or not `dims` wide
    * fails the build/admission loudly, naming the offending id. */
  def requireDims(vectors: DataFrame, vecCol: String, dims: Int,
      idCol: String = "vec_id"): DataFrame =
    vectors.withColumn(vecCol,
      when(col(vecCol).isNotNull && size(col(vecCol)) === dims, col(vecCol))
        .otherwise(raise_error(concat(
          lit(s"vector width != trained dims $dims for $idCol="),
          coalesce(col(idCol).cast("string"), lit("<null>"))))))

  /** THE inverted-list write contract, shared by every producer (build,
    * in-place append, the streaming per-batch dirs): co-locate each list
    * before the partitioned write — one writer task per centroid → one
    * file per list directory instead of tasks×centroids small files (at
    * larger scale: repartition(n, col) for n files per list). `assigned`
    * must already carry `centroid_id`. */
  def writeLists(assigned: DataFrame, path: String,
      mode: String = "overwrite"): Unit =
    assigned
      .repartition(col("centroid_id"))
      .write.mode(mode).partitionBy("centroid_id").parquet(path)

  /** Fit the quantizer, assign every vector, and write the inverted lists
    * under `path` partitioned by `centroid_id` (plus the k×d model at
    * `path.centroids`). Returns the fitted centroids. */
  def build(vectors: DataFrame, vecCol: String, k: Int, iters: Int,
      path: String, idCol: String = "vec_id"): Array[Array[Float]] = {
    val cs = KMeans.fit(vectors, idCol, vecCol, k, iters)
    // width-guard the assignment pass: a corpus mixing widths would
    // otherwise train-and-assign silently wrong (see requireDims)
    val guarded = if (cs.isEmpty) vectors
      else requireDims(vectors, vecCol, cs.head.length, idCol)
    writeLists(guarded.withColumn("centroid_id",
      NearestCentroidExpr.nearestCentroid(col(vecCol), cs)), path)
    val spark = vectors.sparkSession
    LocalTable.of(spark,
        StructType(Seq(
          StructField("centroid_id", IntegerType),
          StructField("centroid", ArrayType(FloatType)))),
        cs.toIndexedSeq.zipWithIndex.map { case (c, i) => Row(i, c.toIndexedSeq) })
      .coalesce(1)
      .write.mode("overwrite").parquet(centroidsPath(path))
    cs
  }

  /** Index maintenance: assign a batch with the FROZEN stored quantizer
    * (FAISS's train-once/add-many contract — centroids never refit on
    * append; periodic full rebuilds re-train) and append its rows to the
    * inverted-list layout. Append ≡ rebuild-under-the-same-model because
    * assignment is a pure function of (vector, centroids) — the
    * disjoint-batches contract the d71/d77 lifecycles rely on. Appended
    * files land INSIDE the existing `centroid_id=...` directories, so
    * probes stay partition-pruned over the grown index. */
  def append(vectors: DataFrame, vecCol: String, path: String): Unit =
    append(vectors, vecCol, path,
      loadCentroids(vectors.sparkSession, path))

  /** [[append]] with the stored quantizer ALREADY loaded — lifecycle
    * callers that probe and append several times against one committed
    * model (s22) load it from disk once and thread it through, instead
    * of a centroids read+collect job per operation. The caller owns the
    * coherence argument (the model must be the one committed at `path`;
    * within one single-writer lifecycle execution it is by construction). */
  def append(vectors: DataFrame, vecCol: String, path: String,
      cs: Array[Array[Float]]): Unit = {
    require(cs.nonEmpty,
      s"append: empty quantizer at $path — the index was built on an " +
        "empty corpus; rebuild it before appending")
    writeLists(requireDims(vectors, vecCol, cs.head.length)
      .withColumn("centroid_id",
        NearestCentroidExpr.nearestCentroid(col(vecCol), cs)), path, "append")
  }

  def centroidsPath(path: String): String = path + ".centroids"

  def loadCentroids(spark: SparkSession, path: String): Array[Array[Float]] =
    spark.read.parquet(centroidsPath(path))
      .orderBy(col("centroid_id"))
      .collect()
      .map(_.getSeq[Float](1).toArray)

  /** Top-k cosine probe of the `nProbe` nearest inverted lists. Probe-list
    * selection is k×d driver math on the stored model; the scan carries a
    * `centroid_id IN (...)` partition filter, so only the probed lists'
    * files are read (asserted in SimilaritySpec via inputFiles). */
  def probe(spark: SparkSession, path: String, queryVec: Array[Float],
      k: Int, nProbe: Int, excludeVecId: Option[Long] = None): DataFrame =
    probeLists(spark.read.parquet(path), loadCentroids(spark, path),
      queryVec, k, nProbe, excludeVecId)

  /** [[probe]] with the stored quantizer already loaded (see the
    * preloaded [[append]] overload for the contract) — the lists dir is
    * still re-read fresh, so appended files are seen. */
  def probe(spark: SparkSession, path: String, queryVec: Array[Float],
      k: Int, nProbe: Int, excludeVecId: Option[Long],
      cs: Array[Array[Float]]): DataFrame =
    probeLists(spark.read.parquet(path), cs, queryVec, k, nProbe, excludeVecId)

  /** [[probe]] against an ALREADY-ASSEMBLED lists relation — the grown
    * multi-root layout of [[graft.streaming.AnnIndexStreaming]] probes
    * through this; the `centroid_id IN` filter pushes through a Union
    * into every root's scan, so pruning survives a log-structured
    * (base + committed batch dirs) index. */
  def probeLists(lists: DataFrame, cs: Array[Array[Float]],
      queryVec: Array[Float], k: Int, nProbe: Int,
      excludeVecId: Option[Long] = None): DataFrame = {
    val probeIds = cs.zipWithIndex
      .map { case (c, i) => (CosineSimilarityExpr.cosine(queryVec, c), i) }
      .sortBy { case (sim, i) => (-sim, i) }
      .take(nProbe)
      .map(_._2)
    val probed = lists.filter(col("centroid_id").isin(probeIds.toIndexedSeq: _*))
    val candidates = excludeVecId.fold(probed)(id => probed.filter(col("vec_id") =!= id))
    candidates
      .select(col("vec_id"), col("label"),
        round(CosineSimilarityExpr.cosineSim(
          col("embedding"), typedlit(queryVec.toIndexedSeq)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }
}
