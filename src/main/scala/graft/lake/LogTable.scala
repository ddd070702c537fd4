package graft.lake

import java.util.UUID

import scala.util.matching.Regex

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StagedCommit

/** Log-structured ACID table format — the engine-native answer to the
  * reference's Iceberg v2 tables (`datatrack_spark_utils.py:306-362`,
  * `etls_raw/main.py:318-345`), buildable here because the environment
  * ships no Iceberg/Delta jar. The design follows the PUBLISHED
  * transaction-log architecture (Armbrust et al., "Delta Lake:
  * High-Performance ACID Table Storage over Cloud Object Stores",
  * VLDB 2020; the Apache Iceberg table spec) re-expressed on this
  * engine's own commit primitives:
  *
  *   - A table is an append-only LOG of versions under
  *     `<table>/_graft_log/v00000000.json`, each a list of actions
  *     (`meta` schema, `add` data file with per-column min/max/null
  *     stats, `remove`). The LIVE table at version V is the fold of
  *     actions 0..V; data files are immutable and never rewritten in
  *     place.
  *   - The commit point is the atomic create-if-absent of the version
  *     file, routed by [[StagedCommit.claimStrategyFor]]'s scheme
  *     allow-lists: a no-overwrite `FileContext.rename` on hierarchical
  *     stores, a conditional-put `create(overwrite=false)` on object
  *     stores — so the format works on the SAME stores the staged-commit
  *     protocol certifies, and refuses the same unknown schemes.
  *   - Writers are OPTIMISTIC: two same-version committers race the
  *     create; exactly one wins, the loser re-reads the log and retries.
  *     Appends commute — a lost append race re-commits the already
  *     written data files at the next version without rewriting a byte;
  *     copy-on-write operations (merge / delete / compact) re-run their
  *     transform against the new snapshot, which is serializability by
  *     re-execution.
  *   - Readers get SNAPSHOT ISOLATION for free: a read resolves one
  *     version and folds one prefix of the log; concurrent commits are
  *     invisible. `readVersion` is `VERSION AS OF` time travel back to
  *     the vacuum horizon, and fails LOUDLY past it.
  *   - Every `add` carries per-column min/max/null-count stats
  *     (collected in ONE distributed job over the just-written files),
  *     so DELETE rewrites only the files whose stats admit the
  *     predicate — at 100 TB a delete of one lineage key touches the
  *     files that hold it, not the table. Appends cluster incoming rows
  *     by the caller's partition columns for exactly this reason: tight
  *     per-file ranges are what make stats prune.
  *   - The log is kept fold-able at scale by CHECKPOINTS
  *     (`ckpt_v%08d.json`, the live set materialized every
  *     [[checkpointInterval]] commits): a reader folds the latest
  *     checkpoint ≤ its version plus the tail entries, never the whole
  *     history. [[vacuum]] retains the last N versions, writes the
  *     horizon checkpoint FIRST, then drops pre-horizon log entries and
  *     every data file no retained snapshot references (crash-orphaned
  *     write dirs included, behind an age grace so a mid-commit writer's
  *     un-referenced files survive).
  *
  * Metadata scale posture: one version file holds only the CHURN of its
  * commit; the driver-side fold is over file METADATA (path + stats),
  * the same driver-resident manifest model the published formats use at
  * this table size, and the checkpoint bounds its length. Data-file
  * reads and stats collection are executor-side jobs throughout.
  *
  * Crash contract: data files land before the version file; a crash
  * anywhere before the create-if-absent leaves an un-referenced data dir
  * readers never see (vacuum reclaims it). A crash after it IS the
  * commit. There is no window in which a reader can observe a partial
  * commit, because the fold only sees committed version files.
  */
object LogTable {

  private val LogDirName = "_graft_log"
  private val EntryRe: Regex = """v(\d{8})\.json""".r
  private val CkptRe: Regex = """ckpt_v(\d{8})\.json""".r

  /** A checkpoint is written after every commit whose version is a
    * multiple of this (so the fold length is bounded by it). */
  val checkpointInterval = 10

  /** Optimistic-concurrency bound: a commit that loses this many races
    * in a row throws rather than spin (20 rebases under contention this
    * hot means the caller's write pattern needs a queue, not a retry). */
  val maxCommitRetries = 20

  /** Per-file column statistics: canonical-string min/max (absent when
    * every value in the file is null) + null count. Strings canonical =
    * round-trippable through the column's type (Java `toString` forms,
    * which are exact for numerics and java.sql date/time types). */
  final case class Stat(min: Option[String], max: Option[String], nulls: Long)

  /** One live data file of a snapshot; `path` is RELATIVE to the table
    * root so a relocated table stays readable. */
  final case class AddFile(path: String, rows: Long, bytes: Long,
      stats: Map[String, Stat])

  /** The table as of one committed version. `txns` is the idempotence
    * ledger: per writer id, the highest batch id whose append
    * committed — the `txn` action of the published log-format design,
    * what makes a re-delivered batch append exactly-once. */
  final case class Snapshot(version: Long, schema: StructType,
      clusterCols: Seq[String], files: Seq[AddFile],
      txns: Map[String, Long])

  private val mapper = new ObjectMapper()

  // ------------------------------------------------------------------
  // filesystem plumbing
  // ------------------------------------------------------------------

  private def fsOf(path: String): (FileSystem, HPath, Configuration) = {
    val p = new HPath(path)
    val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
    (p.getFileSystem(conf), p, conf)
  }

  private def logDir(table: HPath) = new HPath(table, LogDirName)

  private def readUtf8(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  // ------------------------------------------------------------------
  // actions: render / parse
  // ------------------------------------------------------------------

  private def renderActions(meta: Option[(StructType, Seq[String])],
      adds: Seq[AddFile], removes: Seq[String],
      txns: Map[String, Long] = Map.empty): String = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    meta.foreach { case (schema, cluster) =>
      val n = mapper.createObjectNode()
      n.put("a", "meta")
      n.put("schema", schema.json)
      val arr = n.putArray("cluster")
      cluster.foreach(arr.add)
      lines += mapper.writeValueAsString(n)
    }
    txns.toSeq.sortBy(_._1).foreach { case (app, batch) =>
      val n = mapper.createObjectNode()
      n.put("a", "txn")
      n.put("app", app)
      n.put("batch", batch)
      lines += mapper.writeValueAsString(n)
    }
    adds.foreach { f =>
      val n = mapper.createObjectNode()
      n.put("a", "add")
      n.put("path", f.path)
      n.put("rows", f.rows)
      n.put("bytes", f.bytes)
      val st = n.putObject("stats")
      f.stats.foreach { case (c, s) =>
        val cn = st.putObject(c)
        s.min.foreach(cn.put("min", _))
        s.max.foreach(cn.put("max", _))
        cn.put("nulls", s.nulls)
      }
      lines += mapper.writeValueAsString(n)
    }
    removes.foreach { p =>
      val n = mapper.createObjectNode()
      n.put("a", "remove")
      n.put("path", p)
      lines += mapper.writeValueAsString(n)
    }
    lines.mkString("\n")
  }

  private final case class Fold(
      var schema: Option[StructType] = None,
      var cluster: Seq[String] = Nil,
      files: scala.collection.mutable.LinkedHashMap[String, AddFile] =
        scala.collection.mutable.LinkedHashMap.empty,
      txns: scala.collection.mutable.LinkedHashMap[String, Long] =
        scala.collection.mutable.LinkedHashMap.empty)

  private def applyActions(fold: Fold, content: String, where: String): Unit =
    content.split('\n').iterator.map(_.trim).filter(_.nonEmpty).foreach { line =>
      val n =
        try mapper.readTree(line)
        catch {
          case e: Exception => throw new java.io.IOException(
            s"LogTable: corrupt log line in $where: ${e.getMessage}")
        }
      n.get("a").asText() match {
        case "meta" =>
          fold.schema = Some(DataType.fromJson(n.get("schema").asText())
            .asInstanceOf[StructType])
          val it = n.get("cluster").elements()
          val cols = scala.collection.mutable.ArrayBuffer.empty[String]
          while (it.hasNext) cols += it.next().asText()
          fold.cluster = cols.toSeq
        case "add" =>
          val stats = scala.collection.mutable.LinkedHashMap.empty[String, Stat]
          val st = n.get("stats")
          if (st != null) {
            val fields = st.fields()
            while (fields.hasNext) {
              val e = fields.next()
              val v = e.getValue
              def opt(k: String): Option[String] =
                Option(v.get(k)).map(_.asText())
              stats += e.getKey -> Stat(opt("min"), opt("max"),
                Option(v.get("nulls")).map(_.asLong()).getOrElse(0L))
            }
          }
          val p = n.get("path").asText()
          fold.files += p -> AddFile(p, n.get("rows").asLong(),
            n.get("bytes").asLong(), stats.toMap)
        case "remove" =>
          fold.files -= n.get("path").asText()
        case "txn" =>
          val app = n.get("app").asText()
          val b = n.get("batch").asLong()
          // monotone fold: a stale replayed txn can never lower the ledger
          if (fold.txns.get(app).forall(_ < b)) fold.txns(app) = b
        case other =>
          throw new java.io.IOException(
            s"LogTable: unknown action '$other' in $where")
      }
    }

  // ------------------------------------------------------------------
  // log listing / snapshot resolution
  // ------------------------------------------------------------------

  private def listLog(fs: FileSystem, table: HPath): (Seq[Long], Seq[Long]) = {
    val dir = logDir(table)
    if (!fs.exists(dir)) return (Nil, Nil)
    val names = fs.listStatus(dir).toIndexedSeq.filter(_.isFile).map(_.getPath.getName)
    val entries = names.collect { case EntryRe(v) => v.toLong }.sorted
    val ckpts = names.collect { case CkptRe(v) => v.toLong }.sorted
    (entries, ckpts)
  }

  /** The latest committed version, if the table exists. */
  def currentVersion(path: String): Option[Long] = {
    val (fs, table, _) = fsOf(path)
    listLog(fs, table)._1.lastOption
  }

  /** Resolve the table state as of `asOf` (default: latest). Loud past
    * the vacuum horizon — a time travel that silently served a different
    * version would corrupt whatever audit asked for it. */
  private[graft] def snapshot(path: String, asOf: Option[Long] = None): Snapshot = {
    val (fs, table, _) = fsOf(path)
    val (entries, ckpts) = listLog(fs, table)
    if (entries.isEmpty && ckpts.isEmpty)
      throw new IllegalArgumentException(s"LogTable: no log at $path")
    val latest = (entries ++ ckpts).max
    val target = asOf.getOrElse(latest)
    if (target > latest)
      throw new IllegalArgumentException(
        s"LogTable($path): version $target does not exist (latest $latest)")
    val base = ckpts.filter(_ <= target).lastOption
    val tail = entries.filter(v => v > base.getOrElse(-1L) && v <= target)
    // the fold must be gapless: version files below the horizon are
    // vacuumed, so a missing prefix without a covering checkpoint means
    // the requested version is no longer reconstructible
    val expected = (base.map(_ + 1).getOrElse(0L) to target)
    if (tail != expected && base.forall(_ != target))
      throw new IllegalArgumentException(
        s"LogTable($path): version $target is beyond the vacuum horizon " +
          s"(log entries ${tail.mkString(",")} cannot reconstruct it) — " +
          "raise the vacuum retention if time travel this far back matters")
    val fold = Fold()
    base.foreach { b =>
      applyActions(fold, readUtf8(fs, new HPath(logDir(table), ckptName(b))),
        s"checkpoint $b")
    }
    tail.foreach { v =>
      applyActions(fold, readUtf8(fs, new HPath(logDir(table), entryName(v))),
        s"version $v")
    }
    val schema = fold.schema.getOrElse(throw new java.io.IOException(
      s"LogTable($path): no meta action in the log prefix up to $target"))
    Snapshot(target, schema, fold.cluster, fold.files.values.toSeq,
      fold.txns.toMap)
  }

  private def entryName(v: Long) = f"v$v%08d.json"
  private def ckptName(v: Long) = f"ckpt_v$v%08d.json"

  // ------------------------------------------------------------------
  // the commit primitive: atomic create-if-absent of one version file
  // ------------------------------------------------------------------

  /** Returns true iff THIS call created `v{version}.json` — the loser of
    * a same-version race gets false and must rebase. Claim primitive per
    * [[StagedCommit.claimStrategyFor]] (unknown schemes refuse loudly). */
  private def tryCommitEntry(fs: FileSystem, conf: Configuration,
      table: HPath, version: Long, content: String): Boolean = {
    val dir = logDir(table)
    fs.mkdirs(dir)
    val entry = new HPath(dir, entryName(version))
    StagedCommit.claimStrategyFor(entry.toString, fs) match {
      case StagedCommit.ClaimStrategy.AtomicRename =>
        // stage the content in a hidden tmp, then no-overwrite rename —
        // the rename IS the atomic create-if-absent on these stores
        val tmp = new HPath(dir,
          s".v${version}_${UUID.randomUUID().toString.take(8)}.tmp")
        val out = fs.create(tmp, true)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        try {
          FileContext.getFileContext(entry.toUri, conf)
            .rename(fs.makeQualified(tmp), fs.makeQualified(entry))
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            fs.delete(tmp, false); false
          case e: java.io.IOException =>
            fs.delete(tmp, false); throw e
        }
      case StagedCommit.ClaimStrategy.ConditionalPut =>
        // one small object: the conditional put applies at close()
        try {
          val out = fs.create(entry, false)
          try out.write(content.getBytes("UTF-8")) finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        }
    }
  }

  /** Checkpoint the post-commit live set when the interval divides the
    * version. Content is a pure function of the log prefix, so racing
    * writers produce identical bytes — plain overwrite is safe. */
  private def maybeCheckpoint(fs: FileSystem, table: HPath,
      post: Snapshot): Unit =
    if (post.version > 0 && post.version % checkpointInterval == 0) {
      val p = new HPath(logDir(table), ckptName(post.version))
      val content = renderActions(Some((post.schema, post.clusterCols)),
        post.files, Nil, post.txns)
      val out = fs.create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }

  // ------------------------------------------------------------------
  // data-file writes + per-file stats (one distributed job)
  // ------------------------------------------------------------------

  /** Columns that get min/max stats: orderable primitives, capped so a
    * wide table cannot bloat every log entry. */
  private def statsColumns(schema: StructType): Seq[String] =
    schema.fields.iterator.filter { f =>
      f.dataType match {
        case StringType | DateType | TimestampType => true
        case _: NumericType => true
        case _ => false
      }
    }.map(_.name).take(12).toSeq

  private def canonical(v: Any): String = v match {
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.underlying.toPlainString
    case t: java.time.Instant => java.sql.Timestamp.from(t).toString
    case d: java.time.LocalDate => d.toString
    case other => other.toString
  }

  private def writeDataFiles(df: DataFrame, path: String,
      schema: StructType, clusterCols: Seq[String]): Seq[AddFile] = {
    val spark = df.sparkSession
    val sub = s"data/${UUID.randomUUID().toString.take(8)}"
    val dir = s"$path/$sub"
    val conformed = Lake.conformToSchema(df, schema)
    val clustered =
      if (clusterCols.nonEmpty) conformed.repartition(clusterCols.map(col): _*)
      else conformed
    clustered.write
      .option("compression", "zstd")
      .option("maxRecordsPerFile", 1000000L)
      .parquet(dir)
    val (fs, _, _) = fsOf(path)
    val sizes = fs.listStatus(new HPath(dir)).toIndexedSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s.getPath.getName -> s.getLen).toMap
    if (sizes.isEmpty) return Nil // empty input: a commit with no adds
    val statCols = statsColumns(schema)
    val aggs = count(lit(1)).as("__rows") +: statCols.flatMap(c => Seq(
      min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")))
    val rows = spark.read.schema(schema).parquet(dir)
      .groupBy(element_at(split(input_file_name(), "/"), -1).as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // ≤ files-per-commit rows by construction — metadata-sized
    rows.toIndexedSeq.map { r =>
      val name = r.getString(0)
      val stats = statCols.zipWithIndex.map { case (c, i) =>
        val base = 2 + i * 3
        val mn = Option(r.get(base)).map(canonical)
        val mx = Option(r.get(base + 1)).map(canonical)
        c -> Stat(mn, mx, r.getLong(base + 2))
      }.toMap
      AddFile(s"$sub/$name", r.getLong(1), sizes.getOrElse(name, 0L), stats)
    }
  }

  private def bestEffortDelete(fs: FileSystem, table: HPath,
      adds: Seq[AddFile]): Unit =
    adds.map(_.path.split('/').take(2).mkString("/")).distinct.foreach { d =>
      try { fs.delete(new HPath(table, d), true); () }
      catch { case _: java.io.IOException => () }
    }

  // ------------------------------------------------------------------
  // reads
  // ------------------------------------------------------------------

  def exists(path: String): Boolean = currentVersion(path).isDefined

  /** The live table. Old data files missing later-evolved columns read
    * as typed NULLs (the explicit snapshot schema backfills them). */
  private[graft] def read(spark: SparkSession, path: String): DataFrame =
    readFiles(spark, path, snapshot(path))

  /** `VERSION AS OF` time travel. */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    readFiles(spark, path, snapshot(path, Some(version)))

  private def readFiles(spark: SparkSession, path: String,
      snap: Snapshot): DataFrame =
    if (snap.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        snap.schema)
    else
      spark.read.schema(snap.schema)
        .parquet(snap.files.map(f => s"$path/${f.path}"): _*)

  // ------------------------------------------------------------------
  // writes
  // ------------------------------------------------------------------

  /** Destination-side schema evolution on append: same-name columns must
    * keep their type (silent coercion corrupts lakes — same stance as
    * `ParquetTableFormat.evolveTable`); genuinely new columns extend the
    * schema, and files already committed read them as NULL. */
  private def mergeSchemas(existing: StructType, incoming: StructType,
      path: String): StructType = {
    val byName = existing.fields.map(f => f.name -> f.dataType).toMap
    incoming.fields.foreach { f =>
      byName.get(f.name).foreach { t =>
        require(t == f.dataType,
          s"LogTable($path): column ${f.name} is $t in the table but " +
            s"${f.dataType} in the append — evolve types explicitly")
      }
    }
    StructType(existing.fields ++
      incoming.fields.filter(f => !byName.contains(f.name)))
  }

  /** Create-or-append (S9 semantics). Data files are written ONCE; a
    * lost version race re-commits them at the next version (appends
    * commute), re-merging the schema against whatever the winner
    * committed. Returns the committed version.
    *
    * `txn = Some((appId, batchId))` makes the append IDEMPOTENT per
    * writer id: if the snapshot's ledger already records `batchId` (or
    * newer) for `appId`, the append no-ops — including when a racing
    * duplicate writer with the SAME id committed it first (batch
    * redelivery and the duplicate-job race, both exactly-once). The
    * ledger check re-runs on every retry, so losing the version race to
    * one's own twin is a clean skip. */
  def append(spark: SparkSession, path: String, df: DataFrame,
      clusterCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Long = {
    val (fs, table, conf) = fsOf(path)
    var adds: Seq[AddFile] = null
    var writeSchema: StructType = null
    var attempt = 0
    while (attempt < maxCommitRetries) {
      val cur = currentVersion(path)
      val prior = cur.map(v => snapshot(path, Some(v)))
      val alreadyCommitted = txn.exists { case (app, batch) =>
        prior.exists(_.txns.get(app).exists(_ >= batch))
      }
      if (alreadyCommitted) {
        // the batch already committed (an earlier run, or a racing
        // same-id twin): discard this attempt's files, change nothing
        if (adds != null) bestEffortDelete(fs, table, adds)
        return prior.get.version
      }
      val schema = prior.map(s => mergeSchemas(s.schema, df.schema, path))
        .getOrElse(df.schema)
      val cluster = prior.map(_.clusterCols).getOrElse(clusterCols)
      if (adds == null) { // first attempt writes the data; retries reuse it
        writeSchema = schema
        adds = writeDataFiles(df, path, schema, cluster)
      }
      val metaChanged = prior.forall(_.schema != schema) ||
        writeSchema != schema
      val content = renderActions(
        if (metaChanged) Some((mergeSchemas(schema, writeSchema, path), cluster))
        else None,
        adds, Nil,
        txn.map { case (app, batch) => Map(app -> batch) }
          .getOrElse(Map.empty))
      val version = cur.map(_ + 1).getOrElse(0L)
      if (tryCommitEntry(fs, conf, table, version, content)) {
        val post = snapshot(path, Some(version))
        maybeCheckpoint(fs, table, post)
        return version
      }
      attempt += 1
      Thread.sleep(math.min(200L, 10L * attempt))
    }
    bestEffortDelete(fs, table, adds)
    throw new java.io.IOException(
      s"LogTable($path): lost $maxCommitRetries append races in a row — " +
        "commit contention this hot needs a writer queue")
  }

  /** Generic optimistic copy-on-write commit: `attempt` sees a fresh
    * snapshot, writes whatever new files its transform needs, and
    * returns (adds, removed paths, new meta if the schema changes); a
    * lost race discards the attempt's files and re-runs it against the
    * new snapshot — serializability by re-execution. An attempt may
    * return null to declare the commit unnecessary (nothing matched). */
  private def commitCow(path: String,
      attempt: Snapshot => (Seq[AddFile], Seq[String], Option[StructType])): Option[Long] = {
    val (fs, table, conf) = fsOf(path)
    var tries = 0
    while (tries < maxCommitRetries) {
      val snap = snapshot(path)
      val out = attempt(snap)
      if (out == null) return None
      val (adds, removes, newSchema) = out
      val content = renderActions(
        newSchema.map(s => (s, snap.clusterCols)), adds, removes)
      val version = snap.version + 1
      if (tryCommitEntry(fs, conf, table, version, content)) {
        val post = snapshot(path, Some(version))
        maybeCheckpoint(fs, table, post)
        return Some(version)
      }
      bestEffortDelete(fs, table, adds)
      tries += 1
      Thread.sleep(math.min(200L, 10L * tries))
    }
    throw new java.io.IOException(
      s"LogTable($path): lost $maxCommitRetries copy-on-write races — " +
        "concurrent rewriters need coordination")
  }

  /** MERGE INTO semantics (S10/J2): newer-`versionCol`-wins update +
    * insert-when-unmatched, as a copy-on-write rewrite. The table narrows
    * to the source's columns — the same contract as
    * [[ParquetTableFormat.merge]]. No `localCheckpoint` is needed: the
    * rewrite reads files the commit never deletes (copy-on-write reads
    * can never race their own rewrite — the in-place format's hazard). */
  def merge(spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String], versionCol: String): Long = {
    if (!exists(path)) return append(spark, path, source)
    commitCow(path, { snap =>
      val target = readFiles(spark, path, snap)
        .select(source.columns.map(col).toIndexedSeq: _*)
      val merged = Lake.mergeUpsert(target, source, keys, versionCol)
      val schema = StructType(source.schema.fields)
      val adds = writeDataFiles(merged, path, schema, snap.clusterCols)
      (adds, snap.files.map(_.path),
        if (schema == snap.schema) None else Some(schema))
    }).get
  }

  /** DELETE FROM t WHERE col = value (S11), file-skipping: only files
    * whose min/max stats admit the value are rewritten; everything else
    * survives the commit untouched — the reason the format keeps stats. */
  def deleteWhere(spark: SparkSession, path: String, colName: String,
      value: String): Long = {
    commitCow(path, { snap =>
      val dt = snap.schema.fields.find(_.name == colName).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"LogTable($path): no column $colName to delete by"))
      val (touched, _) = snap.files.partition(mayContain(_, colName, dt, value))
      if (touched.isEmpty) null // nothing can match: no-op, no commit
      else {
        val remaining = spark.read.schema(snap.schema)
          .parquet(touched.map(f => s"$path/${f.path}"): _*)
          .filter(col(colName) =!= value || col(colName).isNull)
        val adds = writeDataFiles(remaining, path, snap.schema, snap.clusterCols)
        (adds, touched.map(_.path), None)
      }
    }) match {
      case Some(v) => v
      case None => snapshot(path).version
    }
  }

  /** Conservative stats pruning: a file may hold `value` unless its
    * min/max provably exclude it. Comparison is typed; non-ASCII string
    * bounds fall back to "may contain" (JVM UTF-16 order and the UTF-8
    * binary order the stats were computed under diverge past ASCII). */
  private[graft] def mayContain(f: AddFile, colName: String, dt: DataType,
      value: String): Boolean =
    f.stats.get(colName) match {
      case Some(Stat(Some(mn), Some(mx), _)) =>
        try {
          dt match {
            case StringType =>
              if (!isAscii(mn) || !isAscii(mx) || !isAscii(value)) true
              else value.compareTo(mn) >= 0 && value.compareTo(mx) <= 0
            case _: NumericType =>
              val v = new java.math.BigDecimal(value)
              v.compareTo(new java.math.BigDecimal(mn)) >= 0 &&
                v.compareTo(new java.math.BigDecimal(mx)) <= 0
            case DateType =>
              val v = java.sql.Date.valueOf(value)
              !v.before(java.sql.Date.valueOf(mn)) &&
                !v.after(java.sql.Date.valueOf(mx))
            case TimestampType =>
              val v = java.sql.Timestamp.valueOf(value)
              !v.before(java.sql.Timestamp.valueOf(mn)) &&
                !v.after(java.sql.Timestamp.valueOf(mx))
            case _ => true
          }
        } catch { case _: IllegalArgumentException | _: NumberFormatException =>
          true // unparseable bound or value: never skip on a guess
        }
      case Some(Stat(None, None, _)) => false // all-null file: = never matches
      case _ => true // no stats for the column: cannot skip
    }

  private def isAscii(s: String): Boolean = s.forall(_ < 128)

  /** Incremental small-file compaction: bin-packs only the files below
    * half the target size into ~targetMb outputs; already-right-sized
    * files are not rewritten. Pure layout — the fold is value-identical. */
  def compact(spark: SparkSession, path: String, targetMb: Int = 256): Long = {
    commitCow(path, { snap =>
      val threshold = targetMb.toLong * 1024 * 1024 / 2
      val small = snap.files.filter(_.bytes < threshold)
      if (small.size <= 1) null // nothing to pack: no-op
      else {
        val total = small.map(_.bytes).sum
        val n = math.max(1,
          math.ceil(total.toDouble / (targetMb.toLong * 1024 * 1024)).toInt)
        val packed = spark.read.schema(snap.schema)
          .parquet(small.map(f => s"$path/${f.path}"): _*)
          .repartition(n)
        val adds = writeDataFiles(packed, path, snap.schema, Nil)
        (adds, small.map(_.path), None)
      }
    }) match {
      case Some(v) => v
      case None => snapshot(path).version
    }
  }

  /** Retention: keep the last `retainLast` versions time-travelable,
    * drop everything older. Order matters for crash safety: the horizon
    * checkpoint lands FIRST (so every retained version stays
    * fold-able), then pre-horizon log files go, then every data file no
    * retained snapshot references — including crash-orphaned write dirs,
    * but only past `orphanGraceMs` (a mid-commit writer's files are
    * un-referenced too; age is the only thing distinguishing them). */
  private[graft] def vacuum(path: String, retainLast: Int,
      orphanGraceMs: Long = 600000L): Unit = {
    require(retainLast >= 1, "vacuum must retain at least the live version")
    val (fs, table, _) = fsOf(path)
    val (entries, ckpts) = listLog(fs, table)
    if (entries.isEmpty && ckpts.isEmpty) return
    val latest = (entries ++ ckpts).max
    val horizon = math.max(latest - retainLast + 1,
      (entries ++ ckpts).min)
    // union of live sets over [horizon, latest]: fold once, incrementally
    val fold = Fold()
    val base = ckpts.filter(_ <= horizon).lastOption
    base.foreach(b => applyActions(fold,
      readUtf8(fs, new HPath(logDir(table), ckptName(b))), s"checkpoint $b"))
    val entrySet = entries.toSet
    (base.map(_ + 1).getOrElse(0L) to horizon).foreach { v =>
      if (!entrySet.contains(v))
        throw new java.io.IOException(
          s"LogTable($path): log gap at version $v below the horizon — " +
            "cannot vacuum a log that cannot reconstruct its own horizon")
      applyActions(fold, readUtf8(fs, new HPath(logDir(table), entryName(v))),
        s"version $v")
    }
    val horizonSchema = fold.schema.getOrElse(throw new java.io.IOException(
      s"LogTable($path): no meta action in the log prefix up to $horizon"))
    val horizonFiles = fold.files.values.toSeq
    val horizonCluster = fold.cluster
    val horizonTxns = fold.txns.toMap
    val referenced = scala.collection.mutable.HashSet.empty[String]
    referenced ++= fold.files.keys
    ((horizon + 1) to latest).foreach { v =>
      if (!entrySet.contains(v))
        throw new java.io.IOException(
          s"LogTable($path): log gap at retained version $v — refusing " +
            "to vacuum with an unreconstructible retained snapshot")
      applyActions(fold, readUtf8(fs, new HPath(logDir(table), entryName(v))),
        s"version $v")
      referenced ++= fold.files.keys
    }
    // 1. horizon checkpoint first — without it, dropping pre-horizon
    //    entries would orphan every retained version's fold
    locally {
      val p = new HPath(logDir(table), ckptName(horizon))
      if (!fs.exists(p)) {
        val content = renderActions(Some((horizonSchema, horizonCluster)),
          horizonFiles, Nil, horizonTxns)
        val out = fs.create(p, true)
        try out.write(content.getBytes("UTF-8")) finally out.close()
      }
    }
    // 2. drop pre-horizon log files
    entries.filter(_ < horizon).foreach(v =>
      fs.delete(new HPath(logDir(table), entryName(v)), false))
    ckpts.filter(_ < horizon).foreach(v =>
      fs.delete(new HPath(logDir(table), ckptName(v)), false))
    // 3. reclaim unreferenced data files (age-gated for in-flight writers)
    val dataRoot = new HPath(table, "data")
    if (fs.exists(dataRoot)) {
      val now = System.currentTimeMillis()
      fs.listStatus(dataRoot).foreach { d =>
        if (d.isDirectory) {
          val keep = fs.listStatus(d.getPath).count { f =>
            val rel = s"data/${d.getPath.getName}/${f.getPath.getName}"
            if (referenced.contains(rel)) true
            else if (now - f.getModificationTime >= orphanGraceMs) {
              // recursive: crash litter includes DIRECTORIES (a killed
              // write's _temporary tree), which a plain delete refuses
              fs.delete(f.getPath, true); false
            } else true
          }
          if (keep == 0) fs.delete(d.getPath, true)
        }
      }
    }
  }
}
