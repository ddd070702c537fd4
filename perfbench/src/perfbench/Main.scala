package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.Q

/** One timed operation: a catalog query call or a medallion batch. */
final case class OpRec(name: String, layer: String, pass: Int, traced: Boolean,
    seconds: Double, ok: Boolean, error: String, items: Long)

/** The benchmark's engine-side runner. Reads a plan written by `run.py`,
  * sets up the session several times (timing each), warms up, runs the
  * workload in a closed loop for the plan's seconds, checks outputs outside
  * the timed region, and writes `result.json` next to the plan.
  *
  * Usage: `perfbench.Main <plan.json>` */
object Main {
  private val mapper = new ObjectMapper()

  /** Engine modules whose catalog queries a workload may call, by layer
    * name. A query's layer is the module it is registered in. */
  val modules: Seq[(String, Seq[Q])] = Seq(
    "ext.TextStats" -> graft.ext.TextStats.all,
    "ext.Dedup" -> graft.ext.Dedup.all,
    "ext.Retrieval" -> graft.ext.Retrieval.all,
    "ext.Similarity" -> graft.ext.Similarity.all,
    "operators.Relational" -> graft.operators.Relational.all,
    "operators.Temporal" -> graft.operators.Temporal.all,
    "operators.Scalars" -> graft.operators.Scalars.all,
    "operators.FinTrackQ" -> graft.operators.FinTrackQ.all)

  def session(cores: Int, localDir: String, warehouse: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.hadoop.hadoop.tmp.dir", s"$localDir/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** `VmHWM` of this process in MB, from /proc; -1 where there is none. */
  private def peakRssMb: Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Files.readString(Paths.get(args(0))))
    val out = plan.get("out").asText()
    val workload = plan.get("workload").asText()
    val cores = plan.get("cores").asInt()
    val seconds = plan.get("seconds").asDouble()
    val trace = plan.get("trace").asBoolean()
    val rounds = plan.get("setup_rounds").asInt()
    val minPasses = plan.get("min_passes").asInt()
    val loadStart = loadAvg
    Files.createDirectories(Paths.get(out))

    // set-up, several times: a fresh session plus the workload's first
    // touch of its inputs; the last session is the one measured
    var spark: SparkSession = null
    val setupS = (1 to rounds).map { _ =>
      timed {
        if (spark != null) {
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        }
        spark = session(cores, s"$out/spark-local", s"$out/warehouse")
        firstTouch(spark, plan)
      }
    }
    val tracer = new Tracer(spark.sparkContext)
    val result = mapper.createObjectNode()
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val checks: Workload.Checks = mutable.ArrayBuffer.empty
    val extra = mapper.createObjectNode()

    val workloadRun: Workload =
      if (workload == "medallion") new MedallionRun(spark, tracer, plan)
      else new CatalogRun(spark, tracer, plan)

    val warmupS = timed(workloadRun.warmup(checks))
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var pass = 0
    var tracedPasses = 0
    // whole passes until the deadline, at least `minPasses`; a traced run
    // alternates untraced and traced passes, so the same run measures the
    // tracing overhead against an in-run control
    while (pass < minPasses || System.nanoTime() < deadline ||
        (trace && tracedPasses == 0)) {
      val traced = trace && pass % 2 == 1
      tracer.enable(traced)
      workloadRun.runPass(pass, traced, ops)
      if (traced) tracedPasses += 1
      pass += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    tracer.enable(false)
    workloadRun.check(checks)
    workloadRun.describe(extra)

    result.put("workload", workload)
    result.set[JsonNode]("setup_jvm_s", arr(setupS))
    result.put("warmup_s", warmupS)
    result.put("measured_s", measuredS)
    result.put("passes", pass)
    result.put("traced_passes", tracedPasses)
    val opsNode = result.putArray("ops")
    ops.foreach { o =>
      val n = opsNode.addObject()
      n.put("name", o.name); n.put("layer", o.layer); n.put("pass", o.pass)
      n.put("traced", o.traced); n.put("seconds", o.seconds); n.put("ok", o.ok)
      n.put("items", o.items)
      if (o.error != null) n.put("error", o.error)
    }
    val checksNode = result.putArray("checks")
    checks.foreach { case (name, layer, err) =>
      val n = checksNode.addObject()
      n.put("name", name); n.put("layer", layer); n.put("ok", err.isEmpty)
      err.foreach(n.put("error", _))
    }
    if (tracedPasses > 0) {
      val spans = tracer.spans.toList
      val tasks = tracer.tasks
      val layers = result.putObject("layers")
      Layers.metrics(spans, tasks).foreach { case (layer, m) =>
        val ln = layers.putObject(layer)
        m.foreach { case (k, v) => ln.put(k, v) }
      }
      val self = Layers.selfSeconds(spans)
      val selfByLayer = result.putObject("self_s")
      spans.groupBy(_.layer).foreach { case (l, ss) =>
        selfByLayer.put(l, ss.map(s => self(s.id)).sum)
      }
      val bySpan = tasks.groupBy(_.span)
      val spansNode = mapper.createArrayNode()
      spans.foreach { s =>
        val n = spansNode.addObject()
        n.put("id", s.id); n.put("parent", s.parent); n.put("layer", s.layer)
        n.put("op", s.op); n.put("pass", s.pass)
        n.put("start_s", (s.startNs - t0) / 1e9); n.put("end_s", (s.endNs - t0) / 1e9)
        n.put("self_s", self(s.id))
        val ts = bySpan.getOrElse(s.id, Nil)
        n.put("tasks", ts.size)
        n.put("busy_s", ts.map(_.runMs).sum / 1e3)
      }
      result.put("unattributed_tasks", tasks.count(_.span < 0))
      mapper.writerWithDefaultPrettyPrinter()
        .writeValue(Paths.get(out, "spans.json").toFile, spansNode)
    }
    result.set[JsonNode]("extra", extra)
    result.put("load_start", loadStart)
    result.put("load_end", loadAvg)
    result.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    result.put("spark_version", spark.version)
    spark.stop()
    result.put("peak_rss_mb", peakRssMb)
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(Paths.get(out, "result.json").toFile, result)
  }

  private def arr(xs: Seq[Double]) = {
    val a = mapper.createArrayNode()
    xs.foreach(a.add)
    a
  }

  /** The program's part of set-up: for catalog workloads, open every input
    * table through the engine's loader (schema resolution reads the
    * footers); for the medallion, list the staged landing tree through the
    * landing scan. */
  private def firstTouch(spark: SparkSession, plan: JsonNode): Unit =
    if (plan.get("workload").asText() == "medallion")
      graft.sources.Sources.landingFiles(spark, plan.get("stage").asText())
        .select("path", "kind").count()
    else plan.get("tables").elements().asScala.foreach { t =>
      graft.Tables(spark, plan.get("inputs").asText(), t.asText()).schema
    }
}

/** A workload as the runner drives it. Checks are (name, layer, failure). */
trait Workload {
  /** Untimed: JIT, codegen and file caches; may also record checks. */
  def warmup(checks: Workload.Checks): Unit
  def runPass(pass: Int, traced: Boolean, ops: mutable.Buffer[OpRec]): Unit
  /** Untimed correctness checks after the measured passes. */
  def check(checks: Workload.Checks): Unit
  /** Workload facts for the result (input sizes, layer counts). */
  def describe(extra: ObjectNode): Unit
}

object Workload {
  type Checks = mutable.Buffer[(String, String, Option[String])]
}

/** Catalog queries over the generated tables: each call fully materialized
  * through the `noop` sink, in plan order, once per pass. */
final class CatalogRun(spark: SparkSession, tracer: Tracer, plan: JsonNode)
    extends Workload {
  private val dir = plan.get("inputs").asText()
  private val out = plan.get("out").asText()
  private val items = plan.get("items").asLong()
  private val queries: Seq[(Q, String)] =
    plan.get("queries").elements().asScala.map(_.asText()).toSeq.map { n =>
      Main.modules.flatMap { case (layer, qs) => qs.find(_.name == n).map(_ -> layer) }
        .headOption.getOrElse(throw new IllegalArgumentException(s"unknown query $n"))
    }

  def warmup(checks: Workload.Checks): Unit = {
    // the warm-up pass doubles as the result dump the oracle compares
    val oracle = new java.util.TreeMap[String, String]()
    queries.foreach { case (q, layer) =>
      q.oracle.foreach(sql => oracle.put(q.name, sql.trim))
      val err = try {
        q.run(spark, dir).write.mode("overwrite").parquet(s"$out/results/${q.name}")
        None
      } catch { case e: Throwable => Some(s"warm-up threw $e") }
      err.foreach(e => checks += ((q.name, layer, Some(e))))
    }
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(Paths.get(out, "oracle_sql.json").toFile, oracle)
  }

  def runPass(pass: Int, traced: Boolean, ops: mutable.Buffer[OpRec]): Unit =
    queries.foreach { case (q, layer) =>
      val t0 = System.nanoTime()
      val err = try {
        tracer.span(layer, q.name, pass) {
          q.run(spark, dir).write.format("noop").mode("overwrite").save()
        }
        null
      } catch { case e: Throwable => e.toString }
      ops += OpRec(q.name, layer, pass, traced, (System.nanoTime() - t0) / 1e9,
        err == null, err, 0L)
    }

  def check(checks: Workload.Checks): Unit = ()

  def describe(extra: ObjectNode): Unit = extra.put("items_per_pass", items)
}

/** The medallion pipeline: every pass lands the staged months one by one
  * into a fresh lake, timing each monthly batch. */
final class MedallionRun(spark: SparkSession, tracer: Tracer, plan: JsonNode)
    extends Workload {
  private val out = plan.get("out").asText()
  private val manifest = plan.get("manifest")
  private val med = new Medallion(spark, tracer, plan.get("stage").asText(),
    manifest.get("batches").elements().asScala.toSeq.map { b =>
      Batch(b.get("dir").asText(), b.get("year").asInt(), b.get("month").asInt(),
        b.get("bytes").asLong())
    })
  private var lastRoot: String = null
  private var pdfs = 0L
  private var trustedBytes = 0L
  private var trustedFiles = 0L
  private var tracedTxns = 0L
  private var newBytes = 0L
  private var txnsPerPass = 0L

  private def fresh(name: String): String = {
    val root = s"$out/medallion/$name"
    MedallionRun.delete(Paths.get(root))
    root
  }

  /** Warm-up runs the first month of one client on a scratch lake, then
    * replays it — which exercises the merge path and is the replay check.
    * JIT and codegen warm-up costs about the same for one client as for
    * all, and the smaller lake keeps the run short. */
  def warmup(checks: Workload.Checks): Unit = {
    val root = fresh("warmup")
    med.land(med.batches.head, s"$root/landing", Some("client_000"))
    try {
      val control = med.runBatch(root, 0, -1, med.ingestAt(0),
        graft.lake.ControlTable.empty(spark))._2
      checks += med.checkReplay(root, 0, control)
    } catch { case e: Throwable =>
      checks += (("warmup_batch", "batch", Some(s"warm-up threw $e")))
    }
  }

  /** Keeps the lake of the last completed pass for the invariant checks. */
  def runPass(pass: Int, traced: Boolean, ops: mutable.Buffer[OpRec]): Unit = {
    val root = fresh(s"pass$pass")
    var txns = 0L
    var i = 0
    val done = try { med.runPass(root, pass, { r =>
      ops += OpRec(s"batch_${med.batches(i).dir}", "batch", pass, traced,
        r.seconds, ok = true, null, r.txns)
      txns += r.txns
      if (traced) {
        pdfs += r.pdfs; trustedBytes += r.trustedBytes
        trustedFiles += r.trustedFiles; tracedTxns += r.txns; newBytes += r.newBytes
      }
      i += 1
    }); true } catch { case e: Throwable =>
      ops += OpRec(s"batch_${med.batches(i).dir}", "batch", pass, traced,
        0.0, ok = false, e.toString, 0L)
      false
    }
    if (done) {
      if (lastRoot != null) MedallionRun.delete(Paths.get(lastRoot))
      lastRoot = root
      txnsPerPass = txns
    }
  }

  def check(checks: Workload.Checks): Unit =
    if (lastRoot == null) checks += (("medallion_pass", "batch", Some("no pass completed")))
    else {
      val out25 = manifest.get("bb_out25").elements().asScala.map(_.asText()).toSet
      checks ++= med.checkInvariants(lastRoot, out25)
    }

  def describe(extra: ObjectNode): Unit = {
    extra.put("txns_per_pass", txnsPerPass)
    extra.put("traced_pdfs", pdfs)
    extra.put("traced_new_bytes", newBytes)
    extra.put("traced_trusted_bytes", trustedBytes)
    extra.put("traced_trusted_files", trustedFiles)
    extra.put("traced_txns", tracedTxns)
  }
}

object MedallionRun {
  def delete(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toList.reverse.foreach(Files.delete)
}
