package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — emits a compact JSON result line with per-query and
  * total seconds over `SPARK_GRAFT_SF_DIR`, plus the full per-query map in
  * `BENCH_LOCAL.json`.
  *
  * Methodology:
  *   - queries run in sorted name order (deterministic attribution);
  *   - one full warmup pass first (JIT + codegen + file-index caches —
  *     steady-state throughput is what the baseline comparison wants, and
  *     what a resident 1000-executor cluster would see). When the
  *     standard sf0.01 sibling corpus exists, the warmup runs THERE
  *     (identical plans warm the same generated code for ~1/8 the cost,
  *     freeing budget for measured passes at the target scale; such
  *     cross-scale warmup times are never samples). A same-dir warmup
  *     (fallback, or SPARK_GRAFT_WARMUP_SF_DIR pointed at the target) IS
  *     min-eligible: the statistic is a MIN, so an inflated first-run
  *     time can only be ignored, never mislead;
  *   - results are fully materialized through the `noop` sink, so column
  *     computation cannot be pruned away the way a bare count() allows.
  *
  * Driver-timeout resilience (round 11's BENCH artifact was rc=124 — the
  * driver killed the run mid-pass and the round shipped NO perf numbers):
  *   - passes are TIME-BUDGETED: after the mandatory warmup + first
  *     measured pass, another pass starts only if the budget
  *     (`SPARK_GRAFT_BUDGET_SEC`, default 750 s of engine time) has room
  *     for it at the last pass's duration; outlier re-runs are gated the
  *     same way;
  *   - the canonical compact result line is emitted after EVERY completed
  *     pass (stdout + `BENCH_LOCAL.json`), tagged with `passes_done`, so
  *     even a timeout-killed run leaves a parseable artifact on disk and
  *     in the tail;
  *   - a per-query `[bench] <name> t=…` heartbeat goes to stderr, so a
  *     killed run's captured tail localizes exactly where it died.
  */
object Bench {

  /** The two bounded-by-construction global windows (keySkewProfile's
    * topK ranking, classifierEval's distinct-score prefix sum) draw a
    * `WindowExec: No Partition Defined` WARN per execution; at 213
    * queries × multiple passes the flood buried round 11's result line.
    * They are provably small (≤ topK rows / ≤ 10,001 distinct s4 keys —
    * see their docstrings), so the warning is noise here: drop that one
    * logger to ERROR for the bench/verify sessions. */
  private[graft] def quietBoundedWindowWarnings(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () } // logging config is best-effort

  /** The `SPARK_GRAFT_CPUS` value as a JSON value: numeric values emit
    * as numbers, anything else as an escaped string. */
  private[graft] def cpusJson(cpus: String): String =
    try cpus.trim.toInt.toString catch {
      case _: NumberFormatException =>
        "\"" + new String(com.fasterxml.jackson.core.io.JsonStringEncoder
          .getInstance().quoteAsString(cpus)) + "\""
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // machine-attribution for cross-round comparisons: co-tenant load has
    // produced uniform 1.4× phantom drifts (r7 vs r6) — record the box's
    // 1-min load average at start and end so the next reader can tell
    // noise from regression
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = loadAvg
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietBoundedWindowWarnings()

    val benchStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchStart) / 1e9
    // engine-time budget: the driver's outer timeout killed round 11 at
    // ~3 passes × 213 queries. 750 s of engine time lands the whole sbt
    // invocation inside round 10's completed envelope even under the
    // documented ~1.17× co-tenant inflation, and is calibrated to fit
    // warmup (~205 s on the small corpus) + TWO full measured passes
    // (~260 s each) — two uniform target-scale samples beat one pass
    // plus a partial confirm tail (measured: runs 2/3 of round 12)
    val budgetSec = sys.env.get("SPARK_GRAFT_BUDGET_SEC").map { v =>
      val b = try v.toDouble catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_BUDGET_SEC must be a number, got '$v'")
      }
      require(b > 0, s"SPARK_GRAFT_BUDGET_SEC must be > 0, got $b")
      b
    }.getOrElse(750.0)

    // Per-query noise floor: the committed BENCH_FLOOR.json holds the
    // min over all known COMPLETE runs (round-10 driver + the calm
    // round-12 runs). One loaded run can publish a 2-4× inflated heavy
    // tail on byte-identical code (r12: d67 0.99 s calm vs 7.76 s
    // driver), so cross-round diffing reads the vs_floor ratios in the
    // compact line instead of comparing two possibly-noisy samples:
    // >1.5× vs floor WITH load < 2 is the real-regression signal. The
    // floor is SCALE-TAGGED ({"sf":"sf0.1","queries":{...}}) and only
    // applied when this run's target dir matches — sf0.1 mins compared
    // against an sf1 run would publish 215 phantom regressions, and
    // against sf0.01 a phantom all-clear.
    val floor: Map[String, Double] = try {
      // the sf1 scale-regression floor is a separate artifact (folded
      // with fold_floor.py --sf1) so 10x-scale runs get the same
      // >1.5x-vs-floor regression signal sf0.1 runs do
      val floorName =
        if (new java.io.File(sfDir).getName == "sf1") "SF1_FLOOR.json"
        else "BENCH_FLOOR.json"
      val f = java.nio.file.Paths.get(floorName)
      if (!java.nio.file.Files.exists(f)) Map.empty
      else {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(f))
        val floorSf = Option(root.get("sf")).map(_.asText()).getOrElse("")
        if (floorSf != new java.io.File(sfDir).getName) Map.empty
        else {
          val it = root.get("queries").fields()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) {
            val e = it.next()
            b += e.getKey -> e.getValue.asDouble(-1.0)
          }
          b.result().filter(_._2 > 0)
        }
      }
    } catch { case _: Exception => Map.empty }

    // Warmup exists to pay JIT + codegen + catalog caches ONCE, not to
    // sample the target scale — and at sf0.1 it costs ~1.9× a steady
    // pass (measured 490 vs 265 s full-catalog), eating the budget that
    // should buy measured passes. When the standard smaller sibling
    // corpus exists (the driver's testdata layout), warm there instead:
    // the plans are identical, so generated code and JIT profiles warm
    // for ~1/8 the cost, and the freed budget buys a SECOND full
    // measured pass at the target scale. Cross-scale warmup times are
    // NOT min-eligible samples (they would publish sf0.01 numbers);
    // same-dir warmup (the fallback, and any explicit override to the
    // target dir) keeps the old min-eligible behavior.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_SF_DIR", {
      val f = new java.io.File(sfDir)
      // smallest sibling first: even sf0.01 costs ~215 s of warmup
      // (lifecycle queries pay fixed multi-job overheads, not scans)
      val sib = Seq("sf0.001", "sf0.01")
        .map(n => new java.io.File(f.getParentFile, n))
        .find(_.isDirectory)
      if (f.getName == "sf0.1" && sib.isDefined) sib.get.getPath else sfDir
    })
    // canonical-path comparison: a trailing slash / relative spelling of
    // the target dir must keep the warmup min-eligible
    def canon(p: String): String =
      try new java.io.File(p).getCanonicalPath
      catch { case _: Exception => p }
    val warmupIsSample = canon(warmDir) == canon(sfDir)

    // optional comma-separated subset for targeted timing during iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    def exec(name: String, tag: String, dir: String = sfDir): Double = {
      val t0 = System.nanoTime()
      val t = try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
      }
      // heartbeat: a timeout-killed run's captured tail names the query
      // and pass it died in
      System.err.println(f"[bench] $name%s t=${t}%.3f $tag%s elapsed=${elapsed}%.0f")
      t
    }

    // ALL number formatting in the emitted JSON goes through
    // Locale.ROOT: the f"" interpolator uses the JVM default locale, and
    // under a comma-decimal locale (pt_BR, de_DE, …) the compact line
    // would emit `0,72` — invalid JSON, an unparseable artifact.
    def fmt(pattern: String, v: Double): String =
      String.format(java.util.Locale.ROOT, pattern, Double.box(v))
    // 3-decimal seconds; the per-query map is ordered cheapest→costliest
    // with failures (-1) last, so a tail-truncated capture still shows
    // the expensive queries and any failures.
    def s3(v: Double): String = if (v < 0) "-1" else fmt("%.3f", v)
    def qsJson(rs: Seq[(String, Double)]): String = rs
      .sortBy { case (_, v) => if (v < 0) Double.MaxValue else v }
      .map { case (k, v) => "\"" + k + "\":" + s3(v) }
      .mkString("{", ",", "}")
    def bestOf(passes: Seq[Map[String, Double]]): Seq[(String, Double)] =
      names.map { n =>
        val ts = passes.flatMap(_.get(n)).filter(_ >= 0)
        n -> (if (ts.isEmpty) -1.0 else ts.min)
      }
    def emit(results: Seq[(String, Double)], passesDone: Int,
        partial: Boolean, writeLocal: Boolean = true): String = {
      val total = results.map(_._2).filter(_ >= 0).sum
      // contract auditability (round-15 verdict): the artifact itself
      // records the core count it ran with — the env value the harness
      // honors (master local[$cpus] + shuffle.partitions) AND the
      // context's resolved defaultParallelism — so a scaling probe can
      // check the contract from the compact line alone. Early in the
      // line, before the per-query map, so even a tail-truncated capture
      // keeps them.
      val load = s"""{"start":${fmt("%.2f", loadStart)},"end":${fmt("%.2f", loadAvg)},"host_cpus":${Runtime.getRuntime.availableProcessors}}"""
      val cpusInfo = s""""cpus":${cpusJson(cpus)},"parallelism":${spark.sparkContext.defaultParallelism},"""
      val warm = if (warmupIsSample) "" else s""""warmup_sf":"$warmDir","""
      // vs_floor: per-query ratio against the committed noise floor —
      // median + the >1.5× offenders (capped), so the compact line
      // carries the regression signal without the full 215-entry map
      val ratios = results.collect {
        case (n, t) if t >= 0 && floor.contains(n) => n -> t / floor(n)
      }
      val vsFloor = if (ratios.isEmpty) "" else {
        val rs = ratios.map(_._2).sorted
        val med = rs(rs.size / 2)
        val gt = ratios.filter(_._2 > 1.5).sortBy(-_._2)
        val worst = gt.take(8)
          .map { case (n, r) => "\"" + n + "\":" + fmt("%.2f", r) }
          .mkString("{", ",", "}")
        s""""vs_floor":{"median":${fmt("%.2f", med)},"n":${ratios.size},"n_gt_1p5":${gt.size},"worst":$worst},"""
      }
      def lineOf(qs: String, extra: String): String =
        s"""{"metric":"total","value":${s3(total)},"unit":"sec","load":$load,$cpusInfo"passes_done":$passesDone,"partial":$partial,$warm$vsFloor$extra"queries":$qs,"sf":"$sfDir","total_sec":${s3(total)}}"""
      // cap the failure list: a budget-cut run can leave 100+ queries
      // unmeasured, and an unbounded -1 list would blow the ~4 KB tail
      // the compact line is sized for — failures_total carries the count
      val failures = results.filter(_._2 < 0)
      val failShown = failures.take(10)
      val costliest = results.filter(_._2 >= 0).sortBy(-_._2).take(60)
      // sf1 full maps get their own file: a scale run must never
      // clobber BENCH_LOCAL.json's canonical sf0.1 map (the floor
      // protocol folds each into its own scale-tagged floor)
      val localMap =
        if (new java.io.File(sfDir).getName == "sf1") "BENCH_LOCAL_SF1.json"
        else "BENCH_LOCAL.json"
      val compact = lineOf(qsJson(costliest ++ failShown),
        s""""queries_shown":${costliest.size + failShown.size},"failures_total":${failures.size},"queries_total":${results.size},"full_map":"$localMap",""")
      // Only a FULL suite run is canonical: a SPARK_GRAFT_ONLY-filtered
      // A/B must never clobber the full per-query map.
      // Written after EVERY pass so a killed run leaves the latest
      // complete-pass map on disk (passes_done/partial say how far it got).
      if (only.isEmpty && writeLocal)
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get(localMap),
          lineOf(qsJson(results), "") + "\n")
        catch { case _: Exception => () } // best-effort: stdout is the contract
      System.out.println(compact)
      System.out.flush()
      compact
    }

    // warmup pass — min-eligible sample only when it ran at the target
    // scale (see warmDir above)
    // an artifact from the very FIRST moment: with a cross-scale warmup
    // the run previously emitted nothing until the first measured pass
    // finished (~warmup + pass1 of kill window with no parseable line —
    // the round-11 rc=124 mode). The stub's content depends on nothing,
    // so it prints BEFORE the warmup even starts: every kill window now
    // leaves a parseable line. It carries passes_done=0 and all-(-1)
    // queries (warmup times are smaller-scale numbers — never published
    // as target-scale samples) and skips BENCH_LOCAL.json so a stub can
    // never clobber the last complete per-query map on disk.
    if (!warmupIsSample)
      emit(bestOf(Vector.empty), 0, partial = true, writeLocal = false)
    val warmTimes = names.map(n => n -> exec(n, "pass=warmup", warmDir)).toMap
    var passes: Vector[Map[String, Double]] =
      if (warmupIsSample) Vector(warmTimes) else Vector.empty
    if (warmupIsSample) emit(bestOf(passes), passes.size, partial = true)
    // measured passes: the first always runs; each further pass starts
    // only if the budget has room for it at the last pass's duration.
    // min-of-samples is the standard noise-floor statistic on this box —
    // multi-second background-load stalls can span a whole pass (r02
    // measured 2× the steady-state total).
    val measuredPasses = sys.env.get("SPARK_GRAFT_PASSES").map { v =>
      val n = try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_PASSES must be an integer >= 1, got '$v'")
      }
      require(n >= 1, s"SPARK_GRAFT_PASSES must be >= 1, got $n")
      n
    }.getOrElse(2)
    // hard cap: the budget gates pass STARTS, but a co-tenant-stalled
    // box could stretch one pass far past it — abort a measured pass
    // mid-flight at 1.3× budget (warmup always completes: it is the
    // guaranteed one-sample-per-query floor, so a partial measured pass
    // only ever REMOVES noise, never coverage)
    val hardCapSec = budgetSec * 1.3
    // the first measured pass starts whenever any budget remains (the
    // hard cap bounds its overshoot); later passes must FIT at the last
    // pass's duration
    def roomForPass(p: Int, lastPassSec: Double): Boolean =
      if (p == 0) elapsed <= budgetSec
      else elapsed + lastPassSec <= budgetSec
    var p = 0
    var lastPassSec = elapsed
    while (p < measuredPasses && roomForPass(p, lastPassSec)) {
      val t0 = elapsed
      val pass = scala.collection.mutable.Map[String, Double]()
      val it = names.iterator
      while (it.hasNext && elapsed <= hardCapSec) {
        val n = it.next()
        pass(n) = exec(n, s"pass=${p + 1}")
      }
      if (it.hasNext)
        System.err.println(f"[bench] hard cap ${hardCapSec}%.0f s hit " +
          f"mid-pass ${p + 1} after ${pass.size}/${names.size} queries")
      passes = passes :+ pass.toMap
      lastPassSec = elapsed - t0
      p += 1
      emit(bestOf(passes), passes.size, partial = p < measuredPasses)
    }
    if (p < measuredPasses)
      System.err.println(f"[bench] budget ${budgetSec}%.0f s reached after " +
        f"$p/$measuredPasses measured passes (elapsed=${elapsed}%.0f)")

    // a load stall can span ALL of a query's passes (r05 published 2-3×
    // phantom regressions on unchanged queries): queries whose samples
    // still disagree by >30% — or that the budget squeezed to a SINGLE
    // unconfirmed sample — get up to 3 targeted re-runs (budget
    // permitting), keeping the overall min. COSTLIEST FIRST: the
    // expensive queries dominate the published total and fill the
    // compact line's top-60, so when the rerun budget runs dry it is the
    // cheap tail that goes unconfirmed, not the headline numbers.
    val bests = scala.collection.mutable.Map[String, Double]()
    val spread = scala.collection.mutable.Map[String, (Int, Double)]()
    names.foreach { n =>
      val ts = passes.flatMap(_.get(n)).filter(_ >= 0)
      bests(n) = if (ts.isEmpty) -1.0 else ts.min
      spread(n) = (ts.size, if (ts.isEmpty) -1.0 else ts.max)
    }
    // zero-sample rescue FIRST: with a cross-scale warmup (the default
    // sf0.1 path) a budget/hard-cap cut can leave queries with NO
    // target-scale sample at all. A cut only happens once elapsed is
    // already past the budget (and usually past the 1.3× hard cap), so
    // the rescue gets its OWN ceiling at 1.5× budget: spending a little
    // more to publish one sample per query beats shipping phantom -1
    // "failures" for queries that were simply never reached. Rescue is
    // for NEVER-REACHED queries only: a -1 recorded by a measured pass
    // is an attempt that genuinely failed (every pass already re-proved
    // it — re-running known failures would burn the rescue window).
    // A FAILED WARMUP is a known failure only when the warmup ran at the
    // target scale (a same-dir warmup IS a min-eligible pass); with a
    // cross-scale warmup the failure happened at a DIFFERENT scale, so
    // the query's target-scale status is UNKNOWN, not failed — those
    // queries join the rescue at the END of the order (known-good work
    // first, unknowns last) instead of being published as -1 with zero
    // target-scale attempts. Order is costliest-expected first (warmup
    // time is the estimate — identical plans), the same principle as the
    // rerun loop below: when the rescue budget runs dry it is the cheap
    // tail / the unknowns that go unmeasured, not the headline numbers.
    val attemptedAtTarget = names.filter(n => passes.exists(_.contains(n))).toSet
    val (warmOk, warmFailed) = names
      .filterNot(attemptedAtTarget)
      .partition(n => warmTimes.getOrElse(n, -1.0) >= 0)
    val neverReached = warmOk.sortBy(n => -warmTimes(n)) ++
      (if (warmupIsSample) Seq.empty else warmFailed)
    val rescueCapSec = budgetSec * 1.5
    for (n <- neverReached if elapsed <= rescueCapSec) {
      val t = exec(n, "pass=rescue")
      if (t >= 0) { bests(n) = t; spread(n) = (1, t) }
    }
    for (n <- names.sortBy(n => -bests(n)) if bests(n) > 0.3) {
      val (nSamples, maxT) = spread(n)
      if (nSamples == 1 || maxT > bests(n) * 1.3) {
        var extra = 0
        var stable = false
        while (extra < 3 && !stable && elapsed + bests(n) * 1.5 <= budgetSec) {
          val t = exec(n, "pass=rerun")
          if (t >= 0) {
            if (t < bests(n)) bests(n) = t
            stable = t <= bests(n) * 1.1 // a run at the floor confirms it
          }
          extra += 1
        }
      }
    }
    val results = names.map(n => n -> bests(n))

    // any -1 left (true failure, or unmeasured because even the rescue
    // budget ran dry) makes the artifact incomplete — say so
    val finalLine = emit(results, passes.size,
      partial = results.exists(_._2 < 0))
    spark.stop()
    // re-print after spark.stop() so the session's shutdown chatter can
    // never be the tail's last lines
    System.out.println(finalLine)
    System.out.flush()
  }
}
