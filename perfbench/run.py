#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size full|toy]

Builds the engine from source if needed, generates the workload's inputs
from the seed, runs it in a fresh JVM (Spark ``local[nproc]``, one
closed-loop client), checks the outputs, and prints as its last line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones from a traced run. The run's full context, the
engine's result file and the spans are kept under ``.bench_runs/``.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

SETUP_ROUNDS = 3
HEAP = "2g"
JVM_TIMEOUT_S = 160

# What each workload runs, and the fewest whole passes a run measures (a
# catalog pass is short and noisy, so two). Input sizes are per --size.
WORKLOADS = {
    "medallion": {"kind": "medallion", "min_passes": 1},
    "catalog": {
        "kind": "catalog", "min_passes": 2,
        "tables": ["documents", "embeddings", "region", "nation", "customer",
                   "supplier", "part", "orders", "lineitem", "events"],
        # d03 keeps the median call inside the cluster of sub-second
        # queries rather than in the gap above it, where it jumps
        "queries": ["d03_quality_score", "d04_exact_dedup", "d07_minhash_lsh_neardup",
                    "s09_bm25_topk", "s17_bitext_margin_ivf",
                    "s07_knn_classify", "q27_monthly_by_category",
                    "q08_budget_vs_actual", "q13_running_balance",
                    "q22_distinct_counts"]},
}
SIZES = {
    "full": {"clients": 8, "sf": 0.005, "docs": 600, "vecs": 500},
    "toy": {"clients": 2, "sf": 0.001, "docs": 500, "vecs": 500},
}
LAYERS = ["sources.landing", "parse", "jobs.forms_raw", "lake.trusted",
          "jobs.reports", "ext.TextStats", "ext.Dedup", "ext.Retrieval",
          "ext.Similarity", "operators.Relational", "operators.Temporal",
          "operators.Scalars", "operators.FinTrackQ"]
SPAN_STATS = [("wall_s", "s"), ("driver_s", "s"), ("busy_s", "s"),
              ("wait_s", "s"), ("tasks", "count"), ("task_skew", "ratio"),
              ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes")]
END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("ops_per_s", "1/s"),
              ("items_per_s", "1/s"), ("peak_rss_mb", "MB")]
LAYER_EXTRA = [("sources.landing.pdfs", "count"),
               ("sources.landing.read_per_new_byte", "ratio"),
               ("parse.rows", "count"),
               ("lake.trusted.bytes_written", "bytes"),
               ("lake.trusted.files_written", "count"),
               ("lake.trusted.bytes_per_txn", "bytes"),
               ("trace.op_p50_s", "s"),
               ("trace.untraced_op_p50_s", "s"),
               ("trace.overhead_ratio", "ratio")]


def per_layer_names():
    return ([(f"{layer}.{stat}", unit) for layer in LAYERS
             for stat, unit in SPAN_STATS] + LAYER_EXTRA)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def git_commit():
    """HEAD of the repository at the working directory, if it is one (never
    of an enclosing repository)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(os.getcwd()))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10, env=env)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def generate(workload, seed, size, inputs, stage):
    """Writes the workload's inputs; returns (seconds, facts about them)."""
    spec = WORKLOADS[workload]
    t0 = time.perf_counter()
    if spec["kind"] == "medallion":
        facts = gen.write_landing(stage, seed, size["clients"])
    else:
        shutil.rmtree(inputs, ignore_errors=True)
        facts = {"rows": gen.write_tables(inputs, seed, size["sf"], size["docs"],
                                          size["vecs"], only=spec["tables"])}
    return time.perf_counter() - t0, facts


def steal_s():
    """CPU time the hypervisor took from this machine so far, in seconds
    (the `steal` column of /proc/stat); None where it is not reported."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args()
    if not os.path.isfile("build.sbt") or not os.path.isdir("src/main/scala"):
        fail("run from the repository root: build.sbt or src/main/scala missing")

    load_start = os.getloadavg()[0]
    steal_start = steal_s()
    try:
        classes = build.build()
        jars = build.spark_jars()
    except Exception as e:  # no sources, no toolchain, or a compile error
        fail(f"build failed: {e}")

    spec = WORKLOADS[args.workload]
    size = SIZES[args.size]
    cores = len(os.sched_getaffinity(0))  # what `nproc` reports
    run_dir = os.path.abspath(os.path.join(
        ".bench_runs", f"{args.workload}-{args.size}-trace{args.trace}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    stage = os.path.join(run_dir, "stage")
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    for d in (out, tmp):
        os.makedirs(d)

    # set-up: generate the inputs several times (same seed, same bytes)
    gen_s = []
    for _ in range(SETUP_ROUNDS):
        s, facts = generate(args.workload, args.seed, size, inputs, stage)
        gen_s.append(s)

    plan = {"workload": "medallion" if spec["kind"] == "medallion" else args.workload,
            "out": out, "cores": cores, "seconds": args.seconds,
            "trace": bool(args.trace), "setup_rounds": SETUP_ROUNDS,
            "min_passes": spec["min_passes"],
            "inputs": inputs, "stage": stage}
    if spec["kind"] == "medallion":
        plan["manifest"] = facts
    else:
        plan.update(tables=spec["tables"], queries=spec["queries"],
                    items=sum(facts["rows"].values()))
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    cmd = (["java"] + build.jvm_opens() +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Main", plan_path])
    log_path = os.path.join(run_dir, "jvm.log")
    # a terminated benchmark must not leave its JVM running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{args.workload}: engine run exceeded {JVM_TIMEOUT_S}s; see {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"{args.workload}: engine run exited {rc}; see {log_path}")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    failures = []
    ops = res["ops"]
    for o in ops:
        if not o["ok"]:
            failures.append((o["name"], o["pass"], o["layer"], o.get("error")))
    checks = res["checks"]
    for c in checks:
        if not c["ok"]:
            failures.append((c["name"], "check", c["layer"], c.get("error")))
    if spec["kind"] == "catalog":
        layer_of = {o["name"]: o["layer"] for o in ops}
        verdicts = oracle.compare(inputs, out, cores, tmp)
        for q in spec["queries"]:
            if q not in verdicts:
                verdicts[q] = "no oracle SQL for this query"
        for name, err in sorted(verdicts.items()):
            checks.append({"name": f"oracle:{name}", "ok": err is None})
            if err is not None:
                failures.append((f"oracle:{name}", "check",
                                 layer_of.get(name, "?"), err))
    for name, p, layer, err in failures:
        print(f"FAIL workload={args.workload} op={name} pass={p} layer={layer}: {err}",
              file=sys.stderr)

    metrics = (end_to_end(res, gen_s) if args.trace == 0
               else per_layer(res, ops))
    names = END_TO_END if args.trace == 0 else per_layer_names()
    context = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "seconds": args.seconds, "trace": args.trace,
        "master": f"local[{cores}]", "nproc": cores, "heap": HEAP,
        "heap_max_mb": res["heap_max_mb"], "spark": res["spark_version"],
        "load_start": load_start, "load_end": os.getloadavg()[0],
        "steal_s": (None if steal_start is None
                    else steal_s() - steal_start),
        "git_commit": git_commit(),
        "source_digest": open(os.path.join(os.path.dirname(classes), "stamp")).read(),
        "passes": res["passes"], "traced_passes": res["traced_passes"],
        "measured_s": res["measured_s"], "warmup_s": res["warmup_s"],
        "setup_gen_s": gen_s, "setup_jvm_s": res["setup_jvm_s"],
        "inputs": input_sizes(spec, facts, res, size),
        "self_s": res.get("self_s", {}),
        "failures": [dict(zip(("op", "pass", "layer", "error"), f)) for f in failures],
    }
    with open(os.path.join(run_dir, "context.json"), "w") as f:
        json.dump(context, f, indent=1)
    print("context " + json.dumps(context))
    attempted = len(ops) + len(checks)
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in names},
    }
    print(json.dumps(result))


def input_sizes(spec, facts, res, size):
    if spec["kind"] == "medallion":
        return {"clients": size["clients"], "pdfs": facts["pdfs"],
                "pdf_bytes": facts["pdf_bytes"], "forms_rows": facts["forms_rows"],
                "transactions_per_pass": res["extra"]["txns_per_pass"]}
    return {"rows": facts["rows"]}


def end_to_end(res, gen_s):
    ops = [o for o in res["ops"] if o["ok"]]
    secs = [o["seconds"] for o in ops]
    busy = sum(secs)
    if res["workload"] == "medallion":
        items = sum(o["items"] for o in ops)
    else:
        items = res["extra"]["items_per_pass"] * len({o["pass"] for o in ops})
    return {
        "setup_s": median(gen_s) + median(res["setup_jvm_s"]),
        "op_p50_s": median(secs),
        "ops_per_s": len(ops) / busy if busy else 0.0,
        "items_per_s": items / busy if busy else 0.0,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(res, ops):
    n = max(1, res["traced_passes"])
    layers = res.get("layers", {})
    extra = res["extra"]
    m = {}
    for layer in LAYERS:
        got = layers.get(layer, {})
        for stat, _ in SPAN_STATS:
            v = got.get(stat, 0.0)
            m[f"{layer}.{stat}"] = v if stat == "task_skew" else v / n
    landing = layers.get("sources.landing", {})
    m["sources.landing.pdfs"] = extra.get("traced_pdfs", 0) / n
    new_bytes = extra.get("traced_new_bytes", 0)
    m["sources.landing.read_per_new_byte"] = (
        landing.get("read_bytes", 0.0) / new_bytes if new_bytes else 0.0)
    m["parse.rows"] = layers.get("parse", {}).get("rows_written", 0.0) / n
    m["lake.trusted.bytes_written"] = extra.get("traced_trusted_bytes", 0) / n
    m["lake.trusted.files_written"] = extra.get("traced_trusted_files", 0) / n
    txns = extra.get("traced_txns", 0)
    m["lake.trusted.bytes_per_txn"] = (
        extra.get("traced_trusted_bytes", 0) / txns if txns else 0.0)
    traced = median([o["seconds"] for o in ops if o["ok"] and o["traced"]])
    plain = median([o["seconds"] for o in ops if o["ok"] and not o["traced"]])
    m["trace.op_p50_s"] = traced
    m["trace.untraced_op_p50_s"] = plain
    m["trace.overhead_ratio"] = traced / plain - 1.0 if plain else 0.0
    return m


if __name__ == "__main__":
    main()
