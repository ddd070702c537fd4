#!/usr/bin/env python3
"""Toy-size self-check of the benchmark itself.

Runs every workload in BENCHMARK.json once untraced and once traced at
toy size (sf0.001 tables, 2 medallion clients, 1 s) with the JVM's
default locale set to pt_BR, and asserts that:

* each run exits 0 and its last line is the result object, with
  ``correct`` true and ``failed`` 0;
* every metric BENCHMARK.json names is emitted with its unit, and no other;
* in the traced run, a layer's ``busy_s`` is positive on the workload that
  calls the layer and exactly 0 on the workload that bypasses it.

Usage (from the repository root): python3 perfbench/selfcheck.py
"""
import json
import os
import subprocess
import sys

# which workload calls which layer; every other workload must bypass it
USES = {
    "medallion": ["sources.landing", "parse", "jobs.forms_raw", "lake.trusted",
                  "jobs.reports"],
    "catalog": ["ext.TextStats", "ext.Dedup", "ext.Retrieval", "ext.Similarity",
                "operators.Relational", "operators.Temporal",
                "operators.Scalars", "operators.FinTrackQ"],
}


def run(workload, trace):
    env = dict(os.environ, JAVA_TOOL_OPTIONS="-Duser.language=pt -Duser.country=BR")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "toy"],
        capture_output=True, text=True, env=env, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n"
                             f"{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    problems = []
    for w in bench["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(name, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{name}/{trace}: result keys {sorted(r)}")
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{name}/{trace}: correct={r['correct']} "
                                f"attempted={r['attempted']} failed={r['failed']}")
            if got != want:
                missing = sorted(set(want) - set(got))
                extra = sorted(set(got) - set(want))
                wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
                problems.append(f"{name}/{trace}: missing {missing} extra {extra} "
                                f"wrong units {wrong}")
            if trace == 1:
                for layer in (l for ls in USES.values() for l in ls):
                    busy = r["metrics"].get(f"{layer}.busy_s", {}).get("value")
                    used = layer in USES[name]
                    if busy is None or (used and busy <= 0) or (not used and busy != 0):
                        problems.append(f"{name}: {layer}.busy_s = {busy} "
                                        f"({'used' if used else 'bypassed'})")
            print(f"{name} trace={trace}: {len(got)} metrics, "
                  f"attempted={r['attempted']} failed={r['failed']}")
    for p in problems:
        print("PROBLEM", p)
    print("selfcheck:", "FAIL" if problems else "OK")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
