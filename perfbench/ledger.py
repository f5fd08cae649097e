#!/usr/bin/env python3
"""Per-layer ledger of every workload: one untraced and one traced run each.

    python3 perfbench/ledger.py [--seed 1] [--out perfbench/ledger.json]

For each workload it records the host and JVM the runs saw, the corpus
manifest, the end-to-end values of the untraced run, the per-layer metrics
and self time per layer of the traced run, the layer split of the 10
slowest invocations, and the tracing overhead: traced minus untraced
total_s and total_cpu_s on the same seed (so the same keys in the same
order).
"""
import argparse
import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def one(workload, seed, trace):
    seconds = json.load(open(run.BENCH_JSON))["run_seconds"]
    with contextlib.redirect_stdout(io.StringIO()):
        return run.main(["--workload", workload, "--seed", str(seed),
                         "--seconds", str(seconds), "--trace", str(trace)])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "ledger.json"))
    a = ap.parse_args()
    ledger = {"seed": a.seed, "workloads": {}}
    for wl in run.WORKLOADS["workloads"]:
        plain = one(wl["name"], a.seed, 0)
        traced = one(wl["name"], a.seed, 1)
        jvm = traced["jvm"]
        h = jvm["host"]
        n = len(jvm["timed"])
        ledger["workloads"][wl["name"]] = {
            "host": dict(
                {k: h[k] for k in ("cores", "master", "max_memory_mb", "gc",
                                   "java_version", "spark_version",
                                   "load1_start", "load1_end", "steal")},
                steal_untraced=plain["jvm"]["host"]["steal"],
                spark_env=sorted(h["spark_env"])),
            # paths inside the checkout are written relative to its root
            "jvm_args": [x.replace(run.ROOT, ".") for x in h["jvm_args"]],
            "fixture": traced["fixture"],
            "keys": traced["keys"],
            "invocations": n,
            "failed_frac": plain["failed_frac"],
            "failures": [f["key"] for f in plain["failures"]],
            "end_to_end": plain["end_to_end"],
            "traced_end_to_end": traced["end_to_end"],
            "tracing_overhead_s": {k: traced["end_to_end"][k] - plain["end_to_end"][k]
                                   for k in ("total_s", "total_cpu_s")},
            "per_layer": traced["metrics"],
            "self_ms_per_query": {k: v / n for k, v in sorted(jvm["self_ms"].items())},
            "slowest": jvm["slowest"],
        }
        print(f"{wl['name']}: total_s {plain['end_to_end']['total_s']:.2f} "
              f"traced {traced['end_to_end']['total_s']:.2f}", file=sys.stderr)
    with open(a.out, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
