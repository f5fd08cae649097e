#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/harness), generates the sf0.1 corpus
(perfbench/corpus.py) and, for the 10x workloads, the 10x copy with
`graft.ScaleGen`; later runs reuse them while their manifests match.
Everything is written under .bench_build/perfbench in the checkout.

Each timed invocation is what `graft.Bench` times: the
`SparkEntry.queries(key)(spark, sf)` call plus `count()`, and every count
is checked against the expected row count in expected_counts.json. The
last stdout line is one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. The full record of the run (host, JVM,
corpus manifest, every invocation and, when traced, the span tree) goes to
.bench_build/perfbench/results/.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

import corpus  # noqa: E402

WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
EXPECTED = json.load(open(os.path.join(HERE, "expected_counts.json")))
BENCH_JSON = os.path.join(ROOT, "BENCHMARK.json")
BUILD_TIMEOUT_S = 840
JVM_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    """Cores this process may run on, as `nproc` counts them."""
    return len(os.sched_getaffinity(0))


def tier1_env():
    """The engine's Tier-1 settings: one task thread per core and a heap of
    half the RAM, clamped to 2..8 GiB."""
    try:
        kib = next(int(l.split()[1]) for l in open("/proc/meminfo")
                   if l.startswith("MemTotal:"))
        heap = f"{min(8, max(2, kib // 2097152))}g"
    except (OSError, StopIteration):
        heap = "2g"
    return {"SPARK_GRAFT_CPUS": str(cpus()), "SPARK_DRIVER_MEM": heap}


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        full = os.path.join(ROOT, base)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full)
            if "target" not in os.path.relpath(d, full).split(os.sep)
            for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sh(cmd, cwd, env, timeout, out=None):
    """Run a child in its own process group to completion. On a timeout or
    on our own termination the whole group is killed and waited for."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out or subprocess.DEVNULL,
                         stderr=subprocess.STDOUT if out else subprocess.DEVNULL,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(env):
    """Compile engine + harness with sbt once per source state; returns the
    launch spec (the build's own classpath and run javaOptions)."""
    key = tree_hash(["build.sbt", "project/build.properties", "src/main",
                     "perfbench/harness"]) + env["SPARK_DRIVER_MEM"]
    spec_path = os.path.join(WORK, "launch.json")
    if os.path.exists(spec_path):
        spec = json.load(open(spec_path))
        if spec.get("source_hash") == key and all(
                os.path.exists(p) for p in spec["classpath"]):
            return spec
    log("building engine and harness with sbt")
    t0 = time.time()
    benv = dict(os.environ, **env, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    benv["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(WORK, "build.log"), "wb") as fh:
        rc = sh(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                HARNESS, benv, BUILD_TIMEOUT_S, fh)
    if rc != 0:
        sys.exit(f"sbt build failed (rc={rc}); see {WORK}/build.log")
    spec = json.load(open(os.path.join(HARNESS, "target", "launch.json")))
    spec["source_hash"] = key
    spec["build_s"] = time.time() - t0
    json.dump(spec, open(spec_path, "w"))
    return spec


def java(spec, env, args, log_name):
    """Launch the harness JVM with the build's javaOptions and classpath,
    its scratch files inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    jenv = dict(os.environ, **env, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    cmd = (["java"] + spec["javaOptions"] + [f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(spec["classpath"])] + args)
    with open(os.path.join(WORK, "logs", log_name), "wb") as fh:
        return sh(cmd, tmp, jenv, JVM_TIMEOUT_S, fh)


def corpus_dir(name):
    return os.path.join(WORK, "corpus", name)


def base_corpus(name):
    """Generate (or reuse) a base corpus and check it is the one the
    expected counts were taken on."""
    want = EXPECTED["corpora"][name]
    d = corpus_dir(name)
    man_path = os.path.join(d, "MANIFEST.json")
    if os.path.exists(man_path) and json.load(open(man_path)) == want:
        return d
    log(f"generating corpus {name}")
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    fp = corpus.generate(d, want["sf"])
    if fp != want["fingerprint"]:
        sys.exit(f"corpus {name} fingerprint {fp} != {want['fingerprint']}: "
                 "expected counts do not apply")
    json.dump(want, open(man_path, "w"))
    log(f"corpus {name} built in {time.time() - t0:.1f}s")
    return d


def scaled_corpus(spec, env, base_name, mult):
    """The `mult`x copy written by graft.ScaleGen, reused while base dir,
    multiplier and ScaleGen's source hash match."""
    base = base_corpus(base_name)
    name = f"{base_name}_x{mult}"
    d = corpus_dir(name)
    want = {"base": os.path.relpath(base, ROOT), "mult": mult,
            "base_fingerprint": EXPECTED["corpora"][base_name]["fingerprint"],
            "scalegen_sha256": tree_hash(["src/main/scala/graft/ScaleGen.scala"])}
    man_path = os.path.join(d, "MANIFEST.json")
    if os.path.exists(man_path):
        have = json.load(open(man_path))
        if {k: have.get(k) for k in want} == want:
            return d, have
    log(f"building {name} with graft.ScaleGen")
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    rc = java(spec, env, ["graft.ScaleGen", base, d, str(mult)], f"scalegen_{name}.log")
    if rc != 0:
        sys.exit(f"graft.ScaleGen failed (rc={rc})")
    have = dict(want, build_s=time.time() - t0,
                bytes=sum(os.path.getsize(os.path.join(p, f))
                          for p, _, fs in os.walk(d) for f in fs))
    json.dump(have, open(man_path, "w"))
    return d, have


def sample_keys(wl, seed):
    """The workload's keys in seeded order, and the one oracle key whose
    full result is checked after timing."""
    rng = random.Random(f"{wl['name']}:{seed}")
    keys = list(wl["keys"])
    rng.shuffle(keys)
    checkable = [k for k in keys if k in wl["oracle_keys"]]
    return keys, rng.sample(checkable, min(1, len(checkable)))


def plan(wl, keys, verify, trace, dirs, expected, verify_dir):
    """The harness plan: one line per setting and per invocation. The full
    result is checked on the priming corpus: oracle_check.py reads one
    Parquet file per table, which the ScaleGen copy does not have."""
    timed_sf = wl["corpus"]
    prime_sf = wl.get("prime_corpus", timed_sf)
    lines = [f"cpus\t{cpus()}", f"warmDir\t{dirs[prime_sf]}",
             f"trace\t{trace}", f"verifyDir\t{verify_dir}"]
    if "prime_corpus" in wl:
        lines += [f"prime\t{k}\t{dirs[prime_sf]}\t{expected[prime_sf][k]}"
                  for k in keys]
    lines += [f"timed\t{k}\t{dirs[timed_sf]}\t{expected[timed_sf][k]}"
              for k in keys]
    lines += [f"verify\t{k}\t{dirs[prime_sf]}\t0" for k in verify]
    return lines


def aggregate(out, launched, trace):
    """End-to-end values (always) and the metrics the result line shows."""
    bench = json.load(open(BENCH_JSON))
    timed = out["timed"]
    values = {
        "setup_s": out["ready_ms"] / 1e3 - launched,
        "total_s": sum(i["latency_s"] for i in timed),
        "total_cpu_s": sum(i["cpu_s"] for i in timed),
        "setup_cpu_s": out["ready_cpu_s"],
        "query_p50_s": statistics.median(i["latency_s"] for i in timed),
    }
    if not trace:
        return values, {m["name"]: (values[m["name"]], m["unit"])
                        for m in bench["end_to_end"]}
    layers = dict(out["layers"], **{"jvm.heap_retained_mb": out["heap_retained_mb"]})
    metrics = {}
    for m in bench["per_layer"]:
        v = layers[m["name"]]
        if m["unit"].endswith("/query"):
            v /= len(timed)
        metrics[m["name"]] = (v, m["unit"])
    return values, metrics


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="recorded only: a run times one fixed pass of its "
                         "workload, sized to about BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = next((w for w in WORKLOADS["workloads"] if w["name"] == a.workload), None)
    if wl is None:
        sys.exit(f"unknown workload {a.workload!r}")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        sys.exit("the engine's sources are not beside perfbench/; run from a "
                 "checkout of the repository")
    for sub in ("logs", "results", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    env = tier1_env()
    spec = build(env)
    # every workload's corpora, so the first run of a checkout builds them all
    dirs, fixture = {}, {}
    for name in sorted({w.get(k, w["corpus"]) for w in WORKLOADS["workloads"]
                        for k in ("corpus", "prime_corpus")}):
        if "_x" in name:
            base, mult = name.split("_x")
            dirs[name], fixture[name] = scaled_corpus(spec, env, base, int(mult))
        else:
            dirs[name] = base_corpus(name)
            fixture[name] = EXPECTED["corpora"][name]
    return execute(wl, a.seed, a.seconds, a.trace, spec, env, dirs, fixture)


def execute(wl, seed, seconds, trace, spec, env, dirs, fixture,
            expected=None, tag=""):
    """Run one benchmark JVM and print the result line."""
    keys, verify = sample_keys(wl, seed)
    stem = f"{wl['name']}_s{seed}_t{trace}{tag}"
    plan_path = os.path.join(WORK, "tmp", f"{stem}.plan")
    out_path = os.path.join(WORK, "tmp", f"{stem}.json")
    verify_dir = os.path.join(WORK, "tmp", f"{stem}_verify")
    shutil.rmtree(verify_dir, ignore_errors=True)
    if os.path.exists(out_path):
        os.remove(out_path)
    with open(plan_path, "w") as fh:
        fh.write("\n".join(plan(wl, keys, verify, trace, dirs,
                                expected or EXPECTED["counts"], verify_dir)) + "\n")
    launched = time.time()
    rc = java(spec, env, ["perfbench.Harness", plan_path, out_path],
              f"{stem}.log")
    if rc != 0 or not os.path.exists(out_path):
        sys.exit(f"harness JVM failed (rc={rc}); see {WORK}/logs/{stem}.log")
    out = json.load(open(out_path))
    oracle_ok = True
    if verify:
        verify_sf = wl.get("prime_corpus", wl["corpus"])
        with open(os.path.join(WORK, "logs", f"{stem}_oracle.log"), "wb") as fh:
            rc = sh([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                     dirs[verify_sf], verify_dir], ROOT, None, JVM_TIMEOUT_S, fh)
        oracle_ok = rc == 0
    values, metrics = aggregate(out, launched, trace)
    timed = out["timed"]
    failures = [i for i in timed if not i["ok"]]
    record = {
        "workload": wl["name"], "seed": seed, "trace": trace,
        "seconds": seconds, "keys": keys, "fixture": fixture,
        "build_s": spec.get("build_s"), "oracle_checked": verify,
        "oracle_ok": oracle_ok, "failed_frac": len(failures) / len(timed),
        "failures": failures,
        "prime_failures": [i for i in out["prime"] if not i["ok"]],
        "end_to_end": values,
        "metrics": {k: v for k, (v, _) in metrics.items()}, "jvm": out}
    with open(os.path.join(WORK, "results", f"{stem}.json"), "w") as fh:
        json.dump(record, fh)
    for f in failures:
        log(f"FAILED {f['key']} pass {f['pass']}: rows {f['rows']} "
            f"expected {f['expected']} {f['error']}")
    if not oracle_ok:
        log(f"tools/oracle_check.py found a mismatch in {verify}")
    h = out["host"]
    log(f"host cores={h['cores']} master={h['master']} "
        f"heap={h['max_memory_mb']:.0f}MB gc={h['gc']} load1={h['load1_start']}"
        f"->{h['load1_end']} steal={h['steal']:.4f}")
    result = {"correct": not failures and oracle_ok, "attempted": len(timed),
              "failed": len(failures),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(result))
    return record


if __name__ == "__main__":
    main()
