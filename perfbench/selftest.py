#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001, two keys per workload.

    python3 perfbench/selftest.py

Checks that
  - every metric named in BENCHMARK.json is printed with its unit, traced
    and untraced, for every workload;
  - spans nest (each child inside its parent) and every self time is >= 0;
  - an invocation that throws is counted as failed, not dropped;
  - a wrong expected row count is flagged.
Exits 0 when every check holds.
"""
import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SF = "sf0.001"


def small(wl):
    """The workload reduced to its two self-test keys on the sf0.001 corpus."""
    keys = wl["selftest_keys"]
    small = dict(wl, keys=keys, corpus=SF, oracle_keys=keys)
    if "prime_corpus" in wl:
        small["prime_corpus"] = SF
    return small


def execute(wl, trace, dirs, expected=None, tag=""):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        record = run.execute(wl, 1, 0, trace, SPEC, ENV, dirs, {},
                             expected=expected, tag=tag)
    return json.loads(buf.getvalue().strip().splitlines()[-1]), record


def check_spans(spans):
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            assert p["start_us"] <= s["start_us"] <= s["end_us"] <= p["end_us"], \
                f"span {s['id']} ({s['name']}) not inside parent {p['id']}"
        ivs = sorted((k["start_us"], k["end_us"]) for k in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in ivs:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        assert (s["end_us"] - s["start_us"]) - covered >= 0, \
            f"span {s['id']} has negative self time"


def main():
    global SPEC, ENV
    bench = json.load(open(run.BENCH_JSON))
    for sub in ("logs", "results", "tmp"):
        os.makedirs(os.path.join(run.WORK, sub), exist_ok=True)
    ENV = run.tier1_env()
    SPEC = run.build(ENV)
    dirs = {SF: run.base_corpus(SF)}
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for wl in run.WORKLOADS["workloads"]:
        w = small(wl)
        for trace in (0, 1):
            line, record = execute(w, trace, dirs)
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            assert got == want[trace], f"{wl['name']} trace={trace}: {got}"
            assert line["correct"] and line["failed"] == 0, \
                f"{wl['name']} trace={trace}: {record['failures']}"
            assert line["attempted"] == 2
            if trace:
                assert record["jvm"]["spans"], "traced run has no spans"
                check_spans(record["jvm"]["spans"])
        print(f"ok   {wl['name']}: metrics, units and spans", flush=True)

    w = small(run.WORKLOADS["workloads"][0])
    # an invocation that throws: its corpus directory does not exist
    broken = dict(w, corpus="missing", oracle_keys=[])
    line, record = execute(broken, 0, dict(dirs, missing=os.path.join(
        run.WORK, "tmp", "no_such_corpus")),
        expected={"missing": run.EXPECTED["counts"][SF]}, tag="_throws")
    assert line["attempted"] == 2 and line["failed"] == 2 and not line["correct"]
    assert all(f["error"] for f in record["failures"])
    print("ok   a throwing invocation counts as failed", flush=True)
    # a wrong expected count
    exp = {SF: dict(run.EXPECTED["counts"][SF])}
    k = w["selftest_keys"][0]
    exp[SF][k] += 1
    line, record = execute(dict(w, oracle_keys=[]), 0, dirs, expected=exp,
                           tag="_wrong")
    assert line["failed"] == 1 and not line["correct"], line
    assert record["failures"][0]["key"] == k
    print("ok   a wrong expected count is flagged", flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
