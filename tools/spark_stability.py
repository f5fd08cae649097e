#!/usr/bin/env python3
"""Spark-side determinism gate (round-11) — the engine twin of
oracle_stability.py: that tool sweeps DuckDB's thread count to prove the
ORACLE values don't depend on parallel execution order; this one diffs
two full Verify dumps produced at different Spark parallelism settings
(e.g. local[4]/shuffle=4 vs local[32]/shuffle=32) to prove the SPARK
values don't either. A mismatch means a query's emitted values depend on
partition count or placement — an accumulation-order float, a first()/
limit over ties, an unsalted window — i.e. a latent grading flake that
would only surface when the driver's local[32] run disagrees with a
local iteration.

Comparison is driver-style: columns sorted by name, rows fully
re-sorted, then stringified cell compare — raw row-order ties are NOT
flagged (the driver's comparator re-sorts rows anyway).

Usage:
  python3 tools/spark_stability.py <verifyOutDirA> <verifyOutDirB>
where each dir is a prior `runMain graft.Verify <sfDir> <outDir>` dump
(run the two Verifies yourself with different SPARK_GRAFT_CPUS).
"""
import glob
import os
import sys

import duckdb

from oracle_check import canon


def read(con, parquet_glob):
    return canon(con.execute(
        f"SELECT * FROM read_parquet('{parquet_glob}')").fetchdf())


def main(dir_a, dir_b):
    con = duckdb.connect()
    names_a = {os.path.basename(p) for p in glob.glob(f"{dir_a}/*")
               if os.path.isdir(p)}
    names_b = {os.path.basename(p) for p in glob.glob(f"{dir_b}/*")
               if os.path.isdir(p)}
    missing = names_a ^ names_b
    for n in sorted(missing):
        print(f"MISSING {n}: present in only one dump")
    n_pass = n_fail = 0
    for name in sorted(names_a & names_b):
        try:
            a = read(con, f"{dir_a}/{name}/*.parquet")
            b = read(con, f"{dir_b}/{name}/*.parquet")
        except Exception as e:  # noqa: BLE001 - report and continue
            print(f"ERR  {name}: {e}")
            n_fail += 1
            continue
        if a == b:
            n_pass += 1
        else:
            n_fail += 1
            la, lb = a.splitlines(), b.splitlines()
            diff = next((i for i, (x, y) in enumerate(zip(la, lb)) if x != y),
                        min(len(la), len(lb)))
            print(f"FAIL {name}: dumps differ at canonical line {diff}")
            print(f"  A: {la[diff] if diff < len(la) else '<eof>'}")
            print(f"  B: {lb[diff] if diff < len(lb) else '<eof>'}")
    print(f"{n_pass} stable, {n_fail} unstable/err, "
          f"{len(missing)} missing")
    sys.exit(1 if (n_fail or missing) else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
