#!/usr/bin/env python3
"""Oracle determinism gate (round-11).

Runs every oracleSql in DuckDB at three thread counts (1, 4, 16) and
compares results THE WAY THE DRIVER DOES (columns sorted by name, rows
fully re-sorted, then value-compared): a mismatch means the oracle's
VALUES depend on DuckDB's parallel execution order — a window/limit
over tied keys or a reassociation-boundary rounding — i.e. a latent
grading flake. Raw ORDER BY tie reordering (the corpus's duplicated
(l_orderkey, l_linenumber) pairs make final-sort ties common) is NOT
flagged, because the driver's comparator re-sorts rows anyway.

Usage: python3 tools/oracle_stability.py <sfDir> <verifyOutDir>
(needs only <verifyOutDir>/oracle_sql.json from a prior Verify run)
"""
import json, sys

from oracle_check import canon, corpus


def run_all(sf_dir, sql_map, threads):
    con = corpus(sf_dir, threads)
    out = {}
    for name, sql in sql_map.items():
        try:
            out[name] = canon(con.execute(sql).fetchdf())
        except Exception as e:
            out[name] = f"ERR {e}"
    return out


def main(sf_dir, out_dir):
    sql_map = json.load(open(f"{out_dir}/oracle_sql.json"))
    runs = [run_all(sf_dir, sql_map, th) for th in (1, 4, 16)]
    unstable = [k for k in sql_map
                if not (runs[0][k] == runs[1][k] == runs[2][k])]
    for k in unstable:
        print(f"UNSTABLE {k}: oracle values vary with DuckDB thread count")
    print(f"{len(unstable)} unstable oracle(s) of {len(sql_map)}")
    return 1 if unstable else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
