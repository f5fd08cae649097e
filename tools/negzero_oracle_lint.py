#!/usr/bin/env python3
"""Oracle-side -0.0 lint (round-11).

NegZeroLintSpec pins that no graded query emits a -0.0 cell on the
SPARK side (Spark's round always gives +0.0). The twin failure mode is
the ORACLE side: DuckDB's round PRESERVES the IEEE sign, so any oracle
whose true value is a tiny negative that rounds to zero emits -0.0 and
zero-sign-splits the comparator even though |delta| = 0 (the
agg_higher_moments sf0.001 flake this round). The closed-class fix is
`round(...) + 0.0` in the oracle SQL; this lint runs every oracleSql in
DuckDB at the given SF and reports any float column containing a -0.0,
so the class is checked from the oracle direction too.

Usage: python3 tools/negzero_oracle_lint.py <sfDir> <verifyOutDir>
(needs only <verifyOutDir>/oracle_sql.json from a prior Verify run)
"""
import json, math, sys

from oracle_check import corpus


def is_neg_zero(v):
    try:
        f = float(v)
    except (TypeError, ValueError):
        return False
    return f == 0.0 and math.copysign(1.0, f) < 0


def main(sf_dir, out_dir):
    con = corpus(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            df = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"SKIP {name}: oracle error: {e}")
            continue
        for col in df.columns:
            if df[col].dtype.kind != "f":
                continue
            hits = [v for v in df[col] if is_neg_zero(v)]
            if hits:
                n_bad += 1
                print(f"NEGZERO {name}.{col}: {len(hits)} cell(s) — "
                      f"add `+ 0.0` after the round in the oracle SQL")
    print(f"{n_bad} oracle column(s) with -0.0 cells")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
