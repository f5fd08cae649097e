#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate (SURVEY.md §0.2).

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

For each query in <verifyOutDir>/oracle_sql.json:
  - run the oracle SQL in DuckDB with each corpus table registered as a
    view over <sfDir>/<table>.parquet,
  - load Spark's result parquet from <verifyOutDir>/<name>/,
  - sort columns by name, sort rows, compare cell-by-cell (exact for
    ints/strings; report max abs delta for floats).
"""
import json, sys, glob
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def corpus(sf_dir, threads=None):
    """A DuckDB connection with each corpus table registered as a view
    over <sf_dir>/<table>.parquet, the way the oracle SQL names them."""
    con = duckdb.connect()
    if threads is not None:
        con.execute(f"SET threads={threads}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(df):
    """Driver-style canonical text of a result: columns sorted by name,
    cells stringified (so array cells and NaNs sort deterministically),
    rows fully re-sorted."""
    df = df[sorted(df.columns)]
    s = df.astype(str)
    s = s.sort_values(list(s.columns), kind="mergesort").reset_index(drop=True)
    return s.to_csv(index=False)


def main(sf_dir, out_dir):
    con = corpus(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            ora = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        spk = duckdb.connect().execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        # schema check: DuckDB-reported types of oracle vs spark parquet
        ora_types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
        spk_types = {r[0]: r[1] for r in duckdb.connect().execute(
            f"DESCRIBE SELECT * FROM read_parquet({files!r})").fetchall()}
        norm = lambda t: t.replace("TIMESTAMP WITH TIME ZONE", "TIMESTAMP")
        tmism = {c: (ora_types.get(c), spk_types.get(c)) for c in ora_types
                 if c in spk_types and norm(ora_types[c]) != norm(spk_types[c])}
        if tmism:
            print(f"FAIL {name}: type mismatch {tmism}")
            n_fail += 1
            continue
        # driver compare shape: sort columns by name, then sort rows
        ora = ora[sorted(ora.columns)]
        spk_cols = sorted(spk.columns)
        if sorted(ora.columns) != spk_cols:
            print(f"FAIL {name}: columns spark={spk_cols} oracle={sorted(ora.columns)}")
            n_fail += 1
            continue
        spk = spk[spk_cols]
        # array-typed cells (numpy arrays) crash the DRIVER's pandas
        # comparator (unhashable ndarray inside sort_values). Mirror the
        # driver contract: any array-typed output column is a hard FAIL
        # here, so the divergence can never hide locally (round-1 lesson:
        # stringifying here masked 3 driver reds).
        import numpy as np
        arr_cols = [c for df_ in (ora, spk) for c in df_.columns
                    if df_[c].dtype == object and df_[c].map(
                        lambda v: isinstance(v, (list, np.ndarray))).any()]
        if arr_cols:
            print(f"FAIL {name}: array-typed output columns {sorted(set(arr_cols))} "
                  "(driver comparator cannot grade these — stringify both sides)")
            n_fail += 1
            continue
        if len(ora) != len(spk):
            print(f"FAIL {name}: rows spark={len(spk)} oracle={len(ora)}")
            n_fail += 1
            continue
        ora_s = ora.sort_values(by=list(ora.columns)).reset_index(drop=True)
        spk_s = spk.sort_values(by=list(spk.columns)).reset_index(drop=True)
        bad = None
        for c in ora_s.columns:
            a, b = ora_s[c], spk_s[c]
            if a.dtype.kind == 'f' or b.dtype.kind == 'f':
                import numpy as np
                av, bv = a.to_numpy(dtype=float), b.to_numpy(dtype=float)
                nan_mismatch = (np.isnan(av) != np.isnan(bv)).any()
                both = ~np.isnan(av) & ~np.isnan(bv)
                delta = float(abs(av[both] - bv[both]).max()) if both.any() else 0.0
                # sign-exact at zero: the driver hashes the textual value,
                # where -0.0 != +0.0 — |Δ|=0 would hide that split (it did,
                # for graph_modularity in round 8). Compare signbit too.
                zero_sign = (np.signbit(av[both]) != np.signbit(bv[both])) & \
                            (av[both] == 0.0)
                if nan_mismatch or delta != 0.0 or zero_sign.any():
                    bad = (f"col {c}: max|Δ|={delta} nan_mismatch={nan_mismatch}"
                           f" zero_sign_mismatch={bool(zero_sign.any())}")
                    break
            else:
                neq = (a.astype(str) != b.astype(str))
                if neq.any():
                    i = neq.idxmax()
                    bad = f"col {c} row {i}: oracle={a[i]!r} spark={b[i]!r}"
                    break
        if bad:
            print(f"FAIL {name}: {bad}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(ora)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
