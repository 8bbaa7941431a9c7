#!/usr/bin/env python3
"""check.py variant: compare only the named queries."""
import json, sys, os
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import duckdb, pandas as pd
from check import load_eps

TABLES = ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)

sf_dir, out_dir = sys.argv[1], sys.argv[2]
names = sys.argv[3:]
con = duckdb.connect()
for t in TABLES:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
eps_path = f"{out_dir}/eps_oracle_sql.json"
eps_oracles = load_eps(eps_path)
fails = 0
for name in names:
    if name not in oracle:
        # Rows-only query: race its eps oracle when one is declared
        # (toleranced per-column compare, rows sorted by the exact
        # columns only), plain rows>0 otherwise.
        import numpy as np
        got0 = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
        if name not in eps_oracles:
            ok = len(got0) > 0
            print(("OK " if ok else "!! ") + f"{name} rows={len(got0)} (rows-only)")
            fails += 0 if ok else 1
            continue
        spec = eps_oracles[name]
        atol = spec.get("atol", {})
        def ceps(df):
            df = df.reindex(sorted(df.columns), axis=1)
            keys = [c for c in df.columns if c not in atol]
            if len(df) and keys:
                df = df.sort_values(by=keys, kind="mergesort")
            return df.reset_index(drop=True)
        got, want = ceps(got0), ceps(con.execute(spec["sql"]).fetchdf())
        ok = list(got.columns) == list(want.columns) and len(got) == len(want)
        if ok:
            for c in got.columns:
                g, w = got[c], want[c]
                if c in atol:
                    if not np.allclose(g.astype(float).fillna(-9e99),
                                       w.astype(float).fillna(-9e99),
                                       rtol=0, atol=float(atol[c]), equal_nan=True):
                        print(f"!! {name} EPS COL {c}; max abs diff:",
                              (g.astype(float)-w.astype(float)).abs().max(), "atol", atol[c])
                        ok = False
                elif not g.astype(str).equals(w.astype(str)):
                    print(f"!! {name} EPS COL {c} differs (exact)")
                    ok = False
        print(("OK " if ok else "!! ") + f"{name} rows={len(got)} values_match_eps={str(ok).lower()}")
        fails += 0 if ok else 1
        continue
    got = canon(con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf())
    want = canon(con.execute(oracle[name]).fetchdf())
    ok = list(got.columns) == list(want.columns) and len(got) == len(want)
    if ok:
        for c in got.columns:
            if not got[c].equals(want[c]):
                import numpy as np
                g, w = got[c], want[c]
                if g.dtype.kind == "f" and np.allclose(g.fillna(-9e99), w.fillna(-9e99), rtol=0, atol=0, equal_nan=True):
                    continue
                print(f"!! {name} COL {c} differs; max abs diff:",
                      (g-w).abs().max() if g.dtype.kind=="f" else "n/a")
                ok = False
    print(("OK " if ok else "!! ") + f"{name} rows={len(got)}")
    fails += 0 if ok else 1
print("ALL OK" if fails == 0 else f"{fails} FAILURES")
# Usage: after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
#   python3 tools/check_subset.py <sfDir> <outDir> q89_isolated_rays q95_all_rays ...
# Purpose: spot-validate float-sensitive oracles at sf0.1 (the driver's
# gate runs at sf0.01; 10x more values surface round-boundary flukes —
# that is how the q95 endpoint-magnitude flip was caught).
