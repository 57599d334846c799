#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir> [<prefix,name,...>]

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json against DuckDB views over the same
testdata tables, and diffs (columns sorted by name, rows sorted by all
columns, exact values). Dev-tool only — the engine itself has no Python
dependency.
"""
import duckdb, sys, os, json
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    # Optional 3rd arg: comma-separated registry prefixes or full names to
    # check (e.g. "d19,d20,t19" — lets sf0.1 spot-checks skip d13, whose
    # recursive-CTE oracle takes >40 min in DuckDB at that scale). Matched
    # like graft.Verify's selector; an entry that matches nothing fails.
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    keys = lambda name: {name, name.split("_", 1)[0]}
    n_ok = n_fail = 0
    if only:
        for p in sorted(only - set().union(*map(keys, oracle))):
            print(f"FAIL {p}: matches no oracle_sql.json entry")
            n_fail += 1
    for name in sorted(oracle):
        if only and not keys(name) & only:
            continue
        try:
            got = con.execute(
                f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
            want = con.execute(oracle[name]).df()
            g, w = norm(got), norm(want)
            # Driver hash-compares raw values, so an int64 Spark column vs a
            # HUGEINT-coerced-to-float64 oracle column is a FAIL even when
            # numerically equal. Enforce dtype-family agreement here.
            fams = []
            for c in g.columns:
                if c not in w.columns:
                    fams.append(f"{c}: missing from oracle result")
                    continue
                gk, wk = g[c].dtype.kind, w[c].dtype.kind
                gi, wi = gk in "iu", wk in "iu"
                if gk != wk and (gi != wi or gk in "OMb" or wk in "OMb"):
                    fams.append(f"{c}: spark={g[c].dtype} oracle={w[c].dtype}")
            if fams:
                raise AssertionError("dtype family mismatch: " + "; ".join(fams))
            pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                          check_exact=True)
            print(f"OK   {name}  ({len(g)} rows)")
            n_ok += 1
        except Exception as e:
            n_fail += 1
            msg = str(e).replace("\n", " | ")[:500]
            print(f"FAIL {name}: {msg}")
    print(f"\n{n_ok} ok, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
