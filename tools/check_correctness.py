#!/usr/bin/env python3
"""Local pre-check replicating the driver's correctness gate:
runs graft.Verify at a given SF dir, then executes each oracle_sql.json entry
in DuckDB over the same parquet tables and compares (rows, schema, values).

Usage: python3 tools/check_correctness.py [sfdir] [outdir] [--skip-verify]

Verify runs from the checkout that holds this script, and its log goes to
<outdir>/verify_log.txt, so runs from different checkouts or into different
outdirs never share state.
"""
import json, sys, glob, os, shlex
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def compare(name, spark_df, duck_df):
    a, b = norm(spark_df), norm(duck_df)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA cols spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av = av.astype(float); bv = bv.astype(float)
            both_nan = av.isna() & bv.isna()
            eq = (av == bv) | both_nan
            if not eq.all():
                diffs = (av - bv).abs()
                return (f"VALUES col={c} n_bad={int((~eq).sum())} "
                        f"maxdiff={np.nanmax(diffs[~eq].values):.3e}")
        else:
            avs = av.astype(str); bvs = bv.astype(str)
            if not (avs == bvs).all():
                i = (avs != bvs).idxmax()
                return f"VALUES col={c} first_bad spark={av[i]!r} duck={bv[i]!r}"
    return None

def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log = os.path.join(outdir, "verify_log.txt")
    if "--skip-verify" not in sys.argv:
        os.makedirs(outdir, exist_ok=True)
        verify = shlex.quote(f"runMain graft.Verify {os.path.abspath(sfdir)} {os.path.abspath(outdir)}")
        rc = os.system(
            f"cd {shlex.quote(repo)} && timeout 3600 sbt -batch {verify} "
            f"> {shlex.quote(log)} 2>&1")
        if rc != 0:
            print(open(log).read()[-4000:])
            sys.exit(f"Verify run failed rc={rc}")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_ok = n_bad = 0
    for name in sorted(os.listdir(outdir)):
        pdir = os.path.join(outdir, name)
        if not os.path.isdir(pdir):
            continue
        files = glob.glob(f"{pdir}/*.parquet")
        spark_df = pd.concat([pd.read_parquet(f) for f in files]) if files else None
        if name not in oracles:
            print(f"  [rows-only] {name}: rows={0 if spark_df is None else len(spark_df)}")
            continue
        try:
            duck_df = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"✗ {name}: ORACLE ERROR {e}")
            n_bad += 1
            continue
        err = compare(name, spark_df, duck_df)
        if err:
            print(f"✗ {name}: {err}")
            n_bad += 1
        else:
            print(f"✓ {name} ({len(spark_df)} rows)")
            n_ok += 1
    missing = set(oracles) - {d for d in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, d))}
    for m in missing:
        print(f"✗ {m}: NO SPARK OUTPUT (query failed — see {log})")
        n_bad += 1
    print(f"\n{n_ok} ok / {n_bad} bad")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
