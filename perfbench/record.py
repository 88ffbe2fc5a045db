#!/usr/bin/env python3
"""Record the output fingerprints the benchmark checks entries against.

    python3 perfbench/record.py [WORKLOAD ...]

Runs each entry workload once with its results written as parquet,
re-computes every entry that has a DuckDB oracle (`SparkEntry.oracleSql`)
over the same tables, and records the entry's fingerprint (row count
plus order-independent row hash) only when its output matches the
oracle. Entries without an oracle are recorded by row count only. An
entry whose output disagrees with its oracle is reported and not
recorded, so the benchmark counts it as failed.
"""
import json
import shutil
import sys
import time

import duckdb
import numpy as np
import pandas as pd

import run as R

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def same(spark_df, duck_df):
    a, b = norm(spark_df), norm(duck_df)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av, bv = av.astype(float), bv.astype(float)
            if (~(np.isnan(av) & np.isnan(bv)) & (av != bv)).any():
                return False
        else:
            left = pd.Series(av).astype(object).where(pd.notna(av), None)
            right = pd.Series(bv).astype(object).where(pd.notna(bv), None)
            if not all(repr(x) == repr(y) for x, y in zip(left, right)):
                return False
    return True


def record(built, workload, fingerprints):
    run_dir = R.REPO / ".bench_build" / "record" / workload
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    plan = R.plan_for(workload, 0, 0)
    plan.update(record_dir=run_dir / "results", oracle_out=run_dir / "oracles.json")
    cp, jsa = built
    records, _ = R.run_jvm(cp, plan, run_dir / "jvm", time.time() + 3600,
                           R.archive_opts(jsa))
    oracles = json.loads((run_dir / "oracles.json").read_text())
    con = duckdb.connect()
    # some graph oracles spill tens of GB unbounded; cap DuckDB's memory
    # and spill, and treat an oracle that cannot finish as a mismatch
    con.execute(f"SET temp_directory='{run_dir / 'duckdb'}'")
    con.execute("SET memory_limit='3GB'")
    con.execute("SET max_temp_directory_size='3GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{plan['data']}/{t}.parquet')")
    for r in (r for r in records if r["kind"] == "entry"):
        name = r["name"]
        if r["error"]:
            print(f"{name}: ERROR {r['error']}")
            continue
        if name not in oracles:
            fingerprints[name] = {"rows": r["rows"]}
            print(f"{name}: rows only ({r['rows']})")
            continue
        result = run_dir / "results" / name
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(result.glob("*.parquet"))]
                             or [pd.DataFrame()], ignore_index=True)
        try:
            ok = same(spark_df, con.execute(oracles[name]).fetchdf())
        except duckdb.Error as e:
            print(f"{name}: oracle failed to run ({e})")
            ok = False
        if ok:
            fingerprints[name] = {"rows": r["rows"], "hash": r["hash"]}
            print(f"{name}: oracle OK")
        else:
            fingerprints.pop(name, None)
            print(f"{name}: ORACLE MISMATCH, not recorded")
    shutil.rmtree(run_dir, ignore_errors=True)


def main():
    spec = json.loads((R.BENCH / "workloads.json").read_text())
    names = sys.argv[1:] or [w for w in spec if w != "pipeline_upsert"]
    path = R.BENCH / "fingerprints.json"
    fingerprints = json.loads(path.read_text()) if path.is_file() else {}
    built = R.build()
    for w in names:
        record(built, w, fingerprints)
        path.write_text(json.dumps(dict(sorted(fingerprints.items())), indent=1) + "\n")


if __name__ == "__main__":
    main()
