#!/usr/bin/env python
"""Local mirror of the driver's t2 correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB
(same parquet, pre-registered views), then compares:
  - row count
  - column names (sorted)
  - values: column-name-sorted, row-sorted, exact string equality
    (floats must match EXACTLY after the in-query rounding — stricter
    than any plausible driver hash, so passing here implies passing t2)

Usage: python tools/check.py [key ...]   (default: all registered)
       SF_DIR=/root/testdata/sf0.01 python tools/check.py
       python tools/check.py --json CHECK_rN.json \
           --sf-dirs /root/testdata/sf0.01,/root/testdata/sf0.1

--json writes a machine-readable artifact covering EVERY registered
key at every given scale factor — the committed, full-inventory
counterpart to the driver's CORRECTNESS_r{N}.json (which caps at 50
keys alphabetically and so never sees 83 of them: VERDICT r3 task 1).
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from hive_to_es_spark.functions.lifecycle import release_all_persistent
from hive_to_es_spark.io import TABLES
from hive_to_es_spark.registry import REGISTRY, queries, oracles
from hive_to_es_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        # driver fixtures are single files; Spark-written scaled dirs
        # (tools/scale_proof.py ladder) are directories of part files
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted canonical form with string cells."""
    df = df[sorted(df.columns)].copy()

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<NULL>"
        if hasattr(v, "isoformat"):  # datetime/date/pd.Timestamp
            return pd.Timestamp(v).isoformat()
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    out = df.map(cell)
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def compare(name: str, spark_df, duck_df) -> list[str]:
    errs = []
    if len(spark_df) != len(duck_df):
        errs.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    scols, dcols = sorted(spark_df.columns), sorted(duck_df.columns)
    if scols != dcols:
        errs.append(f"columns spark={scols} duck={dcols}")
        return errs
    cs, cd = canon(spark_df), canon(duck_df)
    if len(cs) == len(cd):
        neq = (cs != cd)
        if neq.any().any():
            bad_cols = [c for c in cs.columns if neq[c].any()]
            i = int(neq.any(axis=1).idxmax())
            errs.append(
                f"values differ in cols {bad_cols}; first diff row {i}: "
                f"spark={cs.iloc[i].to_dict()} duck={cd.iloc[i].to_dict()}"
            )
    return errs


def run_sweep(spark, keys: list[str], sf_dir: str) -> dict:
    """Check every key at one scale factor; returns {key: result}."""
    # include_deprecated: explicitly-named deprecated pins (w7) stay
    # checkable here; the DEFAULT sweep list below comes from the
    # public queries() view, which excludes them.
    qs, os_ = queries(include_deprecated=True), oracles(include_deprecated=True)
    con = duck_connect(sf_dir)
    results: dict[str, dict] = {}
    for k in keys:
        if k not in qs:
            print(f"[SKIP] {k}: not registered")
            continue
        t0 = time.time()
        try:
            sdf = qs[k](spark, sf_dir).toPandas()
            # The result is in pandas; release any blocks this key's
            # builder materialized (d4's shingle checkpoint, graph
            # rounds) so a full-registry sweep doesn't accumulate them.
            release_all_persistent(spark)
        except Exception:
            print(f"[FAIL] {k}: spark query raised\n{traceback.format_exc()}")
            results[k] = {"status": "fail", "err": "spark query raised"}
            continue
        secs = round(time.time() - t0, 2)
        if k not in os_:
            print(f"[ROWS] {k}: {len(sdf)} rows ({secs}s) — rows-only check")
            results[k] = {"status": "rows_only", "rows": len(sdf), "sec": secs}
            continue
        try:
            ddf = con.execute(os_[k]).fetchdf()
        except Exception:
            print(f"[FAIL] {k}: duckdb oracle raised\n{traceback.format_exc()}")
            results[k] = {"status": "fail", "err": "duckdb oracle raised"}
            continue
        errs = compare(k, sdf, ddf)
        if errs:
            print(f"[FAIL] {k}: " + " | ".join(errs))
            results[k] = {"status": "fail", "rows": len(sdf), "err": " | ".join(errs)}
        else:
            print(f"[PASS] {k}: {len(sdf)} rows ({secs}s)")
            results[k] = {"status": "pass", "rows": len(sdf), "sec": secs}
    counts = {
        s: sum(1 for r in results.values() if r["status"] == s)
        for s in ("pass", "fail", "rows_only")
    }
    print(
        f"\n{counts['pass']} pass, {counts['fail']} fail, "
        f"{counts['rows_only']} rows-only, sf={sf_dir}"
    )
    return results


def main() -> int:
    import argparse
    import json

    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*", help="subset of registered keys (default: all)")
    ap.add_argument("--json", metavar="PATH", help="write a machine-readable artifact")
    ap.add_argument(
        "--sf-dirs",
        default=SF_DIR,
        help="comma-separated parquet dirs to sweep (default: $SF_DIR)",
    )
    args = ap.parse_args()
    keys = args.keys or list(queries())
    spark = get_spark("check")
    artifact: dict = {"sweeps": {}, "summary": {}}
    any_fail = False
    for sf_dir in args.sf_dirs.split(","):
        results = run_sweep(spark, keys, sf_dir)
        label = os.path.basename(sf_dir.rstrip("/"))
        artifact["sweeps"][label] = results
        artifact["summary"][label] = {
            s: sum(1 for r in results.values() if r["status"] == s)
            for s in ("pass", "fail", "rows_only")
        }
        any_fail |= artifact["summary"][label]["fail"] > 0
    if args.json:
        artifact["keys_total"] = len(keys)
        with open(args.json, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        print(f"wrote {args.json}")
    return 1 if any_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
