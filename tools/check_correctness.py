"""Local stand-in for the driver's t2 correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB at the
given sf dir, compares row count, column names, and exact values after
sorting columns by name and rows by all columns (strictest plausible version
of the driver's order-insensitive value hash).

Usage: python tools/check_correctness.py [sf_dir] [query ...]

`run_checks` is also the engine behind the machine-written
CORRECTNESS_FULL.json artifact (VERDICT r8 #2): bench.py's `correctness`
tier calls it over the ENTIRE registry and commits the per-query result,
so full-registry oracle evidence exists in the tree every round instead
of only the driver's 50-query sample.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

# the checkout this file belongs to, wherever it is
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from vptstools_spark.io import TABLES


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(_cell)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _cell(v):
    if v is None or v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
        return "<NULL>"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.6f}"
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def run_checks(
    sf_dir: str,
    only: set[str] | None = None,
    spark=None,
    verbose: bool = True,
) -> dict:
    """Value-compare every registered query against its DuckDB oracle.

    Returns {query_name: record} where record is
      {"status": "PASS"|"FAIL"|"rows_only", "rows": int, "sec": float,
       "detail": str|None}.
    "rows_only" = the query ran and has no oracle_sql entry (the driver's
    weaker rows-only check); its rows count is still recorded.
    """
    import __spark_entry__ as entrymod

    if spark is None:
        from vptstools_spark.session import get_spark

        spark = get_spark("correctness_check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    out: dict[str, dict] = {}

    def log(msg: str) -> None:
        if verbose:
            print(msg)

    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception:
            log(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            out[name] = {
                "status": "FAIL", "rows": -1,
                "sec": round(time.time() - t0, 1),
                "detail": "spark error: " + traceback.format_exc(limit=1),
            }
            continue
        if name not in oracles:
            log(
                f"ok?  {name}: rows={len(got)} (no oracle, rows-only)"
                f" [{time.time()-t0:.1f}s]"
            )
            out[name] = {
                "status": "rows_only", "rows": len(got),
                "sec": round(time.time() - t0, 1), "detail": None,
            }
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception:
            log(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            out[name] = {
                "status": "FAIL", "rows": len(got),
                "sec": round(time.time() - t0, 1),
                "detail": "duckdb error: " + traceback.format_exc(limit=1),
            }
            continue
        g, w = normalize(got), normalize(want)
        detail = None
        if list(g.columns) != list(w.columns):
            detail = f"columns {list(g.columns)} != {list(w.columns)}"
        elif len(g) != len(w):
            detail = f"rows {len(g)} != {len(w)}"
        else:
            neq = (g != w).any(axis=1)
            if neq.any():
                idx = neq[neq].index[:5]
                detail = f"{int(neq.sum())}/{len(g)} rows differ"
                if verbose:
                    log(f"FAIL {name}: {detail}; first diffs:")
                    for i in idx:
                        log(f"  spark : {g.loc[i].to_dict()}")
                        log(f"  duckdb: {w.loc[i].to_dict()}")
        if detail is not None:
            if "rows differ" not in (detail or "") or not verbose:
                log(f"FAIL {name}: {detail}")
            out[name] = {
                "status": "FAIL", "rows": len(g),
                "sec": round(time.time() - t0, 1), "detail": detail,
            }
        else:
            log(f"PASS {name}: rows={len(g)} [{time.time()-t0:.1f}s]")
            out[name] = {
                "status": "PASS", "rows": len(g),
                "sec": round(time.time() - t0, 1), "detail": None,
            }
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None

    results = run_checks(sf_dir, only=only)
    failures = [n for n, r in results.items() if r["status"] == "FAIL"]
    print(f"\n{len(results) - len(failures)}/{len(results)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
