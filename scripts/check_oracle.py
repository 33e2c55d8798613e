"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and an order-insensitive value multiset. Use:

    python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from chesscom_etl_tableau_spark.session import get_spark
from chesscom_etl_tableau_spark.sources.tables import TESTDATA_TABLES


def normalize(df):
    """pandas DataFrame -> sorted list of stringified rows (column-name order)."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if str(col.dtype).startswith("datetime"):
            df[c] = col.astype("string")
        elif col.dtype == object:
            df[c] = col.map(lambda v: str(v) if v is not None else "<NULL>")
        elif str(col.dtype).startswith("float"):
            df[c] = col.map(lambda v: "<NULL>" if pd.isna(v) else repr(float(v)))
        else:
            df[c] = col.astype("string")
    df = df.fillna("<NULL>")
    rows = ["|".join(map(str, r)) for r in df.itertuples(index=False, name=None)]
    rows.sort()
    return rows


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv) or argv[i + 1].startswith("-"):
            print("usage: check_oracle.py [--json OUT.json] [sf_dir] [query ...]",
                  file=sys.stderr)
            return 2
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    # Pin the oracle session to UTC so TIMESTAMPTZ->TIMESTAMP casts in
    # oracle SQL match the Spark side (session.py pins Spark to UTC);
    # without this a non-UTC host shifts window bounds and the value
    # hash spuriously mismatches.
    con.execute("SET TimeZone='UTC'")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as exc:  # a broken query is a failure, not a crash
            failures.append(name)
            msg = str(exc).splitlines()[0][:200]
            print(f"  ✗ {name}: EXCEPTION {msg}")
            report[name] = {"status": "error", "rows": None,
                            "spark_s": round(time.time() - t0, 2), "detail": msg}
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"  ~ {name}: rows-only ({len(spdf)} rows, {t_spark:.1f}s)")
            report[name] = {"status": "rows_only", "rows": len(spdf),
                            "spark_s": round(t_spark, 2)}
            continue
        ddf = con.sql(oracles[name]).df()
        status = []
        if len(spdf) != len(ddf):
            status.append(f"ROWS {len(spdf)} vs {len(ddf)}")
        if sorted(map(str.lower, spdf.columns)) != sorted(map(str.lower, ddf.columns)):
            status.append(f"COLS {sorted(spdf.columns)} vs {sorted(ddf.columns)}")
        if not status:
            a, b = normalize(spdf), normalize(ddf)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                status.append(f"VALUES differ, e.g. {diff}")
        if status:
            failures.append(name)
            print(f"  ✗ {name}: {'; '.join(status)}")
            report[name] = {"status": "fail", "rows": len(spdf),
                            "spark_s": round(t_spark, 2),
                            "detail": "; ".join(status)[:200]}
        else:
            print(f"  ✓ {name} ({len(spdf)} rows, {t_spark:.1f}s)")
            report[name] = {"status": "pass", "rows": len(spdf),
                            "spark_s": round(t_spark, 2)}
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_out:
        import json

        summary = {
            "sf_dir": sf_dir,
            "n_checked": len(report),
            "n_pass": sum(1 for r in report.values() if r["status"] == "pass"),
            "n_rows_only": sum(1 for r in report.values() if r["status"] == "rows_only"),
            "n_fail": len(failures),
            "queries": report,
        }
        with open(json_out, "w") as f:
            json.dump(summary, f, indent=2, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
