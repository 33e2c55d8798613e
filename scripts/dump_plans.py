"""Dump .explain("formatted") for named registry queries to files.

    python scripts/dump_plans.py OUTDIR SUFFIX [--sf DIR] q1 q2 ...

Writes OUTDIR/<query>_<SUFFIX>.txt for each lazy query. Eager queries
(registry names in EAGER_QUERIES) execute at build time; for those the
plan of the RETURNED DataFrame is not the computation, so they are
skipped with a note unless --force is given.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from chesscom_etl_tableau_spark.session import get_spark


def main() -> int:
    argv = sys.argv[1:]
    force = "--force" in argv
    argv = [a for a in argv if a != "--force"]
    sf_dir = "/root/testdata/sf0.1"
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        del argv[i : i + 2]
    outdir, suffix, names = argv[0], argv[1], argv[2:]
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump-plans")
    qs = entry_mod.queries()
    for name in names:
        if name in entry_mod.EAGER_QUERIES and not force:
            print(f"skip {name}: eager (plan of returned df is not the pipeline)")
            continue
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
