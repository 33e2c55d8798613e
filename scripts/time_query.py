"""Targeted per-query timing for optimization work (round 15).

Times one or more registry queries exactly like bench.py does (warm-up
count then median of N counts for lazy queries; N cold builds for eager
ones), optionally through the noop sink (guide §1.4) so every column of
every row is materialized instead of count()'s pruned path.

    python scripts/time_query.py [--noop] [--reps N] [--sf DIR] q1 q2 ...

Prints one line per query: name, median, min, max. Not part of the
driver contract; bench.py stays the canonical artifact.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from chesscom_etl_tableau_spark.session import get_spark


def main() -> int:
    argv = sys.argv[1:]
    noop = "--noop" in argv
    argv = [a for a in argv if a != "--noop"]
    reps = 3
    if "--reps" in argv:
        i = argv.index("--reps")
        reps = int(argv[i + 1])
        del argv[i : i + 2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        del argv[i : i + 2]
    names = argv
    spark = get_spark("time-query")
    qs = entry_mod.queries()

    def action(df):
        if noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    # one untimed warm-up query (JIT/page-cache), as bench.py does
    qs["j3_star_join"](spark, sf_dir).count()
    for name in names:
        fn = qs[name]
        eager = name in entry_mod.EAGER_QUERIES
        runs = []
        spark.sparkContext.setJobDescription(f"time: {name}")
        if eager:
            for _ in range(reps):
                t0 = time.time()
                fn(spark, sf_dir).count()
                runs.append(time.time() - t0)
        else:
            df = fn(spark, sf_dir)
            action(df)  # warm
            for _ in range(reps):
                t0 = time.time()
                action(df)
                runs.append(time.time() - t0)
        runs.sort()
        print(
            f"{name:36s} median={runs[len(runs)//2]:.3f} "
            f"min={runs[0]:.3f} max={runs[-1]:.3f} n={len(runs)} "
            f"{'eager' if eager else ('noop' if noop else 'count')}"
        )
        import gc

        gc.collect()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
