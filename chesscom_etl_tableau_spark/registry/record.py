"""One record per registry query.

A family module declares each query once, on its builder:

    @query(oracle="SELECT ...", eager=True)
    def _q_name(spark, sf_dir): ...

The record's name is the builder's name without `_q_`, and its family
is the module's name, so neither can disagree with where the builder
lives.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

HEADLINE_GROUPS = ("scan_bound", "cpu_bound")


@dataclass(frozen=True)
class Query:
    """`build(spark, sf_dir)` returns the query's DataFrame over the
    driver testdata tables; `oracle` is the DuckDB SQL that must give
    the same multiset of rows.

    `eager`: the builder runs a real pipeline (temp-dir writes + reads),
    an iterative driver-coordinated algorithm or an ML fit, and returns
    the observable outcome as a small DataFrame. Every other builder
    must build its plan without running a single Spark job (asserted in
    tests/test_plan_shapes.py).

    `headline`: bench.py times headline queries median-of-5 and reports
    their subtotal. A `scan_bound` one is dominated by the parquet scan
    plus one narrow shuffle, so its drift implicates I/O or the page
    cache; a `cpu_bound` one by expression / HOF / hash CPU or the Arrow
    Python worker, so its drift implicates codegen or the worker pool.
    """

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str
    family: str
    eager: bool
    headline: str | None


DECLARED: dict[str, Query] = {}


def query(*, oracle: str, eager: bool = False, headline: str | None = None):
    """Declare the decorated `_q_<name>` builder as registry query `<name>`."""
    if headline not in (None, *HEADLINE_GROUPS):
        raise ValueError(f"headline must be one of {HEADLINE_GROUPS} or None, not {headline!r}")

    def declare(build):
        if not build.__name__.startswith("_q_"):
            raise ValueError(f"registry builder {build.__name__!r} must be named _q_<query>")
        name = build.__name__.removeprefix("_q_")
        if name in DECLARED:
            raise ValueError(f"registry query {name!r} declared twice")
        family = build.__module__.rsplit(".", 1)[-1]
        DECLARED[name] = Query(name, build, oracle, family, eager, headline)
        return build

    return declare
