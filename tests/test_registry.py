"""The registry's driver-facing surface, pinned against a golden.

`tests/golden/registry.json` holds the driver order of `queries()`,
the sorted `EAGER_QUERIES`, bench.py's headline -> group map and a
sha256 of every `oracle_sql()` string. Any change to one of them is a
deliberate edit: regenerate with

    python tests/test_registry.py

and say why in CHANGES.md. Starts no Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, "tests", "golden", "registry.json")
sys.path.insert(0, ROOT)

import pytest  # noqa: E402

import __spark_entry__ as E  # noqa: E402
import bench  # noqa: E402
from chesscom_etl_tableau_spark.registry.record import query  # noqa: E402


def snapshot() -> dict:
    return {
        "queries": list(E.queries()),
        "eager": sorted(E.EAGER_QUERIES),
        "headline": {name: group for group, names in bench.GROUPS.items() for name in names},
        "oracle_sha256": {
            name: hashlib.sha256(sql.encode()).hexdigest() for name, sql in sorted(E.oracle_sql().items())
        },
    }


def _golden() -> dict:
    with open(GOLDEN) as f:
        return json.load(f)


def test_driver_order_is_golden():
    assert snapshot()["queries"] == _golden()["queries"]


def test_eager_set_is_golden():
    assert snapshot()["eager"] == _golden()["eager"]


def test_headline_groups_are_golden():
    assert snapshot()["headline"] == _golden()["headline"]
    assert set(bench.HEADLINE) == set(_golden()["headline"])


def test_oracles_are_byte_equal_to_golden():
    got, want = snapshot()["oracle_sha256"], _golden()["oracle_sha256"]
    assert sorted(got) == sorted(want)
    assert [n for n in want if got[n] != want[n]] == []


def test_a_query_cannot_be_declared_twice():
    with pytest.raises(ValueError, match="declared twice"):
        query(oracle="SELECT 1")(E.queries()["s4_key_scan"])


def test_headline_must_name_a_bench_group():
    with pytest.raises(ValueError, match="headline"):
        query(oracle="SELECT 1", headline="io_bound")


if __name__ == "__main__":
    with open(GOLDEN, "w") as f:
        json.dump(snapshot(), f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {GOLDEN}")
