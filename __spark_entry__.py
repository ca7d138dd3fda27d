"""Driver contract for the spark-graft builder (PySpark target).

``queries()``/``oracle_sql()`` are generated from the engine's query
registry (flinkecuserbehavioranalysis_spark/plans/queries.py) — one entry
per implemented operator family from SURVEY.md §2 plus the training-data
pipeline extensions.  Queries without a SQL-expressible twin (HLL
sketches, stateful streaming, Pandas-UDF plumbing) omit the oracle and
get the driver's rows-only check.

Iteration order is ROTATED, not registration order: the driver hashes
the first 50 entries of ``queries()`` each round, and with a static
order the same 50 were re-verified every round while the rest never
earned a driver-side correctness row (round-5 verdict #1).  ``queries``
therefore reads the repo's own ``CORRECTNESS_r*.json`` records and
yields never-driver-checked queries first (oracle-backed before
rows-only, registration order within each tier), already-checked ones
last — so every round's 50-query window covers fresh queries until the
whole registry has been driver-hashed, then cycles by least-recently
checked.  Falls back to plain registration order when no records exist.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from flinkecuserbehavioranalysis_spark.plans.queries import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (HotItems top-N per sliding window) on sf0.001."""
    return QUERIES["hot_items_topn"].fn(spark, "/root/testdata/sf0.001")


def _rotation_order() -> list[str]:
    """Registry names, never-driver-checked first (see module doc).

    A name checked in round N sorts after one checked in round M < N,
    and both sort after never-checked names; ties keep registration
    order.  Unknown/corrupt record files are ignored — worst case the
    order degrades to registration order, never an import failure."""
    last_checked: dict[str, int] = {}
    for rec in sorted(Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json")):
        try:
            rnd = int("".join(ch for ch in rec.stem if ch.isdigit()) or 0)
            names = json.loads(rec.read_text())
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        if isinstance(names, dict):
            for name in names:
                last_checked[name] = max(last_checked.get(name, 0), rnd)
    reg_pos = {name: i for i, name in enumerate(QUERIES)}
    return sorted(
        QUERIES,
        key=lambda n: (
            last_checked.get(n, -1),                       # never-checked first
            QUERIES[n].oracle is None,                     # oracle-backed first
            reg_pos[n],                                    # stable within tier
        ),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name].fn for name in _rotation_order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in _rotation_order()
        if QUERIES[name].oracle is not None
    }
