"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Queries live in ``etl_with_s3__dynamodb_and_glue_spark/plans/``; this
module only merges the per-module registries. The driver checks the
first 50 queries per round, so ``queries()`` is ordered from the
``CORRECTNESS_r*.json`` artifacts next to this module: ``user_sessions``
first, then never-checked queries, then the rest by the round that last
checked them, oldest first (ties keep module order).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_with_s3__dynamodb_and_glue_spark.plans import (
    curation,
    event_time,
    functions_surface,
    llm_ops,
    retrieval,
    star_queries,
    tpch_like,
)

_MODULES = [
    star_queries,
    tpch_like,
    llm_ops,
    event_time,
    functions_surface,
    curation,
    retrieval,
]

_PINNED = "user_sessions"  # incident-prone events.ts lineage


@functools.cache
def _last_checked() -> dict[str, int]:
    """Query name -> newest round whose ``CORRECTNESS_r*.json`` next to
    this module checked it (``_``-prefixed keys are metadata)."""
    last: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            names = [k for k in json.load(f) if not k.startswith("_")]
        for name in names:
            last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return star_queries.flagship_daily_segment_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        merged.update(mod.QUERIES)
    last = _last_checked()
    order = sorted(merged, key=lambda n: (n != _PINNED, last.get(n, 0)))
    return {name: merged[name] for name in order}


def oracle_sql() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _MODULES:
        merged.update(mod.ORACLE)
    return merged
