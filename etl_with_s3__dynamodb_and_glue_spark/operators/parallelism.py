"""Input-split-adaptive parallelism for narrow scans (r13 optimization
round; guide §2.5 'input skew — one huge unsplittable file').

The failure mode, measured from the event log (per-stage task counts;
``perfbench/run.py --trace 1`` reports them): a parquet input
written as ONE file with ONE row group yields a one-task scan, and
every row-local stage stacked directly on that scan — tokenize,
n-gram explode, per-gram hashing — runs on ONE core of the session
regardless of core count.

``ensure_scan_parallelism`` repartitions round-robin to the session's
default parallelism, but ONLY when the frame's Catalyst size estimate
says the entire input is smaller than ``min_bytes_per_slot`` per task
slot (default = the 4 MB ``spark.sql.files.openCostInBytes`` charge).
Two properties make this scale-safe rather than a local-mode tune:

- **At deployment scale the condition is structurally false**: a
  corpus bigger than cores × 4 MB either carries many files/row
  groups (a parallel scan — no fix needed) or still costs less to
  shuffle than one file-open charge per slot. A 100 TB table never
  takes the branch; the branch exists exactly for the regime where a
  one-file input serializes the plan.
- **When it does fire, the shuffle it adds is bounded by the
  condition itself**: < cores × 4 MB moved once.

The decision reads ``optimizedPlan().stats().sizeInBytes`` — the same
estimate the broadcast planner uses — which costs milliseconds and no
Spark job (measured 6 ms steady-state; a ``.rdd.getNumPartitions()``
probe costs ~400 ms per call and was rejected).

WHERE IT HELPS AND WHERE IT DOES NOT (both measured, r13): the win
exists only when heavy per-row work sits on the scan with NO shuffle
in between — the DSIR unigram+bigram featurization (3.50 → 2.29 s at
sf0.1, 1.53×; ``perfbench/run.py --trace 1`` gives the per-stage
split). Pipelines whose heavy stages already sit behind their own
exchanges (the MinHash signature/band/verify chain) got 0.74–0.86× from the same change — the extra
exchange plus 32-task scheduling on many small stages costs more than
the one-task scan saves — so it was deliberately NOT wired there.

VALUE SAFETY: round-robin repartition regroups map-side partial
aggregation. Safe upstream of exact integer aggregates (counts, mins)
and per-row expressions; do NOT attach it upstream of float SUM
aggregates without re-running the oracle gate — double summation
order changes with partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# One file-open charge (spark.sql.files.openCostInBytes default): if
# the whole input is worth less than this per task slot, the scan
# cannot meaningfully parallelize AND the corrective shuffle is cheap.
MIN_BYTES_PER_SLOT = 4 << 20


def ensure_scan_parallelism(
    df: DataFrame, min_bytes_per_slot: int = MIN_BYTES_PER_SLOT
) -> DataFrame:
    """Round-robin repartition ``df`` to the session's default
    parallelism iff its estimated input size is below
    ``min_bytes_per_slot`` per task slot (see module docstring).
    Returns ``df`` unchanged otherwise, and on ANY introspection
    failure — including sessions without a classic SparkContext
    (Spark Connect), where ``sparkContext`` itself raises (ADVICE
    r13) — conservative: never add a shuffle on an unknown input."""
    try:
        slots = df.sparkSession.sparkContext.defaultParallelism
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 — estimate is best-effort
        return df
    if est < slots * min_bytes_per_slot:
        return df.repartition(slots)
    return df
