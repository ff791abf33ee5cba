"""Dataset profiling: per-column quality statistics in one pass — the
data-quality report every ingest pipeline runs before promoting a
drop (null rates, cardinalities, ranges).

One ``df.agg`` computes every statistic for every profiled column in
a single scan with map-side partial aggregation (exact distinct counts
excepted, see the scale note); the wide one-row
result is then unpivoted into the long (column, stats) report — the
unpivot touches k×5 scalars of an already-aggregated row, never data.

Scale note: exact distinct counts group the input by one grouping set
per column, which EXPANDs it k-fold in a second scan. Exact mode is
therefore for oracle-scale checks; ``exact=False`` swaps in
``approx_count_distinct`` (HLL partials, no expand, one true scan) —
the 100 TB default, identical report schema.

Numeric ranges land in typed ``min_num``/``max_num`` and string
ranges in ``min_str``/``max_str`` — stringifying floats into one
uniform column would trade exactness for cross-engine float
formatting drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_NUMERIC = {"int", "bigint", "smallint", "tinyint", "double", "float", "decimal"}


def _is_numeric(dtype: str) -> bool:
    return dtype.split("(")[0] in _NUMERIC


def _distinct_counts(df: DataFrame, cols: list[str]) -> DataFrame:
    """One row: ``_nd_<c>``, the exact count of distinct non-null values
    of each column, with ``countDistinct``'s semantics (grouping keys
    treat NaN as one value and -0.0 as 0.0).

    A grouping set per column, in the caller's column order: in set i
    every other column is NULL, so ``count(c)`` over the groups counts
    only set i's non-null keys. A ``countDistinct`` per column in one
    aggregate would plan the same expand, but Spark orders its groups by
    a hash of expression ids, so the plan and its generated code changed
    from one build to the next and every run recompiled."""
    groups = df.groupingSets([[c] for c in cols], *cols).count()
    return groups.agg(*[F.count(c).alias(f"_nd_{c}") for c in cols])


def profile_table(
    df: DataFrame, columns: list[str] | None = None, exact: bool = True
) -> DataFrame:
    """Long-format profile: one row per column with
    (col_name, n_rows, n_nulls, n_distinct, min_num, max_num, min_str,
    max_str). Unprofiled types (arrays, structs, binary) are rejected
    loudly rather than silently stringified."""
    cols = columns if columns is not None else df.columns
    dtypes = dict(df.dtypes)
    for c in cols:
        base = dtypes[c].split("(")[0]
        if base not in _NUMERIC and base not in {"string", "date", "timestamp", "timestamp_ntz", "boolean"}:
            raise ValueError(f"profile_table: unsupported column type {c}: {dtypes[c]}")

    aggs: list[Column] = [F.count(F.lit(1)).alias("_n_rows")]
    for c in cols:
        aggs.append(F.sum(F.isnull(c).cast("long")).alias(f"_nulls_{c}"))
        if not exact:
            aggs.append(F.approx_count_distinct(c).cast("long").alias(f"_nd_{c}"))
        if _is_numeric(dtypes[c]):
            aggs.append(F.min(c).cast("double").alias(f"_min_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"_max_{c}"))
        else:
            aggs.append(F.min(F.col(c).cast("string")).alias(f"_min_{c}"))
            aggs.append(F.max(F.col(c).cast("string")).alias(f"_max_{c}"))
    wide = df.agg(*aggs)
    if exact:
        wide = wide.crossJoin(_distinct_counts(df, cols))

    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("_n_rows").alias("n_rows"),
                F.col(f"_nulls_{c}").alias("n_nulls"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                (F.col(f"_min_{c}") if _is_numeric(dtypes[c]) else null_d).alias("min_num"),
                (F.col(f"_max_{c}") if _is_numeric(dtypes[c]) else null_d).alias("max_num"),
                (null_s if _is_numeric(dtypes[c]) else F.col(f"_min_{c}")).alias("min_str"),
                (null_s if _is_numeric(dtypes[c]) else F.col(f"_max_{c}")).alias("max_str"),
            )
            for c in cols
        ]
    )
    return (
        wide.select(F.explode(rows).alias("p"))
        .select("p.*")
    )


def psi_drift(
    df_expected: DataFrame,
    df_actual: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the standard distribution-drift monitor between a
    reference window and the current one (PSI < 0.1 stable, 0.1–0.25
    moderate shift, > 0.25 investigate).

    Fixed, caller-supplied bin bounds: drift monitoring compares
    SNAPSHOTS, so bins must not move with the data (data-derived
    bounds would absorb the very shift being measured). Values below
    ``lo`` clamp into bin 0 and above ``hi`` into the last bin —
    out-of-range drift still registers instead of vanishing.

    Plan: each side is one per-row bin map + one keyed count
    (map-side combined) + a broadcast scalar total; the two tiny
    (bin, frac) tables meet on a generated bin spine (``spark.range``)
    so empty bins appear with fraction 0 and the ε-smoothed log-ratio
    stays finite. Nothing larger than ``n_bins`` rows ever joins.

    Output per bin: ``frac_expected``, ``frac_actual``, ``psi_term``;
    total PSI = Σ psi_term.
    """
    width = (hi - lo) / n_bins

    def fracs(df: DataFrame, name: str) -> DataFrame:
        b = F.least(
            F.greatest(
                F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)), F.lit(0)
            ),
            F.lit(n_bins - 1),
        ).cast("int")
        counts = df.select(b.alias("bin")).groupBy("bin").agg(
            F.count(F.lit(1)).alias("n")
        )
        total = counts.agg(F.sum("n").alias("total"))
        return counts.crossJoin(F.broadcast(total)).select(
            "bin", (F.col("n") / F.col("total")).alias(name)
        )

    spark = df_expected.sparkSession
    spine = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    e, a = F.col("frac_expected"), F.col("frac_actual")
    return (
        spine.join(F.broadcast(fracs(df_expected, "frac_expected")), "bin", "left")
        .join(F.broadcast(fracs(df_actual, "frac_actual")), "bin", "left")
        .select(
            "bin",
            F.round(F.coalesce(e, F.lit(0.0)), 6).alias("frac_expected"),
            F.round(F.coalesce(a, F.lit(0.0)), 6).alias("frac_actual"),
            F.round(
                (F.coalesce(a, F.lit(0.0)) - F.coalesce(e, F.lit(0.0)))
                * F.log(
                    (F.coalesce(a, F.lit(0.0)) + F.lit(eps))
                    / (F.coalesce(e, F.lit(0.0)) + F.lit(eps))
                ),
                6,
            ).alias("psi_term"),
        )
    )
