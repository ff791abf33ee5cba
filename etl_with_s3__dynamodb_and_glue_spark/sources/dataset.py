"""Curated-dataset writer: the layout decisions that make a 100 TB
table cheap to read later.

``df.write.parquet(path)`` at scale produces the two classic failure
modes: thousands of tiny files (one per task per partition value) and
unclustered data (every later range scan reads everything). This
writer fixes the layout at land time:

- **Hive partitioning** on low-cardinality columns → partition pruning
  for free on every later read (the serving pattern of SURVEY.md §3
  entry point 3).
- **Range-clustering** inside partitions: ``repartitionByRange`` on
  the sort key bounds files per partition-value and gives min/max
  parquet row-group statistics real pruning power (a time-range scan
  over a date-partitioned, ts-clustered table touches only matching
  row groups).
- **zstd** — better ratio than the snappy default at similar decode
  cost; at 100 TB the storage/network delta dominates.

The reference's only layout decision is "CSV files in a folder"
(reference glue_job.py:51-53); everything here is what that leaves on
the table.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from .readers import data_files


def write_dataset(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    cluster_by: Sequence[str] = (),
    target_files: int = 32,
    compression: str = "zstd",
    mode: str = "overwrite",
) -> None:
    """Land ``df`` as a partitioned, range-clustered parquet dataset.

    ``cluster_by`` drives both the pre-write range shuffle and a
    within-partition sort, so parquet row-group min/max stats line up
    with the expected scan predicates. ``target_files`` is the total
    range-slice count across the dataset — size it as
    ``dataset_bytes / desired_file_bytes`` (desired ≈ 128 MB-1 GB),
    not by task count; a range slice usually spans one partition value,
    so file counts stay decoupled from write parallelism.
    """
    out = df
    if cluster_by:
        keys = [df[c] for c in (*partition_by, *cluster_by)]
        out = df.repartitionByRange(
            max(target_files, 1), *keys
        ).sortWithinPartitions(*[df[c] for c in cluster_by])
    writer = out.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


# --- build-once derived datasets -----------------------------------------

# Process-lifetime registry of built derived datasets (IVF indexes,
# serving layouts). Keyed on each input's path and the (name, mtime,
# size) of every data file under it (``readers.data_files``), not just
# its path, so a changed input — a part file rewritten in place inside
# a directory included — triggers a rebuild instead of serving a stale
# artifact. The on-disk artifacts are session-independent: they
# survive SparkSession restarts within one process and are removed at
# interpreter exit.
_DERIVED_DIRS: dict[tuple, str] = {}
_DERIVED_LOCK = threading.Lock()


def ensure_derived_dataset(
    kind: str,
    input_paths: Sequence[str],
    build: Callable[[str], None],
) -> str:
    """Build-once/read-many accessor for an on-disk derived dataset.

    ``build(path)`` materializes the artifact into a fresh temp dir;
    the dir is cached for the life of the process under a key that
    includes each input's path and data-file (name, mtime, size) list —
    the cheap staleness check a real deployment would replace with a
    catalog snapshot id. The build runs under a lock (concurrent callers wait, exactly one
    builds) and every built dir is registered for removal at exit.
    """
    key = (kind, *((p, data_files(p)) for p in input_paths))
    with _DERIVED_LOCK:
        path = _DERIVED_DIRS.get(key)
        if path is None:
            path = tempfile.mkdtemp(prefix=f"{kind}_")
            atexit.register(shutil.rmtree, path, ignore_errors=True)
            try:
                build(path)
            except BaseException:
                shutil.rmtree(path, ignore_errors=True)
                raise
            _DERIVED_DIRS[key] = path
    return path


def write_sized_parquet(
    df: DataFrame,
    path: str,
    max_records_per_file: int | None = None,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
    dynamic_overwrite: bool = False,
) -> None:
    """Write parquet with RUNTIME-sized files — the AQE companion to
    :func:`write_dataset` for when there is no clustering key and no
    good a-priori ``target_files`` estimate (intermediate hand-offs,
    un-profiled inputs):

    - the ``rebalance`` hint inserts a shuffle whose output partitions
      AQE coalesces to ``advisoryPartitionSizeInBytes`` and skew-splits
      when oversized — write-task sizing comes from runtime statistics
      instead of a static count;
    - ``maxRecordsPerFile`` bounds the large end within a task.

    ``partition_by`` columns are both the directory partitioning and
    the rebalance keys, so each output directory is written by tasks
    holding only its rows (without this, every task can hold rows of
    every partition value and sprays a small file into each directory
    it touches). Prefer :func:`write_dataset` for curated final tables
    where a clustering key gives row-group pruning on later scans.
    """
    balanced = df.hint("rebalance", *partition_by) if partition_by else df.hint(
        "rebalance"
    )
    writer = balanced.write.mode(mode)
    if dynamic_overwrite:
        # replace only the partitions this write produces rows for —
        # required by in-place maintenance (compaction, keyed merges);
        # static overwrite would drop every untouched partition
        writer = writer.option("partitionOverwriteMode", "dynamic")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def zorder_key(cols: Sequence[str], bits: int = 16):
    """Morton (Z-order) interleave of two or more numeric columns —
    multi-dimensional clustering for :func:`write_dataset`.

    Range-clustering on ``(a, b)`` orders b only WITHIN ties of a, so
    per-file min/max stats prune scans filtered on a alone. Z-order
    interleaves the bits of all dimensions, giving every clustered
    column usable file/row-group pruning at once (the lakehouse
    OPTIMIZE ZORDER BY feature, as a plain column expression).

    Each column is min/max normalized to a ``bits``-bit integer via a
    scalar-aggregate broadcast (linear normalization — rank
    normalization would need a global sort; linear is the standard
    trade and right for roughly-uniform keys), then bits interleave
    LSB-first. Pure column expressions, codegen'd; the price is one
    tiny stats aggregate before the write.

    Returns a zero-arg builder for the key Column; it references
    ``_zlo_<col>``/``_zhi_<col>`` stat columns, which the caller
    attaches by crossJoin-broadcasting the min/max aggregate —
    :func:`write_dataset_zorder` wires the whole thing up.
    """
    from pyspark.sql import functions as F

    def normalized(c: str):
        lo, hi = F.col(f"_zlo_{c}"), F.col(f"_zhi_{c}")
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        frac = (F.col(c).cast("double") - lo) / span
        return F.least(
            F.floor(frac * ((1 << bits) - 1)).cast("long"),
            F.lit((1 << bits) - 1),
        )

    def key_expr():
        norms = [normalized(c) for c in cols]
        z = F.lit(0).cast("long")
        for bit in range(bits):
            for d, n in enumerate(norms):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(n, bit).bitwiseAND(F.lit(1)),
                        bit * len(cols) + d,
                    )
                )
        return z

    return key_expr


def write_dataset_zorder(
    df: DataFrame,
    path: str,
    zorder_by: Sequence[str],
    partition_by: Sequence[str] = (),
    target_files: int = 32,
    compression: str = "zstd",
    bits: int = 16,
) -> None:
    """:func:`write_dataset` with Z-order clustering: compute the
    Morton key from broadcast min/max stats, range-shuffle and sort on
    it, drop it before landing."""
    from pyspark.sql import functions as F

    stats = df.agg(
        *[
            agg
            for c in zorder_by
            for agg in (
                F.min(F.col(c)).cast("double").alias(f"_zlo_{c}"),
                F.max(F.col(c)).cast("double").alias(f"_zhi_{c}"),
            )
        ]
    )
    keyed = df.crossJoin(F.broadcast(stats)).withColumn(
        "_zkey", zorder_key(zorder_by, bits)()
    )
    out = (
        keyed.repartitionByRange(max(target_files, 1), F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey", *[f"_zlo_{c}" for c in zorder_by], *[f"_zhi_{c}" for c in zorder_by])
    )
    writer = out.write.mode("overwrite").option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
