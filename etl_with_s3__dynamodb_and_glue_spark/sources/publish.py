"""Write-audit-publish (WAP) snapshot versioning: atomic dataset
promotion with audit gates and rollback — the minimal core of what
table formats (Iceberg/Delta) provide, expressed on plain parquet.

The failure modes this kills:

- **Readers seeing partial writes.** ``mode("overwrite")`` deletes
  then rewrites in place — a concurrent reader (or a crash mid-write)
  sees a torn table. Here every snapshot writes into its own
  ``v=NNNN`` directory and becomes visible only when the ``_CURRENT``
  pointer file is atomically replaced (``os.replace`` — POSIX rename
  atomicity). Readers resolve the pointer, then read an immutable
  directory: no torn reads, no reader/writer coordination.
- **Publishing bad data.** The audit gate
  (``sources/expectations.py``) runs against the STAGED snapshot —
  already written, not yet visible. A failed expectation leaves the
  staging directory for forensics and the pointer untouched: readers
  never see the bad version (the write-audit-publish pattern).
- **No way back.** Previous versions remain on disk until pruned
  (``keep_versions``), so ``rollback`` is one pointer write — the
  same O(1) promotion, in reverse.

Crash safety, by construction: the pointer is only ever replaced via
write-temp-then-``os.replace`` AFTER the version directory is fully
written and audited. A crash at ANY point leaves either the old
pointer (old snapshot intact) or the new pointer (new snapshot fully
written) — never an in-between. The streaming whole-store
maintainers (HLL sketches, CMS, daily rollup) commit through this
module too (streaming/publishing.py), with their replay marker in the
version's ``_METADATA``.

Single-writer contract: concurrent publishers would race the version
counter (this module has readers/writer isolation, not writer/writer
— that is what a real table format's commit log adds). Run publishes
from one orchestrated job per table, as every pipeline here does.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from .expectations import Expectation, enforce

_POINTER = "_CURRENT"


def _pointer_path(root: str) -> str:
    return os.path.join(root, _POINTER)


def current_version(root: str) -> int | None:
    """The published version number, or None if nothing is published."""
    try:
        with open(_pointer_path(root)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def _version_dir(root: str, version: int) -> str:
    return os.path.join(root, f"v={version:04d}")


def publish_snapshot(
    df: DataFrame,
    root: str,
    expectations: list[Expectation] | None = None,
    keep_versions: int = 3,
    metadata: dict | None = None,
) -> int:
    """Write ``df`` as the next snapshot version, audit it, promote it
    atomically. Returns the published version number.

    Order of operations (each step safe to die after):

    1. write the full snapshot into the NEXT ``v=NNNN`` directory
       (invisible — nothing reads unreferenced versions);
    2. audit the STAGED files by reading them back (catches not just
       bad input data but anything the write itself mangled);
    3. promote: write the pointer to a temp file, ``os.replace`` it
       over ``_CURRENT`` — the atomic commit point;
    4. prune versions older than the ``keep_versions`` most recent
       (never the published one) — rollback window.

    On an audit failure the staging directory is LEFT IN PLACE and
    the previous version stays published.
    """
    os.makedirs(root, exist_ok=True)
    cur = current_version(root)
    nxt = 0 if cur is None else cur + 1
    staged = _version_dir(root, nxt)
    df.write.mode("overwrite").option("compression", "zstd").parquet(staged)

    if expectations:
        spark = df.sparkSession
        enforce(spark.read.parquet(staged), expectations)  # raises on fail
    if metadata:
        # inside the version dir BEFORE promotion: metadata and data
        # become visible in the same atomic pointer swap (underscore
        # prefix = parquet metadata convention, readers skip it)
        with open(os.path.join(staged, "_METADATA"), "w") as f:
            json.dump(metadata, f)
            f.flush()
            os.fsync(f.fileno())

    tmp = _pointer_path(root) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(nxt))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _pointer_path(root))

    published = nxt
    versions = sorted(
        int(d.split("=")[1])
        for d in os.listdir(root)
        if d.startswith("v=")
    )
    for v in versions[: max(0, len(versions) - keep_versions)]:
        if v != published:
            shutil.rmtree(_version_dir(root, v), ignore_errors=True)
    return published


def read_published(spark: SparkSession, root: str) -> DataFrame:
    """Read the currently-published snapshot (resolve pointer → read
    that immutable version directory)."""
    cur = current_version(root)
    if cur is None:
        raise FileNotFoundError(f"nothing published under {root}")
    return spark.read.parquet(_version_dir(root, cur))


def read_version(spark: SparkSession, root: str, version: int) -> DataFrame:
    """Time-travel read: any version still inside the rollback window
    is an immutable directory — reading it is just resolving the path
    (the poor engineer's ``VERSION AS OF``)."""
    d = _version_dir(root, version)
    if not os.path.isdir(d):
        raise FileNotFoundError(f"version {version} not on disk under {root}")
    return spark.read.parquet(d)


def rollback(root: str, version: int) -> None:
    """Point ``_CURRENT`` back at an existing older version — O(1),
    same atomic pointer swap as publishing.

    A publish AFTER a rollback continues from the rolled-back version
    (next = current + 1), overwriting the discarded future versions —
    linear history, no branches, matching the pointer's semantics.
    """
    if not os.path.isdir(_version_dir(root, version)):
        raise FileNotFoundError(f"version {version} not on disk under {root}")
    tmp = _pointer_path(root) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _pointer_path(root))


def read_metadata(root: str, version: int | None = None) -> dict:
    """Metadata of ``version`` (default: the published one); empty
    dict if none was attached."""
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"nothing published under {root}")
    try:
        with open(os.path.join(_version_dir(root, v), "_METADATA")) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def write_metadata(root: str, version: int, metadata: dict) -> None:
    """Atomically replace ``version``'s metadata sidecar. The version's
    DATA stays immutable — this exists for metadata-only adoptions
    (the streaming fold stamping its run_id onto a legacy snapshot
    after resolving an at-the-folded-id replay, the WAP analogue of
    marker.py rewriting a legacy marker run-scoped)."""
    path = os.path.join(_version_dir(root, version), "_METADATA")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(metadata, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
