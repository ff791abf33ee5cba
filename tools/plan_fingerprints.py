"""Plan fingerprints for every registry query, written to and checked
against the committed ``tests/plan_fingerprints.json``.

Each query is built twice at sf0.001 on a pinned ``local[2]`` session:
once to warm the process-level memos (schema memo, derived datasets),
then again to fingerprint. From that warm build the file records one
line per query:

- ``hash``: sha256 (first 16 hex digits) of the normalized optimized
  logical plan, plus the ``data`` handed to any ``createDataFrame``
  during the build (a ``LogicalRDD`` does not print its rows)
- ``ops``: counts of the shuffle, broadcast, sort-merge and Python-UDF
  operators in the pre-execution physical plan, and of
  ``InMemoryRelation`` in the optimized plan
- ``py4j_calls``: driver-to-JVM round trips of the build, memory-release
  commands excluded, with Python GC paused so finalizer traffic stays out

A hash or ops change fails the check, as does ``py4j_calls`` growing by
more than ``max(PY4J_SLACK_MIN, PY4J_SLACK * recorded)``; a drop passes
with a note to regenerate. The hashes depend on the CPU count (17 of 153
differ between 2 and 4 CPUs), hence the pinned settings in ``_meta``.
Queries run in name order in one process.

Usage: python tools/plan_fingerprints.py           # check
       python tools/plan_fingerprints.py --write   # regenerate the file
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import re
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

FINGERPRINTS = ROOT / "tests" / "plan_fingerprints.json"
PINNED_ENV = {"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "2g"}
PHYSICAL_OPS = (
    "Exchange",
    "BroadcastExchange",
    "SortMergeJoin",
    "ArrowEvalPython",
    "BatchEvalPython",
)
PY4J_SLACK = 0.02
PY4J_SLACK_MIN = 10

_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s+)?(\w+)", re.M)


def normalize(plan: str) -> str:
    """Drop what differs between processes: expression and plan ids,
    generated column suffixes and temp-dir paths."""
    plan = re.sub(r"#\d+L?", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"\b([a-z]+)_\d+#", r"\1_K#", plan)
    return re.sub(re.escape(tempfile.gettempdir()) + r"/[^\s,\])]*", "<tmp>", plan)


def node_counts(plan: str, names) -> dict[str, int]:
    nodes = _NODE.findall(plan)
    return {n: nodes.count(n) for n in names}


class _Py4jCounter:
    """Counts non-memory py4j commands sent while ``active``."""

    def __init__(self, client) -> None:
        self.calls = 0
        self.active = False
        send = client.send_command

        def counting(command, *args, **kwargs):
            if self.active and not command.startswith("m\n"):
                self.calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counting


def fingerprint(build, counter: _Py4jCounter) -> dict:
    from pyspark.sql import SparkSession

    build()  # memo-cold: fills the memos, the result is dropped
    rows = hashlib.sha256()
    create = SparkSession.createDataFrame

    def hashing_create(self, data, *args, **kwargs):
        rows.update(repr(data).encode())
        return create(self, data, *args, **kwargs)

    gc.collect()
    gc.disable()
    SparkSession.createDataFrame = hashing_create
    counter.calls, counter.active = 0, True
    try:
        df = build()
    finally:
        counter.active = False
        SparkSession.createDataFrame = create
        gc.enable()
    qe = df._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    plan_hash = hashlib.sha256(normalize(optimized).encode())
    plan_hash.update(rows.digest())
    ops = node_counts(qe.executedPlan().toString(), PHYSICAL_OPS)
    ops.update(node_counts(optimized, ("InMemoryRelation",)))
    del df, qe
    gc.collect()
    return {
        "hash": plan_hash.hexdigest()[:16],
        "ops": ops,
        "py4j_calls": counter.calls,
    }


def meta() -> dict:
    import pyspark

    from tests.conftest import SF_SMOKE

    return {**PINNED_ENV, "pyspark": pyspark.__version__, "sf": Path(SF_SMOKE).name}


def collect() -> dict[str, dict]:
    os.environ.update(PINNED_ENV)
    import __spark_entry__ as entry_mod
    from etl_with_s3__dynamodb_and_glue_spark import get_spark
    from tests.conftest import SF_SMOKE

    spark = get_spark("plan-fingerprints")
    counter = _Py4jCounter(spark.sparkContext._gateway._gateway_client)
    qs = entry_mod.queries()
    out = {}
    for name in sorted(qs):
        out[name] = fingerprint(lambda: qs[name](spark, SF_SMOKE), counter)
    spark.stop()
    return out


def dumps(fingerprints: dict[str, dict]) -> str:
    lines = [f'"_meta": {json.dumps(meta(), sort_keys=True)}']
    lines += [
        f"{json.dumps(name)}: {json.dumps(fp, sort_keys=True)}"
        for name, fp in sorted(fingerprints.items())
    ]
    return "{\n" + ",\n".join(lines) + "\n}\n"


def compare(recorded: dict, current: dict) -> tuple[list[str], list[str]]:
    """(failures, notes): one line per query whose plan moved or whose
    py4j count grew past the slack; notes list counts that dropped."""
    failures, notes = [], []
    for name in sorted(recorded.keys() - current.keys()):
        failures.append(f"{name}: recorded but no longer in the registry")
    for name in sorted(current.keys() - recorded.keys()):
        failures.append(f"{name}: in the registry but not recorded")
    for name in sorted(recorded.keys() & current.keys()):
        old, new = recorded[name], current[name]
        if old["hash"] != new["hash"]:
            failures.append(f"{name}: plan hash {old['hash']} -> {new['hash']}")
        if old["ops"] != new["ops"]:
            moved = {
                op: f"{old['ops'].get(op)} -> {n}"
                for op, n in new["ops"].items()
                if old["ops"].get(op) != n
            }
            failures.append(f"{name}: ops {moved}")
        was, now = old["py4j_calls"], new["py4j_calls"]
        allowed = was + max(PY4J_SLACK_MIN, int(PY4J_SLACK * was))
        if now > allowed:
            failures.append(f"{name}: py4j_calls {was} -> {now} (allowed {allowed})")
        elif now < was:
            notes.append(f"{name}: py4j_calls {was} -> {now}")
    return failures, notes


def main(argv: list[str]) -> int:
    if argv not in ([], ["--write"]):
        print(__doc__, file=sys.stderr)
        return 2
    if argv == ["--write"]:
        FINGERPRINTS.write_text(dumps(collect()))
        print(f"wrote {FINGERPRINTS.relative_to(ROOT)}")
        return 0
    recorded = json.loads(FINGERPRINTS.read_text())
    was, now = recorded.pop("_meta"), meta()
    if was != now:
        print(
            f"FAIL {FINGERPRINTS.name} was recorded under {was}, this process "
            f"runs {now}: regenerate it with --write"
        )
        return 1
    failures, notes = compare(recorded, collect())
    for line in failures:
        print("FAIL", line)
    for line in notes:
        print("DROP", line)
    if notes:
        print("py4j_calls dropped: regenerate with python tools/plan_fingerprints.py --write")
    print(f"{len(recorded)} queries checked, {len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
