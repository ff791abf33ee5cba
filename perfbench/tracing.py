"""Spans and per-layer counters recorded from outside the engine.

A :class:`Tracer` opens one span per op and child spans around each
call into a layer (``build``, ``action``, ``validate``, ``sink.write``,
``archive``). With tracing off every span is a no-op, so the timed runs
pay nothing for it. With tracing on, each op instance runs under its own
Spark job group, and the tracer reads:

- job, stage and task counts from ``SparkContext.statusTracker()``;
- Catalyst phase times from ``queryExecution().tracker().phases()`` of
  each collected DataFrame, attributed to the build or the action by
  their start time;
- ``exec_ms``: the action spans (a collect, or an episode's sink
  writes) minus the Catalyst phases inside them. Time outside the build,
  action and archive spans is in no layer, so the layers sum to the
  op's wall time only as far as the spans cover it. The op's
  ``wall_ms`` leaves out the tracer's own bookkeeping between spans
  (job-count snapshots, sink file listings), which the traced run
  reports as its overhead instead;
- JVM GC time from the ``GarbageCollectorMXBean`` deltas;
- RDDs still persisted once the op's result has been dropped.

Shuffle-write and spill bytes come from the Spark event log, parsed by
:func:`event_log_bytes` after the session has stopped.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# per-op counters; each is summed over a batch's ops for the batch value
OP_FIELDS = (
    "wall_ms",
    "build_ms",
    "build_jobs",
    "analysis_ms",
    "optimization_ms",
    "planning_ms",
    "exec_ms",
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "result_rows",
    "shuffle_write_bytes",
    "spill_bytes",
    "validate_ms",
    "validate_jobs",
    "sink_write_ms",
    "sink_files",
    "sink_bytes",
    "archive_ms",
    "archive_files",
    "gc_ms",
    "persisted_after_op",
)
_PHASES = ("analysis", "optimization", "planning")
# child span name -> the per-op counter prefix its time goes to
_LAYER_SPANS = {"validate": "validate", "sink.write": "sink_write", "archive": "archive"}
# spans that run the op's Spark actions
_ACTION_SPANS = ("action", "sink.write")


def _now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Records spans and counters while ``enabled``; a no-op otherwise."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._op: dict | None = None
        self._next_id = 0

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str, df=None):
        """A child span of the open op; ``df`` is the DataFrame whose
        Catalyst phases belong to this span's op."""
        if not self.enabled or self._op is None:
            yield
            return
        rec = {"id": self._new_id(), "op_id": self._op["op_id"], "name": name, "parent": self._stack[-1]["id"]}
        with self.bookkeeping():
            jobs_before = self._group_jobs()
        rec["start_ms"] = _now_ms()
        self._stack.append(rec)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end_ms"] = _now_ms()
            with self.bookkeeping():
                rec["jobs"] = len(self._group_jobs() - jobs_before)
            self.spans.append(rec)
            if df is not None:
                self._op["dfs"].append(df)

    @contextmanager
    def bookkeeping(self):
        """Tracer work inside an op, left out of the op's wall time."""
        t0 = _now_ms()
        try:
            yield
        finally:
            if self.enabled and self._op is not None:
                self._op["bookkeeping_ms"] += _now_ms() - t0

    def add(self, field: str, value: float) -> None:
        """Add to a counter of the open op."""
        if self.enabled and self._op is not None:
            self._op["counters"][field] += value

    @contextmanager
    def op(self, kind: str, batch: int):
        """The root span of one op instance, under its own job group."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        op_id = self._new_id()
        group = f"perfbench-{os.getpid()}-{op_id}"
        sc.setJobGroup(group, kind)
        rec = {"id": op_id, "op_id": op_id, "name": kind, "parent": None, "batch": batch}
        self._op = {
            "op_id": op_id,
            "kind": kind,
            "batch": batch,
            "group": group,
            "dfs": [],
            "counters": defaultdict(float),
            "bookkeeping_ms": 0.0,
        }
        self._stack = [rec]
        gc0 = self._gc_ms()
        rec["start_ms"] = _now_ms()
        try:
            yield
        finally:
            rec["end_ms"] = _now_ms()
            gc1 = self._gc_ms()
            self.spans.append(rec)
            self._finish_op(rec, gc1 - gc0)
            self._op = None
            self._stack = []
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # -- counters ------------------------------------------------------

    def _new_id(self) -> int:
        self._next_id += 1
        return self._next_id

    def _group_jobs(self) -> set[int]:
        if self._op is None:
            return set()
        sc = self.spark.sparkContext
        # the status store is fed asynchronously from the listener bus;
        # drain it so a job counts towards the span that launched it
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        return set(st.getJobIdsForGroup(self._op["group"]))

    def _gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def _finish_op(self, rec: dict, gc_ms: float) -> None:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        op = self._op
        c = op["counters"]
        children = [s for s in self.spans if s["op_id"] == op["op_id"] and s is not rec]
        build = [s for s in children if s["name"] == "build"]
        actions = [s for s in children if s["name"] in _ACTION_SPANS]
        build_ms = sum(s["end_ms"] - s["start_ms"] for s in build)
        action_ms = sum(s["end_ms"] - s["start_ms"] for s in actions)
        wall_ms = rec["end_ms"] - rec["start_ms"] - op["bookkeeping_ms"]

        def within(spans, t):
            return any(s["start_ms"] - 1 <= t <= s["end_ms"] + 1 for s in spans)

        in_build = in_action = 0.0
        for df in op["dfs"]:
            phases = df._jdf.queryExecution().tracker().phases()
            for name in _PHASES:
                summary = phases.get(name)
                if not summary.isDefined():
                    continue
                summary = summary.get()
                ms = float(summary.durationMs())
                c[f"{name}_ms"] += ms
                start = float(summary.startTimeMs())
                if within(build, start):
                    in_build += ms
                elif within(actions, start):
                    in_action += ms

        # drop the op's result so intermediates released with it (the
        # engine unpersists them from a finalizer) do not count as kept
        op["dfs"].clear()
        gc.collect()
        c["persisted_after_op"] = sc._jsc.getPersistentRDDs().size()

        st = sc.statusTracker()
        jobs = set(st.getJobIdsForGroup(op["group"]))
        build_jobs = sum(s["jobs"] for s in build)
        stages = {}
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s_info = st.getStageInfo(sid)
                if s_info is not None:
                    stages[sid] = s_info
        ran = [s for s in stages.values() if s.numCompletedTasks + s.numFailedTasks > 0]
        c["wall_ms"] = wall_ms
        c["build_ms"] = build_ms - in_build
        c["build_jobs"] = build_jobs
        c["exec_ms"] = action_ms - in_action
        c["jobs"] = len(jobs) - build_jobs
        c["stages"] = len(ran)
        c["tasks"] = sum(s.numCompletedTasks for s in ran)
        c["failed_tasks"] = sum(s.numFailedTasks for s in ran)
        c["gc_ms"] = gc_ms
        for s in children:
            field = _LAYER_SPANS.get(s["name"])
            if field:
                c[f"{field}_ms"] += s["end_ms"] - s["start_ms"]
        c["validate_jobs"] = sum(s["jobs"] for s in children if s["name"] == "validate")
        self.ops.append(
            {"op_id": op["op_id"], "kind": op["kind"], "batch": op["batch"], "group": op["group"],
             **{f: float(c.get(f, 0.0)) for f in OP_FIELDS}}
        )

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start_ms"]):
                fh.write(json.dumps(s) + "\n")


def event_log_bytes(log_dir: str) -> dict[str, dict[str, float]]:
    """Shuffle-write and disk-spill bytes per job group, from every event
    log file under ``log_dir`` (the session must have stopped)."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: {"shuffle_write_bytes": 0.0, "spill_bytes": 0.0})
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(p)]
    for path in sorted(files):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    if group is None or not metrics:
                        continue
                    shuffle = metrics.get("Shuffle Write Metrics") or {}
                    totals[group]["shuffle_write_bytes"] += shuffle.get("Shuffle Bytes Written", 0)
                    totals[group]["spill_bytes"] += metrics.get("Disk Bytes Spilled", 0)
    return dict(totals)
