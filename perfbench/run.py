#!/usr/bin/env python3
"""Steady end-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload query_batch --seed 1 --seconds 20 --trace 0

Runs one named workload (see ``workloads.py``) on a pinned ``local[2]``
session: set up (session start, seeded input generation, warm-up), then
a closed loop of batches -- one client issuing ops one after another --
for ``--seconds``, then one output check. Between ops, outside the timed
region, it clears the cache, collects garbage in Python and the JVM and
restages the op's inputs.

With ``--trace 0`` it reports the end-to-end metrics; with ``--trace 1``
it alternates traced and untraced batches and reports per-layer metrics
from the traced ones plus the tracing overhead. The last line of
standard output is the result::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value": v, "unit": u}}}

The line before it is a report: environment, sample counts behind each
median, per-batch times, per-op medians and check verdicts. Reports (and,
traced, the spans) are also written under ``.perfbench/out/``. A failed
op or output check makes the exit code 1.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_with_s3__dynamodb_and_glue_spark"
sys.path[:0] = [HERE, ROOT]

from tracing import Tracer, event_log_bytes  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# pinned session: two task threads (also the shuffle partition count);
# at these input sizes more threads only add contention
CPUS = 2
DRIVER_MEM = "3g"

END_TO_END = {
    "setup_s": "s",
    "batch_s_p50": "s",
    "op_ms_geomean": "ms",
    "ops_ok": "fraction",
    "peak_rss_mb": "MB",
}
# per-layer metric -> (per-op counter summed over a batch, unit)
PER_LAYER = {
    "plans.build_ms": ("build_ms", "ms"),
    "plans.build_jobs": ("build_jobs", "count"),
    "catalyst.analysis_ms": ("analysis_ms", "ms"),
    "catalyst.optimization_ms": ("optimization_ms", "ms"),
    "catalyst.planning_ms": ("planning_ms", "ms"),
    "exec.ms": ("exec_ms", "ms"),
    "exec.jobs": ("jobs", "count"),
    "exec.stages": ("stages", "count"),
    "exec.tasks": ("tasks", "count"),
    "exec.failed_tasks": ("failed_tasks", "count"),
    "exec.result_rows": ("result_rows", "count"),
    "exec.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "exec.spill_bytes": ("spill_bytes", "bytes"),
    "sources.validate_ms": ("validate_ms", "ms"),
    "sources.validate_jobs": ("validate_jobs", "count"),
    "sinks.write_ms": ("sink_write_ms", "ms"),
    "sinks.files": ("sink_files", "count"),
    "sinks.bytes": ("sink_bytes", "bytes"),
    "archive.ms": ("archive_ms", "ms"),
    "archive.files": ("archive_files", "count"),
    "session.gc_ms": ("gc_ms", "ms"),
    "caching.persisted_after_op": ("persisted_after_op", "count"),
}
SESSION_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "trace.batch_s_p50": "s",
    "trace.untraced_batch_s_p50": "s",
    "trace.overhead_pct": "%",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, help="override the workload's input scale")
    # self-test only: duplicate a row of every checked result (and bump
    # the episode's row counts) to prove the output check catches it
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def pin_environment(work: str) -> None:
    """Everything the run writes stays under ``work``."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: growing and shrinking it around the forced GCs
        # between ops made batch times and peak RSS wander from run to run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def source_digest() -> dict[str, str | None]:
    """The git commit when the checkout has one, and a digest of the
    engine's sources either way."""
    sha = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(ROOT, ".git", ref[5:])
            ref = open(ref_path).read().strip() if os.path.isfile(ref_path) else None
        sha = ref
    digest = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for base, _dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        paths += [os.path.join(base, f) for f in files if f.endswith(".py")]
    for path in sorted(paths):
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    return {"git_sha": sha, "source_sha256": digest.hexdigest()}


def environment(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_version": spark.version,
        "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "nproc": len(os.sched_getaffinity(0)),
        **source_digest(),
    }


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters, in ticks, from the ``cpu`` line of
    /proc/stat (the eighth is time stolen by the hypervisor)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def canary_s() -> float:
    """Seconds for a fixed pure-Python loop. On a shared host the load
    average does not show contention, and per-core speed has halved for
    minutes at a time; this tells such runs apart."""
    t0 = time.perf_counter()
    n = 0
    for i in range(2_000_000):
        n += i
    return time.perf_counter() - t0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_batch(spark, ops, tracer, batch: int) -> list[dict]:
    """Run ``ops`` in order. Only each op's own call is timed."""
    out = []
    for op in ops:
        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()
        if op.reset is not None:
            op.reset()
        rec = {"kind": op.kind, "label": op.label, "error": None, "result": None}
        with tracer.op(op.kind, batch):
            t0 = time.perf_counter()
            try:
                rec["result"] = op.run(tracer)
            except Exception as exc:  # noqa: BLE001 - a failed op is a result
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            rec["s"] = time.perf_counter() - t0
        out.append(rec)
    return out


def corrupt(result):
    """A collected ``(rows, columns)`` gains a duplicate row; a dict of
    them (one per lookup date) has each corrupted; row counts grow by one."""
    if isinstance(result, tuple):
        rows, columns = result
        return rows + rows[:1], columns
    return {k: corrupt(v) if isinstance(v, tuple) else v + 1 for k, v in result.items()}


def group_by(records, key) -> dict:
    groups: dict = {}
    for r in records:
        groups.setdefault(r[key], []).append(r)
    return groups


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"engine package {PACKAGE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench", f"{run_id}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    pin_environment(work)
    load_start = (os.getloadavg()[0], cpu_ticks())

    from etl_with_s3__dynamodb_and_glue_spark import get_spark

    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=session_conf(work, bool(args.trace)))
        start_s = time.perf_counter() - t0
        try:
            return measure(args, spark, work, out_dir, start_s, load_start)
        finally:
            if spark.sparkContext._jsc is not None:
                stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, spark, work: str, out_dir: str, start_s: float, load_start: tuple) -> int:
    cls = WORKLOADS[args.workload]
    scale = args.scale if args.scale is not None else cls.default_scale
    workload = cls(spark, os.path.join(work, "data"), args.seed, scale)
    env = environment(spark)
    t0 = time.perf_counter()
    workload.prepare()
    gen_s = time.perf_counter() - t0

    tracer = Tracer(spark, enabled=False)
    if args.trace:
        workload.install_trace_hooks(tracer)
    rng = random.Random(args.seed)
    t0 = time.perf_counter()
    # everything alive now lives to the end of the run: left to the
    # collector, the modules, inputs and session objects made each
    # gc.collect() between ops take ~65 ms
    gc.freeze()
    warmup_batch_s = []
    for i in range(workload.warmup_batches):
        warm = run_batch(spark, workload.batch(rng), tracer, -1 - i)
        warmup_batch_s.append(sum(r["s"] for r in warm))
    warmup_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_START

    batches: list[list[dict]] = []
    traced: list[bool] = []
    t_run = time.perf_counter()
    min_batches = 3  # a median of at least three; a traced run needs untraced batches too
    while len(batches) < min_batches or time.perf_counter() - t_run < args.seconds:
        # traced runs alternate traced and untraced batches, starting traced
        tracer.enabled = bool(args.trace) and len(batches) % 2 == 0
        traced.append(tracer.enabled)
        batch = run_batch(spark, workload.batch(rng), tracer, len(batches))
        if batches:
            # only the first timed batch is checked; holding every result
            # made the Python GC between ops slower as the run went on
            for r in batch:
                r["result"] = None
        batches.append(batch)
    tracer.enabled = False
    timed_s = time.perf_counter() - t_run

    # -- output check, once, on the first timed batch's results
    t0 = time.perf_counter()
    first = {r["label"]: r["result"] for r in batches[0] if r["error"] is None}
    if args.corrupt:
        first = {label: corrupt(result) for label, result in first.items()}
    try:
        verdicts = workload.check(first)
    except Exception as exc:  # noqa: BLE001 - a check that cannot run fails
        verdicts = {label: f"check raised {type(exc).__name__}: {exc}"[:500] for label in first}
    check_s = time.perf_counter() - t0
    bad_kinds = {r["kind"] for r in batches[0] if verdicts.get(r["label"])}
    records = [r for b in batches for r in b]
    failed = sum(1 for r in records if r["error"] or r["kind"] in bad_kinds)
    attempted = len(records)

    peak_rss_mb = jvm_peak_rss_mb(spark)
    load_end = os.getloadavg()[0]
    ticks = [b - a for a, b in zip(load_start[1], cpu_ticks())]

    ok = [r for r in records if not r["error"]]
    batch_s = [sum(r["s"] for r in b) for b in batches]
    by_kind = group_by(ok, "kind")
    op_ms = {k: statistics.median(r["s"] for r in rs) * 1000.0 for k, rs in by_kind.items()}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "scale": scale,
        "seconds": args.seconds,
        "env": {**env, "loadavg_1m_start": load_start[0], "loadavg_1m_end": load_end,
                "cpu_steal_pct": 100.0 * ticks[7] / sum(ticks), "canary_s": canary_s()},
        "load": "closed loop, 1 client",
        "setup": {"session_start_s": start_s, "input_gen_s": gen_s, "warmup_s": warmup_s,
                  "warmup_batch_s": warmup_batch_s},
        "timed_s": timed_s,
        "check_s": check_s,
        "batch_s": batch_s,
        "batch_op_s": [{r["label"]: r["s"] for r in b} for b in batches],
        "batch_traced": traced,
        "op_ms_p50": op_ms,
        "samples": {"batch_s_p50": len(batch_s), "op_ms_geomean": {k: len(v) for k, v in by_kind.items()}},
        "errors": sorted({r["error"] for r in records if r["error"]}),
        "checks": verdicts,
    }

    if args.trace:
        metrics = {}
        untraced = [s for s, t in zip(batch_s, traced) if not t]
        traced_s = [s for s, t in zip(batch_s, traced) if t]
        stop_session(spark)
        by_group = event_log_bytes(os.path.join(work, "eventlog"))
        for op in tracer.ops:
            op.update(by_group.get(op["group"], {}))
        per_batch = group_by(tracer.ops, "batch")
        for name, (field, unit) in PER_LAYER.items():
            sums = [sum(op[field] for op in ops) for ops in per_batch.values()]
            metrics[name] = {"value": statistics.median(sums), "unit": unit}
        p50_traced = statistics.median(traced_s)
        p50_untraced = statistics.median(untraced)
        session = {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "trace.batch_s_p50": p50_traced,
            "trace.untraced_batch_s_p50": p50_untraced,
            "trace.overhead_pct": (p50_traced / p50_untraced - 1.0) * 100.0,
        }
        for name, unit in SESSION_LAYER.items():
            metrics[name] = {"value": session[name], "unit": unit}
        per_op = {}
        for kind, ops in group_by(tracer.ops, "kind").items():
            per_op[f"plans.build_ms.{kind}"] = statistics.median(o["build_ms"] for o in ops)
            per_op[f"exec.ms.{kind}"] = statistics.median(o["exec_ms"] for o in ops)
        report["per_op"] = per_op
        report["samples"]["per_layer"] = len(per_batch)
        report["ops"] = tracer.ops
        tracer.write_spans(os.path.join(out_dir, "spans.jsonl"))
    else:
        metrics = {
            "setup_s": setup_s,
            "batch_s_p50": statistics.median(batch_s),
            # 0 only when every op failed, which ops_ok reports
            "op_ms_geomean": math.exp(statistics.fmean(math.log(v) for v in op_ms.values())) if op_ms else 0.0,
            "ops_ok": 1.0 - failed / attempted,
            "peak_rss_mb": peak_rss_mb,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}

    correct = failed == 0
    with open(os.path.join(out_dir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    report.pop("ops", None)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
