#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (about ten minutes, one session
at a time).

    python3 perfbench/selftest.py [--reference SF01_DIR] [workload ...]

For each workload it checks that:

- an untraced run passes its output check and emits every end-to-end
  metric of ``BENCHMARK.json`` with its unit;
- a traced run emits every per-layer metric with its unit, and each
  traced op's ``plans.build_ms`` + Catalyst phases + ``exec.ms`` is
  within 10% of the op's wall time;
- the count metrics are identical across two traced runs of one seed;
- a run whose checked results are deliberately corrupted fails its
  output check and exits non-zero.

With ``--reference``, the directory of the engine's fixed sf0.1 test
tables, it first checks that the generated sf0.1 tables of the registry
workloads have the same row counts and column types, and that the
generated documents have the test corpus's vocabulary, mean length and,
within 25%, its number of near-duplicate pairs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen_corpus  # noqa: E402
import run as bench  # noqa: E402
import workloads  # noqa: E402

# query_batch has one scale, sf0.1
TINY_SCALE = {"music_etl": 0.02, "query_batch": 0.1, "llm_curation": 0.005}
COUNTS = ("exec.jobs", "exec.tasks", "exec.result_rows", "sinks.files", "archive.files")
SEED = 3


def run(workload: str, trace: int, corrupt: bool = False) -> tuple[int, dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(SEED),
           "--seconds", "1", "--trace", str(trace), "--scale", str(TINY_SCALE[workload])]
    if corrupt:
        cmd.append("--corrupt")
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if len(lines) < 2:
        raise AssertionError(f"{' '.join(cmd)} printed no result:\n{proc.stderr[-3000:]}")
    result = json.loads(lines[-1])
    out_dir = os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed{SEED}-trace{trace}")
    with open(os.path.join(out_dir, "report.json")) as fh:
        report = json.load(fh)
    return proc.returncode, result, report


def declared_metrics() -> tuple[dict, dict]:
    """Metric name -> unit, from BENCHMARK.json when present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    end_to_end = dict(bench.END_TO_END)
    per_layer = {k: u for k, (_f, u) in bench.PER_LAYER.items()} | bench.SESSION_LAYER
    if os.path.isfile(path):
        with open(path) as fh:
            spec = json.load(fh)
        end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return end_to_end, per_layer


def check_units(metrics: dict, declared: dict) -> list[str]:
    problems = [f"missing {n}" for n in declared if n not in metrics]
    problems += [
        f"{n}: unit {metrics[n]['unit']} != {u}" for n, u in declared.items()
        if n in metrics and metrics[n]["unit"] != u
    ]
    problems += [f"{n}: value {metrics[n]['value']!r}" for n in declared
                 if n in metrics and not isinstance(metrics[n]["value"], (int, float))]
    return problems


def _counts(report: dict, kind: str, field: str) -> list[float]:
    return [op[field] for op in report["ops"] if op["kind"] == kind]


def selftest(workload: str) -> list[str]:
    end_to_end, per_layer = declared_metrics()
    problems = []

    rc, result, report = run(workload, 0)
    if rc != 0 or not result["correct"] or result["failed"]:
        problems.append(f"untraced run failed: rc={rc} checks={report['checks']} errors={report['errors']}")
    problems += check_units(result["metrics"], end_to_end)

    rc1, traced1, report1 = run(workload, 1)
    rc2, traced2, report2 = run(workload, 1)
    if rc1 or rc2:
        problems.append(f"traced runs failed: rc={rc1},{rc2}")
    problems += check_units(traced1["metrics"], per_layer)
    for op in report1["ops"]:
        parts = sum(op[f] for f in ("build_ms", "analysis_ms", "optimization_ms", "planning_ms", "exec_ms",
                                    "archive_ms"))
        if abs(parts - op["wall_ms"]) > 0.1 * op["wall_ms"]:
            problems.append(f"{op['kind']}: layers sum to {parts:.1f} ms of {op['wall_ms']:.1f} ms")
    for name in COUNTS:
        a, b = traced1["metrics"][name]["value"], traced2["metrics"][name]["value"]
        if a != b:
            field = bench.PER_LAYER[name][0]
            kinds = sorted(
                k for k in {op["kind"] for op in report1["ops"]}
                if _counts(report1, k, field) != _counts(report2, k, field)
            )
            problems.append(f"{name} differs across same-seed traced runs: {a} != {b} (ops: {kinds})")

    rc, result, report = run(workload, 0, corrupt=True)
    if rc == 0 or result["correct"] or not result["failed"]:
        problems.append(f"corrupted results passed the check: rc={rc} result={result}")
    if not any(report["checks"].values()):
        problems.append("no check verdict flagged the corrupted results")
    return problems


def _corpus_stats(table) -> dict:
    texts = table.column("text").to_pylist()
    sets = [frozenset(t.lower().split()) for t in texts]
    return {
        "vocabulary": len(frozenset().union(*sets)),
        "mean_tokens": statistics.fmean(len(t.split()) for t in texts),
        "near_dup_pairs": workloads.count_near_dup_pairs(sets, workloads.LlmCuration.JACCARD),
    }


def check_reference(ref: str) -> list[str]:
    """The generated sf0.1 tables against the fixed sf0.1 test tables."""
    import pyarrow.parquet as pq

    from tools import scale_probe

    out = os.path.join(ROOT, ".perfbench", "reference-check")
    shutil.rmtree(out, ignore_errors=True)
    gen_corpus.generate(out, workloads.RegistryWorkload.DATA_SEED, 0.1)
    scale_probe.gen_relational(1, out)
    problems = []
    for name in gen_corpus.TABLES + workloads.QueryBatch.tables:
        got = pq.read_table(os.path.join(out, f"{name}.parquet"))
        want = pq.read_table(os.path.join(ref, f"{name}.parquet"))
        if got.num_rows != want.num_rows:
            problems.append(f"{name}: {got.num_rows} rows, the test table has {want.num_rows}")
        types = [(f.name, str(f.type)) for f in got.schema], [(f.name, str(f.type)) for f in want.schema]
        if types[0] != types[1]:
            problems.append(f"{name}: columns {types[0]} != {types[1]}")
        if name == "documents":
            g, w = _corpus_stats(got), _corpus_stats(want)
            if g["vocabulary"] != w["vocabulary"] or abs(g["mean_tokens"] / w["mean_tokens"] - 1) > 0.05 \
                    or abs(g["near_dup_pairs"] / w["near_dup_pairs"] - 1) > 0.25:
                problems.append(f"documents: generated {g}, test corpus {w}")
    shutil.rmtree(out, ignore_errors=True)
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description="Self-test of the benchmark.")
    ap.add_argument("--reference", help="directory of the engine's sf0.1 test tables")
    ap.add_argument("workloads", nargs="*", default=sorted(TINY_SCALE))
    args = ap.parse_args()
    failed = False
    if args.reference:
        problems = check_reference(args.reference)
        failed |= bool(problems)
        print(f"reference tables: {'ok' if not problems else 'FAIL'}")
        for p in problems:
            print(f"  {p}")
    for workload in args.workloads:
        problems = selftest(workload)
        failed |= bool(problems)
        print(f"{workload}: {'ok' if not problems else 'FAIL'}")
        for p in problems:
            print(f"  {p}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
