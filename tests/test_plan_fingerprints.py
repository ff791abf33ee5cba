"""Standing plan gate: every registry query's plan hash, operator counts
and py4j round trips must match ``tests/plan_fingerprints.json``.

``tools/plan_fingerprints.py`` runs in its own process, so its pinned
``local[2]`` session and driver memory hold whatever session this suite
built. An intentional plan change regenerates the file with
``python tools/plan_fingerprints.py --write`` in the same change.
"""

from __future__ import annotations

import os
import subprocess
import sys
import warnings
from pathlib import Path

import etl_with_s3__dynamodb_and_glue_spark as pkg

ROOT = Path(__file__).resolve().parents[1]


def test_tests_import_this_checkout():
    """A copy of the repo at another path must test its own package."""
    assert Path(pkg.__file__).resolve().is_relative_to(ROOT)


def test_plan_fingerprints_match_committed_file():
    proc = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "plan_fingerprints.py")],
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": str(ROOT)},
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
    if "DROP" in proc.stdout:
        warnings.warn(proc.stdout)
