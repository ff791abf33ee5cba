"""Episode-level retry policy (reference dag.py:18-24 semantics).

The reference DAG declares ``retries: 1`` with a 5-minute
``retry_delay`` as Airflow default_args — every task re-runs once on
failure after a fixed delay. Spark already retries *tasks* inside a
job (``spark.task.maxFailures``); this wrapper adds the missing
DRIVER-level retry around a whole episode, which is what covers
failures Spark's task retry can't (sink endpoint hiccups, transient
S3 listing errors, a lost driver connection between jobs).

Idempotence note: the episode is safe to re-run because every sink in
this repo is an upsert-by-key (partition overwrite) — a half-written
attempt is simply overwritten by the retry, matching the reference's
overwrite=true DynamoDB writes.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from typing import TypeVar

logger = logging.getLogger(__name__)

T = TypeVar("T")

DEFAULT_RETRIES = 1  # reference dag.py:22 'retries': 1
DEFAULT_DELAY_SEC = 300.0  # reference dag.py:23 retry_delay=timedelta(minutes=5)


def with_retries(
    fn: Callable[[], T],
    retries: int = DEFAULT_RETRIES,
    delay_sec: float = DEFAULT_DELAY_SEC,
    backoff: float = 1.0,
    retryable: tuple[type[BaseException], ...] = (Exception,),
    sleep: Callable[[float], None] = time.sleep,
) -> T:
    """Run ``fn`` with up to ``retries`` re-attempts after failures.

    ``backoff`` multiplies the delay per attempt (1.0 = the reference's
    fixed delay). Exceptions outside ``retryable`` — and the final
    failure — propagate unchanged. ``sleep`` is injectable for tests.
    """
    if retries < 0:
        raise ValueError("retries must be >= 0")
    attempt = 0
    delay = delay_sec
    while True:
        try:
            return fn()
        except retryable as exc:
            attempt += 1
            if attempt > retries:
                raise
            logger.warning(
                "episode attempt %d/%d failed (%s: %s); retrying in %.0fs",
                attempt,
                retries + 1,
                type(exc).__name__,
                exc,
                delay,
            )
            sleep(delay)
            delay *= backoff

