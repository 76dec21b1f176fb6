"""Job metrics hooks + retry wrapper (reference C3/C4 parity).

The reference wraps every ETL callable in
airflow/config/metrics_utils.py:9-55 (`run_etl_with_metrics`): time the
job, extract a processed-record count, and push duration/records/status
gauges to a Prometheus pushgateway (:58-106). It retries flaky FS
listings with tenacity (gcs_bronze_to_silver.py:216,
stop_after_attempt(3) + wait_fixed(2)).

Spark-first offline analog:

- `pipeline_metrics` — context manager that times a named job, records
  success/failure and an optional row count, and hands a `JobMetrics`
  record to a pluggable sink. The default sink appends to an in-process
  registry (`METRICS`) and logs one line; a pushgateway sink is one
  function away and deliberately not imported here (no network, no
  prometheus_client in this environment).
- `run_with_metrics` — callable-wrapping form, signature-compatible in
  spirit with the reference's wrapper (records_extractor and all).
- `with_retry` — dependency-free tenacity analog: fixed-wait, bounded
  attempts, re-raises the last error.

Row counts are OPT-IN (pass `records` / `records_extractor`): counting
a DataFrame forces a job, and metrics must never add a second pass over
100 TB. Callers that already materialize (foreachBatch, writes) pass
the count they have.

Sinks may be called from several writer threads at once
(`write_gold_tables` records each table from its own thread). The
default sink's `list.append` is atomic under the interpreter lock; a
custom sink must be thread-safe.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

logger = logging.getLogger(__name__)

MetricsSink = Callable[["JobMetrics"], None]


@dataclass
class JobMetrics:
    job_name: str
    duration_s: float = 0.0
    success: bool = False
    records: int | None = None
    started_at: float = 0.0
    labels: dict[str, str] = field(default_factory=dict)


#: in-process registry — the offline stand-in for the pushgateway
METRICS: list[JobMetrics] = []


def _default_sink(m: JobMetrics) -> None:
    METRICS.append(m)
    logger.info(
        "job=%s status=%s duration_s=%.3f records=%s labels=%s",
        m.job_name,
        "success" if m.success else "failure",
        m.duration_s,
        m.records if m.records is not None else "-",
        m.labels or "-",
    )


@contextmanager
def pipeline_metrics(
    job_name: str,
    sink: MetricsSink = _default_sink,
    **labels: str,
) -> Iterator[JobMetrics]:
    """Time a job and report it to ``sink`` on exit (also on failure,
    like the reference's finally-push). The yielded record is live:
    set ``m.records`` inside the block to attach a row count."""
    m = JobMetrics(job_name=job_name, started_at=time.time(), labels=dict(labels))
    try:
        yield m
        m.success = True
    finally:
        m.duration_s = time.time() - m.started_at
        sink(m)


def run_with_metrics(
    job_name: str,
    fn: Callable,
    *args,
    records_extractor: Callable | None = None,
    sink: MetricsSink = _default_sink,
    **kwargs,
):
    """Callable form of `pipeline_metrics` (reference wrapper parity).

    ``records_extractor(result)`` failures are swallowed (count becomes
    None) exactly as in the reference — a metrics bug must not fail the
    job it measures."""
    with pipeline_metrics(job_name, sink=sink) as m:
        result = fn(*args, **kwargs)
        if records_extractor is not None:
            try:
                m.records = int(records_extractor(result))
            except Exception:
                m.records = None
    return result


def with_retry(
    fn: Callable,
    *args,
    attempts: int = 3,
    wait_s: float = 2.0,
    retry_on: tuple[type[BaseException], ...] = (Exception,),
    **kwargs,
):
    """Bounded fixed-wait retry (tenacity stop_after_attempt +
    wait_fixed analog, no dependency). Use only around idempotent
    actions — FS listings, existence probes — never around writes
    that are not idempotent-by-key."""
    last: BaseException | None = None
    for attempt in range(1, attempts + 1):
        try:
            return fn(*args, **kwargs)
        except retry_on as e:  # noqa: PERF203 — retry loop by design
            last = e
            if attempt < attempts:
                logger.warning(
                    "retry %d/%d for %s after %s: %s",
                    attempt,
                    attempts,
                    getattr(fn, "__name__", fn),
                    f"{wait_s}s",
                    e,
                )
                time.sleep(wait_s)
    assert last is not None
    raise last
