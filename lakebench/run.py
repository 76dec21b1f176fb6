"""Lakehouse benchmark: one seeded workload, one closed-loop client.

    python3 lakebench/run.py --workload batch_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines before it give each op kind's latency with its
sample count, the workload's parameters and, when traced, the span
accounting. See lakebench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import spans as tracing
import stats
from workloads import WORKLOADS, WrongAnswer

#: end-to-end metrics and their units, as BENCHMARK.json lists them
END_TO_END = {"setup_s": "s", "items_per_s": "items/s", "op_p50_ms": "ms"}


def process_start() -> float:
    """This process's start time, in seconds since the epoch."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        boot = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return boot + ticks / os.sysconf("SC_CLK_TCK")


class Recorder:
    """Counts ops and failures; in the timed phase also keeps latencies
    per op kind and the items and seconds behind ``items_per_s``."""

    def __init__(self, tracer: tracing.Tracer):
        self.tracer = tracer
        self.timed = False
        self.latencies: dict[str, list[float]] = {}
        self.attempted = self.failed = self.items = 0
        self.ingest_s = 0.0
        self.last = 0.0

    @contextlib.contextmanager
    def time(self, kind: str):
        """Times the block; ``last`` is its latency, None if it raised."""
        self.last = None
        t0 = time.perf_counter()
        yield
        self.last = time.perf_counter() - t0
        if self.timed:
            self.latencies.setdefault(kind, []).append(self.last)

    @contextlib.contextmanager
    def op(self, kind: str):
        """One client op: a root span, and a failure if it raises."""
        self.attempted += 1
        try:
            with self.tracer.span(f"op.{kind}"), self.time(kind):
                yield
        except Exception:
            self.fail()

    @contextlib.contextmanager
    def check(self):
        """An untimed correctness check; a wrong answer is a failure."""
        self.attempted += 1
        try:
            yield
        except Exception:
            self.fail()

    def fail(self) -> None:
        self.failed += 1
        traceback.print_exc(file=sys.stderr)

    def add_items(self, items: int, seconds: float | None) -> None:
        if self.timed and seconds is not None:
            self.items += items
            self.ingest_s += seconds


def build(args, work: str, tracer: tracing.Tracer, python_workers: bool):
    from news_lakehouse_spark.session import build_session

    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(f"{work}/events")
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{work}/events",
                     "spark.eventLog.compress": "false"})
    with tracer.span("session.build_session"):
        spark = build_session(f"lakebench-{args.workload}", extra_conf=conf)
    with tracer.span("session.warmup"):
        spark.range(1000).selectExpr("sum(id)").collect()
        if python_workers:  # start the workers through the Arrow path
            spark.range(64, numPartitions=4).mapInPandas(lambda it: it, "id long").count()
    return spark


def stop(spark) -> None:
    """Stop Spark and wait until the driver JVM and the Python workers
    it forked have exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = tracing.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = process_start()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "news_lakehouse_spark")):
        print("lakebench: run from the repository root (news_lakehouse_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    work = os.path.join(root, ".lakebench", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    # keep Spark's and Python's scratch files inside the work directory
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"

    try:
        return measure(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def measure(args, work: str, t_start: float) -> int:
    wl = WORKLOADS[args.workload](args.seed, work)
    tracer = tracing.Tracer(bool(args.trace), os.getpid())
    rec = Recorder(tracer)
    spark = None
    try:
        t = time.time()
        wl.generate()
        generate_s = time.time() - t
        spark = build(args, work, tracer, wl.python_workers)
        with tracing.instrument(tracer) if args.trace else contextlib.ExitStack():
            wl.setup(spark, tracer, rec)
            if rec.failed:
                raise WrongAnswer("the warm-up op failed")
            tracer.phase, rec.timed = "timed", True
            t0 = time.time()
            with tracing.RssSampler(os.getpid()) as rss:
                while True:
                    c0 = time.time()
                    wl.step(spark, tracer, rec)
                    now = time.time()
                    # a cold workload measures its one cold op; otherwise
                    # start another step only if at least half of one fits
                    if wl.cold or now + (now - c0) / 2 >= t0 + args.seconds:
                        break
            t1 = time.time()
            rec.timed = False
            tracer.phase = "finish"
            counters = wl.finish(spark, tracer, rec)
    finally:
        if spark is not None:
            stop(spark)

    e2e = {
        "setup_s": t0 - t_start - generate_s,
        "items_per_s": rec.items / rec.ingest_s,
        "op_p50_ms": 1000 * statistics.median(rec.latencies[wl.primary]),
    }
    counters["session.peak_rss_mb"] = rss.peak / 2**20

    print(json.dumps({"workload": wl.name, "seed": args.seed, "params": wl.params}))
    for kind, lat in sorted(rec.latencies.items()):
        print(stats.describe(kind, lat))
    print(f"timed phase {t1 - t0:.2f} s; input generation {generate_s:.2f} s (not in setup_s); "
          f"peak RSS {counters['session.peak_rss_mb']:.0f} MB")
    print("end-to-end:", json.dumps({k: round(v, 4) for k, v in e2e.items()}))
    if args.trace:
        metrics = layer_report(work, tracer, counters)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": rec.failed == 0, "attempted": rec.attempted,
                      "failed": rec.failed, "metrics": metrics}))
    return 0


def layer_report(work: str, tracer: tracing.Tracer, counters: dict) -> dict:
    jobs, shuffle = tracing.read_event_logs(f"{work}/events")
    costs, stray = tracing.span_costs(tracer.spans, jobs, shuffle)
    gap = tracing.op_accounting(tracer.spans, costs)
    print(f"spans {len(tracer.spans)}, jobs {len(jobs)} ({stray} outside every span), "
          f"largest op wall-time vs summed self-time gap {gap * 1000:.3f} ms")
    values = {**tracing.layer_metrics(tracer.spans, costs), **counters}
    out = {}
    for name in tracing.layer_metric_names():
        out[name] = {"value": values.get(name, 0), "unit": tracing.unit(name)}
    return out


if __name__ == "__main__":
    sys.exit(main())
