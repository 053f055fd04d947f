"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_fanout --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds nothing: the package is imported
from the checkout's source. Everything the run writes (changelogs,
checkpoints, replicas, Spark scratch space, temp files) lives under
``.bench_work/`` in the checkout and is removed at the end; a traced run
also leaves its spans in ``.bench_out/``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The run exits
non-zero, printing no result, when it cannot run at all (for example when
the package is not there).
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from contextlib import contextmanager  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.trace import NullTracer, Tracer  # noqa: E402

WORKLOADS = ("cdc_fanout", "replica_upsert", "analytic_queries")
DEADLINE_S = 170.0

END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("latency_p90_ms", "ms"),
    ("throughput_per_s", "1/s"),
]


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run prints, on every workload. A
    layer a workload bypasses reads 0: it did no work there."""
    from perfbench.analytic_queries import PANEL

    return [
        ("session.start_s", "s"),
        ("fixtures.prepare_s", "s"),
        ("warmup_s", "s"),
        ("loadgen.late_ms_p90", "ms"),
        ("latency.samples", "count"),
        ("latency.p90_beyond", "count"),
        ("latency.p90_batches_beyond", "count"),
        ("fail_ratio", "1"),
        ("stream.batches_open_loop", "count"),
        ("stream.batches_sampled", "count"),
        ("source.latest_offset_ms", "ms"),
        ("source.get_batch_ms", "ms"),
        ("checkpoint.commit_ms", "ms"),
        ("envelope.shape_ms", "ms"),
        ("spark.jobs_per_batch", "count"),
        ("pipeline.index_state_ms", "ms"),
        ("sinks.parquet_write_ms", "ms"),
        ("sinks.jsonl_write_ms", "ms"),
        ("subscribe.route_write_ms", "ms"),
        ("subscribe.events_sent", "count"),
        ("subscribe.evictions", "count"),
        ("replica.upsert_ms", "ms"),
        ("replica.swap_ms", "ms"),
        ("replica.bytes_written_per_change_byte", "1"),
        ("replica.bytes", "bytes"),
        ("replica.lww_collapse_share", "1"),
        ("replica.rows_over_batch_events", "1"),
        ("replica.read_p50_ms", "ms"),
        ("replica.read_p90_ms", "ms"),
        ("replica.read_p90_beyond", "count"),
        ("replica.swap_lock_wait_ms", "ms"),
        ("plans.build_ms", "ms"),
        ("exec.collect_ms", "ms"),
        ("spark.tasks_per_query", "count"),
        ("spark.shuffle_bytes_per_query", "bytes"),
        *[(f"plans.{q}_ms", "ms") for q in PANEL],
        ("trace.spans", "count"),
        ("trace.cost_ms", "ms"),
    ]


class Ctx:
    """What a workload gets: its arguments, a work dir, the tracer, and
    the places its measurements go."""

    def __init__(self, seed: int, seconds: float, tracer, work: str):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.t_timed = None

    def start_session(self):
        from wing_binlog_go_spark.session import get_spark

        with self.phase("session.start_s"):
            self.spark = get_spark("perfbench")
        return self.spark

    @contextmanager
    def phase(self, name: str):
        t = time.monotonic()
        with self.tracer.span(name):
            yield
        self.layer[name] = time.monotonic() - t

    def freeze_fixtures(self) -> None:
        """Move everything allocated so far (the generated fixtures, the
        expected results) out of the cyclic collector's reach, so the
        program's own collections during the run do not scan the
        benchmark's memory."""
        gc.collect()
        gc.freeze()

    def timed_start(self) -> None:
        self.t_timed = time.monotonic()
        self.e2e["setup_s"] = self.t_timed - T_PROCESS

    def timed_end(self) -> None:
        self.layer["timed_s"] = time.monotonic() - self.t_timed

    def fail(self, msg: str) -> None:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
        self.problems.append(msg)

    def report_latency(self, lat_s: dict, batch_of: dict | None = None) -> None:
        """Latency percentiles (ms) over per-event samples, with support."""
        ms = [v * 1e3 for v in lat_s.values()]
        p50, p90 = stats.percentile(ms, 50), stats.percentile(ms, 90)
        self.e2e["latency_p50_ms"] = p50.value
        self.e2e["latency_p90_ms"] = p90.value
        self.layer["latency.samples"] = p90.n
        self.layer["latency.p90_beyond"] = p90.beyond
        if batch_of is not None:
            self.layer["latency.p90_batches_beyond"] = stats.batches_beyond(
                {k: v * 1e3 for k, v in lat_s.items()}, batch_of, p90.value)


def _isolate(work: str) -> None:
    """Point every scratch location Spark and Python use into ``work``,
    before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # -XX:-UsePerfData: the JVM would otherwise keep its counters in /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _rmdir_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:  # another run's work dir is still there
        pass


def _trace_cost_ms(n_spans: int) -> float:
    """Estimated time the tracer itself added: spans recorded x the
    measured cost of one span in this process."""
    t = Tracer()
    t0 = time.perf_counter()
    for _ in range(2000):
        with t.span("x"):
            pass
    return n_spans * (time.perf_counter() - t0) / 2000 * 1e3


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    try:
        import pyspark  # noqa: F401

        import wing_binlog_go_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        _rmdir_if_empty(os.path.dirname(work))
        return 2

    def _deadline():
        print(f"perfbench: run exceeded {DEADLINE_S} s; aborting", file=sys.stderr)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, _deadline)
    watchdog.daemon = True
    watchdog.start()

    import importlib

    workload = importlib.import_module(f"perfbench.{args.workload}")
    tracer = Tracer() if args.trace else NullTracer()
    ctx = Ctx(args.seed, args.seconds, tracer, work)
    try:
        workload.run(ctx)
    finally:
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        _rmdir_if_empty(os.path.dirname(work))
    watchdog.cancel()

    attempted = max(1, ctx.attempted)
    ctx.layer["fail_ratio"] = ctx.failed / attempted
    if args.trace:
        ctx.layer["trace.spans"] = len(tracer.spans)
        ctx.layer["trace.cost_ms"] = _trace_cost_ms(len(tracer.spans))
        out = os.path.join(ROOT, ".bench_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"trace-{args.workload}-s{args.seed}.jsonl"))
        wanted, values = per_layer_metrics(), ctx.layer
        # the end-to-end figures under tracing, for the tracing overhead
        print(f"perfbench: traced end-to-end: {json.dumps(ctx.e2e)}", file=sys.stderr)
    else:
        wanted, values = END_TO_END, ctx.e2e
    missing = [name for name, _ in wanted if name not in values and not args.trace]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in wanted
    }
    print(json.dumps({
        "correct": not ctx.problems,
        "attempted": attempted,
        "failed": int(ctx.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
