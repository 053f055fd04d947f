"""replica_upsert: the reference's headline use case, MySQL -> queryable
replica, with point lookups running beside the upserts.

One ``run_pipeline`` with a single ``typed_replica_writer`` route over 4
registry tables with integer primary keys. Setup preloads
``PRELOAD_FILES`` x ``PRELOAD_EVENTS`` inserts through the pipeline, so
the replica holds >= 50x the events of one open-loop micro-batch
(reported as ``replica.rows_over_batch_events``). The stream is
update-heavy (insert/update/delete 15/70/15) with Zipf(``ZIPF_S``)
skewed keys, so last-writer-wins collapses part of each batch; the
measured share is reported as ``replica.lww_collapse_share``.

Loop and load: an open loop publishes one file every ``STEP_S`` at
``RATE`` events/s, first for ``LEAD_IN_S`` untimed, then for
``OPEN_SHARE`` x --seconds timed; then a fixed backlog of
``DRAIN_FILES`` x ``DRAIN_EVENTS`` events is published at once and
drained. Micro-batches run back to back and take every waiting file (at
most ``MAX_FILES``, which the open loop never reaches). One closed-loop
reader thread looks up random keys through ``read_typed_replica`` for the
whole timed window, pausing ``READ_THINK_S`` between lookups. Each lookup
holds a lock that the replica's directory swaps also take, as
``maintenance.swap_dir`` asks of readers beside swaps: a plain-FS swap is
not snapshot-isolated, so an unserialized lookup can find its listed files
gone. The time swaps wait for that lock is reported as
``replica.swap_lock_wait_ms``. Latency is
creation (due time) -> the replica commit of the batch that applies the
event, over the complete batches of the timed open loop; throughput is
backlog events / time to commit the backlog. The gateway, sinks and
``plans/`` are not used.
"""

from __future__ import annotations

import os
import random
import sys
import threading
import time
from decimal import Decimal

from perfbench import stats
from perfbench.gen import DB, ChangeGenerator, Publisher, lww_state
from perfbench.streamrun import (
    CommitTracker,
    OpenLoop,
    ProgressLog,
    listener_layers,
    publish_all,
    stream_jobs,
    wait_delivered,
)

TABLES = ["accounts", "balances", "invoices", "inventory"]
COLUMNS = [("id", "int(11)"), ("qty", "int(11)"), ("price", "decimal(10,2)"),
           ("note", "varchar(120)"), ("due_us", "bigint(20)")]
MIX = (0.15, 0.70, 0.15)  # insert, update, delete
ZIPF_S = 0.99

PRELOAD_FILES, PRELOAD_EVENTS = 4, 6_000
RATE = 80  # events/s in the open loop
STEP_S = 0.25
LEAD_IN_S = 9.0  # open loop runs this long, untimed, before the timed window
OPEN_SHARE = 1.5
DRAIN_FILES, DRAIN_EVENTS = 40, 100
MAX_FILES = 40
READ_THINK_S = 0.25  # the reader pauses between lookups
WAIT_S = 60.0


def registry():
    from wing_binlog_go_spark.functions.schema_registry import (
        ColumnSpec,
        SchemaRegistry,
        TableSpec,
    )

    reg = SchemaRegistry()
    for t in TABLES:
        reg.register(TableSpec(DB, t, [
            ColumnSpec(name, raw, is_pk=(name == "id")) for name, raw in COLUMNS]))
    return reg


def run(ctx) -> None:
    from wing_binlog_go_spark.streaming import maintenance, pipeline, sinks
    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline

    tr = ctx.tracer
    spark = ctx.start_session()
    with ctx.phase("fixtures.prepare_s"):
        gen = ChangeGenerator(ctx.seed, TABLES, MIX, key_dist="zipf", zipf_s=ZIPF_S)
        preload = gen.make_files(PRELOAD_FILES, PRELOAD_EVENTS, action="insert")
        n_open = round((LEAD_IN_S + ctx.seconds * OPEN_SHARE) / STEP_S)
        open_files = gen.make_files(n_open, round(RATE * STEP_S), int(STEP_S * 1e6))
        drain = gen.make_files(DRAIN_FILES, DRAIN_EVENTS)
        all_files = preload + open_files + drain
        events = [ev for f in all_files for ev in f.events]
        work = ctx.work
        changelog, base = os.path.join(work, "changelog"), os.path.join(work, "replica")
        ckpt = os.path.join(work, "checkpoint")
        pub = Publisher(changelog, os.path.join(work, "staging"))
        reg = registry()
    ctx.freeze_fixtures()

    tracker = CommitTracker(ckpt)
    swap_lock = threading.Lock()
    swap_waits_ms: list[float] = []
    plain_swap = maintenance.swap_dir

    def locked_swap(new_dir, path):
        t = time.monotonic()
        with swap_lock:
            swap_waits_ms.append((time.monotonic() - t) * 1e3)
            plain_swap(new_dir, path)

    # installed before the tracer's wrapper and restored after it, so the
    # traced swap span includes the wait for the lock
    maintenance.swap_dir = locked_swap
    listener = None
    written: list[tuple[float, int]] = []
    if tr.enabled:
        listener = ProgressLog()
        spark.streams.addListener(listener)
        tr.wrap(pipeline, "to_envelopes_counted", "envelope.shape")
        tr.wrap(pipeline.IndexState, "base_for", "pipeline.index_state")
        tr.wrap(pipeline, "upsert_parquet", "replica.upsert")
        tr.wrap(maintenance, "swap_dir", "replica.swap",
                before=lambda new_dir, path: written.append((time.monotonic(), _du(new_dir))))
    fulls = [f"{DB}.{t}" for t in TABLES]
    writer = sinks.typed_replica_writer(reg, fulls, base)
    routes = [Route("replica", tracker.wrap(writer))]
    reader = _Reader(spark, reg, fulls, base, ctx.seed, tr, swap_lock)
    query = None
    try:
        with ctx.phase("warmup_s"):
            query = run_pipeline(spark, changelog, routes, ckpt, available_now=False,
                                 max_files_per_trigger=MAX_FILES)
            publish_all(pub, preload)
            n = sum(len(f.events) for f in preload)
            wait_delivered(tracker, n, WAIT_S, query)
            t0 = time.monotonic() + 0.05
            loop = OpenLoop(pub, open_files, t0)
            loop.start()
            time.sleep(max(0.0, t0 + LEAD_IN_S - time.monotonic()))
        ctx.timed_start()
        t_open = t0 + LEAD_IN_S
        jobs0 = stream_jobs(spark, tr)
        reader.start()
        loop.join(ctx.seconds * OPEN_SHARE + WAIT_S)
        n += sum(len(f.events) for f in open_files)
        wait_delivered(tracker, n, WAIT_S, query)
        open_end = time.monotonic()
        jobs1 = stream_jobs(spark, tr)
        open_commits = tracker.commits_after(t_open)

        t_drain = time.monotonic()
        publish_all(pub, drain)
        n += sum(len(f.events) for f in drain)
        wait_delivered(tracker, n, WAIT_S, query)
        drain_end = max(c.done_at for c in tracker.commits)
        reader.stop()
        ctx.timed_end()
        query.stop()
        query = None
    finally:
        reader.stop()
        if query is not None:
            query.stop()
        tr.restore()
        maintenance.swap_dir = plain_swap
        if listener is not None:
            spark.streams.removeListener(listener)

    # -- results and checks, outside the timed window ----------------------
    due_at = {ev.seq + 1: t0 + ev.due_us / 1e6 for f in open_files for ev in f.events}
    lat, batch_of = stats.event_latencies(tracker.commits, due_at)
    sample, n_complete = stats.window_sample(lat, batch_of, due_at, t_open, max(due_at))
    ctx.report_latency(sample, batch_of)
    ctx.layer["stream.batches_sampled"] = n_complete
    n_drain = sum(len(f.events) for f in drain)
    ctx.e2e["throughput_per_s"] = n_drain / (drain_end - t_drain)

    failed = _check(ctx, spark, reg, base, lww_state(events))
    ctx.attempted = len(events) + len(reader.lat_ms) + reader.failures
    ctx.failed = failed + reader.failures
    ctx.layer["replica.lww_collapse_share"] = _collapse_share(open_commits, events)
    ctx.layer["replica.rows_over_batch_events"] = (
        PRELOAD_FILES * PRELOAD_EVENTS / stats.median([c.count for c in open_commits]))
    ctx.layer["loadgen.late_ms_p90"] = stats.percentile(loop.late_ms, 90).value
    ctx.layer["stream.batches_open_loop"] = len(open_commits)
    if reader.lat_ms:
        p50, p90 = stats.percentile(reader.lat_ms, 50), stats.percentile(reader.lat_ms, 90)
        ctx.layer["replica.read_p50_ms"] = p50.value
        ctx.layer["replica.read_p90_ms"] = p90.value
        ctx.layer["replica.read_p90_beyond"] = p90.beyond
    ctx.layer["replica.swap_lock_wait_ms"] = sum(swap_waits_ms)
    for cause in reader.causes:
        print(f"perfbench: lookup raised: {cause}", file=sys.stderr)
    if tr.enabled:
        _layer_from_trace(ctx, listener, t_open, open_end, len(open_commits), jobs1 - jobs0,
                          written, _change_bytes(open_files, drain), base)


class _Reader:
    """One closed-loop thread of point lookups through ``read_typed_replica``."""

    def __init__(self, spark, reg, fulls, base, seed, tr, swap_lock):
        self.spark, self.reg, self.fulls, self.base, self.tr = spark, reg, fulls, base, tr
        self.swap_lock = swap_lock
        self.rng = random.Random(seed ^ 0x5EED)
        self.lat_ms: list[float] = []
        self.failures = 0
        self.causes: list[str] = []  # lookups that failed
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="reader")

    def _run(self) -> None:
        from pyspark.sql import functions as F

        from wing_binlog_go_spark.streaming.sinks import read_typed_replica

        self.spark.sparkContext.setJobGroup("perfbench:reader", "point lookups")
        i = 0
        while not self._stop.is_set():
            full = self.fulls[i % len(self.fulls)]
            key = self.rng.randrange(1, PRELOAD_FILES * PRELOAD_EVENTS // len(self.fulls))
            i += 1
            t = time.monotonic()
            try:
                with self.swap_lock, self.tr.span("replica.read"):
                    read_typed_replica(self.spark, self.reg, full, self.base).filter(
                        F.col("id") == key).collect()
            except Exception as exc:  # a lookup that raises has failed
                self.failures += 1
                self.causes.append(f"{type(exc).__name__}: {str(exc)[:300]}")
            else:
                self.lat_ms.append((time.monotonic() - t) * 1e3)
            self._stop.wait(READ_THINK_S)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.ident is not None:
            self._thread.join(timeout=60)
            if self._thread.is_alive():
                raise RuntimeError("reader thread did not stop")


def _check(ctx, spark, reg, base, want: dict) -> int:
    """Final replica == the LWW state replayed in plain Python. Returns
    the number of differing rows."""
    from wing_binlog_go_spark.streaming.sinks import read_typed_replica

    failed = 0
    for t in TABLES:
        got = {
            r.id: (r.qty, r.price, r.note, r.due_us)
            for r in read_typed_replica(spark, reg, f"{DB}.{t}", base).collect()
        }
        exp = {
            pk: (int(r["qty"]), Decimal(r["price"]), r["note"], int(r["due_us"]))
            for pk, r in want.get(t, {}).items()
        }
        diff = sum(1 for k in got.keys() | exp.keys() if got.get(k) != exp.get(k))
        if diff:
            ctx.fail(f"replica {t}: {diff} rows differ from the LWW reference")
            failed += diff
    return failed


def _collapse_share(commits, events) -> float:
    """Share of a batch's events that LWW folds into another event on the
    same key of the same batch, over the given batches."""
    total = distinct = 0
    for c in commits:
        evs = events[c.base: c.base + c.count]
        total += len(evs)
        distinct += len({(e.table, e.pk) for e in evs})
    return 1 - distinct / total if total else 0.0


def _change_bytes(open_files, drain) -> int:
    """Changelog bytes published from the timed window's start on."""
    return sum(len(f.data) for f in open_files if f.due_us >= LEAD_IN_S * 1e6) + sum(
        len(f.data) for f in drain)


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _layer_from_trace(ctx, listener, t0, t1, n_batches, n_jobs, written,
                      change_bytes, base) -> None:
    tr = ctx.tracer
    listener_layers(ctx, listener, t0, t1, n_batches, n_jobs)
    for key, span in [("replica.upsert_ms", "replica.upsert"),
                      ("replica.swap_ms", "replica.swap")]:
        ms = tr.durations_ms(span, t0, t1)
        ctx.layer[key] = stats.median(ms) if ms else 0.0
    ctx.layer["replica.bytes_written_per_change_byte"] = (
        sum(b for t, b in written if t > t0) / change_bytes)
    ctx.layer["replica.bytes"] = _du(base)
