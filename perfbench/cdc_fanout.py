"""cdc_fanout: the reference's core path, binlog row -> envelope ->
filtered fan-out, under an open-loop change stream.

Loop and load: setup drains ``COLD`` once (the session's first
micro-batches), then an open loop publishes one changelog file every
``STEP_S`` at ``RATE`` events/s, for ``LEAD_IN_S`` untimed and then
``OPEN_SHARE`` x --seconds timed; then a fixed backlog of
``DRAIN_FILES`` x ``DRAIN_EVENTS`` events is published at once and
drained. Flush policy: each file is one atomic publish; micro-batches run
back to back (processing-time trigger 0), each taking every waiting file
up to ``MAX_FILES``.

Routes (one ``run_pipeline`` over 8 tables, ``shop.audit_log`` dropped by
the exclude regex): a parquet archive of every event, a JSONL route for
two tables, and the TCP gateway, where one subscriber takes four tables.
Latency is creation (the event's due time) -> the subscriber receives it,
over the complete batches of the timed open loop; throughput is backlog
events / time to deliver the backlog's last subscribed event. Bypasses
the upsert materializer and ``plans/``.
"""

from __future__ import annotations

import logging
import os
import time

from perfbench import stats
from perfbench.gen import DB, ChangeGenerator, Publisher
from perfbench.streamrun import (
    CommitTracker,
    OpenLoop,
    ProgressLog,
    RawSubscriber,
    listener_layers,
    publish_all,
    stream_jobs,
    wait_delivered,
)

TABLES = ["orders", "order_items", "customers", "products",
          "payments", "shipments", "reviews", "audit_log"]
INCLUDE = [r"^shop\."]
EXCLUDE = [r"^shop\.audit_log$"]
JSONL_FILTER = [r"^shop\.(orders|payments)$"]
SUB_TOPIC = r"^shop\.(orders|order_items|customers|products)$"
SUBSCRIBED = {f"{DB}.{t}" for t in ("orders", "order_items", "customers", "products")}
MIX = (0.6, 0.3, 0.1)

RATE = 2000  # events/s in the open loop
STEP_S = 0.2  # one file per step
LEAD_IN_S = 4.0  # open loop runs this long, untimed, before the timed window
OPEN_SHARE = 0.75  # share of --seconds the timed open loop runs
DRAIN_FILES, DRAIN_EVENTS = 40, 1000
COLD = (5, 1000)  # (files, events/file) drained once, untimed, before the open loop
MAX_FILES = 20
WAIT_S = 60.0


def run(ctx) -> None:
    from wing_binlog_go_spark.streaming import pipeline, sinks, subscribe
    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline

    tr = ctx.tracer
    spark = ctx.start_session()

    with ctx.phase("fixtures.prepare_s"):
        gen = ChangeGenerator(ctx.seed, TABLES, MIX, key_dist="uniform")
        cold = gen.make_files(*COLD)
        n_open = round((LEAD_IN_S + ctx.seconds * OPEN_SHARE) / STEP_S)
        open_files = gen.make_files(n_open, round(RATE * STEP_S), int(STEP_S * 1e6))
        drain = gen.make_files(DRAIN_FILES, DRAIN_EVENTS)
        expected = _expected({"cold": cold, "open": open_files, "drain": drain})
        work = ctx.work
        changelog, archive = os.path.join(work, "changelog"), os.path.join(work, "archive")
        jsonl_dir, ckpt = os.path.join(work, "jsonl"), os.path.join(work, "checkpoint")
        pub = Publisher(changelog, os.path.join(work, "staging"))
    ctx.freeze_fixtures()

    evictions = _EvictionCounter()
    logging.getLogger(subscribe.__name__).addHandler(evictions)
    server = subscribe.SubscribeServer()
    sub = RawSubscriber(server.address, SUB_TOPIC)
    tracker = CommitTracker(ckpt)
    listener = None
    if tr.enabled:
        listener = ProgressLog()
        spark.streams.addListener(listener)
        tr.wrap(pipeline, "to_envelopes_counted", "envelope.shape")
        tr.wrap(pipeline.IndexState, "base_for", "pipeline.index_state")
        tr.wrap_counted(server, "send_all", "subscribe.events_sent")
    routes = [
        Route("archive", _spanned(tr, "sinks.parquet_write", sinks.parquet_route_writer(archive))),
        Route("jsonl", _spanned(tr, "sinks.jsonl_write", sinks.jsonl_route_writer(jsonl_dir)), JSONL_FILTER),
        Route("gateway", tracker.wrap(_spanned(
            tr, "subscribe.route_write", subscribe.subscribe_route_writer(server)))),
    ]
    query = None
    try:
        with ctx.phase("warmup_s"):
            query = run_pipeline(
                spark, changelog, routes, ckpt, include=INCLUDE, exclude=EXCLUDE,
                available_now=False, max_files_per_trigger=MAX_FILES,
            )
            publish_all(pub, cold)
            wait_delivered(sub, expected["last_sub"][cold[-1].name], WAIT_S, query)
            t0 = time.monotonic() + 0.05
            loop = OpenLoop(pub, open_files, t0)
            loop.start()
            time.sleep(max(0.0, t0 + LEAD_IN_S - time.monotonic()))
        ctx.timed_start()
        t_open = t0 + LEAD_IN_S
        jobs0 = stream_jobs(spark, tr)
        loop.join(ctx.seconds * OPEN_SHARE + WAIT_S)
        wait_delivered(sub, expected["last_sub"][open_files[-1].name], WAIT_S, query)
        open_end = time.monotonic()
        jobs1 = stream_jobs(spark, tr)
        open_batches = len(tracker.commits_after(t_open))

        t_drain = time.monotonic()
        publish_all(pub, drain)
        wait_delivered(sub, expected["last_sub"][drain[-1].name], WAIT_S, query)
        ctx.timed_end()
        query.stop()
        query = None
    finally:
        if query is not None:
            query.stop()
        tr.restore()
        sub.close()
        server.close()
        logging.getLogger(subscribe.__name__).removeHandler(evictions)
        if listener is not None:
            spark.streams.removeListener(listener)

    # -- results and checks, outside the timed window ----------------------
    received = sub.events()
    due_of = {ei: t0 + due for ei, due in expected["open_due"].items()}
    recv_at = {env["event_index"]: t for t, env in received}
    failures = _check(ctx, spark, expected, received, archive, jsonl_dir)
    ctx.attempted = expected["n_kept"] + len(expected["sub"])
    ctx.failed = failures
    _, batch_of = stats.event_latencies(tracker.commits, due_of)
    lat = {ei: recv_at[ei] - due for ei, due in due_of.items() if ei in recv_at}
    sample, n_complete = stats.window_sample(lat, batch_of, due_of, t_open, max(due_of))
    if not sample:
        raise RuntimeError("no timed open-loop event reached the subscriber")
    ctx.report_latency(sample, batch_of)
    ctx.layer["stream.batches_sampled"] = n_complete
    last = expected["last_sub"][drain[-1].name]
    ctx.e2e["throughput_per_s"] = sum(len(f.events) for f in drain) / (recv_at[last] - t_drain)
    ctx.layer["loadgen.late_ms_p90"] = stats.percentile(loop.late_ms, 90).value
    ctx.layer["stream.batches_open_loop"] = open_batches
    ctx.layer["subscribe.evictions"] = evictions.n
    if tr.enabled:
        ctx.layer["subscribe.events_sent"] = tr.counts.get("subscribe.events_sent", 0)
        listener_layers(ctx, listener, t_open, open_end, open_batches, jobs1 - jobs0)
        for key, span in [("sinks.parquet_write_ms", "sinks.parquet_write"),
                          ("sinks.jsonl_write_ms", "sinks.jsonl_write"),
                          ("subscribe.route_write_ms", "subscribe.route_write")]:
            ms = tr.durations_ms(span, t_open, open_end)
            ctx.layer[key] = stats.median(ms) if ms else 0.0


def _expected(phases: dict) -> dict:
    """event_index of every kept event (dense, 1-based, in binlog order),
    the subscriber's expected stream, and the last subscribed
    event_index of every file."""
    ei = 0
    sub, last_sub, open_due = [], {}, {}
    n_jsonl = 0
    for phase, files in phases.items():
        for f in files:
            for ev in f.events:
                full = f"{DB}.{ev.table}"
                if full == f"{DB}.audit_log":
                    continue
                ei += 1
                if full in SUBSCRIBED:
                    sub.append((ei, full, ev.action, ev.pk, ev.due_us))
                    if phase == "open":
                        open_due[ei] = ev.due_us / 1e6
                if ev.table in ("orders", "payments"):
                    n_jsonl += 1
            last_sub[f.name] = sub[-1][0]
    return {"n_kept": ei, "sub": sub, "last_sub": last_sub,
            "open_due": open_due, "n_jsonl": n_jsonl}


def _check(ctx, spark, expected, received, archive, jsonl_dir) -> int:
    """Subscriber got exactly the filtered events, once each, in
    event_index order, carrying their creation stamps; the archive and
    JSONL routes hold the generated counts. Returns failed events."""
    from pyspark.sql import functions as F

    got = []
    for _, env in received:
        img = env["event"]["data"]
        if env["event_type"] == "update":
            img = img["new_data"]
        got.append((env["event_index"], f"{env['database']}.{env['table']}",
                    env["event_type"], int(img["id"]), int(img["due_us"])))
    want = expected["sub"]
    failed = sum(1 for a, b in zip(got, want) if a != b) + abs(len(got) - len(want))
    if failed:
        ctx.fail(f"subscriber: {failed} events lost, duplicated, misordered or misrouted")
    row = (
        spark.read.parquet(archive)
        .agg(F.count("*").alias("n"), F.countDistinct("event_index").alias("d"),
             F.min("event_index").alias("lo"), F.max("event_index").alias("hi"))
        .first()
    )
    n = expected["n_kept"]
    if (row.n, row.d, row.lo, row.hi) != (n, n, 1, n):
        ctx.fail(f"archive holds {tuple(row)}, want ({n}, {n}, 1, {n})")
        failed += abs(row.n - n) or 1
    n_jsonl = 0
    for name in os.listdir(jsonl_dir):
        with open(os.path.join(jsonl_dir, name)) as f:
            n_jsonl += sum(1 for _ in f)
    if n_jsonl != expected["n_jsonl"]:
        ctx.fail(f"jsonl route holds {n_jsonl} events, want {expected['n_jsonl']}")
        failed += abs(n_jsonl - expected["n_jsonl"])
    return failed


def _spanned(tr, name, writer):
    if not tr.enabled:
        return writer

    def write(env, batch_id):
        with tr.span(name):
            writer(env, batch_id)

    return write


class _EvictionCounter(logging.Handler):
    """Counts the gateway's 'queue full; evicting' warnings."""

    def __init__(self):
        super().__init__(logging.WARNING)
        self.n = 0

    def emit(self, record):
        if "evicting" in record.getMessage():
            self.n += 1
