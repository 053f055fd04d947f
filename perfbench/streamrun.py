"""Pieces shared by the two streaming workloads: the batch-commit tracker,
the raw gateway subscriber, the open-loop publisher, the streaming
listener of the traced run and the Spark status reader."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request

from perfbench import stats
from perfbench.gen import ChangeFile, Publisher
from perfbench.stats import BatchCommit


class CommitTracker:
    """Wraps a pipeline's last route. When the route returns for a batch it
    records the batch's event_index range, read from the pipeline's index
    checkpoint (``event_index.json``: batch_id -> base, and the next free
    index), and the time: the moment the batch's output became visible."""

    def __init__(self, checkpoint_dir: str):
        self.path = os.path.join(checkpoint_dir, "event_index.json")
        self.commits: list[BatchCommit] = []
        self.high = 0
        self._cv = threading.Condition()

    def wrap(self, writer):
        def write(env, batch_id: int) -> None:
            writer(env, batch_id)
            done = time.monotonic()
            with open(self.path) as f:
                state = json.load(f)
            base = state["batches"][str(batch_id)]
            commit = BatchCommit(batch_id, base, state["next"] - base, done)
            with self._cv:
                self.commits.append(commit)
                self.high = max(self.high, base + commit.count)
                self._cv.notify_all()

        return write

    def wait_for(self, event_index: int, timeout: float) -> bool:
        with self._cv:
            return self._cv.wait_for(lambda: self.high >= event_index, timeout)

    def commits_after(self, t: float) -> list[BatchCommit]:
        with self._cv:
            return [c for c in self.commits if c.done_at > t]


class RawSubscriber:
    """A gateway client that only records what arrives.

    The handshake goes through the package's ``SubscribeClient``; after
    it, a thread stores (receive time, bytes) per ``recv`` and parses only
    the last event of each chunk, to know how far delivery has got.
    Frames are decoded after the run, so the client takes as little of
    the interpreter as possible while the pipeline runs in-process.
    """

    def __init__(self, address: tuple[str, int], topic: str):
        from wing_binlog_go_spark.streaming.subscribe import SubscribeClient

        self.client = SubscribeClient(address[0], address[1])
        self.client.subscribe(topic)
        if self.client._pending_events or self.client._frames:
            raise RuntimeError("events arrived before the subscription ack")
        self.chunks: list[tuple[float, bytes]] = []
        self.high = 0
        self._cv = threading.Condition()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="subscriber")
        self._thread.start()

    def _loop(self) -> None:
        from wing_binlog_go_spark.streaming.subscribe import CMD_EVENT, FrameParser

        parser = FrameParser()
        sock = self.client.sock
        sock.settimeout(0.2)
        while not self._stop.is_set():
            try:
                data = sock.recv(1 << 20)
            except TimeoutError:
                continue
            except OSError:
                break
            if not data:
                break
            t = time.monotonic()
            self.chunks.append((t, data))
            last = None
            for cmd, payload in parser.feed(data):
                if cmd == CMD_EVENT and payload is not None:
                    last = payload
            if last is not None:
                ei = json.loads(last)["event_index"]
                with self._cv:
                    self.high = max(self.high, ei)
                    self._cv.notify_all()

    def wait_for(self, event_index: int, timeout: float) -> bool:
        with self._cv:
            return self._cv.wait_for(lambda: self.high >= event_index, timeout)

    def events(self) -> list[tuple[float, dict]]:
        """(receive time, decoded envelope) for every event frame."""
        from wing_binlog_go_spark.streaming.subscribe import CMD_EVENT, FrameParser

        parser = FrameParser()
        out = []
        for t, data in self.chunks:
            for cmd, payload in parser.feed(data):
                if cmd == CMD_EVENT and payload is not None:
                    out.append((t, json.loads(payload)))
        return out

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        if self._thread.is_alive():
            raise RuntimeError("subscriber thread did not stop")
        self.client.close()


class OpenLoop:
    """Publishes files at their due times on a thread, regardless of how
    far the pipeline has got, and records how late each publish ran."""

    def __init__(self, publisher: Publisher, files: list[ChangeFile], t0: float):
        self.publisher = publisher
        self.files = files
        self.t0 = t0
        self.late_ms: list[float] = []
        self._thread = threading.Thread(target=self._run, name="open-loop")
        self._error: BaseException | None = None

    def _run(self) -> None:
        try:
            for f in self.files:
                due = self.t0 + f.due_us / 1e6
                delay = due - time.monotonic()
                if delay > 0:
                    time.sleep(delay)
                self.late_ms.append((time.monotonic() - due) * 1e3)
                self.publisher.publish(f)
        except BaseException as exc:  # re-raised in join()
            self._error = exc

    def start(self) -> None:
        self._thread.start()

    def join(self, timeout: float) -> None:
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise RuntimeError("open-loop publisher did not finish")
        if self._error is not None:
            raise self._error


def publish_all(publisher: Publisher, files: list[ChangeFile]) -> None:
    for f in files:
        publisher.publish(f)


class ProgressLog:
    """Streaming listener of the traced run: per-batch ``durationMs``
    (latestOffset, getBatch, walCommit, commitOffsets, ...) and the wall
    time each progress event arrived."""

    def __new__(cls):
        from pyspark.sql.streaming import StreamingQueryListener

        class _Listener(StreamingQueryListener):
            def __init__(self):
                self.batches: list[tuple[float, int, dict]] = []

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                self.batches.append(
                    (time.monotonic(), p.batchId, dict(p.durationMs or {}))
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()


def wait_delivered(waiter, event_index: int, timeout: float, query) -> None:
    """Wait until ``waiter`` (a CommitTracker or RawSubscriber) has seen
    ``event_index``; raise with the query's error if it does not."""
    if not waiter.wait_for(event_index, timeout):
        raise RuntimeError(
            f"event {event_index} not delivered in {timeout} s: {query.exception()}")


def stream_jobs(spark, tracer) -> int:
    """Spark jobs run so far outside the reader's job group (traced runs)."""
    if not tracer.enabled:
        return 0
    return sum(1 for j in spark_rest(spark, "jobs")
               if j.get("jobGroup") != "perfbench:reader")


def listener_layers(ctx, listener, t0: float, t1: float, n_batches: int,
                    n_jobs: int) -> None:
    """Per-batch medians of the listener's durations over [t0, t1]."""
    window = [d for t, _, d in listener.batches if t0 < t <= t1 + 1.0]

    def med(xs):
        return stats.median(xs) if xs else 0.0

    ctx.layer["source.latest_offset_ms"] = med([d.get("latestOffset", 0) for d in window])
    ctx.layer["source.get_batch_ms"] = med([d.get("getBatch", 0) for d in window])
    ctx.layer["checkpoint.commit_ms"] = med(
        [d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in window])
    ctx.layer["spark.jobs_per_batch"] = n_jobs / n_batches if n_batches else 0.0
    for key, span in [("envelope.shape_ms", "envelope.shape"),
                      ("pipeline.index_state_ms", "pipeline.index_state")]:
        ctx.layer[key] = med(ctx.tracer.durations_ms(span, t0, t1))


def spark_rest(spark, path: str):
    """GET from the application's status REST API on localhost."""
    base = spark.sparkContext.uiWebUrl
    if not base:
        raise RuntimeError("Spark UI is disabled; the traced run needs it")
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)
