"""Unit tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics

import pytest

from perfbench import stats
from perfbench.gen import ChangeGenerator, Publisher, lww_state

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- percentiles -----------------------------------------------------------

def test_percentile_interpolates_like_statistics_inclusive():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
    for q in (10, 25, 50, 75, 90):
        want = statistics.quantiles(xs, n=100, method="inclusive")[q - 1]
        assert stats.percentile(xs, q).value == pytest.approx(want)


def test_percentile_reports_support_beyond_it():
    xs = list(range(1, 101))  # 1..100
    p90 = stats.percentile(xs, 90)
    assert p90.value == pytest.approx(90.1)
    assert (p90.n, p90.beyond) == (100, 10)
    p50 = stats.percentile(xs, 50)
    assert p50.beyond == 50


def test_percentile_beyond_ignores_ties_at_the_value():
    p = stats.percentile([1.0] * 9 + [2.0], 50)
    assert (p.value, p.beyond) == (1.0, 1)


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 100)


# -- batch completion -> event latency ---------------------------------------

def test_event_latency_is_batch_completion_minus_due_time():
    commits = [
        stats.BatchCommit(batch_id=7, base=0, count=3, done_at=10.0),   # 1..3
        stats.BatchCommit(batch_id=8, base=3, count=2, done_at=12.5),   # 4..5
    ]
    due = {1: 9.0, 3: 9.5, 4: 11.0, 5: 12.0}
    lat, batch_of = stats.event_latencies(commits, due)
    assert lat == pytest.approx({1: 1.0, 3: 0.5, 4: 1.5, 5: 0.5})
    assert batch_of == {1: 7, 3: 7, 4: 8, 5: 8}


def test_event_latency_order_of_commits_does_not_matter():
    a = stats.BatchCommit(1, 0, 2, 5.0)
    b = stats.BatchCommit(2, 2, 2, 6.0)
    due = {1: 0.0, 2: 0.0, 3: 0.0, 4: 0.0}
    assert stats.event_latencies([b, a], due) == stats.event_latencies([a, b], due)


def test_event_latency_names_an_uncovered_event():
    commits = [stats.BatchCommit(1, 0, 2, 5.0)]
    with pytest.raises(KeyError, match="event_index 3"):
        stats.event_latencies(commits, {3: 1.0})


def test_event_latency_rejects_overlapping_batches():
    commits = [stats.BatchCommit(1, 0, 3, 5.0), stats.BatchCommit(2, 2, 2, 6.0)]
    with pytest.raises(ValueError, match="overlap"):
        stats.event_latencies(commits, {1: 0.0})


def test_complete_batches_drop_edge_batches():
    # batch 1 straddles the window start, batch 3 holds the final event
    batch_of = {1: 1, 2: 1, 3: 2, 4: 2, 5: 3}
    due = {1: 0.5, 2: 1.2, 3: 1.5, 4: 1.9, 5: 2.1}
    assert stats.complete_batches(batch_of, due, t_from=1.0, last_index=5) == {2}
    assert stats.complete_batches(batch_of, due, t_from=0.0, last_index=5) == {1, 2}


def test_window_sample_falls_back_to_the_window_without_complete_batches():
    batch_of = {1: 1, 2: 1, 3: 2, 4: 2, 5: 3}
    due = {1: 0.5, 2: 1.2, 3: 1.5, 4: 1.9, 5: 2.1}
    lat = {e: float(e) for e in due}
    assert stats.window_sample(lat, batch_of, due, 1.0, 5) == ({3: 3.0, 4: 4.0}, 1)
    # a window shorter than a batch: only edge batches, so sample by due time
    assert stats.window_sample(lat, batch_of, due, 1.6, 5) == ({4: 4.0, 5: 5.0}, 0)


def test_batches_beyond_counts_distinct_batches():
    lat = {1: 5.0, 2: 6.0, 3: 1.0, 4: 7.0}
    batch_of = {1: 10, 2: 10, 3: 11, 4: 12}
    assert stats.batches_beyond(lat, batch_of, 4.0) == 2


# -- generator -----------------------------------------------------------------

def _stream(seed, key_dist):
    g = ChangeGenerator(seed, ["a", "b", "c"], (0.6, 0.3, 0.1), key_dist=key_dist)
    files = g.make_files(3, 50, action="insert")
    files += g.make_files(6, 200, step_us=200_000)
    return files


@pytest.mark.parametrize("key_dist", ["uniform", "zipf"])
def test_same_seed_gives_byte_identical_input(key_dist):
    a, b = _stream(42, key_dist), _stream(42, key_dist)
    assert [(f.name, f.data) for f in a] == [(f.name, f.data) for f in b]
    c = _stream(43, key_dist)
    assert [f.data for f in a] != [f.data for f in c]


def test_every_change_is_valid_and_carries_its_creation_stamp():
    files = _stream(7, "zipf")
    live: dict[tuple, dict] = {}
    for f in files:
        lines = f.data.decode().splitlines()
        assert len(lines) == len(f.events)
        for line, ev in zip(lines, f.events):
            rec = json.loads(line)
            key = (rec["table"], ev.pk)
            if rec["action"] == "insert":
                assert key not in live
                img = rec["after"]
            elif rec["action"] == "update":
                assert live[key] == rec["before"]
                img = rec["after"]
            else:
                assert key in live
                img = rec["before"]
            assert int(img["due_us"]) == ev.due_us == f.due_us
            assert int(img["id"]) == ev.pk
            if rec["action"] == "delete":
                del live[key]
            else:
                live[key] = img
    want = lww_state([ev for f in files for ev in f.events])
    got: dict[str, dict] = {}
    for (t, pk), row in live.items():
        got.setdefault(t, {})[pk] = row
    assert {t: rows for t, rows in want.items() if rows} == got


def test_zipf_keys_are_skewed():
    g = ChangeGenerator(1, ["t"], (0.0, 1.0, 0.0), key_dist="zipf", zipf_s=0.99)
    g.make_files(1, 10_000, action="insert")
    f = g.make_file(20_000, 0)
    counts: dict[int, int] = {}
    for ev in f.events:
        counts[ev.pk] = counts.get(ev.pk, 0) + 1
    top = sorted(counts.values(), reverse=True)
    assert top[0] > 50 * statistics.median(top)


def test_publish_is_atomic_and_in_order(tmp_path):
    watched, staging = tmp_path / "in", tmp_path / "stage"
    pub = Publisher(str(watched), str(staging))
    files = _stream(3, "uniform")
    for f in files:
        pub.publish(f)
    assert os.listdir(staging) == []
    names = sorted(os.listdir(watched), key=lambda n: os.stat(watched / n).st_mtime_ns)
    assert names == [f.name for f in files]
    assert all((watched / f.name).read_bytes() == f.data for f in files)


# -- the benchmark's declared metrics ----------------------------------------

def test_benchmark_json_declares_what_run_prints():
    from perfbench.run import END_TO_END, per_layer_metrics

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == per_layer_metrics()
