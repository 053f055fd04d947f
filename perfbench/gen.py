"""Deterministic, seeded change-stream generator and atomic file publisher.

The generator emits binlog-shaped change records (the package's
CHANGE_SCHEMA, one JSON object per line) for a set of tables. The same
seed and the same call sequence give byte-identical files. Each event
carries its creation stamp in its row image as ``due_us``: the
microsecond offset, from the start of its phase, at which the open-loop
publisher is due to release it. Offsets, not wall-clock times, keep the
bytes independent of when the benchmark runs.

Row images: insert and update carry the new row; a delete's before-image
carries the deleted row with ``due_us`` set to the delete's own stamp, so
the image the envelope exposes (``event.data`` / ``event.new_data``)
always holds the stamp of the event itself.
"""

from __future__ import annotations

import bisect
import json
import os
import random
import time
from collections import deque
from dataclasses import dataclass

DB = "shop"
SERVER_UUID = "5f0c3a2e-1b7d-11ef-9c41-0242ac120002"
_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu"
).split()


@dataclass(frozen=True)
class Event:
    """One generated change, in generation (= binlog) order."""

    seq: int  # position in the whole generated stream, 0-based
    table: str
    action: str  # insert | update | delete
    pk: int
    due_us: int
    row: dict  # the image the envelope exposes; for a delete, the removed row


@dataclass(frozen=True)
class ChangeFile:
    """One atomically published changelog file."""

    name: str
    data: bytes
    due_us: int
    events: tuple[Event, ...]


class ChangeGenerator:
    """Seeded change stream over ``tables`` of database ``shop``.

    ``mix`` gives the insert/update/delete shares. ``key_dist`` picks the
    key an update or delete touches: "uniform" over live keys, or "zipf"
    (exponent ``zipf_s``) over key rank, walking forward to the next
    live key. Inserts re-insert the longest-deleted key when one exists,
    else take a fresh key, so every generated change is valid against
    the table state it follows.
    """

    def __init__(
        self,
        seed: int,
        tables: list[str],
        mix: tuple[float, float, float],
        key_dist: str = "uniform",
        zipf_s: float = 1.1,
        note_len: int = 100,
    ):
        if key_dist not in ("uniform", "zipf"):
            raise ValueError(f"unknown key_dist {key_dist!r}")
        self.rng = random.Random(seed)
        self.tables = list(tables)
        self.mix = mix
        self.key_dist = key_dist
        self.zipf_s = zipf_s
        self.note_len = note_len
        self._text = " ".join(self.rng.choice(_WORDS) for _ in range(12_000))
        self.rows: dict[str, dict[int, dict]] = {t: {} for t in tables}
        self._live: dict[str, list[int]] = {t: [] for t in tables}
        self._live_pos: dict[str, dict[int, int]] = {t: {} for t in tables}
        self._deleted: dict[str, deque[int]] = {t: deque() for t in tables}
        self._next_key: dict[str, int] = {t: 1 for t in tables}
        self._zipf_cdf: list[float] = []
        self._seq = 0
        self._file_seq = 0
        self._txn = 1

    # -- key bookkeeping -------------------------------------------------
    def _add_live(self, table: str, pk: int) -> None:
        self._live_pos[table][pk] = len(self._live[table])
        self._live[table].append(pk)

    def _drop_live(self, table: str, pk: int) -> None:
        live, pos = self._live[table], self._live_pos[table]
        i = pos.pop(pk)
        last = live.pop()
        if last != pk:
            live[i] = last
            pos[last] = i

    def _pick_existing(self, table: str) -> int:
        live = self._live[table]
        if self.key_dist == "uniform":
            return live[self.rng.randrange(len(live))]
        n = self._next_key[table] - 1
        if len(self._zipf_cdf) < n:
            cdf, acc = self._zipf_cdf, self._zipf_cdf[-1] if self._zipf_cdf else 0.0
            for r in range(len(cdf) + 1, n + 1):
                acc += 1.0 / r**self.zipf_s
                cdf.append(acc)
        cdf = self._zipf_cdf
        key = bisect.bisect_left(cdf, self.rng.random() * cdf[n - 1], 0, n) + 1
        rows = self.rows[table]
        while key not in rows:
            key = key % n + 1
        return key

    def _new_row(self, pk: int, due_us: int) -> dict:
        rng = self.rng
        cents = rng.randrange(100, 1_000_000)
        off = rng.randrange(len(self._text) - self.note_len)
        return {
            "id": str(pk),
            "qty": str(rng.randrange(1, 500)),
            "price": f"{cents // 100}.{cents % 100:02d}",
            "note": self._text[off:off + self.note_len],
            "due_us": str(due_us),
        }

    # -- generation ------------------------------------------------------
    def _event(self, due_us: int, action: str | None = None,
               table: str | None = None) -> tuple[Event, dict | None]:
        rng = self.rng
        if table is None:
            table = self.tables[rng.randrange(len(self.tables))]
        rows = self.rows[table]
        if action is None:
            u = rng.random()
            ins, upd, _ = self.mix
            action = "insert" if u < ins else "update" if u < ins + upd else "delete"
            if not rows:
                action = "insert"
        before = None
        if action == "insert":
            deleted = self._deleted[table]
            if deleted:
                pk = deleted.popleft()
            else:
                pk = self._next_key[table]
                self._next_key[table] += 1
            row = self._new_row(pk, due_us)
            rows[pk] = row
            self._add_live(table, pk)
        else:
            pk = self._pick_existing(table)
            before = rows[pk]
            if action == "update":
                row = self._new_row(pk, due_us)
                rows[pk] = row
            else:
                row = dict(before, due_us=str(due_us))
                before = row
                del rows[pk]
                self._drop_live(table, pk)
                self._deleted[table].append(pk)
        ev = Event(self._seq, table, action, pk, due_us, row)
        self._seq += 1
        return ev, before

    def make_file(
        self, n_events: int, due_us: int, action: str | None = None
    ) -> ChangeFile:
        """Generate the next ``n_events`` changes as one changelog file
        due at ``due_us``. ``action`` forces every change to one kind
        (the replica preload uses "insert")."""
        binlog = f"mysql-bin.{self._file_seq + 1:06d}"
        ts = f"2026-01-01T{self._file_seq // 3600 % 24:02d}:{self._file_seq // 60 % 60:02d}:{self._file_seq % 60:02d}.000Z"
        lines, events = [], []
        for i in range(n_events):
            ev, before = self._event(due_us, action)
            commit = i % 10 == 9 or i == n_events - 1
            rec = {
                "binlog_file": binlog,
                "binlog_pos": 4 + 256 * i,
                "xid_commit": commit,
                "database": DB,
                "table": ev.table,
                "action": ev.action,
                "row_no": 0,
                "before": before,
                "after": ev.row if ev.action != "delete" else None,
                "ddl_query": None,
                "ts_header": ts,
                "gtid": f"{SERVER_UUID}:{self._txn}",
            }
            if commit:
                self._txn += 1
            lines.append(json.dumps(rec, separators=(",", ":")))
            events.append(ev)
        self._file_seq += 1
        data = ("\n".join(lines) + "\n").encode()
        return ChangeFile(f"{self._file_seq:06d}.jsonl", data, due_us, tuple(events))

    def make_files(
        self, n_files: int, events_per_file: int, step_us: int = 0,
        start_us: int = 0, action: str | None = None,
    ) -> list[ChangeFile]:
        """``n_files`` files due every ``step_us`` from ``start_us``."""
        return [
            self.make_file(events_per_file, start_us + i * step_us, action)
            for i in range(n_files)
        ]


def lww_state(events: list[Event]) -> dict[str, dict[int, dict]]:
    """The replica a last-writer-wins apply of ``events`` must leave:
    {table: {pk: row}}, replayed in stream order."""
    state: dict[str, dict[int, dict]] = {}
    for ev in events:
        rows = state.setdefault(ev.table, {})
        if ev.action == "delete":
            rows.pop(ev.pk, None)
        else:
            rows[ev.pk] = ev.row
    return state


class Publisher:
    """Atomic file publication into a watched directory.

    A file is written and closed under ``staging`` (same filesystem),
    given a modification time strictly later than every earlier file,
    then renamed into ``watched``: the file source never lists a partial
    file, and its oldest-first ordering equals publication order.
    """

    def __init__(self, watched: str, staging: str):
        self.watched = watched
        self.staging = staging
        os.makedirs(watched, exist_ok=True)
        os.makedirs(staging, exist_ok=True)
        self._last_mtime_ns = 0

    def publish(self, f: ChangeFile) -> None:
        tmp = os.path.join(self.staging, f.name)
        with open(tmp, "wb") as out:
            out.write(f.data)
        # the file source keeps millisecond timestamps: step at least 1 ms
        now = max(self._last_mtime_ns + 1_000_000, _now_ms_ns())
        os.utime(tmp, ns=(now, now))
        self._last_mtime_ns = now
        os.rename(tmp, os.path.join(self.watched, f.name))


def _now_ms_ns() -> int:
    return time.time_ns() // 1_000_000 * 1_000_000
