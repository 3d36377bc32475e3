"""Seeded Debezium-envelope change-log generator and its expected-state oracle.

The generator plays the source database plus the capture connector: it
emits ``schemas.CDC_ENVELOPE``-shaped events (``op``/``before``/``after``/
``ts_ms``/``source_table``/``seq``) for the reference ``customer`` table.
Every log it writes contains

* Zipf-skewed keys (a few hot customers take most updates),
* a mix of inserts, updates and deletes,
* at-least-once replay duplicates (identical events delivered twice),
* stale inserts: the original insert of a deleted key redelivered in a
  later batch than its delete, which must not resurrect the key.

The traffic follows the reference write workload as the engine's own
generator (``cdc/generator.py``) encodes it from ``producer_insert.py``:

* op mix: per customer one insert, a phone update for one in three and a
  delete for one in seven, so change events are inserts, updates and
  deletes in the ratio 1 : 1/3 : 1/7 (21 : 7 : 3);
* an update changes the phone column only; classification is drawn
  once, at insert, public or private with equal odds;
* at-least-once redelivery: one event in eleven delivered twice.

The reference picks update keys by hand; here they follow a Zipfian
law with YCSB's default constant 0.99 (Cooper et al., "Benchmarking
Cloud Serving Systems with YCSB", SoCC 2010), the usual stand-in for
hot rows in OLTP traffic.  Deletes pick a live key uniformly.

The oracle is independent of the engine: plain Python last-writer-wins
over ``(ts_ms, seq)``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

BASE_MS = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC
ZIPF_S = 0.99  # YCSB's zipfian constant
# insert : update : delete = 1 : 1/3 : 1/7, as in cdc/generator.py
INSERT_FRAC = 21 / 31
DELETE_FRAC = 3 / 31
REPLAY_EVERY = 11


COLUMNS = ("id", "full_name", "email", "phone", "classification", "created_at")


EPOCH = dt.datetime(2024, 1, 1)


def created_at(key: int) -> dt.datetime:
    """Creation time of a customer row: one second per key id."""
    return EPOCH + dt.timedelta(seconds=key)


def _row(key: int, version: int, classification: str) -> tuple:
    """A customer row image, in ``COLUMNS`` order."""
    return (
        key,
        f"Customer {key:08d}",
        f"c{key}@example.com",
        f"+1-{(key * 7919 + version * 104729) % 10_000_000:07d}",
        classification,
        created_at(key),
    )


def _row_json(r: tuple) -> str:
    return (
        f'{{"id":{r[0]},"full_name":"{r[1]}","email":"{r[2]}","phone":"{r[3]}",'
        f'"classification":"{r[4]}","created_at":"{r[5].isoformat()}.000Z"}}'
    )


class LogGenerator:
    """Stateful generator: tracks each key's current row so that every
    update/delete carries the correct before-image.  ``seq`` is unique
    per emitted event, so ``(ts_ms, seq)`` totally orders distinct events
    and a replay is the only way two events share it.  Each event keeps
    its JSON line, rendered once when it is made."""

    def __init__(self, seed: int, n_keys: int):
        self.rng = np.random.default_rng(seed)
        self.n_keys = n_keys
        self.next_key = n_keys + 1
        self.seq = 0
        self.rows: dict[int, tuple] = {}
        self.json: dict[int, str] = {}  # key -> JSON of its current row
        self.versions: dict[int, int] = {}
        self.inserts: dict[int, dict] = {}  # key -> its original insert event
        self.deleted: list[int] = []
        ranks = np.arange(1, n_keys + 1, dtype=np.float64)
        cdf = np.cumsum(ranks ** -ZIPF_S)
        self.zipf_cdf = cdf / cdf[-1]
        self.zipf_keys = self.rng.permutation(n_keys) + 1

    def _event(self, op: str, before, after, before_js: str, after_js: str) -> dict:
        self.seq += 1
        ts = BASE_MS + self.seq * 3
        line = (
            f'{{"op":"{op}","before":{before_js},"after":{after_js},'
            f'"ts_ms":{ts},"source_table":"customer","seq":{self.seq}}}'
        )
        return {"op": op, "before": before, "after": after, "ts_ms": ts,
                "seq": self.seq, "line": line}

    def _set(self, key: int, version: int, cls: str) -> tuple[tuple, str]:
        row = _row(key, version, cls)
        js = _row_json(row)
        self.rows[key], self.json[key], self.versions[key] = row, js, version
        return row, js

    def insert(self, key: int, u: float) -> dict:
        row, js = self._set(key, 0, "public" if u < 0.5 else "private")
        ev = self._event("c", None, row, "null", js)
        self.inserts[key] = ev
        return ev

    def update(self, key: int) -> dict:
        """A new phone number; every other column keeps its value."""
        before, before_js = self.rows[key], self.json[key]
        after, after_js = self._set(key, self.versions[key] + 1, before[4])
        return self._event("u", before, after, before_js, after_js)

    def delete(self, key: int) -> dict:
        before, before_js = self.rows.pop(key), self.json.pop(key)
        self.deleted.append(key)
        return self._event("d", before, None, before_js, "null")

    def initial_inserts(self) -> list[dict]:
        us = self.rng.random(self.n_keys)
        return [self.insert(k, us[k - 1]) for k in range(1, self.n_keys + 1)]

    def changes(self, n: int, delete_frac=DELETE_FRAC, insert_frac=INSERT_FRAC) -> list[dict]:
        """``n`` new change events: Zipf-keyed updates, uniformly chosen
        deletes, and inserts of brand-new keys."""
        ops, us = self.rng.random(n), self.rng.random(n)
        ranks = np.searchsorted(self.zipf_cdf, self.rng.random(4 * n))
        hot = self.zipf_keys[np.minimum(ranks, self.n_keys - 1)].tolist()
        live = list(self.rows)
        picks = self.rng.integers(len(live), size=n).tolist()
        out = []
        for i, op in enumerate(ops.tolist()):
            if op < delete_frac:
                k = live[picks[i]]
                if k in self.rows and len(self.rows) > 1:
                    out.append(self.delete(k))
            elif op < delete_frac + insert_frac:
                out.append(self.insert(self.next_key, us[i]))
                self.next_key += 1
            else:
                while hot and hot[-1] not in self.rows:
                    hot.pop()
                if hot:
                    out.append(self.update(hot.pop()))
        return out

    def replays(self, pool: list[dict], n: int) -> list[dict]:
        """At-least-once redelivery: ``n`` events of ``pool`` again, verbatim."""
        if not pool or n <= 0:
            return []
        idx = self.rng.choice(len(pool), size=min(n, len(pool)), replace=False)
        return [pool[i] for i in sorted(idx)]

    def stale_inserts(self, n: int, upto: int) -> list[dict]:
        """Original inserts of the last ``n`` keys among the first ``upto``
        deleted, delivered again after the delete: last-writer-wins must
        keep those keys deleted."""
        keys = self.deleted[:upto][-n:] if n > 0 else []
        return [self.inserts[k] for k in keys if k in self.inserts]


def trickle_batches(
    gen: LogGenerator, n_batches: int, batch_events: int
) -> list[list[dict]]:
    """Small change batches: fresh changes plus a replay of part of the
    previous batch and one stale insert of a key an earlier batch deleted."""
    batches, prev = [], []
    for _ in range(n_batches):
        upto = len(gen.deleted)
        fresh = gen.changes(batch_events)
        batch = fresh + gen.replays(prev, batch_events // REPLAY_EVERY) + gen.stale_inserts(1, upto)
        batches.append(batch)
        prev = fresh
    return batches


def bulk_log(gen: LogGenerator, n_files: int, changes_per_file: int) -> list[list[dict]]:
    """Backfill + catch-up log, one list of events per file: the initial
    inserts of every key split over the first files, then change files.
    Replays of earlier files and stale inserts of deleted keys ride in
    later files."""
    files: list[list[dict]] = []
    initial = gen.initial_inserts()
    n_init = max(1, n_files // 4)
    step = -(-len(initial) // n_init)
    for i in range(n_init):
        files.append(initial[i * step:(i + 1) * step])
    for _ in range(n_files - n_init):
        upto = len(gen.deleted)
        fresh = gen.changes(changes_per_file)
        files.append(
            fresh
            + gen.replays(files[-1], changes_per_file // REPLAY_EVERY)
            + gen.stale_inserts(changes_per_file // 200, upto)
        )
    return files


def write_jsonl(events: list[dict], path: str) -> None:
    with open(path, "w") as f:
        f.write("\n".join(e["line"] for e in events))
        f.write("\n")


def write_log_dir(files: list[list[dict]], out_dir: str) -> None:
    """One JSON-lines file per entry, with strictly increasing mtimes so
    the file stream source picks them up in log order."""
    os.makedirs(out_dir, exist_ok=True)
    for i, events in enumerate(files):
        path = os.path.join(out_dir, f"part-{i:05d}.json")
        write_jsonl(events, path)
        t = 1_700_000_000 + i
        os.utime(path, (t, t))


def as_rows(events: list[dict]) -> list[tuple]:
    """Events as tuples in ``CDC_ENVELOPE`` field order (for createDataFrame)."""
    return [
        (e["op"], e["before"], e["after"], e["ts_ms"], "customer", e["seq"])
        for e in events
    ]


# --------------------------------------------------------------------- oracle


def expected_state(events) -> dict[int, dict]:
    """Last-writer-wins over ``(ts_ms, seq)``, tombstones included."""
    latest: dict[int, dict] = {}
    for e in events:
        k = (e["before"] if e["op"] == "d" else e["after"])[0]
        cur = latest.get(k)
        if cur is None or (e["ts_ms"], e["seq"]) > (cur["ts_ms"], cur["seq"]):
            latest[k] = e
    return latest


def expected_snapshot(events) -> list[tuple]:
    """The published snapshot: live rows only, in ``COLUMNS`` order."""
    return [e["after"] for e in expected_state(events).values() if e["op"] != "d"]


def expected_dashboards(snapshot: list[tuple]) -> dict[str, list[tuple]]:
    """The three reference dashboards over a published snapshot."""
    by_cls: dict[str, int] = {}
    by_hour: dict[dt.datetime, int] = {}
    for r in snapshot:
        by_cls[r[4]] = by_cls.get(r[4], 0) + 1
        h = r[5].replace(minute=0, second=0, microsecond=0)
        by_hour[h] = by_hour.get(h, 0) + 1
    recent = sorted(snapshot, key=lambda r: (r[5], r[0]), reverse=True)[:10]
    return {
        "count_by_classification": sorted(by_cls.items(), key=lambda kv: (-kv[1], kv[0])),
        "new_customers_over_time": sorted(by_hour.items()),
        "recent10": [(r[0], r[1], r[4], r[5]) for r in recent],
    }
