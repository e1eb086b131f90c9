"""Seeded CDC load generator and the pure-Python oracles it is checked by.

The generator emits Debezium-shaped wire rows ``(_seq, value)`` for the
engine's order-event payload: inserts of fresh keys, Zipf-skewed updates
and deletes of existing keys, both envelope shapes, and a small share of
malformed rows (a payload without its key, or truncated JSON) that the
materializer must dead-letter.  Every valid event is also kept in Python so
the oracles can recompute what the engine's state must be.
"""

from __future__ import annotations

import bisect
import json
import random
from dataclasses import dataclass, field
from decimal import Decimal

STATUSES = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
# input properties of every generated stream (WORKLOADS.md)
INSERT_SHARE = 0.3
UPDATE_SHARE = 0.6          # deletes are the remaining 0.1
MALFORMED_SHARE = 0.01
ZIPF_S = 1.1                # skew of update/delete keys over the seeded keys
CUSTOMERS = 500
PAYLOAD_COLS = (
    "order_key", "cust_key", "status", "total_price", "order_ts", "priority",
    "__deleted",
)


@dataclass(frozen=True)
class Event:
    seq: int
    key: int
    cust: int
    status: str
    price: str
    ts: str
    priority: str
    deleted: bool

    def payload(self) -> dict:
        return {
            "order_key": self.key, "cust_key": self.cust,
            "status": self.status, "total_price": self.price,
            "order_ts": self.ts, "priority": self.priority,
            "__deleted": "true" if self.deleted else "false",
        }

    def row(self) -> tuple:
        """The state row as ``read_state`` returns it, in PAYLOAD_COLS order
        plus ``_seq``."""
        p = self.payload()
        return tuple(p[c] for c in PAYLOAD_COLS) + (self.seq,)


@dataclass
class CdcStream:
    """Deterministic under ``seed``: same seed, same wire rows."""

    seed: int
    seed_keys: int
    events: list = field(default_factory=list)
    dim: list = field(default_factory=list)
    malformed: int = 0

    def __post_init__(self):
        self._rnd = random.Random(self.seed)
        self._seq = 0
        self._next_key = 0
        # bounded Zipf over ranks 1..seed_keys, ranks scattered over keys
        w = [1.0 / (r ** ZIPF_S) for r in range(1, self.seed_keys + 1)]
        total, acc = sum(w), 0.0
        self._cdf = []
        for x in w:
            acc += x
            self._cdf.append(acc / total)
        self._stride = _coprime_stride(self.seed_keys, self._rnd)

    def cust_of(self, key: int) -> int:
        # a fact's FK never changes across its updates (join-view contract)
        return (key * 2654435761) % CUSTOMERS

    def _event(self, key: int, deleted: bool) -> Event:
        r = self._rnd
        ev = Event(
            seq=self._seq, key=key, cust=self.cust_of(key),
            status=r.choice(STATUSES),
            price=f"{r.randrange(100, 5_000_000) / 100:.2f}",
            ts=f"2024-01-{1 + r.randrange(28):02d} {r.randrange(24):02d}:"
               f"{r.randrange(60):02d}:{r.randrange(60):02d}.{r.randrange(1000):03d}",
            priority=r.choice(PRIORITIES), deleted=deleted,
        )
        self._seq += 1
        self.events.append(ev)
        return ev

    def _wire(self, ev: Event) -> tuple[int, str]:
        p = ev.payload()
        body = {"payload": p} if self._rnd.random() < 0.5 else p
        return ev.seq, json.dumps(body, separators=(",", ":"))

    def _bad(self) -> tuple[int, str]:
        seq = self._seq
        self._seq += 1
        self.malformed += 1
        if self._rnd.random() < 0.5:
            return seq, json.dumps({"cust_key": 1, "status": "O"})
        return seq, '{"payload":{"order_key":'  # truncated JSON

    def seed_rows(self) -> list[tuple[int, str]]:
        """One insert per seed key: the initial state."""
        rows = []
        for _ in range(self.seed_keys):
            rows.append(self._wire(self._event(self._next_key, False)))
            self._next_key += 1
        return rows

    def _skewed_key(self) -> int:
        rank = bisect.bisect_left(self._cdf, self._rnd.random())
        return (min(rank, self.seed_keys - 1) * self._stride) % self.seed_keys

    def batch(self, n: int) -> list[tuple[int, str]]:
        """``n`` wire rows at the stream's mix."""
        r, rows = self._rnd, []
        for _ in range(n):
            if r.random() < MALFORMED_SHARE:
                rows.append(self._bad())
                continue
            u = r.random()
            if u < INSERT_SHARE:
                key = self._next_key
                self._next_key += 1
                rows.append(self._wire(self._event(key, False)))
            else:
                deleted = u >= INSERT_SHARE + UPDATE_SHARE
                rows.append(self._wire(self._event(self._skewed_key(), deleted)))
        return rows

    def dim_rows(self, n: int) -> list[tuple]:
        """``n`` customer-dimension changes ``(cust_key, segment, _seq,
        __deleted)``; dimension sequences live in their own range."""
        out = []
        for _ in range(n):
            row = (
                self._rnd.randrange(CUSTOMERS),
                self._rnd.choice(SEGMENTS),
                10**12 + len(self.dim),
                "true" if self._rnd.random() < 0.05 else "false",
            )
            self.dim.append(row)
            out.append(row)
        return out


def _coprime_stride(n: int, rnd: random.Random) -> int:
    from math import gcd

    while True:
        s = rnd.randrange(1, max(2, n)) | 1
        if gcd(s, n) == 1:
            return s


def write_jsonl(path: str, rows) -> int:
    """Write wire rows as the file source's JSON lines; returns bytes."""
    with open(path, "w") as f:
        for seq, value in rows:
            f.write(json.dumps({"_seq": seq, "value": value}))
            f.write("\n")
        return f.tell()


# -- oracles ----------------------------------------------------------------

def lww_latest(events) -> dict[int, Event]:
    """Last write wins per key, tombstones included."""
    latest: dict[int, Event] = {}
    for ev in events:
        cur = latest.get(ev.key)
        if cur is None or ev.seq > cur.seq:
            latest[ev.key] = ev
    return latest


def lww_live_rows(events) -> set[tuple]:
    """The live table a correct materializer shows: the latest event of
    every key whose latest event is not a delete."""
    return {ev.row() for ev in lww_latest(events).values() if not ev.deleted}


def agg_oracle(events) -> dict[str, tuple]:
    """status -> (events, price sum, min key, max key) over every event."""
    out: dict[str, list] = {}
    for ev in events:
        a = out.setdefault(ev.status, [0, Decimal(0), ev.key, ev.key])
        a[0] += 1
        a[1] += Decimal(ev.price)
        a[2] = min(a[2], ev.key)
        a[3] = max(a[3], ev.key)
    return {k: tuple(v) for k, v in out.items()}


def scd2_oracle(events) -> set[tuple]:
    """(key, valid_from_seq, valid_to_seq) of every version: each non-delete
    event opens a version that the key's next event closes."""
    by_key: dict[int, list] = {}
    for ev in sorted(events, key=lambda e: e.seq):
        by_key.setdefault(ev.key, []).append(ev)
    out = set()
    for key, evs in by_key.items():
        for i, ev in enumerate(evs):
            if not ev.deleted:
                nxt = evs[i + 1].seq if i + 1 < len(evs) else None
                out.add((key, ev.seq, nxt))
    return out


def join_oracle(events, dim_rows) -> set[tuple]:
    """(order_key, cust_key, segment, _seq) of the live fact rows enriched
    with the latest live dimension row (NULL when absent or deleted)."""
    dim: dict[int, tuple] = {}
    for c, seg, seq, deleted in dim_rows:
        if c not in dim or seq > dim[c][1]:
            dim[c] = (seg, seq, deleted)
    out = set()
    for ev in lww_latest(events).values():
        if ev.deleted:
            continue
        d = dim.get(ev.cust)
        seg = d[0] if d is not None and d[2] != "true" else None
        out.add((ev.key, ev.cust, seg, ev.seq))
    return out


def heavy_hitter_ok(rows, events) -> bool:
    """Misra-Gries guarantee for every reported key:
    est <= true <= est + deducted, and n_total counts every event."""
    true: dict[str, int] = {}
    for ev in events:
        true[str(ev.cust)] = true.get(str(ev.cust), 0) + 1
    for key, est, upper, _deducted, n_total in rows:
        if n_total != len(events) or not est <= true.get(key, 0) <= upper:
            return False
    return True
