"""Plain-Python reference models the benchmark checks the engine against.

Neither model imports the engine: each replays the reference semantics
sequentially, one row at a time, so a planning or storage bug in the
engine cannot hide in a shared code path.
"""

from __future__ import annotations

from perfbench.gen import INGEST_TABLES, IngestEvent


class IngestModel:
    """Sequential replay of the approval pipeline's reference semantics:
    insert keeps the first row per key and skips keys already present,
    update keeps the last row per key, an approved delete only queues
    its keys, and a drain removes every queued key."""

    def __init__(self) -> None:
        self.tables: dict[str, dict[tuple, tuple]] = {t: {} for t in INGEST_TABLES}
        self.pending: set[tuple[str, tuple]] = set()
        self.status: dict[str, str] = {}  # event_id -> expected ledger status
        self.poison: set[str] = set()
        self.touched: dict[str, list[str]] = {t: [] for t in INGEST_TABLES}

    def apply(self, ev: IngestEvent) -> None:
        _, keys = INGEST_TABLES[ev.table]
        nk = len(keys)
        table = self.tables[ev.table]
        if ev.kind == "reject":
            self.status[ev.event_id] = "rejected"
            return
        if ev.kind == "poison":
            self.status[ev.event_id] = "failed"
            self.poison.add(ev.event_id)
            return
        self.status[ev.event_id] = "approved"
        self.touched[ev.table].append(ev.event_id)
        for row in ev.rows:
            key = row[:nk]
            if ev.kind == "insert":
                table.setdefault(key, row)
            elif ev.kind == "update":
                table[key] = row
            else:
                self.pending.add((ev.table, key))

    def drain(self) -> int:
        n = len(self.pending)
        for table, key in self.pending:
            self.tables[table].pop(key, None)
        self.pending.clear()
        return n


class ServingModel:
    """key -> row for the served table; every read is checked against it."""

    def __init__(self, cols: dict[str, list]) -> None:
        self.rows: dict[int, tuple] = {
            k: (k, a, b, c) for k, a, b, c in zip(cols["k"], cols["a"], cols["b"], cols["c"])
        }

    def read(self, keys: list[int]) -> list[tuple]:
        return sorted(self.rows[k] for k in keys if k in self.rows)

    def upsert(self, rows: list[tuple]) -> None:
        for r in rows:
            self.rows[r[0]] = tuple(r)

    def aggregate(self) -> tuple[int, int, int]:
        """(row count, sum of k, sum of a): exact integer aggregates, so
        any shuffle order gives the same answer."""
        return (
            len(self.rows),
            sum(self.rows),
            sum(r[1] for r in self.rows.values()),
        )
