"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical CSV files, the same approval-event plan, the same keyed
table and the same serving op mix. The engine only ever sees the files
and DataFrames built from these inputs.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

# -- approval_ingest ---------------------------------------------------------

# table -> (header, key columns). ``inventory`` has a composite key.
INGEST_TABLES: dict[str, tuple[list[str], list[str]]] = {
    "orders": (["order_id", "customer", "amount", "status"], ["order_id"]),
    "customers": (["cust_id", "name", "tier", "balance"], ["cust_id"]),
    "inventory": (["region", "sku", "qty", "price"], ["region", "sku"]),
}
KEY_SPACE = 50_000  # distinct keys per table, so inserts and updates collide
ROWS_PER_FILE = 2_000
# The approval schedule: micro-batches of (kind, table) events. It is
# the same for every seed, so every run does the same kind of work in
# the same order; the seed picks the file contents. The first batch
# carries one event of every kind: a coalesced pair of ``orders``
# inserts around a reject, an update and a delete on ``orders``, and a
# poison event; the first drain follows it. A run whose window holds
# only that batch therefore still runs every path and every check.
# Later batches hold 1-4 events.
SCHEDULE: tuple[tuple[tuple[str, str], ...], ...] = (
    (("insert", "orders"), ("reject", "customers"), ("insert", "orders"),
     ("update", "orders"), ("delete", "orders"), ("poison", "inventory")),
    (("insert", "inventory"),),
    (("insert", "customers"), ("update", "orders")),
    (("update", "inventory"), ("update", "inventory"), ("reject", "orders"), ("delete", "inventory")),
    (("update", "customers"), ("poison", "customers")),
    (("insert", "orders"), ("update", "orders"), ("delete", "customers")),
    (("insert", "inventory"),),
)
DRAIN_EVERY = 6  # drain_deletes once this many events passed since the last
_REGIONS = ("north", "south", "east", "west", "central")
_WORDS = ("alpha", "bravo", "delta", "echo", "kilo", "lima", "oscar", "tango")


@dataclass
class IngestEvent:
    event_id: str
    kind: str  # insert | update | delete | reject | poison
    table: str
    file_name: str
    operation: str  # the approval payload's operation
    rows: list[tuple[str, ...]] = field(default_factory=list)  # file order
    csv_bytes: int = 0


@dataclass
class IngestPlan:
    events: list[IngestEvent]
    batches: list[list[int]]  # event indexes per micro-batch, in order
    csv_root: str


def _key_for(table: str, k: int) -> tuple[str, ...]:
    if table == "inventory":
        return (_REGIONS[k % len(_REGIONS)], f"sku{k // len(_REGIONS):05d}")
    return (str(k),)


def _row(table: str, key: tuple[str, ...], rng: random.Random) -> tuple[str, ...]:
    if table == "orders":
        return key + (f"c{rng.randrange(5000)}", f"{rng.randrange(1, 10**6) / 100:.2f}",
                      rng.choice(("open", "paid", "shipped")))
    if table == "customers":
        return key + (f"{rng.choice(_WORDS)}{rng.randrange(1000)}",
                      rng.choice(("gold", "silver", "bronze")),
                      f"{rng.randrange(-10**5, 10**6) / 100:.2f}")
    return key + (str(rng.randrange(0, 500)), f"{rng.randrange(100, 10**5) / 100:.2f}")


def make_ingest_plan(seed: int, root: str, rows_per_file: int = ROWS_PER_FILE) -> IngestPlan:
    """Write the seeded CSV files under ``root/csv`` and return the
    event plan. Poison events name a file that is never written. A
    delete file names keys earlier events put in its table, so a drain
    removes rows."""
    rng = random.Random(seed)
    csv_root = os.path.join(root, "csv")
    os.makedirs(csv_root)
    events: list[IngestEvent] = []
    batches: list[list[int]] = []
    seen: dict[str, list[tuple[str, ...]]] = {t: [] for t in INGEST_TABLES}
    for spec in SCHEDULE:
        batch = []
        for kind, table in spec:
            i = len(events)
            op = kind if kind in ("insert", "update", "delete") else rng.choice(("insert", "update"))
            ev = IngestEvent(f"ev{seed}-{i:04d}", kind, table, f"{table}_{i:04d}.csv", op)
            if kind != "poison":
                header, _ = INGEST_TABLES[table]
                if kind == "delete" and seen[table]:
                    ev.rows = [rng.choice(seen[table]) for _ in range(rows_per_file // 10)]
                else:
                    n = rows_per_file if kind != "delete" else rows_per_file // 10
                    ev.rows = [_row(table, _key_for(table, rng.randrange(KEY_SPACE)), rng)
                               for _ in range(n)]
                if kind in ("insert", "update"):
                    seen[table].extend(ev.rows)
                text = ",".join(header) + "\n" + "".join(",".join(r) + "\n" for r in ev.rows)
                with open(os.path.join(csv_root, ev.file_name), "w") as f:
                    f.write(text)
                ev.csv_bytes = len(text.encode())
            batch.append(i)
            events.append(ev)
        batches.append(batch)
    return IngestPlan(events, batches, csv_root)


# -- table_serving -----------------------------------------------------------

SERVING_ROWS = 150_000
# The serving op pattern, repeated: 80% point reads, 10% full-table
# aggregate scans, 10% keyed upserts. Fixed like the approval schedule,
# so every seed runs the same mix in the same order; the seed picks the
# keys and values.
SERVING_PATTERN = ("point_read", "scan", "point_read", "upsert") + ("point_read",) * 6
POINT_READ_KEYS = 10
UPSERT_KEYS = 100
N_SERVING_OPS = 10 * len(SERVING_PATTERN)  # more than a run consumes at this commit's speed


@dataclass
class ServingOp:
    kind: str  # point_read | scan | upsert
    keys: list[int] = field(default_factory=list)  # point_read keys
    rows: list[tuple[int, int, float, str]] = field(default_factory=list)  # upsert payload


def serving_table(seed: int, n_rows: int = SERVING_ROWS) -> dict[str, list]:
    """Columns of the seeded keyed table: unique int64 ``k`` plus an
    int64, a double and a string payload column."""
    import numpy as np

    rng = np.random.default_rng(seed)
    # unique keys: a seeded permutation of a sparse key range
    k = rng.permutation(n_rows).astype("int64") * 7919 + int(rng.integers(1, 7919))
    a = rng.integers(0, 1_000_000, n_rows, dtype="int64")
    b = np.round(rng.random(n_rows) * 1000.0, 3)
    c = [f"s{x:06d}" for x in rng.integers(0, 10**6, n_rows)]
    return {"k": k.tolist(), "a": a.tolist(), "b": b.tolist(), "c": c}


def serving_ops(seed: int, keys: list[int], n_ops: int = N_SERVING_OPS) -> list[ServingOp]:
    rng = random.Random(seed)
    ops: list[ServingOp] = []
    for i in range(n_ops):
        kind = SERVING_PATTERN[i % len(SERVING_PATTERN)]
        if kind == "point_read":
            ops.append(ServingOp(kind, rng.sample(keys, POINT_READ_KEYS)))
        elif kind == "upsert":
            ops.append(ServingOp(kind, rows=[
                (k, rng.randrange(10**6), round(rng.random() * 1000.0, 3), f"u{i:05d}")
                for k in rng.sample(keys, UPSERT_KEYS)
            ]))
        else:
            ops.append(ServingOp(kind))
    return ops
