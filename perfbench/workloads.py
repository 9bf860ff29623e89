"""The benchmark workloads: set-up, the timed closed loop, and the
correctness check against the reference models.

Each workload is single-client and closed-loop: the next operation is
sent only after the previous one returned. Operations started before
the deadline run to completion, so the timed window ends when the last
of them returns.
"""

from __future__ import annotations

import collections
import contextlib
import os
import shutil
import subprocess
import tempfile
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.models import IngestModel, ServingModel

# Set-ups per run. The first also launches the JVM and runs the cold
# first work; it is reported apart as ``cold_setup_s``. ``setup_s`` is
# the median of the others, each a new SparkContext in the warm JVM:
# four where a warm set-up costs under a second, two where it writes a
# 150k-row table.
INGEST_SETUP_REPS = 5
SERVING_SETUP_REPS = 3


@dataclass
class Outcome:
    """What a workload measured; ``run.py`` turns it into metrics."""

    attempted: int = 0
    failed: int = 0  # operations that raised
    wrong: int = 0  # operations whose result disagreed with the model
    window_s: float = 0.0
    check_s: float = 0.0
    setup_s: list[float] = field(default_factory=list)  # warm set-ups only
    latencies: dict[str, list[float]] = field(default_factory=dict)
    cpu: dict[str, list[float]] = field(default_factory=dict)  # CPU seconds per op
    values: dict[str, float] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    tracer: object = None
    window: tuple[float, float] = (0.0, 0.0)


class Harness:
    """Owns the run's scratch directory and its Spark sessions."""

    def __init__(self, root: str, seed: int, seconds: float, inject_fault: bool = False) -> None:
        self.seed = seed
        self.seconds = seconds
        # corrupt one reference-model row, to prove the check catches it
        self.inject_fault = inject_fault
        base = os.path.join(root, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.work = tempfile.mkdtemp(prefix=f"run-{seed}-", dir=base)
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp)
        self.spark = None
        self.cores = len(os.sched_getaffinity(0))

    def new_session(self):
        """Stop the current session (if any) and start a fresh one with
        the engine's own session factory on ``local[nproc]``."""
        from etl_notifier_pipeline_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            "perfbench",
            cpus=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": self.tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
                # keep every job of a run in the status store for the trace
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        return self.spark

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None

    def close(self) -> None:
        """Stop Spark and the JVM it runs in, wait for it, and remove
        the run's scratch directory."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:  # another run still uses it
            pass


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and all
    its live descendants (the JVM, Spark's Python workers), counting the
    children each has already reaped."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / _TICK


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: time the hypervisor ran
    something else on the machine's virtual CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


class Window:
    """Wall time, CPU time of this process tree, and host steal over the
    timed window."""

    def __init__(self) -> None:
        self.cpu0 = tree_cpu_s(os.getpid())
        self.steal0 = host_steal()
        self.t0 = time.perf_counter()

    def close(self, out: Outcome) -> None:
        t1 = time.perf_counter()
        steal1 = host_steal()
        out.window = (self.t0, t1)
        out.window_s = t1 - self.t0
        out.values["window_cpu_s"] = tree_cpu_s(os.getpid()) - self.cpu0
        total = steal1[1] - self.steal0[1]
        out.values["steal_share"] = (steal1[0] - self.steal0[0]) / total if total else 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(file count, total bytes) under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


# -- approval_ingest -----------------------------------------------------------


def _approval_row(ev: gen.IngestEvent) -> tuple:
    action = "reject" if ev.kind == "reject" else "approve"
    return (ev.event_id, action, ev.file_name, ev.table, ev.operation, "bench",
            "1", None, "2026-01-01T00:00:00Z", None)


def _expected_subject(ev: gen.IngestEvent) -> str:
    word = "Success" if ev.kind in ("insert", "update", "delete") else "Failure"
    return f"{word}: {ev.operation.capitalize()} Operation on {ev.table}"


def approval_ingest(h: Harness, install_trace=None) -> Outcome:
    from etl_notifier_pipeline_spark.streaming import ApprovalPipeline, LogNotifier
    from etl_notifier_pipeline_spark.streaming.pipeline import approval_event_schema

    out = Outcome()
    keys = {t: k for t, (_, k) in gen.INGEST_TABLES.items()}
    for _ in range(INGEST_SETUP_REPS):
        t0 = time.perf_counter()
        spark = h.new_session()
        d = h.fresh_dir("ingest")
        plan = gen.make_ingest_plan(h.seed, d)
        store_root = os.path.join(d, "store")
        pipe = ApprovalPipeline(
            spark=spark, notifier=LogNotifier(), keys=keys,
            csv_root=plan.csv_root, store_root=store_root,
        )
        out.setup_s.append(time.perf_counter() - t0)
    out.values["cold_setup_s"] = out.setup_s.pop(0)

    model = IngestModel()
    schema = approval_event_schema()
    commit, arrivals, drains, commit_cpu = [], [], [], []
    pid = os.getpid()
    consumed: list[gen.IngestEvent] = []
    since_drain = 0
    rows_in = 0  # rows handed to the store's keyed mutations
    out.tracer = install_trace(spark) if install_trace else None
    win = Window()
    deadline = win.t0 + h.seconds
    for batch_id, batch in enumerate(plan.batches):
        if time.perf_counter() >= deadline:
            break
        evs = [plan.events[i] for i in batch]
        out.attempted += len(evs)
        arr_df = spark.createDataFrame(
            [(ev.file_name, ev.event_id, "bench", ev.operation) for ev in evs],
            "file_name string, event_id string, bucket string, operation string",
        )
        cpu0 = tree_cpu_s(pid)
        t = time.perf_counter()
        try:
            pipe.ledger.record_arrivals(arr_df)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
            out.failed += len(evs)
            out.errors.append(f"record_arrivals: {type(exc).__name__}: {exc}"[:300])
            continue
        arrivals.append(time.perf_counter() - t)
        ev_df = spark.createDataFrame([_approval_row(ev) for ev in evs], schema)
        n_sent = len(pipe.notifier.sent)
        t = time.perf_counter()
        try:
            pipe.run_batch(ev_df, batch_id)
        except Exception as exc:  # noqa: BLE001
            out.failed += len(evs)
            out.errors.append(f"run_batch: {type(exc).__name__}: {exc}"[:300])
            continue
        dt = time.perf_counter() - t
        commit.extend([dt] * len(evs))
        # an event's CPU: its share of its batch's arrivals and run_batch
        commit_cpu.extend([(tree_cpu_s(pid) - cpu0) / len(evs)] * len(evs))
        consumed.extend(evs)
        for ev in evs:
            model.apply(ev)
            if ev.kind in ("insert", "update"):
                rows_in += len(ev.rows)
        got = collections.Counter(s for s, _ in pipe.notifier.sent[n_sent:])
        want = collections.Counter(_expected_subject(ev) for ev in evs)
        out.wrong += min(len(evs), sum(((got - want) + (want - got)).values()))
        since_drain += len(evs)
        if since_drain >= gen.DRAIN_EVERY:
            since_drain = 0
            out.attempted += 1
            t = time.perf_counter()
            try:
                n = pipe.drain_deletes()
            except Exception as exc:  # noqa: BLE001
                out.failed += 1
                out.errors.append(f"drain_deletes: {type(exc).__name__}: {exc}"[:300])
                continue
            drains.append(time.perf_counter() - t)
            rows_in += n
            out.wrong += int(n != model.drain())
    win.close(out)
    if out.tracer is not None:
        out.tracer.unpatch()

    if h.inject_fault:
        table = next(ev.table for ev in consumed if ev.kind in ("insert", "update"))
        key, row = next(iter(model.tables[table].items()))
        model.tables[table][key] = row[:-1] + (row[-1] + "x",)
    t = time.perf_counter()
    out.wrong += check_ingest(spark, pipe, model, consumed)
    out.check_s = time.perf_counter() - t
    out.latencies = {"commit": commit, "arrivals": arrivals, "drain": drains}
    out.cpu = {"commit": commit_cpu}
    ingested = sum(ev.csv_bytes for ev in consumed if ev.kind in ("insert", "update", "delete"))
    _, stored = dir_stats(store_root)
    out.values.update({
        "events": float(len(consumed)),
        "mutation_rows_in": float(rows_in),
        "events_per_min": 60.0 * len(consumed) / out.window_s,
        "stored_bytes_per_input_byte": stored / ingested if ingested else 0.0,
    })
    return out


def check_ingest(spark, pipe, model: IngestModel, consumed: list[gen.IngestEvent]) -> int:
    """Count events whose effects disagree with the model: table
    contents, ledger status, dead letters and pending deletes."""
    from pyspark.sql import functions as F

    wrong: set[str] = set()
    store = pipe.store
    for table, (header, _) in gen.INGEST_TABLES.items():
        want = set(model.tables[table].values())
        got = (
            {tuple(r) for r in store.read(table).select(*header).collect()}
            if store.exists(table) else set()
        )
        if got != want:
            wrong.update(model.touched[table] or [f"table:{table}"])
    ledger = {r["event_id"]: r for r in pipe.ledger.processed_files().collect()}
    for ev in consumed:
        row = ledger.get(ev.event_id)
        if row is None or row["status"] != model.status.get(ev.event_id) or not row["is_processed"]:
            wrong.add(ev.event_id)
    dead_mem = {d["event_id"] for d in pipe.dead_letters}
    dead_table = (
        {r["event_id"] for r in store.read("dead_letters").collect()}
        if store.exists("dead_letters") else set()
    )
    wrong.update(dead_mem ^ model.poison)
    wrong.update(dead_table ^ model.poison)
    pending = pipe.ledger.delete_control().filter(~F.col("executed_flag")).count()
    if pending != len(model.pending):
        wrong.add("delete_control")
    return len(wrong)


# -- table_serving -------------------------------------------------------------

SERVING_TABLE = "kv"


def table_serving(h: Harness, install_trace=None) -> Outcome:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from etl_notifier_pipeline_spark.storage import BucketedTableStore

    out = Outcome()
    cols = gen.serving_table(h.seed)
    ops = gen.serving_ops(h.seed, cols["k"])
    for _ in range(SERVING_SETUP_REPS):
        t0 = time.perf_counter()
        spark = h.new_session()
        d = h.fresh_dir("serving")
        src = os.path.join(d, "input.parquet")
        pq.write_table(pa.table(cols), src)
        store_root = os.path.join(d, "store")
        store = BucketedTableStore(spark, store_root, keys={SERVING_TABLE: ["k"]})
        store.overwrite(SERVING_TABLE, spark.read.parquet(src))
        out.setup_s.append(time.perf_counter() - t0)
    out.values["cold_setup_s"] = out.setup_s.pop(0)

    model = ServingModel(cols)
    if h.inject_fault:
        k = next(op for op in ops if op.kind == "point_read").keys[0]
        model.rows[k] = (k, model.rows[k][1] + 1) + model.rows[k][2:]
    lat: dict[str, list[float]] = {"point_read": [], "scan": [], "upsert": []}
    out.cpu = {kind: [] for kind in lat}
    pid = os.getpid()
    rows_in = 0
    out.tracer = tracer = install_trace(spark) if install_trace else None
    span = tracer.span if tracer else (lambda name: contextlib.nullcontext({}))
    win = Window()
    deadline = win.t0 + h.seconds
    for i, op in enumerate(ops):
        # whole pattern cycles only, so every run has the same op mix
        if i % len(gen.SERVING_PATTERN) == 0 and time.perf_counter() >= deadline:
            break
        out.attempted += 1
        cpu0 = tree_cpu_s(pid)
        try:
            if op.kind == "point_read":
                key_df = spark.createDataFrame([(k,) for k in op.keys], "k long")
                t = time.perf_counter()
                with span("serving.point_read") as rec:
                    rows = store.read_keyed(SERVING_TABLE, key_df).collect()
                    rec["rows_returned"] = len(rows)
                lat[op.kind].append(time.perf_counter() - t)
                got = sorted((r["k"], r["a"], r["b"], r["c"]) for r in rows)
                out.wrong += int(got != model.read(op.keys))
            elif op.kind == "scan":
                t = time.perf_counter()
                with span("storage.scan"):
                    r = store.read(SERVING_TABLE).agg(
                        F.count(F.lit(1)), F.sum("k"), F.sum("a")
                    ).collect()[0]
                lat[op.kind].append(time.perf_counter() - t)
                out.wrong += int(tuple(r) != model.aggregate())
            else:
                inc = spark.createDataFrame(
                    [r + (i,) for i, r in enumerate(op.rows)],
                    "k long, a long, b double, c string, __seq int",
                )
                t = time.perf_counter()
                store.apply_keyed_mutation(SERVING_TABLE, inc, ["k"], ["__seq"], "update")
                lat[op.kind].append(time.perf_counter() - t)
                model.upsert(op.rows)
                rows_in += len(op.rows)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
            out.failed += 1
            out.errors.append(f"{op.kind}: {type(exc).__name__}: {exc}"[:300])
            continue
        out.cpu[op.kind].append(tree_cpu_s(pid) - cpu0)
    win.close(out)
    if tracer is not None:
        tracer.unpatch()

    t = time.perf_counter()
    final = store.read(SERVING_TABLE).toPandas()
    got = set(zip(final["k"].tolist(), final["a"].tolist(), final["b"].tolist(), final["c"].tolist()))
    if got != set(model.rows.values()) or len(final) != len(model.rows):
        out.wrong += 1
    out.check_s = time.perf_counter() - t
    out.latencies = lat
    _, stored = dir_stats(store_root)
    src_bytes = os.path.getsize(src)
    out.values.update({
        "ops_per_s": out.attempted / out.window_s,
        "mutation_rows_in": float(rows_in),
        "stored_bytes_per_input_byte": stored / src_bytes,
    })
    return out


WORKLOADS = {"approval_ingest": approval_ingest, "table_serving": table_serving}
