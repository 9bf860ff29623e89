"""Span tracer for the traced benchmark run.

Spans are opened around calls into the engine's public functions, from
the benchmark's own files: ``patch`` swaps a function where the caller
looks it up (a module attribute or a class attribute) for a wrapper
that opens a span. Each span records name, start, end, parent and run
id, is kept in memory, and is written out as JSON by ``dump``.

Every span sets its own Spark job group while it is open, so each job
is attributed to the innermost span that submitted it. After the run,
``harvest`` reads each job's stages from the status tracker and the
driver's status store (both readable with ``spark.ui.enabled=false``):
tasks, input/output records and bytes, shuffle bytes, spill and
executor run time.

Lazy layers (the ``operators`` plan builders, ``ledger.filter_unprocessed``,
``BucketedTableStore.read``/``read_keyed``) return DataFrames: their spans
time plan construction (plus any small job they run eagerly, such as
``read_keyed``'s bucket probe), and the execution they describe lands in
the span of the action that later runs them.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

_STAGE_FIELDS = (
    ("tasks", "numCompleteTasks"),
    ("run_ms", "executorRunTime"),
    ("input_bytes", "inputBytes"),
    ("input_records", "inputRecords"),
    ("output_bytes", "outputBytes"),
    ("output_records", "outputRecords"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("memory_spill_bytes", "memoryBytesSpilled"),
    ("disk_spill_bytes", "diskBytesSpilled"),
)


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # tracer bookkeeping time, measured by itself

    # -- spans ---------------------------------------------------------------

    def _set_group(self) -> None:
        if self._stack:
            span = self.spans[self._stack[-1]]
            self.sc.setJobGroup(span["group"], span["name"])
        else:
            self.sc._jsc.clearJobGroup()

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id, "group": f"{self.run_id}:{sid}",
            "start": 0.0, "end": 0.0, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group()
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group()
            self.overhead_s += time.perf_counter() - rec["end"]

    def patch(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Wrap ``owner.attr`` in a span named ``name``. ``before(span,
        args, kwargs)`` runs inside the span ahead of the call and
        ``after(span, result)`` after it; both count as tracer overhead."""
        orig = getattr(owner, attr)

        def hook(rec: dict, fn, *args) -> None:
            t = time.perf_counter()
            fn(rec, *args)
            dt = time.perf_counter() - t
            rec["hook_s"] = rec.get("hook_s", 0.0) + dt
            self.overhead_s += dt

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                if before is not None:
                    hook(rec, before, args, kwargs)
                out = orig(*args, **kwargs)
                if after is not None:
                    hook(rec, after, out)
                return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- attribution -----------------------------------------------------------

    def harvest(self) -> None:
        """Attach jobs and summed stage metrics to every span (by job
        group), then compute each span's self time: its duration minus
        the part of it its child spans cover, and minus its own hooks."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self.spans:
            jobs = sorted(tracker.getJobIdsForGroup(rec["group"]))
            stages: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            totals = dict.fromkeys((k for k, _ in _STAGE_FIELDS), 0)
            for s in stages:
                attempts = store.stageData(s, False, None, False, None)
                for i in range(attempts.size()):
                    data = attempts.apply(i)
                    for key, getter in _STAGE_FIELDS:
                        totals[key] += int(getattr(data, getter)())
            rec["jobs"] = len(jobs)
            rec["stages"] = len(stages)
            rec.update(totals)
        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        for rec in self.spans:
            covered = _union_length(
                [(c["start"], c["end"]) for c in children.get(rec["id"], [])]
            )
            rec["self_s"] = max(0.0, rec["end"] - rec["start"] - covered - rec.get("hook_s", 0.0))

    def top_level_coverage(self, t0: float, t1: float) -> float:
        """Share of [t0, t1] covered by top-level spans."""
        ivs = [
            (max(r["start"], t0), min(r["end"], t1))
            for r in self.spans if r["parent"] is None and r["end"] > t0 and r["start"] < t1
        ]
        return _union_length(ivs) / (t1 - t0) if t1 > t0 else 0.0

    def subtree(self, root: dict, skip: tuple[str, ...] = ()) -> list[dict]:
        """``root`` and its descendants, leaving out any descendant span
        named in ``skip`` together with everything under it."""
        out, todo = [], [root["id"]]
        kids: dict[int, list[int]] = {}
        for r in self.spans:
            if r["parent"] is not None:
                kids.setdefault(r["parent"], []).append(r["id"])
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(k for k in kids.get(sid, []) if self.spans[k]["name"] not in skip)
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **(extra or {})}, f, indent=1)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
