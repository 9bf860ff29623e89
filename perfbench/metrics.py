"""End-to-end metrics from a workload's ``Outcome``.

``end_to_end`` gives the metrics BENCHMARK.json bounds: the ones that
stay steady on a shared host whose CPUs are also lent to other
machines (CPU time, bytes stored, set-up time). ``detail`` gives every
metric under its workload-specific name — wall-clock latencies and
throughput included — with sample counts, a higher percentile where
the sample supports one, ``op_error_ratio`` and the host's CPU steal
during the window.
"""

from __future__ import annotations

import statistics

END_TO_END = {
    "cpu_s_per_op": "s",
    "stored_bytes_per_input_byte": "B/B",
    "setup_s": "s",
}

# the latency sample each workload's headline p50 is taken from
PRIMARY = {"approval_ingest": "commit", "table_serving": "point_read"}


def upper_percentile(xs: list[float]) -> tuple[int, float] | None:
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    n = len(xs)
    for q in (99, 95, 90, 75):
        if n * (100 - q) / 100 >= 10:
            return q, statistics.quantiles(xs, n=100, method="inclusive")[q - 1]
    return None


def _ops_per_s(workload: str, out) -> float:
    if workload == "approval_ingest":
        return out.values["events"] / out.window_s
    return out.values["ops_per_s"]


def _cpu_per_op(workload: str, out) -> float:
    """CPU seconds of the process tree over the window ÷ operations
    (events on ``approval_ingest``)."""
    ops = out.values["events"] if workload == "approval_ingest" else out.attempted
    return out.values["window_cpu_s"] / max(1.0, ops)


def end_to_end(workload: str, out) -> dict:
    vals = {
        "cpu_s_per_op": _cpu_per_op(workload, out),
        "stored_bytes_per_input_byte": out.values["stored_bytes_per_input_byte"],
        "setup_s": statistics.median(out.setup_s),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def detail(workload: str, out, rss_mb: float) -> dict:
    prefix = {"approval_ingest": "ingest", "table_serving": "serving"}[workload]
    m: dict[str, dict] = {
        "setup_s": {"value": statistics.median(out.setup_s), "unit": "s",
                    "n": len(out.setup_s)},
        "cold_setup_s": {"value": out.values["cold_setup_s"], "unit": "s"},
        "op_error_ratio": {"value": (out.failed + out.wrong) / max(1, out.attempted),
                           "unit": "ratio", "n": out.attempted},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        "window_s": {"value": out.window_s, "unit": "s"},
        "check_s": {"value": out.check_s, "unit": "s"},
        "cpu_s_per_op": {"value": _cpu_per_op(workload, out), "unit": "s"},
        "window_cpu_s": {"value": out.values["window_cpu_s"], "unit": "s"},
        "host_steal_share": {"value": out.values["steal_share"], "unit": "ratio"},
    }
    for op, xs in out.latencies.items():
        if not xs:
            continue
        m[f"{prefix}.{op}_p50_s"] = {"value": statistics.median(xs), "unit": "s", "n": len(xs)}
        if out.cpu.get(op):
            m[f"{prefix}.{op}_cpu_p50_s"] = {"value": statistics.median(out.cpu[op]),
                                             "unit": "s", "n": len(out.cpu[op])}
        up = upper_percentile(xs)
        if up is not None:
            m[f"{prefix}.{op}_p{up[0]}_s"] = {"value": up[1], "unit": "s", "n": len(xs)}
    primary = out.latencies.get(PRIMARY[workload])
    if primary:
        m["latency_p50_s"] = {"value": statistics.median(primary), "unit": "s", "n": len(primary)}
    m["ops_per_s"] = {"value": _ops_per_s(workload, out), "unit": "1/s"}
    if workload == "approval_ingest":
        m["ingest.events_per_min"] = {"value": out.values["events_per_min"], "unit": "1/min"}
        m["ingest.stored_bytes_per_input_byte"] = {
            "value": out.values["stored_bytes_per_input_byte"], "unit": "B/B"}
    else:
        m["serving.ops_per_s"] = {"value": out.values["ops_per_s"], "unit": "1/s"}
        m["serving.stored_bytes_per_input_byte"] = {
            "value": out.values["stored_bytes_per_input_byte"], "unit": "B/B"}
    return m
