"""Benchmark entry point.

    python3 perfbench/run.py --workload approval_ingest --seed 1 --seconds 30 --trace 0

Runs one workload in this process against the engine in this checkout
and prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` the same loop runs with every layer's public
functions wrapped in spans, and the metrics are the per-layer ones (the
span tree is also written to ``.perfbench_out/``). A line before it,
tagged ``"detail"``, carries every metric under its workload-specific
name together with sample counts and ``op_error_ratio``.

All scratch state lives in a fresh directory under ``.perfbench_tmp/``
in the checkout, removed at exit; nothing outside the checkout is read
or written.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject-fault", action="store_true",
                   help="corrupt one reference-model row (self-test only)")
    return p.parse_args(argv)


def _isolate(work_tmp: str | None = None) -> None:
    """Point every temp-file user (Python, Spark's Python workers) at
    the checkout, and make the engine importable by Python workers."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    if work_tmp is not None:
        import tempfile

        os.environ["TMPDIR"] = work_tmp
        os.environ["SPARK_LOCAL_DIRS"] = work_tmp
        # the short-lived JVM spark-submit runs to build the driver command
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work_tmp}"
        tempfile.tempdir = work_tmp


def vm_hwm_mb(pids: list[int]) -> float:
    """Sum of peak resident set sizes (VmHWM) of ``pids``, in MiB."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    # import the benchmark as a package from the checkout root, not its
    # modules as top-level names from the script's own directory
    sys.path[0] = ROOT
    _isolate()
    # import before any work: a checkout without the engine fails here,
    # with no result line
    import etl_notifier_pipeline_spark  # noqa: F401

    from perfbench import metrics, trace_layers
    from perfbench.workloads import WORKLOADS, Harness

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    h = Harness(ROOT, args.seed, args.seconds, args.inject_fault)
    try:
        _isolate(h.tmp)
        install = trace_layers.installer(f"{args.workload}-{args.seed}") if args.trace else None
        out = WORKLOADS[args.workload](h, install)
        jvm = h.jvm_pid()
        rss = vm_hwm_mb([os.getpid()] + ([jvm] if jvm else []))
        detail = metrics.detail(args.workload, out, rss)
        if args.trace:
            layer = trace_layers.layer_metrics(out, h.cores)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            out.tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"window": list(out.window), "metrics": layer, "detail": detail},
            )
            reported = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        else:
            reported = metrics.end_to_end(args.workload, out)
    finally:
        h.close()
    for e in out.errors[:5]:
        print(f"error: {e}", file=sys.stderr)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": out.wrong == 0 and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed + out.wrong,
        "metrics": reported,
    }))
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    rc = main()
    print(f"run took {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    sys.exit(rc)
