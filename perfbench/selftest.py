"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. A short run of every workload, untraced, must be correct and print
   exactly the end-to-end metrics of BENCHMARK.json, each with its unit.
2. A short traced run of every workload, with one reference-model row
   corrupted (``--inject-fault``), must print exactly the per-layer
   metrics with their units, and must report ``op_error_ratio`` > 0:
   the correctness check catches a wrong result.
3. A copy holding only BENCHMARK.json and the benchmark's own files
   (no engine) must exit non-zero without printing a result.

The traced and untraced runs of a workload share a seed and run the
same operations (the injected fault only changes the reference model),
so the self-test also prints the paired tracing overhead: the traced
window's CPU time over the untraced one's, minus one. It is printed,
not checked: on a shared host one pair is noisy.

Exits 0 when every check passes. Takes a few minutes: each run starts
its own Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, *args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    return proc.returncode, [ln for ln in proc.stdout.splitlines() if ln.strip()]


def _check_metrics(got: dict, spec: list[dict]) -> list[str]:
    want = {m["name"]: m["unit"] for m in spec}
    problems = []
    if set(got) != set(want):
        problems.append(f"metric names differ: missing {sorted(set(want) - set(got))}, "
                        f"extra {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if name in want and m.get("unit") != want[name]:
            problems.append(f"{name}: unit {m.get('unit')!r} != {want[name]!r}")
        if not isinstance(m.get("value"), (int, float)):
            problems.append(f"{name}: value {m.get('value')!r} is not a number")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures: list[str] = []
    for wl in (w["name"] for w in bench["workloads"]):
        rc, lines = _run(ROOT, "--workload", wl, "--seed", "7", "--seconds", "1", "--trace", "0")
        res = json.loads(lines[-1]) if rc == 0 and lines else None
        untraced_cpu = None
        if res is None:
            failures.append(f"{wl}: untraced run exited {rc}")
        else:
            untraced_cpu = json.loads(lines[-2])["detail"]["window_cpu_s"]["value"]
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                failures.append(f"{wl}: untraced run not correct: {lines[-1][:300]}")
            failures += [f"{wl}: {p}" for p in _check_metrics(res["metrics"], bench["end_to_end"])]

        rc, lines = _run(ROOT, "--workload", wl, "--seed", "7", "--seconds", "1", "--trace", "1",
                         "--inject-fault")
        res = json.loads(lines[-1]) if rc == 0 and lines else None
        if res is None:
            failures.append(f"{wl}: traced run exited {rc}")
        else:
            detail = json.loads(lines[-2])["detail"]
            ratio = detail["op_error_ratio"]["value"]
            if res["correct"] or not ratio > 0:
                failures.append(f"{wl}: injected fault not caught (op_error_ratio={ratio})")
            failures += [f"{wl}: {p}" for p in _check_metrics(res["metrics"], bench["per_layer"])]
            if untraced_cpu:
                paired = detail["window_cpu_s"]["value"] / untraced_cpu - 1.0
                self_timed = res["metrics"]["tracing_overhead_ratio"]["value"]
                print(f"{wl}: tracing overhead paired (window CPU) {paired:+.3f}, "
                      f"self-timed {self_timed:.3f}", flush=True)
        print(f"{wl}: checked", flush=True)

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=base)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = _run(bare, "--workload", bench["workloads"][0]["name"], "--seed", "1",
                         "--seconds", "1", "--trace", "0")
        if rc == 0 or any(ln.startswith("{") for ln in lines):
            failures.append(f"engine-less copy: rc={rc}, printed {lines[-1:]!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:  # a benchmark run still uses it
            pass

    for f in failures:
        print(f"FAIL {f}")
    print("selftest:", "FAIL" if failures else "ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
