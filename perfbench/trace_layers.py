"""Which engine functions the traced run wraps, and the per-layer
metrics computed from the resulting span tree."""

from __future__ import annotations

from perfbench.spans import Tracer
from perfbench.workloads import dir_stats


def _targets():
    """(span name, owner, attribute) for every wrapped public function,
    patched where its caller looks it up."""
    from etl_notifier_pipeline_spark.ledger import Ledger
    from etl_notifier_pipeline_spark.operators import mutations
    from etl_notifier_pipeline_spark.storage import BucketedTableStore
    from etl_notifier_pipeline_spark.streaming import pipeline
    from etl_notifier_pipeline_spark.streaming.pipeline import ApprovalPipeline

    return [
        # streaming.pipeline imports read_csv_all_string by name
        ("sources.read_csv_all_string", pipeline, "read_csv_all_string"),
        ("ledger.record_arrivals", Ledger, "record_arrivals"),
        ("ledger.filter_unprocessed", Ledger, "filter_unprocessed"),
        ("ledger.mark_many", Ledger, "mark_many"),
        ("ledger.queue_deletes", Ledger, "queue_deletes"),
        ("ledger.drain_deletes", Ledger, "drain_deletes"),
        ("storage.apply_keyed_mutation", BucketedTableStore, "apply_keyed_mutation"),
        ("storage.append", BucketedTableStore, "append"),
        ("storage.overwrite", BucketedTableStore, "overwrite"),
        ("storage.read_keyed", BucketedTableStore, "read_keyed"),
        ("streaming.run_batch", ApprovalPipeline, "run_batch"),
        ("streaming.drain_deletes", ApprovalPipeline, "drain_deletes"),
        # apply_keyed_mutation imports these from the module at call time
        ("operators.insert_if_absent", mutations, "insert_if_absent"),
        ("operators.upsert", mutations, "upsert"),
        ("operators.delete_by_keys", mutations, "delete_by_keys"),
    ]


# spans the workloads open themselves, around an action
BENCH_SPANS = ("serving.point_read", "storage.scan")


def span_names() -> list[str]:
    return [name for name, _, _ in _targets()] + list(BENCH_SPANS)


def installer(run_id: str):
    """Return ``install(spark) -> Tracer`` for the traced run."""

    def install(spark) -> Tracer:
        tracer = Tracer(spark, run_id)

        def before_mutation(rec, args, kwargs):
            store = args[0]
            rec["files_before"] = dir_stats(store.root)[0]
            rec["store_root"] = store.root

        def after_mutation(rec, _out):
            rec["files_written"] = dir_stats(rec.pop("store_root"))[0] - rec.pop("files_before")

        for name, owner, attr in _targets():
            if name == "storage.apply_keyed_mutation":
                tracer.patch(owner, attr, name, before_mutation, after_mutation)
            else:
                tracer.patch(owner, attr, name)
        return tracer

    return install


def layer_metrics(out, cores: int) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run: ``<span>.calls/.self_s/.jobs/
    .tasks`` for every span name, plus the layer ratios below."""
    tracer: Tracer = out.tracer
    tracer.harvest()
    spans = tracer.spans
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    m: dict[str, tuple[float, str]] = {}
    for name in span_names():
        ss = by_name.get(name, [])
        m[f"{name}.calls"] = (float(len(ss)), "count")
        m[f"{name}.self_s"] = (sum(s["self_s"] for s in ss), "s")
        m[f"{name}.jobs"] = (float(sum(s["jobs"] for s in ss)), "count")
        m[f"{name}.tasks"] = (float(sum(s["tasks"] for s in ss)), "count")

    def tree_sum(roots: list[dict], key: str, skip: tuple[str, ...] = ()) -> float:
        total = 0
        for r in roots:
            for s in tracer.subtree(r, skip):
                total += s[key]
        return float(total)

    akm = by_name.get("storage.apply_keyed_mutation", [])
    # the rows the workload handed to the mutations (CSV rows of the
    # approved inserts and updates plus the drained keys, or the upsert
    # payloads), known without running a Spark job
    rows_in = out.values.get("mutation_rows_in", 0.0)
    m["storage.apply_keyed_mutation.output_bytes"] = (tree_sum(akm, "output_bytes"), "B")
    m["storage.apply_keyed_mutation.files_written"] = (
        float(sum(s.get("files_written", 0) for s in akm)), "count")
    m["storage.apply_keyed_mutation.rows_written_per_row_in"] = (
        tree_sum(akm, "output_records") / rows_in if rows_in else 0.0, "ratio")
    reads = by_name.get("serving.point_read", [])
    returned = sum(s.get("rows_returned", 0) for s in reads)
    m["storage.read_keyed.rows_scanned_per_row_returned"] = (
        tree_sum(reads, "input_records") / returned if returned else 0.0, "ratio")
    m["storage.scan.input_bytes"] = (tree_sum(by_name.get("storage.scan", []), "input_bytes"), "B")
    ledger_roots = [s for s in spans if s["name"].startswith("ledger.")]
    events = out.values.get("events", 0.0)
    # a drain's table deletes are user data, not ledger bytes
    ledger_bytes = tree_sum(ledger_roots, "output_bytes", skip=("storage.apply_keyed_mutation",))
    m["ledger.output_bytes_per_event"] = (ledger_bytes / events if events else 0.0, "B")
    t0, t1 = out.window
    window = t1 - t0
    m["spark.busy_ratio"] = (sum(s["run_ms"] for s in spans) / 1000.0 / (window * cores), "ratio")
    m["spark.jobs_per_op"] = (sum(s["jobs"] for s in spans) / max(1, out.attempted), "count")
    m["tracing_overhead_ratio"] = (tracer.overhead_s / window, "ratio")
    m["trace.top_level_coverage"] = (tracer.top_level_coverage(t0, t1), "ratio")
    return m
