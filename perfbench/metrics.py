"""Metric names, units and directions — the lists ``BENCHMARK.json``
declares. ``run.py`` prints exactly these: the end-to-end set when
untraced, the per-layer set when traced."""

from __future__ import annotations

from perfbench.query import HEADLINE

#: name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cpu_ms_per_op": ("ms", "lower"),
}

HEADLINE_LABELS = tuple(label for label, _name in HEADLINE)
SPARK_GROUPS = (
    "serve.append", "serve.tail", "serve.compact",
    "batch.bulk_append", "batch.catchup", "batch.mirror",
)
SPARK_FIELDS = {
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "exec_run_s": ("s", "lower"),
    "exec_cpu_s": ("s", "lower"),
    "shuffle_write_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
}


def _per_layer() -> dict[str, tuple[str, str]]:
    m = {
        "wall.ack_p50_ms": ("ms", "lower"),
        "wall.tail_p50_ms": ("ms", "lower"),
        "wall.bulk_append_ms": ("ms", "lower"),
        "wall.read_side_ms": ("ms", "lower"),
        "cpu.write_ms": ("ms", "lower"),
        "cpu.read_ms": ("ms", "lower"),
        "session.get_spark_s": ("s", "lower"),
        "catalog.calls": ("count", "lower"),
        "catalog.self_ms": ("ms", "lower"),
        "store.append.p50_ms": ("ms", "lower"),
        "store.append.self_ms": ("ms", "lower"),
        "store.append.spark_jobs": ("count", "lower"),
        "store.read.build_ms": ("ms", "lower"),
        "store.read.exec_ms": ("ms", "lower"),
        "store.read.tasks": ("count", "lower"),
        "store.visible_files": ("count", "lower"),
        "store.space_amp": ("ratio", "lower"),
        "store.read_session.batches": ("count", "lower"),
        "store.read_session.records_per_batch": ("records", "higher"),
        "store.compact.calls": ("count", "lower"),
        "store.compact.s": ("s", "lower"),
        "manifest.publish.calls": ("count", "lower"),
        "manifest.publish.ms": ("ms", "lower"),
        "manifest.fold.calls": ("count", "lower"),
        "manifest.cas_lost": ("count", "lower"),
    }
    for phase in ("admission_s", "plan_s", "parquet_s", "publish_s", "state_s"):
        m[f"store.bulk_append.{phase}"] = ("s", "lower")
    m["store.bulk_append.spark_jobs"] = ("count", "lower")
    m["store.read.catchup_build_ms"] = ("ms", "lower")
    m["store.read.catchup_exec_s"] = ("s", "lower")
    m.update({
        "streaming.source.batches": ("count", "lower"),
        "streaming.source.latest_offset_ms": ("ms", "lower"),
        "streaming.source.planning_ms": ("ms", "lower"),
        "streaming.source.add_batch_ms": ("ms", "lower"),
        "streaming.source.rows_per_batch": ("records", "higher"),
        "streaming.source.lag_records": ("records", "lower"),
        "streaming.source.empty_batch_ratio": ("ratio", "lower"),
        "streaming.sink.commit_ms": ("ms", "lower"),
    })
    for label in HEADLINE_LABELS:
        m[f"suite.{label}.build_s"] = ("s", "lower")
        m[f"suite.{label}.exec_s"] = ("s", "lower")
        m[f"suite.{label}.jobs"] = ("count", "lower")
        m[f"suite.{label}.exec_cpu_s"] = ("s", "lower")
    for group in SPARK_GROUPS:
        for field, spec in SPARK_FIELDS.items():
            m[f"spark.{group}.{field}"] = spec
    m["harness.generator_late_p90_ms"] = ("ms", "lower")
    m["harness.tracing_overhead_pct"] = ("%", "lower")
    return m


PER_LAYER = _per_layer()
