"""Every repeated plan reuses its generated classes.

Spark compiles each whole-stage-codegen class with Janino and caches it
by source text. A long or int literal is inlined into that source, so a
plan that carries a per-call value as a primitive literal compiles fresh
classes on every call; and a cache smaller than the engine's working
set evicts classes before their plan runs again. These tests pin both
halves: a second ``bulk_append`` of the same shape (new rows, a later
clock, a moved tail) and a second run of two headline registry queries
compile nothing, and one ``bulk_append`` runs exactly 5 Spark jobs
(admission map and result, the offsets broadcast, the sequencing
shuffle, the write).
"""

from __future__ import annotations

import uuid

from s2_spark.catalog import Catalog, StreamConfig
from s2_spark.registry import all_queries
from s2_spark.store import StreamStore

B = "test-basin"
_BULK_SCHEMA = (
    "basin string, stream string, timestamp long, "
    "headers array<struct<name binary, value binary>>, body binary, "
    "ingest_order long"
)
BULK_APPEND_JOBS = 5


class FakeClock:
    def __init__(self, ms: int = 1_000_000):
        self.ms = ms

    def __call__(self) -> int:
        return self.ms


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _run(spark, fn):
    """Run ``fn`` under a fresh job group; returns (compiles, job count)."""
    sc = spark.sparkContext
    group = f"codegen-{uuid.uuid4().hex}"
    c0 = _compiles(spark)
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return _compiles(spark) - c0, len(sc.statusTracker().getJobIdsForGroup(group))


def test_codegen_cache_sized_to_working_set(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 2000


def test_second_bulk_append_compiles_nothing(spark, tmp_path):
    clock = FakeClock()
    cat = Catalog(spark, clock=clock)
    cat.create_basin(B)
    cat.create_stream(B, "plain")
    cat.create_stream(B, "arr", StreamConfig(timestamping_mode="arrival"))
    cat.create_stream(B, "unc", StreamConfig(timestamping_uncapped=True))
    store = StreamStore(spark, str(tmp_path / "records"), catalog=cat, clock=clock)

    def batch(tag: str, ts_base: int):
        rows = [
            (B, s, None if i % 3 == 0 else ts_base + i, [], f"{tag}-{s}-{i}".encode(), i)
            for s in ("plain", "arr", "unc")
            for i in range(12)
        ]
        return spark.createDataFrame(rows, _BULK_SCHEMA)

    first, second = batch("a", 500), batch("b", 2_000_000)
    compiled_1, jobs_1 = _run(spark, lambda: store.bulk_append(first))
    assert jobs_1 == BULK_APPEND_JOBS
    assert store.check_tail(B, "plain")[0] == 12
    clock.ms += 60_000
    compiled_2, jobs_2 = _run(spark, lambda: store.bulk_append(second))
    assert jobs_2 == BULK_APPEND_JOBS
    assert compiled_2 == 0, f"second bulk_append compiled {compiled_2} classes"
    # the reused classes still carry the second call's values
    assert store.check_tail(B, "plain")[0] == 24
    got = store.read(B, "arr").collect()
    assert [r.timestamp for r in got] == [1_000_000] * 12 + [1_060_000] * 12
    assert [r.seq_num for r in got] == list(range(24))


def test_second_run_of_registry_queries_compiles_nothing(spark, sf_dir):
    reg = all_queries()
    for name in ("j2_multiway_join", "str6_command_fold"):
        warm, _ = _run(spark, lambda: reg[name].spark(spark, sf_dir).collect())
        again, _ = _run(spark, lambda: reg[name].spark(spark, sf_dir).collect())
        assert again == 0, f"{name}: second run compiled {again} classes (first {warm})"
