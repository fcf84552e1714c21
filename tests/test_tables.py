"""Fixture loads infer each file's parquet schema once per process: a
repeat load of the same file runs no Spark job, and a rewritten file is
inferred again."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from s2_spark import tables


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; returns (its value, job count)."""
    sc = spark.sparkContext
    group = f"tables-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_a_file_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), tmp_path / "region.parquet")
    first, jobs1 = _jobs(spark, lambda: tables.t(spark, str(tmp_path), "region"))
    assert jobs1 >= 1  # the schema inference
    second, jobs2 = _jobs(spark, lambda: tables.t(spark, str(tmp_path), "region"))
    assert jobs2 == 0
    raw, jobs3 = _jobs(spark, lambda: tables.t_raw(spark, str(tmp_path), "region"))
    assert jobs3 == 0
    assert second.schema == first.schema == raw.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    pq.write_table(pa.table({"n_nationkey": [0, 1]}), path)
    assert tables.t(spark, str(tmp_path), "nation").columns == ["n_nationkey"]
    pq.write_table(pa.table({"n_nationkey": [0, 1, 2], "n_name": ["x", "y", "z"]}), path)
    df, jobs = _jobs(spark, lambda: tables.t(spark, str(tmp_path), "nation"))
    assert jobs >= 1
    assert df.columns == ["n_nationkey", "n_name"]
    assert df.count() == 3


def test_events_ts_normalized_with_cached_schema(spark, sf_dir):
    first = tables.t(spark, sf_dir, "events")
    again, jobs = _jobs(spark, lambda: tables.t(spark, sf_dir, "events"))
    assert jobs == 0
    assert again.schema == first.schema
    assert dict(again.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
