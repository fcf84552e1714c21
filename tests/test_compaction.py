"""Compaction's two writers: a snapshot up to
``store.DRIVER_COMPACT_MAX_BYTES`` is merged on the driver with pyarrow
(no Spark job); a larger one runs the Spark range-repartition + sort.
Both commit through ``StreamStore._staged_commit`` and must leave
stores no reader can tell apart."""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow.parquet as pq
import pytest

from s2_spark import store as store_mod
from s2_spark.catalog import BasinConfig, Catalog
from s2_spark.model import Record
from s2_spark.store import StreamStore

B = "compact-basin"
STREAMS = ["s0", "s1", "s2", "Z-upper", "é-utf8"]

_BULK_SCHEMA = (
    "basin string, stream string, timestamp long, "
    "headers array<struct<name binary, value binary>>, body binary, "
    "ingest_order long"
)


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; returns (result, Spark job ids)."""
    sc = spark.sparkContext
    group = f"compact-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _catalog(spark):
    cat = Catalog(spark)
    cat.create_basin(B, BasinConfig(create_stream_on_append=True))
    return cat


def _mixed_store(spark, base, bucket_count):
    """Spark-written bulk files, driver-written unary files, headers, a
    fence and trims up to the u64 maximum, over stream names whose byte
    order differs from their case-folded or code-point-naive order."""
    cat = _catalog(spark)
    store = StreamStore(spark, base, catalog=cat, bucket_count=bucket_count)
    rows = [
        (B, STREAMS[i % len(STREAMS)], None, [(b"bulk", str(i).encode())], f"bulk-{i}".encode(), i)
        for i in range(40)
    ]
    store.bulk_append(spark.createDataFrame(rows, _BULK_SCHEMA))
    for i in range(10):
        store.append(
            B, STREAMS[i % len(STREAMS)],
            [Record(body=f"u{i}-{j}".encode(), headers=[(b"k", f"{j}".encode())]) for j in range(3)],
        )
    store.fence(B, "s0", "tok-a")
    store.append(B, "s0", [Record(body=b"fenced")], fencing_token="tok-a")
    store.trim(B, "s1", 5)
    store.append(B, "s1", [Record(body=b"after-trim", headers=[(b"h", b"")])])
    store.trim(B, "s2", 2**64 - 1)
    return cat, store


def _stream_rows(store, stream):
    return [r.asDict(recursive=True) for r in store.read(B, stream).collect()]


def _state(store, stream):
    st = store._st(B, stream)
    return (st.tail_seq, st.last_ts, st.fencing_token, st.trim_point)


def _file_keys(store, rel):
    t = pq.read_table(os.path.join(store.base_dir, rel), columns=["basin", "stream", "seq_num"])
    return [
        (b.encode(), s.encode(), n)
        for b, s, n in zip(*(t.column(c).to_pylist() for c in ("basin", "stream", "seq_num")))
    ]


@pytest.mark.parametrize("bucket_count", [None, 4], ids=["flat", "bucketed"])
def test_driver_compaction_equals_spark_compaction(spark, tmp_path, monkeypatch, bucket_count):
    """One mixed store, copied, compacted once by each writer: every
    stream reads the same, each compacted file is sorted by (basin,
    stream, seq_num) in byte order, cold state and recovery agree, and
    the streaming source derives the same tails."""
    from s2_spark.streaming.source import _tails

    cat, _ = _mixed_store(spark, str(tmp_path / "driver"), bucket_count)
    shutil.copytree(tmp_path / "driver", tmp_path / "spark")
    by = {}
    for writer in ("driver", "spark"):
        store = StreamStore(spark, str(tmp_path / writer), catalog=cat, bucket_count=bucket_count)
        with monkeypatch.context() as m:
            if writer == "spark":
                m.setattr(store_mod, "DRIVER_COMPACT_MAX_BYTES", 0)
            _, jobs = _jobs(spark, store.compact)
        assert bool(jobs) == (writer == "spark")
        _, files = store._manifest_current()
        dirs = {os.path.dirname(rel) for rel in files}
        if writer == "driver":
            assert len(files) == len(dirs)  # one part per directory
        for rel in files:
            keys = _file_keys(store, rel)
            assert keys and keys == sorted(keys)
        cold = StreamStore(spark, store.base_dir, catalog=cat, bucket_count=bucket_count)
        recovered = StreamStore(spark, store.base_dir, catalog=cat, bucket_count=bucket_count)
        recovered.recover_state()
        by[writer] = {
            "dirs": dirs,
            "schemas": {
                pq.read_schema(os.path.join(store.base_dir, rel)).remove_metadata()
                for rel in files
            },
            "reads": {s: _stream_rows(store, s) for s in STREAMS},
            "cold": {s: _state(cold, s) for s in STREAMS},
            "recovered": {s: _state(recovered, s) for s in STREAMS},
            "tails": _tails(store.base_dir),
        }
    assert by["driver"] == by["spark"]
    reads = by["driver"]["reads"]
    assert reads["s2"] == [] and reads["s0"][-1]["body"] == b"fenced"
    assert [r["body"] for r in reads["s1"]][-1] == b"after-trim"
    tail, _, _, trim = by["driver"]["cold"]["s2"]
    assert trim == tail  # the u64-max trim clamps to the tail
    if bucket_count:
        assert all(d.startswith("bucket=") for d in by["driver"]["dirs"])


def _serve_cycle(store, n):
    """``n`` serve-shaped appends: 10 x 1 KiB records, two streams."""
    for i in range(n):
        store.append(B, f"s{i % 2}", [Record(body=bytes(1024)) for _ in range(10)])


def test_small_compaction_runs_no_spark_job(spark, tmp_path, monkeypatch):
    """A serve-sized ``compact()`` merges on the driver: 0 Spark jobs,
    one compacted file. With the bound below the snapshot's size the
    same call takes the Spark plan."""
    store = StreamStore(spark, str(tmp_path / "records"), catalog=_catalog(spark))
    _serve_cycle(store, 10)
    store.compact()  # steady state: a compacted file plus new appends
    _serve_cycle(store, 10)
    want = {s: _stream_rows(store, s) for s in ("s0", "s1")}
    _, jobs = _jobs(spark, store.compact)
    assert jobs == []
    assert len(store._manifest_current()[1]) == 1
    assert {s: _stream_rows(store, s) for s in ("s0", "s1")} == want

    _serve_cycle(store, 10)
    _, files = store._manifest_current()
    size = 0
    for rel in files:
        md = pq.read_metadata(os.path.join(store.base_dir, rel))
        size += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    monkeypatch.setattr(store_mod, "DRIVER_COMPACT_MAX_BYTES", size - 1)
    _, jobs = _jobs(spark, store.compact)
    assert jobs
    assert {s: _stream_rows(store, s)[: len(want[s])] for s in want} == want
