"""The unary serve path without Spark: the driver-side parquet commit of
``append`` and the in-memory follow broadcast of ``read_session``.

The reference serves caught-up followers from an in-memory broadcast of
the latest batches and sends a follower lagging more than
``FOLLOWER_MAX_LAG`` (25) batches back to storage
(lite/src/backend/read.rs:183-240, streamer.rs:571-611, mod.rs:27).
These tests pin that the broadcast returns exactly what the storage
read returns, that it is never served stale, that the unary append and
a caught-up follow batch run no Spark job, and that the parquet the
driver writes reads back identically through every reader.
"""

from __future__ import annotations

import os
import random
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from s2_spark import manifest as mf
from s2_spark.catalog import Catalog, StreamConfig
from s2_spark.model import RECORD_SCHEMA, Record, fence_record, trim_record
from s2_spark.store import FOLLOWER_MAX_LAG, ReadLimit, ReadStart, StreamStore

B = "test-basin"
S = "s1"
_BULK_SCHEMA = (
    "basin string, stream string, timestamp long, "
    "headers array<struct<name binary, value binary>>, body binary, "
    "ingest_order long"
)


class FakeClock:
    def __init__(self, ms: int = 10_000_000):
        self.ms = ms

    def __call__(self) -> int:
        return self.ms


def _mkstore(spark, base, clock=None, **kw) -> StreamStore:
    """A store whose catalog persists under ``base`` (so a second store
    on the same directory sees the same basin and stream)."""
    s = StreamStore(spark, base, clock=clock, **kw)
    s.catalog.create_basin(B)
    s.catalog.create_stream(B, S)
    return s


def _storage(store, start, limit=None, stream=S):
    """What a session batch read from storage returns for this range."""
    return store.read(
        B, stream, ReadStart(seq_num=start, clamp=True), limit or ReadLimit(), audit=False
    ).collect()


def _as_dicts(rows):
    return [r.asDict(recursive=True) for r in rows]


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; returns (result, Spark job ids)."""
    sc = spark.sparkContext
    group = f"follow-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _session_records(store, start, limit=None, stream=S):
    events = store.read_session(B, stream, start=ReadStart(seq_num=start), limit=limit)
    return [r for ev in events if ev.kind == "batch" for r in ev.records]


def _bulk(spark, store, n, tag):
    rows = [(B, S, None, [(b"bulk", tag.encode())], f"{tag}-{i}".encode(), i) for i in range(n)]
    store.bulk_append(spark.createDataFrame(rows, _BULK_SCHEMA))


# --- the follow broadcast equals the storage read -------------------------


def _random_batch(rng, ts):
    recs = []
    for _ in range(rng.randint(1, 4)):
        headers = [
            (rng.randbytes(rng.randint(1, 4)), rng.randbytes(rng.randint(0, 6)))
            for _ in range(rng.randint(0, 2))
        ]
        recs.append(Record(body=rng.randbytes(rng.randint(0, 40)), headers=headers, timestamp=ts))
        ts += rng.choice((0, 5, 10))
    return recs


def _random_limit(rng, ts_hi):
    return ReadLimit(
        count=rng.choice((None, None, 1, 2, 5)),
        bytes=rng.choice((None, None, 0, 30, rng.randint(0, 300))),
        until=rng.choice((None, None, rng.randint(1_000, ts_hi + 10))),
    )


@pytest.mark.parametrize("seed,bucket_count", [(501, 0), (502, 4)])
def test_follow_batches_match_storage_read(spark, tmp_path, seed, bucket_count):
    """Seeded ops (envelopes with headers, fence and trim commands, trims
    between appends): every follow answer equals the storage read over
    the same range and limits, and the broadcast answers exactly when it
    holds ``[max(start, trim), tail)`` in its last 25 batches."""
    rng = random.Random(seed)
    store = _mkstore(spark, str(tmp_path / "records"), FakeClock(), bucket_count=bucket_count)
    store.catalog.reconfigure_stream(B, S, StreamConfig(timestamping_mode="client-require"))
    starts: list[int] = []  # first seq of every unary batch
    ts = 1_000
    served = 0
    for _ in range(FOLLOWER_MAX_LAG + 4):
        tail = store.check_tail(B, S)[0]
        roll = rng.random()
        if roll < 0.1:
            batch = [fence_record(f"tok-{rng.randint(0, 9)}")]
        elif roll < 0.25:
            batch = [trim_record(rng.randint(0, tail + 2))]
        else:
            batch = _random_batch(rng, ts)
        for r in batch:
            r.timestamp = r.timestamp or ts
        starts.append(store.append(B, S, batch).start_seq)
        ts = max(r.timestamp for r in batch) + 5
        tail, trim = store._st_snapshot(B, S)
        window_lo = starts[-FOLLOWER_MAX_LAG:][0]
        for _ in range(2):
            start = rng.randint(0, tail)
            limit = _random_limit(rng, ts)
            got = store._follow_batch(B, S, start, limit)
            assert (got is not None) == (max(start, trim) >= window_lo)
            if got is not None:
                served += 1
                assert _as_dicts(got) == _as_dicts(_storage(store, start, limit))
    assert served > 0
    # a whole session from inside the window delivers the storage read
    start = starts[-5]
    limit = ReadLimit(count=rng.randint(1, 20))
    assert _as_dicts(_session_records(store, start, limit)) == _as_dicts(
        _storage(store, start, limit)
    )


# --- lag, invalidation, and stores sharing a directory --------------------


def test_lagging_follower_falls_back_to_storage(spark, tmp_path):
    store = _mkstore(spark, str(tmp_path / "records"))
    n = FOLLOWER_MAX_LAG + 5
    for i in range(n):
        store.append(B, S, [Record(body=f"r{i}".encode(), headers=[(b"i", bytes([i]))])])
    want = _storage(store, 0)
    assert [r.seq_num for r in want] == list(range(n))
    # 30 batches of one record: the broadcast holds seqs 5..29
    assert store._follow_batch(B, S, 4, ReadLimit()) is None
    assert _as_dicts(store._follow_batch(B, S, 5, ReadLimit())) == _as_dicts(want[5:])
    got, jobs = _jobs(spark, lambda: _session_records(store, 0))
    assert _as_dicts(got) == _as_dicts(want)
    assert jobs, "a follower 30 batches behind reads storage"
    got, jobs = _jobs(spark, lambda: _session_records(store, 5))
    assert _as_dicts(got) == _as_dicts(want[5:])
    assert jobs == []


def test_bulk_append_between_appends_restarts_broadcast(spark, tmp_path):
    store = _mkstore(spark, str(tmp_path / "records"))
    for i in range(3):
        store.append(B, S, [Record(body=f"a{i}".encode())])
    _bulk(spark, store, 4, "bulk")
    # the tail moved without the broadcast: it no longer ends at the tail
    assert store._follow_batch(B, S, 3, ReadLimit()) is None
    assert store._follow_batch(B, S, 7, ReadLimit()) is None
    store.append(B, S, [Record(body=b"b0"), Record(body=b"b1")])
    store.append(B, S, [Record(body=b"b2")])
    want = _storage(store, 0)
    assert [bytes(r.body) for r in want] == (
        [b"a0", b"a1", b"a2"] + [f"bulk-{i}".encode() for i in range(4)] + [b"b0", b"b1", b"b2"]
    )
    for start in (0, 3, 6):
        assert store._follow_batch(B, S, start, ReadLimit()) is None
    assert _as_dicts(store._follow_batch(B, S, 7, ReadLimit())) == _as_dicts(want[7:])
    assert _as_dicts(_session_records(store, 0)) == _as_dicts(want)


@pytest.mark.parametrize("drop", ["evict_dormant", "manifest_refresh"])
def test_state_drop_between_appends_frees_broadcast(spark, tmp_path, drop):
    store = _mkstore(spark, str(tmp_path / "records"))
    store.append(B, S, [Record(body=b"x0")])
    store.append(B, S, [Record(body=b"x1")])
    if drop == "evict_dormant":
        assert store.evict_dormant(max_age_ms=0) == 1
    else:
        store.manifest_refresh()
    assert (B, S) not in store._state
    # recovered from storage: no broadcast until the next append
    assert store._follow_batch(B, S, 0, ReadLimit()) is None
    assert not store._st(B, S).follow
    store.append(B, S, [Record(body=b"x2")])
    want = _storage(store, 0)
    assert [bytes(r.body) for r in want] == [b"x0", b"x1", b"x2"]
    assert store._follow_batch(B, S, 1, ReadLimit()) is None
    assert _as_dicts(store._follow_batch(B, S, 2, ReadLimit())) == _as_dicts(want[2:])
    assert _as_dicts(_session_records(store, 0)) == _as_dicts(want)


def test_second_store_on_same_directory_never_serves_stale(spark, tmp_path):
    base = str(tmp_path / "records")
    s1 = _mkstore(spark, base)
    for i in range(3):
        s1.append(B, S, [Record(body=f"one-{i}".encode())])
    s2 = StreamStore(spark, base)
    # s2 never appended: it has no broadcast and reads storage
    assert s2._follow_batch(B, S, 0, ReadLimit()) is None
    assert _as_dicts(_session_records(s2, 0)) == _as_dicts(_storage(s1, 0))
    s2.append(B, S, [Record(body=b"two-0")])
    # s1's broadcast ends at a tail s2 has moved past: a refresh drops it
    s1.manifest_refresh()
    assert s1._follow_batch(B, S, 3, ReadLimit()) is None
    assert [bytes(r.body) for r in _session_records(s1, 0)] == [
        b"one-0", b"one-1", b"one-2", b"two-0"
    ]
    s1.append(B, S, [Record(body=b"one-3")])
    s2.manifest_refresh()
    assert s2._follow_batch(B, S, 3, ReadLimit()) is None
    got = _session_records(s2, 3)
    assert [(r.seq_num, bytes(r.body)) for r in got] == [(3, b"two-0"), (4, b"one-3")]
    assert _as_dicts(got) == _as_dicts(_storage(s1, 3))


# --- cost: no Spark job on the unary serve path ----------------------------


def test_unary_append_and_caught_up_follow_run_no_spark_job(spark, tmp_path):
    store = _mkstore(spark, str(tmp_path / "records"))
    store.append(B, S, [Record(body=b"warm")])
    ack, jobs = _jobs(spark, lambda: store.append(B, S, [Record(body=b"a", headers=[(b"h", b"v")])]))
    assert jobs == []
    assert (ack.start_seq, ack.end_seq) == (1, 2)
    session = store.read_session(
        B, S, start=ReadStart(seq_num=2), wait_s=30, heartbeat_s=300, poll_s=0.001
    )
    assert next(session).kind == "heartbeat"  # caught up: follow mode
    store.append(B, S, [Record(body=b"b0"), Record(body=b"b1")])
    ev, jobs = _jobs(spark, lambda: next(session))
    assert jobs == []
    assert ev.kind == "batch"
    assert _as_dicts(ev.records) == _as_dicts(_storage(store, 2))
    session.close()
    # the counter does see jobs: a storage read runs at least one
    _, jobs = _jobs(spark, lambda: _storage(store, 0))
    assert jobs


# --- the driver-written parquet ---------------------------------------------


def _visible_parquet(store):
    return [
        os.path.join(store.base_dir, rel)
        for rel, _mt in mf.LOCAL.walk_files(store.base_dir)
        if rel.endswith(".parquet")
    ]


_RECS = [
    Record(body=b"plain"),
    Record(body=b"", headers=[(b"k", b"v"), (b"k", b""), (b"z", b"\x00\xff")]),
    Record(body=bytes(range(256)), headers=[(b"only", b"one")]),
]


@pytest.mark.parametrize("bucket_count", [0, 4])
def test_driver_parquet_matches_spark_written(spark, tmp_path, bucket_count):
    """The driver's file has Spark's parquet schema, reads back through
    Spark with and without a pinned schema, and in the bucketed layout
    Spark infers the ``bucket=N`` partition column."""
    store = _mkstore(spark, str(tmp_path / "records"), bucket_count=bucket_count)
    store.append(B, S, _RECS)
    store.append(B, S, [fence_record("tok")])
    path = _visible_parquet(store)[0]
    want = [
        (B, S, i, r.body, [(n, v) for n, v in r.headers])
        for i, r in enumerate(_RECS + [fence_record("tok")])
    ]
    got = store.read(B, S).collect()
    assert [(r.basin, r.stream, r.seq_num, r.body, [tuple(h) for h in r.headers]) for r in got] == want
    # a Spark write of the same rows has the same parquet schema
    spark_dir = str(tmp_path / "spark")
    spark.createDataFrame([tuple(r)[:6] for r in got], RECORD_SCHEMA).coalesce(1).write.parquet(
        spark_dir
    )
    (spark_file,) = [
        os.path.join(spark_dir, f) for f in os.listdir(spark_dir) if f.endswith(".parquet")
    ]
    assert pq.read_schema(path).remove_metadata() == pq.read_schema(spark_file).remove_metadata()
    # a schema-less Spark read of the directory infers RECORD_SCHEMA's
    # types (a file source reads every column as nullable)
    raw = spark.read.parquet(store.base_dir)
    types = [(f.name, f.dataType.simpleString()) for f in raw.schema.fields]
    assert [t for t in types if t[0] != "bucket"] == [
        (f.name, f.dataType.simpleString()) for f in RECORD_SCHEMA.fields
    ]
    if bucket_count:
        assert raw.schema["bucket"].dataType == T.IntegerType()
        assert {r.bucket for r in raw.select("bucket").collect()} == {store._bucket_of(B, S)}
        assert path.startswith(os.path.join(store.base_dir, f"bucket={store._bucket_of(B, S)}"))
    assert _as_dicts(raw.orderBy("seq_num").collect()) == _as_dicts(got)


def test_driver_parquet_reads_through_streaming_source(spark, tmp_path):
    from s2_spark.streaming import register

    store = _mkstore(spark, str(tmp_path / "records"))
    store.append(B, S, _RECS)
    store.append(B, S, [Record(body=b"last", headers=[(b"n", b"4")])])
    register(spark)
    q = (
        spark.readStream.format("s2")
        .option("path", store.base_dir)
        .option("basin", B)
        .load()
        .writeStream.format("memory")
        .queryName("follow_broadcast_src")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        cols = ", ".join(RECORD_SCHEMA.names)
        got = spark.sql(f"SELECT {cols} FROM follow_broadcast_src ORDER BY seq_num").collect()
    finally:
        q.stop()
    assert _as_dicts(got) == _as_dicts(_storage(store, 0))


def test_driver_parquet_survives_compaction(spark, tmp_path):
    store = _mkstore(spark, str(tmp_path / "records"), bucket_count=4)
    for i in range(4):
        store.append(B, S, [Record(body=f"c{i}".encode(), headers=[(b"i", str(i).encode())])])
    before = _as_dicts(_storage(store, 0))
    store.compact()
    assert _as_dicts(_storage(store, 0)) == before
    store.append(B, S, [Record(body=b"after")])
    after = _as_dicts(_storage(store, 0))
    assert after[:4] == before and after[4]["body"] == b"after"
    assert _as_dicts(_session_records(store, 0)) == after


def test_driver_parquet_on_object_store_backend(spark, tmp_path):
    backend = mf.SandboxObjectBackend(str(tmp_path / "bucket"))
    base = str(tmp_path / "records")
    store = StreamStore(spark, base, catalog=Catalog(spark), manifest_backend=backend)
    store.catalog.create_basin(B)
    store.catalog.create_stream(B, S)
    copies = backend.copies
    store.append(B, S, _RECS)
    assert backend.copies == copies + 1  # one part file, COPY to its key
    assert not _visible_parquet(store)  # nothing lands in the local tree
    got = _storage(store, 0)
    assert [(r.seq_num, r.body) for r in got] == [(i, r.body) for i, r in enumerate(_RECS)]
    store.append(B, S, [Record(body=b"more")])
    assert _as_dicts(_session_records(store, 1)) == _as_dicts(_storage(store, 1))
    store.compact()
    assert [r.body for r in _storage(store, 0)] == [r.body for r in _RECS] + [b"more"]
