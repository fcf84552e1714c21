"""Ops-audit meta-stream (the ReadOps/ReadThroughput/BasinOps input,
api/src/v1/metrics.rs:110-130) — the store logs one row per
client-shaped operation, sessions account served bytes exactly, and
the read-side metric sets aggregate the audit relation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s2_spark.catalog import Catalog
from s2_spark.model import Record
from s2_spark.operators.metrics import basin_ops, read_ops, read_throughput
from s2_spark.store import ReadLimit, ReadStart, StreamStore

BASIN = "audit-basin"


@pytest.fixture()
def store(spark, tmp_path):
    cat = Catalog(spark)
    cat.create_basin(BASIN)
    cat.create_stream(BASIN, "s1")
    return StreamStore(spark, str(tmp_path / "records"), catalog=cat)


def _ops(store, *names):
    return [
        r
        for r in store.audit.df().collect()
        if r["op"] in names
    ]


def test_reads_logged_once_per_client_call(store):
    store.append(BASIN, "s1", [Record(body=b"x"), Record(body=b"y")])
    store.read(BASIN, "s1").collect()
    store.read_unary(BASIN, "s1", limit=ReadLimit(count=1)).collect()
    assert len(_ops(store, "read")) == 2  # one per client call, not per job


def test_check_tail_logged_but_not_internal_polls(store):
    store.append(BASIN, "s1", [Record(body=b"x")])
    store.check_tail(BASIN, "s1")
    store.check_tail(BASIN, "s1")
    # a finite session polls the tail internally via _tail — no audit
    list(store.read_session(BASIN, "s1", limit=ReadLimit(count=1)))
    assert len(_ops(store, "check_tail")) == 2


def test_session_accounts_served_bytes_exactly(store):
    recs = [Record(body=b"a" * 100), Record(body=b"b" * 50)]
    store.append(BASIN, "s1", recs)
    batches = [
        e
        for e in store.read_session(BASIN, "s1", limit=ReadLimit(count=2))
        if e.kind == "batch"
    ]
    served = sum(
        8 + 2 * len(r.headers) + len(r.body) for b in batches for r in b.records
    )
    sessions = _ops(store, "read_session")
    deliveries = _ops(store, "read_batch")
    assert len(sessions) == 1
    assert sum(d["bytes"] for d in deliveries) == served
    assert sum(d["records"] for d in deliveries) == 2


def test_basin_ops_cover_stream_crud_and_list(store):
    store.catalog.create_stream(BASIN, "s2")
    store.catalog.list_streams(BASIN)
    store.catalog.delete_stream(BASIN, "s2")
    got = {r["op"] for r in _ops(store, "create_stream", "list_streams", "delete_stream")}
    assert got == {"create_stream", "list_streams", "delete_stream"}


def test_metric_sets_aggregate_audit(store):
    t0 = 1_700_000_000_000
    ticks = iter(range(200))
    store._clock = lambda: t0 + next(ticks) * 60_000  # one minute per op
    store.audit._clock = store._clock
    store.append(BASIN, "s1", [Record(body=b"p" * 64)])
    store.read(BASIN, "s1").collect()
    store.read(BASIN, "s1").collect()
    list(store.read_session(BASIN, "s1", limit=ReadLimit(count=1)))
    store.catalog.list_streams(BASIN)

    audit = store.audit.df()
    ops = read_ops(audit, "day", basin=BASIN).agg(F.sum("ops")).first()[0]
    assert ops == 3  # 2 reads + 1 session
    tput = read_throughput(audit, "day").agg(F.sum("bytes")).first()[0]
    assert tput == 8 + 64  # one delivered record, metered
    bops = basin_ops(audit, "day", basin=BASIN).agg(F.sum("ops")).first()[0]
    assert bops >= 1  # the explicit list_streams (+ fixture creates if co-timed)


def test_flush_persists_and_df_unions_buffer(store):
    store.append(BASIN, "s1", [Record(body=b"x")])
    store.read(BASIN, "s1")
    n_before = store.audit.df().count()
    store.audit.flush()
    assert not store.audit._buf
    store.read(BASIN, "s1")  # buffered only
    assert store.audit.df().count() == n_before + 1


def test_flush_dogfoods_audit_into_own_stream(store):
    """The audit stream IS an S2 stream: flush appends through
    StreamStore.append into the reserved s2-ops-audit/ops stream, and
    the rows come back through the store's own read API with the
    store's own sequencing — never observing the flush itself."""
    import json

    from s2_spark.operators.audit import AUDIT_BASIN, AUDIT_STREAM

    store.append(BASIN, "s1", [Record(body=b"x" * 32)])
    batches = [
        e
        for e in store.read_session(BASIN, "s1", limit=ReadLimit(count=1))
        if e.kind == "batch"
    ]
    assert len(batches) == 1
    store.audit.flush()

    rows = store.read(AUDIT_BASIN, AUDIT_STREAM, audit=False).collect()
    assert rows
    # the store's own sequencing applies to the audit records
    assert [r["seq_num"] for r in rows] == list(range(len(rows)))
    ops = [json.loads(bytes(r["body"]).decode()) for r in rows]
    rb = [o for o in ops if o["op"] == "read_batch"]
    assert len(rb) == 1 and rb[0]["records"] == 1 and rb[0]["stream"] == "s1"
    # no self-observation: nothing in the log is about the audit sink
    assert not [o for o in ops if o["basin"] == AUDIT_BASIN]
    # df() serves the same rows to the metric sets (via store.read)
    assert (
        store.audit.df().filter(F.col("op") == "read_batch").count() == 1
    )


def test_concurrent_logging_and_flushes_lose_nothing(store):
    """N threads hammer log() with a tiny flush threshold, so flushes
    (now real appends to the audit stream) interleave with logging and
    with each other; the per-stream writer lock serializes the appends
    and the final relation must hold every op exactly once."""
    import threading

    store.append(BASIN, "s1", [Record(body=b"x")])
    store.audit.flush_threshold = 16
    n_threads, per = 4, 50

    def worker():
        for _ in range(per):
            store.audit.log("read", BASIN, "s1")

    ts = [threading.Thread(target=worker) for _ in range(n_threads)]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    store.audit.flush()
    got = store.audit.df().filter(F.col("op") == "read").count()
    assert got == n_threads * per


def test_flushed_audit_history_survives_store_restart(spark, tmp_path):
    """The durable catalog remembers the reserved audit stream, so a
    store reopened over the same directory serves the PREVIOUS
    instance's flushed ops through df() — metric sets keep their full
    history across restarts instead of silently restarting at zero."""
    from s2_spark.store import StreamStore

    base = str(tmp_path / "records")
    s1 = StreamStore(spark, base)  # default durable catalog at base/_meta
    s1.catalog.create_basin(BASIN)
    s1.catalog.create_stream(BASIN, "s1")
    s1.append(BASIN, "s1", [Record(body=b"x")])
    s1.read(BASIN, "s1")
    s1.read(BASIN, "s1")
    s1.audit.flush()

    s2 = StreamStore(spark, base)
    assert s2.audit.df().filter(F.col("op") == "read").count() == 2


def test_flush_failure_rebuffers_uncommitted_rows(store):
    """A failing append mid-flush must not lose the popped rows: the
    committed prefix stays committed, the remainder returns to the
    buffer, and a retry lands every op exactly once."""
    import pytest as _pytest

    from s2_spark.model import MAX_BATCH_RECORDS

    n = MAX_BATCH_RECORDS + 300  # two chunks
    for _ in range(n):
        store.audit._buf.append((store.audit._clock(), "read", BASIN, "s1", None, None))

    real_append = store.append
    calls = {"n": 0}

    def flaky(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("transient write failure")
        return real_append(*a, **kw)

    store.append = flaky
    with _pytest.raises(RuntimeError, match="transient"):
        store.audit.flush()
    # chunk 1 committed, chunk 2 re-buffered — and the background
    # flusher now retries the under-threshold remainder on its own
    # (round-9: retry_pending wake), so rather than asserting the
    # transient buffer state, wait for the retry and assert the
    # stronger property: every op lands exactly once, none twice
    store.append = real_append
    store.audit.drain(timeout=30)
    assert not store.audit._buf
    assert store.audit.df().filter(F.col("op") == "read").count() == n


def test_audit_flush_threshold_routes_through_stream(store):
    from s2_spark.operators.audit import AUDIT_BASIN, AUDIT_STREAM

    store.audit.flush_threshold = 8
    store.append(BASIN, "s1", [Record(body=b"x")])
    for _ in range(8):  # hits the threshold mid-loop
        store.read(BASIN, "s1")
    store.audit.drain()  # threshold flush is async — wait, don't force
    assert len(store.audit._buf) == 0
    n = store.read(AUDIT_BASIN, AUDIT_STREAM, audit=False).count()
    assert n >= 8
    # total relation = flushed stream + live buffer, no loss
    assert store.audit.df().filter(F.col("op") == "read").count() == 8


# --- async flusher ----------------------------------------------------


class _FakeStore:
    """Store stub whose append costs ``delay`` seconds — isolates the
    log()-latency measurement from Spark scheduling noise."""

    class _Cat:
        def create_basin(self, *a, **k):
            pass

        def create_stream(self, *a, **k):
            pass

        def get_stream(self, *a, **k):
            return object()

    def __init__(self, delay=0.0, gate=None):
        self.catalog = self._Cat()
        self.appended = []
        self.delay = delay
        self.gate = gate  # threading.Event blocking appends when set

    def append(self, basin, stream, records):
        import time as _t

        if self.gate is not None:
            self.gate.wait()
        if self.delay:
            _t.sleep(self.delay)
        self.appended.extend(records)


def _audit_over(spark, fake, **kw):
    from s2_spark.operators.audit import OpsAudit

    clock = iter(range(10**9)).__next__
    return OpsAudit(spark, fake, clock, **kw)


def test_threshold_flush_is_async_and_lossless(spark):
    """log() latency must be independent of the flush cost: with a
    0.5 s-per-append backend and threshold 50, 500 logs cross the
    threshold ~10 times — a synchronous flush would make those calls
    pay ≥0.5 s each. Every row still lands exactly once. (The bound
    leaves 2x headroom for co-tenant scheduler noise: a list append
    under a lock taking 0.25 s would be noise of a different order.)"""
    import time as _t

    fake = _FakeStore(delay=0.5)
    audit = _audit_over(spark, fake, flush_threshold=50)
    worst = 0.0
    for i in range(500):
        t0 = _t.perf_counter()
        audit.log("read", BASIN, f"s{i}")
        worst = max(worst, _t.perf_counter() - t0)
    assert worst < 0.25, f"a log() call paid the flush inline ({worst:.3f}s)"
    audit.flush()  # drain the sub-threshold remainder synchronously
    assert len(fake.appended) == 500
    streams = {__import__("json").loads(bytes(r.body))["stream"] for r in fake.appended}
    assert len(streams) == 500  # exactly once, nothing doubled
    assert audit.dropped == 0


def test_hard_cap_backpressure_then_counted_drop(spark):
    """A wedged backend (append blocked forever) must not grow the
    buffer unboundedly or block the client beyond the back-pressure
    budget: past hard_cap, log() waits briefly then drops + counts."""
    import threading as _th
    import time as _t

    gate = _th.Event()  # never set: appends hang
    fake = _FakeStore(gate=gate)
    audit = _audit_over(
        spark,
        fake,
        flush_threshold=4,
        hard_cap=10,
        backpressure_s=0.05,
    )
    for i in range(25):
        audit.log("read", BASIN, f"s{i}")
    assert audit.dropped > 0
    with audit._mu:
        buffered = len(audit._buf)
    # bounded: cap + at most the batch the flusher popped before hanging
    assert buffered <= 10
    assert buffered + len(fake.appended) + audit.dropped <= 25
    t0 = _t.perf_counter()
    audit.log("read", BASIN, "late")
    assert _t.perf_counter() - t0 < 1.0  # bounded, no unbounded block
    gate.set()  # unwedge so the daemon thread exits its append cleanly
    _t.sleep(0.1)


def test_drain_waits_out_inflight_async_flush(spark):
    """drain() returns only after the background flusher committed the
    in-flight rows — df()-after-drain counts everything without an
    explicit flush."""
    import threading as _th

    gate = _th.Event()
    fake = _FakeStore(gate=gate)
    audit = _audit_over(spark, fake, flush_threshold=5)
    for i in range(5):
        audit.log("read", BASIN, f"s{i}")
    gate.set()
    audit.drain(timeout=10)
    assert len(fake.appended) == 5


def test_hard_cap_below_threshold_rejected(spark):
    """hard_cap < flush_threshold would back-pressure on a flusher that
    can never wake — reject the misconfiguration up front."""
    with pytest.raises(ValueError, match="hard_cap"):
        _audit_over(
            spark, _FakeStore(), flush_threshold=100, hard_cap=10
        )


def test_flush_failure_retries_without_new_traffic(spark, monkeypatch):
    """A transient backend failure re-buffers a remainder that can sit
    BELOW the flush threshold; the flusher must retry while any rows
    remain — on a quiescent client (no further log() traffic) the rows
    previously sat in memory until the threshold was re-crossed."""
    import time as _t

    from s2_spark import model as _model

    monkeypatch.setattr(_model, "MAX_BATCH_RECORDS", 10)
    fake = _FakeStore()
    real_append = fake.append
    calls = {"n": 0}

    def flaky(basin, stream, records):
        calls["n"] += 1
        if calls["n"] == 2:  # chunk 2 of the first flush fails
            raise RuntimeError("transient write failure")
        return real_append(basin, stream, records)

    fake.append = flaky
    audit = _audit_over(spark, fake, flush_threshold=15)
    for i in range(15):  # crosses the threshold -> async flush
        audit.log("read", BASIN, f"s{i}")
    # chunk 1 (10 rows) committed, chunk 2 (5 rows) re-buffered: 5 < 15
    # never re-crosses the threshold — only the retry path can drain it
    deadline = _t.monotonic() + 30
    while len(fake.appended) < 15:
        assert _t.monotonic() < deadline, (
            f"flusher never retried the under-threshold remainder "
            f"({len(fake.appended)}/15 landed, "
            f"last error {audit.last_flush_error!r})"
        )
        _t.sleep(0.05)
    audit.drain(timeout=10)
    assert len(fake.appended) == 15  # exactly once, no duplicates
    assert audit.dropped == 0


def test_backpressure_drops_oldest_and_reports_drop_rows(spark):
    """Drop bias + observability: past hard_cap against a wedged
    backend the OLDEST buffered row is evicted (the freshest operations
    survive), the monotonic counter records every loss, and df()
    surfaces op='audit_drop' rows whose records-sum equals the counter
    — so ops_by_label-style metric queries report the audit stream's
    own at-most-once loss instead of silently under-counting."""
    import threading as _th
    import time as _t

    from s2_spark.model import S2Error

    gate = _th.Event()  # never set: appends hang
    fake = _FakeStore(gate=gate)

    def _no_stream(*a, **k):
        raise S2Error("audit stream never created (wedged)")

    fake.catalog.get_stream = _no_stream
    audit = _audit_over(
        spark,
        fake,
        flush_threshold=4,
        hard_cap=10,
        backpressure_s=0.05,
    )
    for i in range(25):
        audit.log("read", BASIN, f"s{i}")
    assert audit.dropped > 0
    with audit._mu:
        buffered = [row[3] for row in audit._buf]
    # drop-oldest: the buffer holds exactly the NEWEST rows, in order
    assert buffered == [f"s{i}" for i in range(25 - len(buffered), 25)]
    drops = audit.df().filter(F.col("op") == "audit_drop").collect()
    assert sum(r["records"] for r in drops) == audit.dropped
    assert all(r["basin"] == "s2-ops-audit" for r in drops)
    # unwedge: the hung flush completes and the flusher drains the
    # buffer — accounting identity: landed ops + dropped = logged, and
    # the drop accounting itself flushed as ordinary audit_drop ROWS
    # (durable with the stream it annotates — a restart cannot erase
    # the loss record while keeping the under-counted ops data)
    gate.set()
    audit.drain(timeout=10)
    import json as _json

    bodies = [_json.loads(bytes(r.body)) for r in fake.appended]
    landed_ops = [b for b in bodies if b["op"] != "audit_drop"]
    landed_drops = [b for b in bodies if b["op"] == "audit_drop"]
    assert len(landed_ops) + audit.dropped == 25
    assert sum(b["records"] for b in landed_drops) == audit.dropped
    # once flushed, the in-memory event list is empty: df() must not
    # double-count (stream rows + live remainder would each report)
    assert audit._drop_events == []


def test_drop_accounting_survives_restart(spark, tmp_path):
    """ADVICE r9: the loss accounting must be as durable as the stream
    it annotates — a process restart after a flushed drop still shows
    the op='audit_drop' rows through a FRESH store over the same
    directory, so post-restart metric queries do not silently
    under-report."""
    base = str(tmp_path / "records")
    s1 = StreamStore(spark, base)
    s1.catalog.create_basin(BASIN)
    s1.catalog.create_stream(BASIN, "s1")
    with s1.audit._mu:
        s1.audit._record_drop_locked(3)
    s1.audit.log("read", BASIN, "s1")
    s1.audit.flush()
    # the restarted process has no memory of the drop events
    s2 = StreamStore(spark, base)
    drops = s2.audit.df().filter(F.col("op") == "audit_drop").collect()
    assert sum(r["records"] for r in drops) == 3
