"""Concurrency-mix scenarios ported from the reference's
``lite/tests/backend/data_plane/mixed.rs`` (concurrent appends are
contiguous and totally ordered) and the sim/ linearizability clients
(plain, match_seq_num, fencing), plus producer (A27) batching."""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor, wait

import pytest

from s2_spark.catalog import Catalog
from s2_spark.model import Record, SeqNumMismatch, FencingTokenMismatch
from s2_spark.producer import Producer
from s2_spark.store import StreamStore

BASIN = "test-basin"


@pytest.fixture()
def store(spark, tmp_path):
    cat = Catalog(spark)
    cat.create_basin(BASIN)
    cat.create_stream(BASIN, "s1")
    return StreamStore(spark, str(tmp_path / "records"), catalog=cat)


def test_concurrent_appends_contiguous_total_order(store):
    """mixed.rs: N writers × M batches concurrently → seq space is
    exactly [0, N·M·B) with no gaps, overlaps, or intra-batch
    reordering."""
    N_WRITERS, N_BATCHES, B = 8, 5, 4
    acks = []

    def writer(w):
        out = []
        for b in range(N_BATCHES):
            ack = store.append(
                BASIN, "s1", [Record(body=f"w{w}b{b}r{i}".encode()) for i in range(B)]
            )
            out.append(ack)
        return out

    with ThreadPoolExecutor(N_WRITERS) as ex:
        for f in [ex.submit(writer, w) for w in range(N_WRITERS)]:
            acks.extend(f.result())

    total = N_WRITERS * N_BATCHES * B
    # acks partition the seq space
    ranges = sorted((a.start_seq, a.end_seq) for a in acks)
    assert ranges[0][0] == 0 and ranges[-1][1] == total
    for (s1, e1), (s2, e2) in zip(ranges, ranges[1:]):
        assert e1 == s2, "gap or overlap between acked batches"
    # storage agrees: dense seqs, batch bodies contiguous in-order
    rows = store.read(BASIN, "s1").collect()
    assert [r.seq_num for r in rows] == list(range(total))
    by_seq = {r.seq_num: bytes(r.body) for r in rows}
    for a in acks:
        bodies = [by_seq[s] for s in range(a.start_seq, a.end_seq)]
        prefix = bodies[0][:4]
        assert all(b.startswith(prefix[:2]) for b in bodies)
        assert [b.split(b"r")[-1] for b in bodies] == [
            str(i).encode() for i in range(B)
        ]


def test_concurrent_match_seq_num_exactly_one_winner(store):
    """CAS clients: many writers race the same expected tail; exactly
    one append per round succeeds (the linearizability property the
    reference checks with Porcupine)."""
    ROUNDS, WRITERS = 5, 6
    for rnd in range(ROUNDS):
        tail, _ = store.check_tail(BASIN, "s1")
        results = []

        def cas_writer(i):
            try:
                store.append(
                    BASIN, "s1", [Record(body=f"r{rnd}-{i}".encode())], match_seq_num=tail
                )
                return "win"
            except SeqNumMismatch:
                return "lose"

        with ThreadPoolExecutor(WRITERS) as ex:
            results = list(ex.map(cas_writer, range(WRITERS)))
        assert results.count("win") == 1, f"round {rnd}: {results}"
    assert store.check_tail(BASIN, "s1")[0] == ROUNDS


def test_concurrent_fencing_excludes_zombies(store):
    """fencing clients: after a fence, only the token holder appends."""
    store.fence(BASIN, "s1", "owner")

    def zombie(_):
        try:
            store.append(BASIN, "s1", [Record(body=b"z")], fencing_token="stale")
            return "accepted"
        except FencingTokenMismatch:
            return "fenced"

    with ThreadPoolExecutor(4) as ex:
        assert set(ex.map(zombie, range(8))) == {"fenced"}
    ack = store.append(BASIN, "s1", [Record(body=b"ok")], fencing_token="owner")
    assert ack.start_seq == 1


# --- producer (A27) -----------------------------------------------------------


def test_producer_linger_batching(store):
    with Producer(store, BASIN, "s1", linger_ms=150) as p:
        futs = [p.submit(Record(body=f"m{i}".encode())) for i in range(10)]
        # nothing committed before linger fires
        assert not any(f.done() for f in futs)
        wait(futs, timeout=5)
    assert [f.result() for f in futs] == list(range(10))
    tail, _ = store.check_tail(BASIN, "s1")
    assert tail == 10
    # all 10 landed in ONE batch append → one parquet part file
    rows = store.read(BASIN, "s1").collect()
    assert [bytes(r.body) for r in rows] == [f"m{i}".encode() for i in range(10)]


def test_producer_commits_preserve_submission_order(store):
    """Racing flushes (fill flush vs explicit/timer flush) must append
    batches in take order — the SDK's ordered-pipelined-acks contract.
    The first batch's append is slowed so, without commit-order
    tickets, the second batch would win the stream's writer lock and
    steal the earlier seq_nums."""
    import threading
    import time

    real_append = store.append
    first = {"pending": True}

    def slow_first(*a, **kw):
        if first.pop("pending", None):
            time.sleep(0.3)
        return real_append(*a, **kw)

    store.append = slow_first
    try:
        p = Producer(store, BASIN, "s1", linger_ms=60_000)
        f0 = p.submit(Record(body=b"a"))
        f1 = p.submit(Record(body=b"b"))
        t = threading.Thread(target=p.flush)  # takes ticket 0, sleeps
        t.start()
        time.sleep(0.05)
        f2 = p.submit(Record(body=b"c"))
        f3 = p.submit(Record(body=b"d"))
        p.flush()  # ticket 1 — must wait for ticket 0's append
        t.join()
        p.close()
    finally:
        store.append = real_append
    assert [f.result(timeout=5) for f in (f0, f1, f2, f3)] == [0, 1, 2, 3]
    rows = store.read(BASIN, "s1").collect()
    assert [bytes(r.body) for r in rows] == [b"a", b"b", b"c", b"d"]


def test_producer_close_drains_inflight_timer_commit(store):
    """close() is a drain barrier: an in-flight linger-timer commit
    completes before close() returns, so every future handed out is
    resolved — no record left behind on a daemon thread."""
    import time

    real_append = store.append

    def slow(*a, **kw):
        time.sleep(0.3)
        return real_append(*a, **kw)

    store.append = slow
    try:
        p = Producer(store, BASIN, "s1", linger_ms=10)
        fut = p.submit(Record(body=b"x"))
        time.sleep(0.1)  # timer fired; its commit is inside append()
        p.close()
    finally:
        store.append = real_append
    assert fut.done() and fut.result() == 0


def test_producer_rejects_oversized_batch_config(store):
    import pytest as _pytest

    from s2_spark.model import MAX_BATCH_METERED_BYTES, MAX_BATCH_RECORDS

    with _pytest.raises(ValueError):
        Producer(store, BASIN, "s1", max_batch_records=MAX_BATCH_RECORDS + 1)
    with _pytest.raises(ValueError):
        Producer(store, BASIN, "s1", max_batch_bytes=MAX_BATCH_METERED_BYTES + 1)
    with _pytest.raises(ValueError):
        Producer(store, BASIN, "s1", max_batch_records=0)


def test_producer_count_cap_splits_batches(store):
    with Producer(store, BASIN, "s1", linger_ms=60_000, max_batch_records=4) as p:
        futs = [p.submit(Record(body=f"m{i}".encode())) for i in range(10)]
        p.flush()
    assert [f.result(timeout=5) for f in futs] == list(range(10))


def test_producer_unacked_window_bounds_inflight(store):
    """sdk/src/producer.rs:63-80: a submit burst never holds more than
    the un-acked window (5 MiB default, 1 MiB floor) in flight — the
    submitter blocks until acks drain, instead of queueing unboundedly
    in driver memory. Sampled at every admission and append."""
    from s2_spark.producer import MIN_UNACKED_WINDOW_BYTES

    n, body = 9, b"b" * (300 * 1024)  # ~300 KiB metered each
    peaks = []
    p = Producer(
        store, BASIN, "s1", linger_ms=20, max_batch_records=2,
        max_unacked_bytes=MIN_UNACKED_WINDOW_BYTES,
    )
    assert p.max_unacked_bytes == MIN_UNACKED_WINDOW_BYTES
    orig_append = store.append

    def sampling_append(*a, **k):
        peaks.append(p._unacked_bytes)
        return orig_append(*a, **k)

    store.append = sampling_append
    try:
        with p:
            futs = []
            for _ in range(n):
                futs.append(p.submit(Record(body=body)))
                peaks.append(p._unacked_bytes)
            wait(futs, timeout=60)
    finally:
        store.append = orig_append
    # every future resolved to its position despite the blocking
    assert sorted(f.result(timeout=5) for f in futs) == list(range(n))
    assert max(peaks) <= MIN_UNACKED_WINDOW_BYTES
    tail, _ = store.check_tail(BASIN, "s1")
    assert tail == n


def test_producer_window_admits_max_size_record(store):
    """A maximum-size record (1 MiB metered == the window floor) drains
    the window and is then admitted — no unsatisfiable wait (the record
    cap guarantees size <= floor, so admission always terminates)."""
    from s2_spark.model import MAX_RECORD_METERED_BYTES
    from s2_spark.producer import MIN_UNACKED_WINDOW_BYTES

    p = Producer(
        store, BASIN, "s1", linger_ms=10,
        max_unacked_bytes=MIN_UNACKED_WINDOW_BYTES,
    )
    small = Record(body=b"s" * 1024)
    big = Record(body=b"x" * (MAX_RECORD_METERED_BYTES - 8))  # metered == 1 MiB
    with p:
        f1 = p.submit(small)
        f2 = p.submit(big)  # must wait for f1's ack, then proceed
    assert f1.result(timeout=30) == 0
    assert f2.result(timeout=30) == 1


def test_producer_rejects_sub_floor_window(store):
    """The SDK rejects sub-1MiB un-acked windows with a validation error
    (sdk/src/producer.rs with_max_unacked_bytes) rather than silently
    loosening a caller's tighter request."""
    from s2_spark.producer import MIN_UNACKED_WINDOW_BYTES

    with pytest.raises(ValueError, match="max_unacked_bytes"):
        Producer(store, BASIN, "s1", max_unacked_bytes=1)
    with pytest.raises(ValueError, match="max_unacked_bytes"):
        Producer(store, BASIN, "s1", max_unacked_bytes=MIN_UNACKED_WINDOW_BYTES - 1)
    # exactly the floor is accepted
    Producer(store, BASIN, "s1", max_unacked_bytes=MIN_UNACKED_WINDOW_BYTES).close()


def test_producer_window_wait_flushes_pending(store):
    """When the un-acked window is held open solely by queued-but-
    unflushed bytes, a blocked submit flushes the pending batch itself
    instead of stalling for the full linger timer."""
    from s2_spark.producer import MIN_UNACKED_WINDOW_BYTES

    p = Producer(
        store, BASIN, "s1",
        linger_ms=60_000,  # linger will never fire within the test
        max_unacked_bytes=MIN_UNACKED_WINDOW_BYTES,
    )
    body = b"q" * (700 * 1024)  # ~700 KiB metered: two don't fit the window
    with p:
        t0 = time.monotonic()
        f1 = p.submit(Record(body=body))  # queued, not flushed (60s linger)
        f2 = p.submit(Record(body=body))  # window full of f1's queued bytes
        elapsed = time.monotonic() - t0
    assert f1.result(timeout=30) == 0
    assert f2.result(timeout=30) == 1
    # far below the 60s linger: the submit drove the flush itself
    assert elapsed < 30


def test_producer_close_wakes_blocked_submitter(store):
    """close() while a submitter is blocked on the window raises in the
    submitter instead of hanging it."""
    import threading

    slow = threading.Event()
    orig_append = store.append

    def slow_append(*a, **k):
        slow.set()
        time.sleep(0.5)
        return orig_append(*a, **k)

    store.append = slow_append
    from s2_spark.producer import MIN_UNACKED_WINDOW_BYTES

    p = Producer(
        store, BASIN, "s1", linger_ms=5, max_batch_records=1,
        max_unacked_bytes=MIN_UNACKED_WINDOW_BYTES,
    )
    errs = []

    def burst():
        try:
            for _ in range(8):
                p.submit(Record(body=b"z" * (900 * 1024)))
        except RuntimeError as e:
            errs.append(e)

    t = threading.Thread(target=burst)
    try:
        t.start()
        slow.wait(timeout=10)  # first batch in flight; submitter will block
        p.close()
        t.join(timeout=30)
        assert not t.is_alive()
    finally:
        store.append = orig_append
    # either the burst finished during close's flush or it was woken
    # with "producer closed" — it must not hang
    assert all("producer closed" in str(e) for e in errs)


def test_producer_failure_propagates_to_futures(store):
    p = Producer(store, BASIN, "s1", linger_ms=60_000)
    fut = p.submit(Record(body=b"x"))
    orig_append = store.append

    def failing_append(*a, **k):
        raise FencingTokenMismatch("owner")

    store.append = failing_append
    try:
        p.flush()
        with pytest.raises(FencingTokenMismatch):
            fut.result(timeout=5)
    finally:
        store.append = orig_append


# --- compaction -----------------------------------------------------------------


def test_compact_preserves_data_and_reduces_files(store, tmp_path):
    import os

    for i in range(12):
        store.append(BASIN, "s1", [Record(body=f"b{i}".encode())])
    n_files_before = sum(
        1 for _, _, fs in os.walk(store.base_dir) for f in fs if f.endswith(".parquet")
    )
    before = [(r.seq_num, bytes(r.body)) for r in store.read(BASIN, "s1").collect()]
    store.compact()
    # delisted originals coexist with the compacted copy until vacuum;
    # the physical fold this test counts completes at GC
    store.vacuum(grace_ms=0)
    n_files_after = sum(
        1 for _, _, fs in os.walk(store.base_dir) for f in fs if f.endswith(".parquet")
    )
    after = [(r.seq_num, bytes(r.body)) for r in store.read(BASIN, "s1").collect()]
    assert after == before
    assert n_files_after < n_files_before
    # tail survives a state rebuild from compacted storage
    store.recover_state()
    assert store.check_tail(BASIN, "s1")[0] == 12


def test_auto_create_is_race_safe(store):
    """auto_create.rs:266-403: concurrent first appends to a
    not-yet-existing stream create it exactly once and all batches land
    contiguously."""
    from s2_spark.catalog import BasinConfig

    store.catalog.reconfigure_basin(BASIN, BasinConfig(create_stream_on_append=True))
    n_writers, per = 6, 3

    def writer(i):
        for j in range(per):
            store.append(BASIN, "race-auto", [Record(body=f"w{i}-{j}".encode())])

    with ThreadPoolExecutor(n_writers) as ex:
        wait([ex.submit(writer, i) for i in range(n_writers)])
    meta = store.catalog.get_stream(BASIN, "race-auto")
    assert meta.deleted_at is None
    rows = store.read(BASIN, "race-auto").collect()
    assert [r.seq_num for r in rows] == list(range(n_writers * per))
    # every writer's batches all arrived
    bodies = {bytes(r.body).decode() for r in rows}
    assert bodies == {f"w{i}-{j}" for i in range(n_writers) for j in range(per)}


def test_check_tail_auto_creates_on_read_flag(store):
    """auto_create.rs:207-264: check_tail auto-creates under
    create_stream_on_read; without the flag it raises."""
    from s2_spark.catalog import BasinConfig
    from s2_spark.model import StreamNotFound

    with pytest.raises(StreamNotFound):
        store.check_tail(BASIN, "ct-auto")
    store.catalog.reconfigure_basin(BASIN, BasinConfig(create_stream_on_read=True))
    assert store.check_tail(BASIN, "ct-auto") == (0, 0)
    assert store.catalog.get_stream(BASIN, "ct-auto")


def test_concurrent_reads_consistent(store):
    """mixed.rs:180-229: concurrent readers over a stream being appended
    to each observe a contiguous prefix (no gaps, no reordering)."""
    store.append(BASIN, "s1", [Record(body=b"seed")])

    stop = []

    def appender():
        for i in range(4):
            store.append(BASIN, "s1", [Record(body=f"a{i}".encode())])
        stop.append(True)

    def reader():
        snapshots = []
        while not stop:
            seqs = [r.seq_num for r in store.read(BASIN, "s1").collect()]
            snapshots.append(seqs)
        return snapshots

    with ThreadPoolExecutor(3) as ex:
        fa = ex.submit(appender)
        frs = [ex.submit(reader) for _ in range(2)]
        wait([fa] + frs)
    for fr in frs:
        for seqs in fr.result():
            assert seqs == sorted(seqs)
            assert seqs == list(range(len(seqs)))  # contiguous prefix


def test_concurrent_reconfigure_during_append(store):
    """mixed.rs:117-179: reconfiguring a stream while appends are in
    flight neither loses records nor corrupts sequencing; subsequent
    appends observe the new config."""
    from s2_spark.catalog import StreamConfig

    def appender():
        for i in range(6):
            store.append(BASIN, "s1", [Record(body=f"r{i}".encode())])

    def reconfigurer():
        for mode in ("arrival", "client-prefer", "arrival"):
            store.catalog.reconfigure_stream(
                BASIN, "s1", StreamConfig(timestamping_mode=mode)
            )
            time.sleep(0.01)

    with ThreadPoolExecutor(2) as ex:
        wait([ex.submit(appender), ex.submit(reconfigurer)])
    rows = store.read(BASIN, "s1").collect()
    assert [r.seq_num for r in rows] == list(range(6))
    assert store.catalog.resolve_config(BASIN, "s1").timestamping_mode == "arrival"
    # post-race appends use the settled config (arrival overrides client ts)
    ack = store.append(BASIN, "s1", [Record(body=b"post", timestamp=1)])
    assert ack.start_ts > 1


def test_auto_create_lost_race_returns_winner(store):
    """Deterministic lost-race: the stream appears between the lookup
    and the create. The reference swallows StreamAlreadyExists on this
    path and proceeds with the winner's stream (core.rs:372)."""
    from s2_spark.catalog import BasinConfig
    from s2_spark.model import StreamNotFound

    cat = store.catalog
    cat.reconfigure_basin(BASIN, BasinConfig(create_stream_on_append=True))
    orig_get = cat.get_stream
    state = {"raced": False}

    def losing_get(basin, name):
        if name == "lost-race" and not state["raced"]:
            state["raced"] = True
            cat.create_stream(basin, name)  # the winner lands here
            raise StreamNotFound(name)
        return orig_get(basin, name)

    cat.get_stream = losing_get
    try:
        meta = cat.ensure_stream_for(BASIN, "lost-race", "append")
    finally:
        cat.get_stream = orig_get
    assert meta.name == "lost-race" and meta.deleted_at is None


def test_durable_catalog_concurrent_creates_do_not_corrupt(spark, tmp_path):
    """Concurrent stream creates against one durable catalog: _save
    snapshots under the catalog lock and writes via unique temp files,
    so no 'dict changed size during iteration' and no torn metadata."""
    from s2_spark.catalog import BasinConfig, Catalog

    meta_dir = str(tmp_path / "meta")
    cat = Catalog(spark, meta_dir=meta_dir)
    cat.create_basin(BASIN, BasinConfig(create_stream_on_append=True))
    n_threads, per = 8, 12

    def creator(i):
        for j in range(per):
            cat.ensure_stream_for(BASIN, f"cc-{i}-{j}", "append")

    with ThreadPoolExecutor(n_threads) as ex:
        futs = [ex.submit(creator, i) for i in range(n_threads)]
        wait(futs)
    for f in futs:
        f.result()  # surface any RuntimeError/corruption
    names, _ = cat.list_streams(BASIN, prefix="cc-")
    assert len(names) == n_threads * per
    # the persisted file reloads cleanly with every stream present
    cat2 = Catalog(spark, meta_dir=meta_dir)
    names2, _ = cat2.list_streams(BASIN, prefix="cc-")
    assert names2 == names


def test_producer_timer_start_failure_does_not_leak_ticket(store, monkeypatch):
    """A Timer.start() raising ('can't start new thread') between the
    ticket take and _commit previously orphaned the ticket: _turn never
    advanced and every later commit + close() deadlocked. The failure
    must roll back the submit, un-issue the ticket, keep the taken
    batch queued, and leave the producer fully usable."""
    import threading as _th

    p = Producer(store, BASIN, "s1", linger_ms=60_000, max_batch_records=1)
    f1 = p.submit(Record(body=b"a"))  # queued; timer running

    real_timer = _th.Timer
    armed = {"on": True}

    class _BoomTimer:
        def __init__(self, *a, **k):
            self._t = real_timer(*a, **k)

        def __setattr__(self, k, v):
            if k == "_t":
                object.__setattr__(self, k, v)
            else:
                setattr(self._t, k, v)

        def start(self):
            if armed["on"]:
                armed["on"] = False
                raise RuntimeError("can't start new thread")
            self._t.start()

        def cancel(self):
            self._t.cancel()

    monkeypatch.setattr(_th, "Timer", _BoomTimer)
    # max_batch_records=1 → this submit takes [a]'s batch (ticket!),
    # then must create a fresh linger timer, which blows up
    with pytest.raises(RuntimeError, match="can't start new thread"):
        p.submit(Record(body=b"b"))
    # the producer is not wedged: a later submit and close() complete
    f3 = p.submit(Record(body=b"c"))
    t = _th.Thread(target=p.close)
    t.start()
    t.join(timeout=30)
    assert not t.is_alive(), "close() deadlocked on the leaked ticket"
    assert f1.result(timeout=5) == 0
    assert f3.result(timeout=5) == 1  # b rolled back, never committed
    rows = store.read(BASIN, "s1").collect()
    assert [bytes(r.body) for r in rows] == [b"a", b"c"]


def test_records_cache_lost_invalidation_is_fenced(store):
    """The listing-cache epoch fence (round-11 linearizability soak):
    a reader whose directory listing OVERLAPS an append must not
    install its snapshot as the served cache after the append's
    invalidation ran — pre-fence, the stale snapshot silently hid the
    acked records from every subsequent read (a real-time
    linearizability violation caught ~1-in-10 under load)."""
    import threading

    store.append(BASIN, "s1", [Record(body=b"a")])
    store.read(BASIN, "s1").collect()  # populate the cache
    store._invalidate_records()

    entered, proceed = threading.Event(), threading.Event()
    orig_manifest_current = store._manifest_current

    def slow_manifest_current(*a, **kw):
        entered.set()
        assert proceed.wait(10)
        return orig_manifest_current(*a, **kw)

    store._manifest_current = slow_manifest_current
    reader = threading.Thread(target=store.records_df)
    reader.start()
    assert entered.wait(10)  # the reader is mid-listing (pre-epoch read done)
    store._manifest_current = orig_manifest_current
    store.append(BASIN, "s1", [Record(body=b"late")])  # bumps the epoch
    proceed.set()
    reader.join(10)
    # the racing reader must NOT have cached: its snapshot began before
    # the append's invalidation
    assert store._records_cache == {}  # per-bucket dict since r13
    # and a post-append read serves the acked record
    rows = [bytes(r.body) for r in store.read(BASIN, "s1").collect()]
    assert rows == [b"a", b"late"]


def test_bulk_append_serializes_with_unary_appends(spark, store):
    """Found live (r12): bulk_append computed offsets from per-stream
    tails WITHOUT the per-stream writer locks, so a unary append
    racing the bulk write job read the same tail, minted DUPLICATE
    seq_nums, and its smaller state advance clobbered the bulk's
    (observed: 4019 rows / 4008 distinct seqs / tail regressed to 19).
    bulk_append now holds every touched stream's lock (sorted) from
    state recovery through the state advance: the seq space must come
    out exactly [0, total) and the tail exact, no matter how the
    unary writer interleaves."""
    import threading

    store.append(BASIN, "s1", [Record(body=b"seed")])
    rows = [
        (BASIN, "s1", None, [], f"bulk{i}".encode(), i) for i in range(2000)
    ]
    bulk_df = spark.createDataFrame(
        rows,
        "basin string, stream string, timestamp long, "
        "headers array<struct<name:binary,value:binary>>, "
        "body binary, ingest_order long",
    )
    done = threading.Event()
    errs: list = []

    def bulk():
        try:
            store.bulk_append(bulk_df)
        except Exception as e:  # pragma: no cover - the assertion
            errs.append(e)
        finally:
            done.set()

    th = threading.Thread(target=bulk)
    th.start()
    n_unary = 0
    while not done.is_set():
        store.append(BASIN, "s1", [Record(body=b"u%d" % n_unary)])
        n_unary += 1
    th.join()
    assert not errs, errs
    df = store.read(BASIN, "s1")
    expected = 1 + 2000 + n_unary
    seqs = sorted(r.seq_num for r in df.select("seq_num").collect())
    assert seqs == list(range(expected)), (
        f"seq space broken: {len(seqs)} rows, "
        f"{len(set(seqs))} distinct, expected [0, {expected})"
    )
    tail, _ = store.check_tail(BASIN, "s1")
    assert tail == expected


def test_bulk_append_with_commands_recovers_own_streams_under_lock(
    spark, store
):
    """The command branch of bulk_append re-derives its own streams'
    state from storage WHILE holding their writer locks: one keyed
    recovery whose result replaces exactly the held keys' pre-bulk
    state objects (keeping them would lose the bulk's tail advance and
    the in-band trim fold). After a bulk batch containing a trim
    command, the tail AND the trim point must reflect the batch."""
    from s2_spark.model import trim_record

    store.append(BASIN, "s1", [Record(body=b"a"), Record(body=b"b")])
    tr = trim_record(2)
    rows = [
        (BASIN, "s1", None, [], b"c", 0),
        (BASIN, "s1", None, [(n, v) for n, v in tr.headers], bytes(tr.body), 1),
        (BASIN, "s1", None, [], b"d", 2),
    ]
    bulk_df = spark.createDataFrame(
        rows,
        "basin string, stream string, timestamp long, "
        "headers array<struct<name:binary,value:binary>>, "
        "body binary, ingest_order long",
    )
    store.bulk_append(bulk_df)
    tail, _ = store.check_tail(BASIN, "s1")
    assert tail == 5
    got = [bytes(r.body) for r in store.read(BASIN, "s1").collect()]
    assert got == [b"c", bytes(tr.body), b"d"]  # records 0,1 trimmed


def test_read_snapshot_not_torn_by_concurrent_trim(store):
    """Deterministic rendering of the round-12 soak find (seeds 20325 /
    732608, pinned in test_linearizability): a read whose records
    LISTING resolves after a concurrent append+trim landed must still
    return its state snapshot's prefix — never the fresher trim's
    clamp over the staler record set (the torn read: trim's effect
    visible, the append sequenced before it missing).

    The interleaving is forced, not raced: records_df is wrapped so
    the READER's listing call first lets a writer commit an append at
    seq 3 and a trim(2) at seq 4 — the window where the old
    live-``st.trim_point`` filter mixed listing and state captured at
    different points. This pins the snapshot MECHANISM (state pair
    captured at read entry, result bounded to it); the torn-read bug
    itself is pinned stochastically by the linearizability seeds."""
    from s2_spark.model import trim_record

    store.append(
        BASIN, "s1", [Record(body=b"r0"), Record(body=b"r1"), Record(body=b"r2")]
    )

    real_records_df = store.records_df
    injected = []

    def records_df_with_midflight_writer(*a, **kw):
        if not injected:
            injected.append(True)
            store.append(BASIN, "s1", [Record(body=b"late")])  # seq 3
            store.append(BASIN, "s1", [trim_record(2)])        # seq 4, trim=2
        return real_records_df(*a, **kw)

    store.records_df = records_df_with_midflight_writer
    try:
        # the reader's (tail, trim) snapshot predates the injection, so
        # it must see the FULL pre-injection prefix [0, 3) untrimmed
        seqs = [r.seq_num for r in store.read(BASIN, "s1").collect()]
    finally:
        store.records_df = real_records_df
    assert injected, "injection did not run — the test lost its teeth"
    assert seqs == [0, 1, 2], f"torn read: {seqs}"

    # and a read AFTER the writer's commits sees the post-trim state
    seqs = [r.seq_num for r in store.read(BASIN, "s1").collect()]
    assert seqs == [2, 3, 4]
