"""Structured Streaming layer tests: S2 source (live tail, checkpoint
resume), foreachBatch sink, stateful fence/trim, and streaming-vs-batch
equivalence of the windowed operators."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from s2_spark.catalog import Catalog
from s2_spark.model import Record, fence_record, trim_record
from s2_spark.store import StreamStore
from s2_spark.streaming import register
from s2_spark.streaming import ops as sops
from s2_spark.streaming.sink import append_sink
from s2_spark.streaming.state import apply_commands_batch, apply_commands_stream
from s2_spark.tables import t

BASIN = "test-basin"


@pytest.fixture()
def store(spark, tmp_path):
    cat = Catalog(spark)
    cat.create_basin(BASIN)
    cat.create_stream(BASIN, "s1")
    return StreamStore(spark, str(tmp_path / "records"), catalog=cat)


def _recs(n, start=0):
    return [Record(body=f"rec-{start+i}".encode()) for i in range(n)]


def _start_tail_query(spark, store, name):
    register(spark)
    sdf = (
        spark.readStream.format("s2")
        .option("path", store.base_dir)
        .option("basin", BASIN)
        .load()
    )
    return (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )


def test_source_catchup_and_live_tail(spark, store):
    store.append(BASIN, "s1", _recs(10))
    q = _start_tail_query(spark, store, "tail1")
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT seq_num FROM tail1 ORDER BY seq_num").collect()
        assert [r.seq_num for r in got] == list(range(10))
        # live tail: appends after the query started are delivered
        store.append(BASIN, "s1", _recs(5, start=10))
        q.processAllAvailable()
        got = spark.sql("SELECT seq_num FROM tail1 ORDER BY seq_num").collect()
        assert [r.seq_num for r in got] == list(range(15))
    finally:
        q.stop()


def test_source_checkpoint_resume(spark, store, tmp_path):
    """A14/A28: restart resumes from checkpointed per-stream offsets —
    no duplicates, no loss (the Last-Event-Id contract)."""
    register(spark)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_once():
        sdf = (
            spark.readStream.format("s2")
            .option("path", store.base_dir)
            .option("basin", BASIN)
            .load()
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    store.append(BASIN, "s1", _recs(8))
    run_once()
    store.append(BASIN, "s1", _recs(7, start=8))
    run_once()
    got = spark.read.parquet(out_dir).select("seq_num").collect()
    seqs = sorted(r.seq_num for r in got)
    assert seqs == list(range(15))  # each record exactly once


def test_sink_sequences_per_stream(spark, store, tmp_path):
    """foreachBatch sink: arbitrary input batches get dense per-stream
    seq_nums through the single shuffle on the stream key."""
    rows = [
        (BASIN, "s1" if i % 2 == 0 else "s2", None, [], f"b-{i}".encode(), i)
        for i in range(16)
    ]
    store.catalog.create_stream(BASIN, "s2")
    df = spark.createDataFrame(
        rows,
        "basin string, stream string, timestamp long, "
        "headers array<struct<name binary, value binary>>, body binary, "
        "ingest_order long",
    )
    append_sink(store)(df, epoch_id=0)
    assert [r.seq_num for r in store.read(BASIN, "s1").collect()] == list(range(8))
    assert [r.seq_num for r in store.read(BASIN, "s2").collect()] == list(range(8))
    # second epoch continues from the tails
    append_sink(store)(df, epoch_id=1)
    assert store.check_tail(BASIN, "s1")[0] == 16


def test_source_rate_limiting_backpressure(spark, store):
    """maxrecordspertrigger caps per-batch admission (the in-flight
    semaphore analogue) without losing or duplicating records. The cap
    applies from a KNOWN same-generation baseline — in-memory when
    warm, the durable reader HWM when cold; only a key with NO durable
    state yet (this test's very first window) is unthrottled, because
    capping from a guess emits regressed ends that break exactly-once
    across restarts — so seed the baseline with a batch at/below the
    cap, then throttle the rest."""
    register(spark)
    store.append(BASIN, "s1", _recs(3))  # first window: 3 ≤ cap anyway
    q = (
        spark.readStream.format("s2")
        .option("path", store.base_dir)
        .option("basin", BASIN)
        .option("maxrecordspertrigger", 3)
        .load()
        .writeStream.format("memory")
        .queryName("rl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        store.append(BASIN, "s1", _recs(9, start=3))  # throttled: ≤3/batch
        q.processAllAvailable()
        got = [r.seq_num for r in spark.sql("SELECT seq_num FROM rl ORDER BY seq_num").collect()]
        batches = [
            p["numInputRows"]
            for p in (q.recentProgress or [])
            if p["numInputRows"] > 0
        ]
    finally:
        q.stop()
    assert got == list(range(12))  # complete, exactly once
    assert batches and max(batches) <= 3  # admission respected
    assert len(batches) >= 4  # 3 + 9 records at ≤3/batch


def _command_fixture(store):
    store.append(BASIN, "s1", _recs(5))  # 0-4
    store.fence(BASIN, "s1", "tok-A")  # 5
    store.append(BASIN, "s1", _recs(3, start=5))  # 6-8
    store.trim(BASIN, "s1", 7)  # 9 → trim_point 7
    store.append(BASIN, "s1", _recs(2, start=8))  # 10-11
    store.fence(BASIN, "s1", "tok-B")  # 12
    store.trim(BASIN, "s1", 2**64 - 1)  # 13 → u64::MAX clamps to 14


def test_stateful_commands_stream_equals_batch(spark, store, tmp_path):
    """Q-STR6: the applyInPandasWithState fold over the record stream
    must equal the window-function batch fold."""
    _command_fixture(store)
    batch = apply_commands_batch(store.records_df()).orderBy("seq_num")
    want = [(r.seq_num, r.fencing_token, r.trim_point, r.visible) for r in batch.collect()]

    register(spark)
    sdf = (
        spark.readStream.format("s2")
        .option("path", store.base_dir)
        .option("basin", BASIN)
        .load()
    )
    q = (
        apply_commands_stream(sdf)
        .writeStream.format("memory")
        .queryName("cmds")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = [
            (r.seq_num, r.fencing_token, r.trim_point, r.visible)
            for r in spark.sql("SELECT * FROM cmds ORDER BY seq_num").collect()
        ]
    finally:
        q.stop()
    assert got == want
    # spot-check the fold itself
    by_seq = dict((s, (tok, tr, vis)) for s, tok, tr, vis in got)
    assert by_seq[4] == ("", 0, True)
    assert by_seq[5] == ("tok-A", 0, True)
    assert by_seq[9][1] == 7 and by_seq[9][2]  # trim applies at its seq
    # state is as-of each record: seq 6 predates the trim → visible there
    assert by_seq[6] == ("tok-A", 0, True)
    assert by_seq[12] == ("tok-B", 7, True)
    assert by_seq[13] == ("tok-B", 14, False)


def test_stateful_commands_state_carries_across_batches(spark, store):
    """fence state must persist between micro-batches (two appends → at
    least two offsets → the second batch sees the first's token)."""
    register(spark)
    store.fence(BASIN, "s1", "tok-X")
    q = (
        apply_commands_stream(
            spark.readStream.format("s2").option("path", store.base_dir).load()
        )
        .writeStream.format("memory")
        .queryName("cmds2")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        store.append(BASIN, "s1", _recs(2))  # second micro-batch, no command
        q.processAllAvailable()
        rows = spark.sql("SELECT seq_num, fencing_token FROM cmds2 ORDER BY seq_num").collect()
    finally:
        q.stop()
    assert [(r.seq_num, r.fencing_token) for r in rows] == [
        (0, "tok-X"),
        (1, "tok-X"),
        (2, "tok-X"),
    ]


# --- streaming-vs-batch equivalence of windowed ops (Q-STR1/2/3/5/7) -----


def _events_stream(spark, sf_dir):
    """Batch + streaming reads of the same events fixture, ts normalized
    identically on both sides. The fixture's parquet ``ts`` is
    TIMESTAMP(MICROS) (read by Spark as TIMESTAMP_NTZ); declare the same
    in the stream schema rather than assuming an i64-nanos encoding."""
    batch = t(spark, sf_dir, "events")
    raw_ts = dict(
        spark.read.parquet(f"{sf_dir}/events.parquet").dtypes
    ).get("ts", "timestamp_ntz")
    stream = (
        spark.readStream.schema(
            f"event_id long, ts {raw_ts}, user_id long, event_type string, "
            "value double, props string"
        )
        .parquet(sf_dir)
        .where(F.col("event_id").isNotNull())
    )
    if raw_ts == "bigint":  # i64-nanos fixture variant; t() did this for batch
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return batch, stream


@pytest.mark.parametrize(
    "build",
    [
        lambda df: sops.tumbling_counts(df),
        lambda df: sops.sliding_counts(df),
        lambda df: sops.session_counts(df),
    ],
    ids=["tumbling", "sliding", "session"],
)
def test_windowed_agg_stream_equals_batch(spark, sf_dir, tmp_path, build, request):
    import shutil, os

    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", src)
    batch, stream = _events_stream(spark, src)
    want = sorted(map(tuple, build(batch).collect()))
    name = f"win_{request.node.callspec.id}"
    q = (
        build(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(map(tuple, spark.sql(f"SELECT * FROM {name}").collect()))
    finally:
        q.stop()
    assert got == want


def _sink_batch(spark, n, start=0, stream="s1"):
    rows = [(BASIN, stream, None, [], f"r{start+i}".encode(), i) for i in range(n)]
    return spark.createDataFrame(
        rows,
        "basin string, stream string, timestamp long, "
        "headers array<struct<name binary, value binary>>, body binary, "
        "ingest_order long",
    )


def _crash_intent(spark, store, df, key_tails):
    """Build the v3 intent a crashed attempt would have left behind:
    recorded tails per key + the batch's per-stream count, first-record
    digest and whole-range digest (what the sink writes before
    appending)."""
    from s2_spark.streaming.sink import _range_digest, _record_digest

    by_key: dict[str, list] = {}
    for r in df.select("basin", "stream", "ingest_order", "headers", "body").collect():
        by_key.setdefault(f"{r['basin']}\x00{r['stream']}", []).append(r)
    out = {
        "v": 3,
        "tails": dict(key_tails),
        "counts": {},
        "digests": {},
        "range_digests": {},
    }
    for k, rows in by_key.items():
        rows.sort(key=lambda r: r["ingest_order"])
        out["counts"][k] = len(rows)
        out["digests"][k] = _record_digest(rows[0]["headers"], rows[0]["body"])
        out["range_digests"][k] = _range_digest(rows)
    return out


def test_sink_epoch_replay_is_idempotent(spark, store):
    """foreachBatch is at-least-once; the sink's epoch log makes it
    exactly-once: a replayed epoch (same epoch_id) appends nothing."""
    import json
    import os

    from s2_spark.streaming.sink import EpochLog, append_sink

    df = _sink_batch(spark, 5)
    commit = append_sink(store, sink_id="q1")
    commit(df, 7)
    commit(df, 7)  # replay after a crash past the checkpoint
    assert store.check_tail(BASIN, "s1")[0] == 5
    # a crash AFTER the append but BEFORE the done marker: replay sees
    # the intent, PROBES the record at the recorded tail, finds the
    # crashed attempt's own first record, and skips the re-append
    epochs = os.path.join(store.base_dir, "_sink_epochs", "q1")
    log = EpochLog(epochs)
    for p in (os.path.join(epochs, "7.done"), log._wm_path()):
        if os.path.exists(p):
            os.remove(p)
    with open(os.path.join(epochs, "7.intent"), "w") as f:
        json.dump(_crash_intent(spark, store, df, {f"{BASIN}\x00s1": 0}), f)
    commit(df, 7)
    assert store.check_tail(BASIN, "s1")[0] == 5  # still exactly once
    # a crash BEFORE the append: intent recorded, tails unmoved — the
    # replay must actually append
    with open(os.path.join(epochs, "8.intent"), "w") as f:
        json.dump(_crash_intent(spark, store, df, {f"{BASIN}\x00s1": 5}), f)
    commit(df, 8)
    assert store.check_tail(BASIN, "s1")[0] == 10


def test_sink_rejects_duplicate_order_col(spark, store):
    """A batch carrying duplicate (or NULL) order_col values within one
    stream raises NonUniqueOrderColumn BEFORE any record is appended
    and before the intent is written: nondeterministic commit
    sequencing on ties would silently break exactly-once replay."""
    import os

    from s2_spark.streaming.sink import NonUniqueOrderColumn, append_sink

    schema = (
        "basin string, stream string, timestamp long, "
        "headers array<struct<name binary, value binary>>, body binary, "
        "ingest_order long"
    )
    commit = append_sink(store, sink_id="dup")
    dup = spark.createDataFrame(
        [
            (BASIN, "s1", None, [], b"a", 0),
            (BASIN, "s1", None, [], b"b", 0),  # tie within s1
            (BASIN, "s1", None, [], b"c", 1),
        ],
        schema,
    )
    with pytest.raises(NonUniqueOrderColumn, match="1 duplicate"):
        commit(dup, 0)
    assert store.check_tail(BASIN, "s1")[0] == 0  # nothing appended
    epochs = os.path.join(store.base_dir, "_sink_epochs", "dup")
    assert not os.path.isdir(epochs) or not any(
        f.endswith((".intent", ".done")) for f in os.listdir(epochs)
    )  # the raise precedes the intent write — the epoch can be retried
    # NULL order values cannot order anything: equally rejected, and
    # the message says NULL — countDistinct excludes NULLs, so a batch
    # of unique non-null values plus NULLs must not be misreported as
    # having duplicates (the operator debugging a miswired pipeline
    # needs to know which defect to chase)
    nulls = spark.createDataFrame(
        [(BASIN, "s1", None, [], b"a", None), (BASIN, "s1", None, [], b"b", 2)],
        schema,
    )
    with pytest.raises(NonUniqueOrderColumn, match="1 NULL") as exc:
        commit(nulls, 0)
    assert "duplicate" not in str(exc.value)
    # both defects at once: each is counted separately
    both = spark.createDataFrame(
        [
            (BASIN, "s1", None, [], b"a", None),
            (BASIN, "s1", None, [], b"b", 2),
            (BASIN, "s1", None, [], b"c", 2),
        ],
        schema,
    )
    with pytest.raises(
        NonUniqueOrderColumn, match="1 NULL .* and 1 duplicate"
    ):
        commit(both, 0)
    # a corrected batch for the same epoch then commits normally
    commit(_sink_batch(spark, 3), 0)
    assert store.check_tail(BASIN, "s1")[0] == 3


def test_sink_replay_foreign_tail_advance_still_appends(spark, store):
    """The round-6 hole (ADVICE): between a crash and the replay, OTHER
    appends can advance the tail — retention's in-band trim-command
    records, or a second producer. Tail movement alone must NOT mark
    the epoch done; the digest probe sees a foreign record at the
    recorded tail and the replay proceeds — no silent data loss."""
    import json
    import os

    from s2_spark.model import trim_record
    from s2_spark.streaming.sink import append_sink

    df = _sink_batch(spark, 4)
    commit = append_sink(store, sink_id="q2")
    commit(df, 0)
    assert store.check_tail(BASIN, "s1")[0] == 4
    # crashed epoch 1: intent written, append never landed
    epochs = os.path.join(store.base_dir, "_sink_epochs", "q2")
    df2 = _sink_batch(spark, 3, start=100)
    with open(os.path.join(epochs, "1.intent"), "w") as f:
        json.dump(_crash_intent(spark, store, df2, {f"{BASIN}\x00s1": 4}), f)
    # a retention sweep appends a trim command — the tail advances to 5
    # without any of epoch 1's records landing
    store.append(BASIN, "s1", [trim_record(2)])
    assert store.check_tail(BASIN, "s1")[0] == 5
    commit(df2, 1)  # replay must detect the foreign record and append
    tail = store.check_tail(BASIN, "s1")[0]
    assert tail == 8  # 4 data + 1 trim cmd + 3 replayed
    bodies = [bytes(r.body) for r in store.read(BASIN, "s1").collect()]
    assert b"r100" in bodies and b"r102" in bodies  # records landed once
    assert bodies.count(b"r100") == 1


def test_sink_replay_evidence_destroyed_raises(spark, store):
    """If compaction removed the record that would prove/disprove the
    crashed attempt's commit, the sink refuses to guess."""
    import json
    import os

    import pytest as _pytest

    from s2_spark.model import trim_record
    from s2_spark.streaming.sink import ExactlyOnceUnverifiable, append_sink

    df = _sink_batch(spark, 3)
    commit = append_sink(store, sink_id="q3")
    commit(df, 0)
    epochs = os.path.join(store.base_dir, "_sink_epochs", "q3")
    # fabricate a crashed epoch whose recorded tail points at a seq
    # whose record no longer exists: trim + physically delete seqs
    # 0..1, then claim the crashed attempt started at tail 0 — the
    # probe can neither confirm nor refute the commit
    store.append(BASIN, "s1", [trim_record(2)])
    store.apply_trim_and_retention()
    df2 = _sink_batch(spark, 2, start=50)
    with open(os.path.join(epochs, "1.intent"), "w") as f:
        json.dump(_crash_intent(spark, store, df2, {f"{BASIN}\x00s1": 0}), f)
    with _pytest.raises(ExactlyOnceUnverifiable):
        commit(df2, 1)


def test_sink_epoch_log_compaction_bounds_markers(tmp_path):
    """10k epochs leave O(1) files: the watermark folds the contiguous
    done prefix; done-ness is preserved across the fold and a restart
    (a fresh EpochLog over the same dir)."""
    from s2_spark.streaming.sink import EpochLog

    d = str(tmp_path / "epochs")
    log = EpochLog(d)
    import os

    for e in range(10_000):
        log.mark_done(e)
    assert log.marker_count() <= 1  # contiguous prefix fully folded
    assert log.watermark() == 9_999
    assert all(log.is_done(e) for e in (0, 1, 5_000, 9_999))
    assert not log.is_done(10_000)
    # a gap: epoch 10_001 done before 10_000 — marker stays a file
    log.mark_done(10_001)
    assert log.is_done(10_001) and not log.is_done(10_000)
    assert log.watermark() == 9_999
    # restart: a fresh log over the same dir sees identical state
    log2 = EpochLog(d)
    assert log2.watermark() == 9_999
    assert log2.is_done(3) and log2.is_done(10_001) and not log2.is_done(10_000)
    # the gap closes: watermark advances over both, markers removed
    log2.mark_done(10_000)
    assert log2.watermark() == 10_001
    assert log2.marker_count() == 0
    total_files = len(os.listdir(d))
    assert total_files <= 2  # _watermark (+ nothing else)


def test_source_restart_rate_limit_never_redelivers(spark, store):
    """Checkpoint-restart with maxrecordspertrigger and NO durable
    reader-HWM state (this synthetic checkpoint never emitted): a cold
    reader must NOT cap from a guessed base — it reports the uncapped
    tail, so the offset log never regresses and no record is ever
    planned below the checkpointed position. (With durable state the
    first window IS capped — test_source_restart_admission_durable.)"""
    from s2_spark.streaming.source import S2StreamReader, SEP

    store.append(BASIN, "s1", _recs(60))
    key = f"{BASIN}{SEP}s1"
    opts = {"path": store.base_dir, "basin": BASIN, "maxrecordspertrigger": "10"}

    # a prior run committed through offset 50 (checkpointed)
    checkpointed = {"__v": 2, key: [0, 50]}

    r2 = S2StreamReader(opts)  # cold restart: no baseline
    end1 = r2.latestOffset()
    # the cold end never regresses: uncapped tail, not start_seq + cap
    assert end1[key] == [0, 60]
    parts1 = r2.partitions(checkpointed, end1)
    delivered = [(p.start, p.end) for p in parts1 if p.end > p.start]
    assert delivered == [(50, 60)]  # resumes exactly, unthrottled once
    r2.commit(end1)
    store.append(BASIN, "s1", _recs(25))
    # throttling applies from the now-known baseline
    end2 = r2.latestOffset()
    assert end2[key] == [0, 70, 60]  # 60 + cap, hwm rides along
    parts2 = r2.partitions(end1, end2)
    delivered += [(p.start, p.end) for p in parts2 if p.end > p.start]
    end3 = r2.latestOffset()
    parts3 = r2.partitions(end2, end3)
    delivered += [(p.start, p.end) for p in parts3 if p.end > p.start]
    # every planned slice stays at/above the checkpointed position and
    # slices never overlap (exactly-once planning)
    assert all(s >= 50 for s, _ in delivered)
    covered = []
    for s, e in sorted(delivered):
        assert not covered or s >= covered[-1][1]
        covered.append((s, e))
    # and progress completes under the rate limit
    assert covered and covered[-1][1] == 80


def test_source_rate_limit_double_restart_crash_replay_no_duplicates(spark, store):
    """The bug this pins (soak-caught, seed 3001): capping a cold
    reader's end from a guessed base wrote a REGRESSED end (below the
    checkpointed position) into the offset log; after a SECOND restart
    nothing — not even the offset-carried high-water mark, which the
    cold emitter did not know — remembered the true position, and the
    following batch re-delivered records below it ([2,4) delivered
    twice). Ends now never regress (unknown base → uncapped tail), and
    capped batches replay deterministically on cold readers via the
    carried hwm."""
    from s2_spark.streaming.source import S2StreamReader, SEP

    store.append(BASIN, "s1", _recs(2))
    k = f"{BASIN}{SEP}s1"
    mk = lambda: S2StreamReader(  # noqa: E731
        {"path": store.base_dir, "basin": BASIN, "maxrecordspertrigger": 2}
    )
    r = mk()
    o0 = r.initialOffset()
    o1 = r.latestOffset()
    assert o1[k] == [0, 2]  # first window: uncapped tail (≤ cap here)
    r.partitions(o0, o1)
    r.commit(o1)
    store.append(BASIN, "s1", _recs(4))  # tail 6
    o2 = r.latestOffset()
    assert o2[k] == [0, 4, 2]  # capped from baseline 2; hwm rides
    assert [
        (p.start, p.end) for p in r.partitions(o1, o2) if p.stream
    ] == [(2, 4)]
    r.commit(o2)
    # restart 1 (clean): the cold end reports the tail — NO regression
    r = mk()
    o3 = r.latestOffset()
    assert o3[k] == [0, 6]
    assert [
        (p.start, p.end) for p in r.partitions(o2, o3) if p.stream
    ] == [(4, 6)]
    # crash BEFORE commit; restart 2 replays (o2, o3) on a cold reader:
    # byte-identical plan from the offset pair alone
    r = mk()
    assert [
        (p.start, p.end) for p in r.partitions(o2, o3) if p.stream
    ] == [(4, 6)]
    r.commit(o3)
    # and restart 3 with a THIRD cold reader planning forward from o3:
    # nothing below 6 is ever planned again
    store.append(BASIN, "s1", _recs(1))
    r = mk()
    o4 = r.latestOffset()
    assert o4[k] == [0, 7]
    assert [
        (p.start, p.end) for p in r.partitions(o3, o4) if p.stream
    ] == [(6, 7)]


def test_interval_join_stream_equals_batch(spark, sf_dir, tmp_path):
    """Q-STR8: the stream-stream interval join (both sides watermarked,
    two-directional event-time bound) emits in streaming append mode
    exactly the pair set the batch plan produces."""
    import os
    import shutil

    src = str(tmp_path / "ssj_src")
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", src)
    batch, stream = _events_stream(spark, src)
    ts_fix = lambda df: df.withColumn("ts", F.col("ts").cast("timestamp"))  # noqa: E731
    want = sorted(map(tuple, sops.interval_join(ts_fix(batch)).collect()))
    assert want  # non-vacuous: the fixture must contain view→purchase pairs
    q = (
        sops.interval_join(ts_fix(stream))
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(map(tuple, spark.sql("SELECT * FROM ssj").collect()))
    finally:
        q.stop()
    assert got == want


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """Q-STR4 in actual streaming mode: a second micro-batch carrying
    rows older than (max event time − delay) is dropped from the
    windowed aggregate."""
    import os

    from pyspark.sql import types as T

    src = str(tmp_path / "wm_src")
    os.makedirs(src)
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("v", T.LongType())]
    )

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    from datetime import datetime, timezone

    t0 = datetime(2024, 1, 1, 12, 0, tzinfo=timezone.utc)

    def at(minutes):
        return datetime(2024, 1, 1, 12, 0, tzinfo=timezone.utc).replace(
            minute=0
        ) + __import__("datetime").timedelta(minutes=minutes)

    # watermark after batch 1 = 75min − 10min = 65min, PAST the end of
    # the hour-0 window — Spark drops a late row only when its window
    # end falls below the watermark, not merely when ts < watermark
    write_batch("b1", [(at(0), 1), (at(75), 1)])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.unix_millis("win.start").alias("w"), "n")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("wm")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one row 2 minutes into hour 0 — older than the
        # watermark (55 min) → silently dropped; one fresh row at 130min
        write_batch("b2", [(at(2), 1), (at(130), 1)])  # at(2): window end 60 < wm 65 → dropped
        q.processAllAvailable()
        # batch 3: advance watermark far enough to close every window
        write_batch("b3", [(at(400), 1)])
        q.processAllAvailable()
        got = {
            r.w: r.n
            for r in spark.sql("SELECT * FROM wm").collect()
        }
    finally:
        q.stop()
    h0 = int(at(0).timestamp() * 1000)
    h1 = int(at(60).timestamp() * 1000)
    h2 = int(at(120).timestamp() * 1000)
    # hour-0 window closed with ONLY the on-time row (late row dropped)
    assert got[h0] == 1
    assert got[h1] == 1 and got[h2] == 1


def test_streaming_dedup_and_enrich(spark, sf_dir, tmp_path):
    import shutil, os

    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", src)
    batch, stream = _events_stream(spark, src)
    want_dedup = batch.select("user_id", "event_type").distinct().count()
    cust = t(spark, sf_dir, "customer")
    want_enrich = batch.join(cust, batch.user_id == cust.c_custkey).count()

    out = sops.enrich(
        sops.dedup(stream.select("user_id", "event_type", "ts"), ["user_id", "event_type"]),
        cust,
        F.col("user_id") == F.col("c_custkey"),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("de")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT count(*) AS n FROM de").collect()[0].n
    finally:
        q.stop()
    # enrich-after-dedup count: distinct pairs whose user has a customer row
    want = (
        batch.select("user_id", "event_type")
        .distinct()
        .join(cust, F.col("user_id") == F.col("c_custkey"))
        .count()
    )
    assert got == want
    assert want_dedup >= got and want_enrich >= got


def test_tails_footer_stats_no_data_pages(spark, store):
    """latestOffset's tails scan must plan from parquet footers only:
    single-stream row groups contribute via min/max statistics (zero
    data pages), and the per-file cache makes repeat triggers O(new
    files) — the A13 scale contract (read.rs:319-391 tail tracking)."""
    from s2_spark.streaming.source import SEP, _parquet_files, _tails

    store.catalog.create_stream(BASIN, "s2")
    store.append(BASIN, "s1", _recs(10))
    store.append(BASIN, "s2", _recs(3))
    cache, stats = {}, {}
    tails = _tails(store.base_dir, cache, stats)
    assert tails[f"{BASIN}{SEP}s1"] == 10
    assert tails[f"{BASIN}{SEP}s2"] == 3
    assert stats["files"] > 0
    assert stats["mixed_row_groups"] == 0  # no data pages were read
    scanned_once = stats["files"]
    # repeat trigger, no new files: served fully from the cache
    assert _tails(store.base_dir, cache, stats) == tails
    assert stats["files"] == scanned_once
    # a new append re-scans only the files it created
    n_before = len(_parquet_files(store.base_dir))
    store.append(BASIN, "s1", _recs(2, start=10))
    n_after = len(_parquet_files(store.base_dir))
    tails2 = _tails(store.base_dir, cache, stats)
    assert tails2[f"{BASIN}{SEP}s1"] == 12
    assert stats["files"] - scanned_once == n_after - n_before
    assert stats["mixed_row_groups"] == 0


def test_tails_mixed_row_group_fallback(tmp_path):
    """A row group holding several streams (written by an external
    producer) falls back to a 3-column read of just that group."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from s2_spark import manifest as mf
    from s2_spark.streaming.source import SEP, _tails

    tbl = pa.table(
        {
            "basin": ["b", "b", "b", "b"],
            "stream": ["s1", "s1", "s2", "s2"],
            "seq_num": [0, 1, 0, 5],
            "timestamp": [1, 2, 3, 4],
            "body": [b"x", b"y", b"z", b"w"],
        }
    )
    d = tmp_path / "mixed"
    d.mkdir()
    pq.write_table(tbl, d / "part-0.parquet")
    mf.publish(str(d), add=["part-0.parquet"])
    stats: dict = {}
    tails = _tails(str(d), None, stats)
    assert tails == {f"b{SEP}s1": 2, f"b{SEP}s2": 6}
    assert stats["mixed_row_groups"] == 1


# --- read_follow scenarios (lite/tests/backend/data_plane/read_follow.rs) ----


def test_read_session_catchup_and_resume_budget(spark, store):
    """SSE resume: Last-Event-Id carries (seq, count, bytes); resuming
    with the original limit stops at the original combined count."""
    from s2_spark.store import LastEventId, ReadLimit

    store.append(BASIN, "s1", _recs(10))
    limit = ReadLimit(count=7)
    events = list(store.read_session(BASIN, "s1", limit=limit, batch_count=4))
    batches = [e for e in events if e.kind == "batch"]
    got = [r["seq_num"] for b in batches for r in b.records]
    assert got == list(range(7))  # stops at the count budget
    # resume mid-budget from the token after the first batch (4 rows)
    tok = batches[0].last_event_id
    assert (tok.seq_num, tok.count) == (3, 4)
    assert LastEventId.parse(str(tok)) == tok  # sse.rs wire format
    resumed = list(store.read_session(BASIN, "s1", limit=limit, last_event_id=str(tok)))
    got2 = [r["seq_num"] for e in resumed if e.kind == "batch" for r in e.records]
    assert got2 == [4, 5, 6]  # only the remaining 3 of the original 7


def test_read_session_bytes_budget_resumes(spark, store):
    """Bytes budget decrements across a resume too (records.rs:49-65)."""
    from s2_spark.store import ReadLimit

    store.append(BASIN, "s1", _recs(10))  # each record meters 8+5=13
    limit = ReadLimit(bytes=5 * 13)
    events = list(store.read_session(BASIN, "s1", limit=limit, batch_count=2))
    batches = [e for e in events if e.kind == "batch"]
    assert sum(len(b.records) for b in batches) == 5
    tok = batches[0].last_event_id
    assert tok.bytes == 2 * 13
    resumed = list(store.read_session(BASIN, "s1", limit=limit, last_event_id=tok))
    got = [r["seq_num"] for e in resumed if e.kind == "batch" for r in e.records]
    assert got == [2, 3, 4]  # 3 more records ≡ remaining 39 bytes


def test_read_session_wait_budget_and_heartbeats(spark, store):
    """Caught-up session with nothing arriving: heartbeat on entering
    follow + periodic heartbeats, then the wait budget expires — no
    batches, and heartbeats never extend the budget (read.rs:190-192)."""
    import time as _t

    store.append(BASIN, "s1", _recs(2))
    t0 = _t.monotonic()
    events = list(
        store.read_session(
            BASIN, "s1",
            start=__import__("s2_spark.store", fromlist=["ReadStart"]).ReadStart(seq_num=2, clamp=True),
            wait_s=0.4, heartbeat_s=0.1, poll_s=0.02,
        )
    )
    elapsed = _t.monotonic() - t0
    assert all(e.kind == "heartbeat" for e in events)
    assert len(events) >= 3  # entry heartbeat + periodic ones
    assert 0.3 <= elapsed < 5.0


def test_read_session_delivery_resets_wait_budget(spark, store):
    """Only a delivered batch re-arms the wait budget (read.rs:190-192):
    the session ends ~wait_s after the LAST delivery, not the first."""
    import threading
    import time as _t

    store.append(BASIN, "s1", _recs(1))

    def late_append():
        _t.sleep(1.0)
        store.append(BASIN, "s1", _recs(1, start=1))

    th = threading.Thread(target=late_append)
    th.start()
    stamps = []  # (kind, seqs, t)
    t0 = _t.monotonic()
    for e in store.read_session(
        BASIN, "s1", wait_s=4.0, heartbeat_s=0.2, poll_s=0.02
    ):
        stamps.append((e.kind, [r["seq_num"] for r in e.records], _t.monotonic() - t0))
    ended = _t.monotonic() - t0
    th.join()
    seqs = [s for kind, ss, _ in stamps if kind == "batch" for s in ss]
    assert seqs == [0, 1]  # the late record was delivered in follow mode
    last_batch_t = max(t for kind, _, t in stamps if kind == "batch")
    # the wait budget restarted at the second delivery
    assert ended - last_batch_t >= 3.5


def test_source_maxrecords_budget_survives_restart(spark, store, tmp_path):
    """A14: the source's total-records budget is derived from the
    checkpointed offset, so a restarted query stops at the original
    limit even though more data exists."""
    ckpt = str(tmp_path / "ckpt-budget")
    out_dir = str(tmp_path / "out-budget")
    store.append(BASIN, "s1", _recs(5))
    register(spark)

    def run_once():
        sdf = (
            spark.readStream.format("s2")
            .option("path", store.base_dir)
            .option("basin", BASIN)
            .option("maxrecords", 7)
            .load()
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    assert spark.read.parquet(out_dir).count() == 5
    store.append(BASIN, "s1", _recs(10, start=5))  # tail now 15 > budget
    run_once()
    got = sorted(r.seq_num for r in spark.read.parquet(out_dir).collect())
    assert got == list(range(7))  # stopped at 7 total


def test_read_session_follow_count_limit_mid_follow(spark, store):
    """catchup→follow transition; a count budget reached mid-follow
    truncates the live batch and closes the session
    (read_follow.rs:578-741 family). Events are pulled step-by-step so
    the append lands while the session is in follow mode."""
    from s2_spark.store import ReadLimit

    store.append(BASIN, "s1", _recs(3))
    gen = store.read_session(
        BASIN, "s1", limit=ReadLimit(count=5), wait_s=30.0, heartbeat_s=30.0
    )
    e1 = next(gen)  # catch-up
    assert e1.kind == "batch" and [r["seq_num"] for r in e1.records] == [0, 1, 2]
    e2 = next(gen)  # caught up → follow armed, entry heartbeat
    assert e2.kind == "heartbeat"
    store.append(BASIN, "s1", _recs(4, start=3))  # more than the budget remains
    e3 = next(gen)
    assert e3.kind == "batch"
    assert [r["seq_num"] for r in e3.records] == [3, 4]  # truncated to remaining 2
    assert next(gen, None) is None  # budget exhausted → closed


def test_read_session_follow_bytes_limit_truncates_live_batch(spark, store):
    """read_follow.rs:743-808: a live batch larger than the remaining
    bytes budget is truncated; the session then closes."""
    from s2_spark.store import ReadLimit

    store.append(BASIN, "s1", _recs(1))  # metered 13 bytes each
    gen = store.read_session(
        BASIN, "s1", limit=ReadLimit(bytes=2 * 13), wait_s=30.0, heartbeat_s=30.0
    )
    assert next(gen).kind == "batch"
    assert next(gen).kind == "heartbeat"
    store.append(BASIN, "s1", _recs(3, start=1))
    e = next(gen)
    assert e.kind == "batch" and [r["seq_num"] for r in e.records] == [1]
    assert next(gen, None) is None


def test_read_session_follow_bytes_below_first_record_closes(spark, store):
    """read_follow.rs:810-867: a bytes budget smaller than the first
    live record closes the session without delivering a batch."""
    from s2_spark.store import ReadLimit, ReadStart

    store.append(BASIN, "s1", _recs(1))
    gen = store.read_session(
        BASIN, "s1",
        start=ReadStart(seq_num=1, clamp=True),
        limit=ReadLimit(bytes=5),
        wait_s=30.0, heartbeat_s=30.0,
    )
    assert next(gen).kind == "heartbeat"
    store.append(BASIN, "s1", _recs(1, start=1))
    assert next(gen, None) is None  # nothing delivered


def test_read_session_follow_until_bound(spark, store):
    """read_follow.rs:869+: the exclusive timestamp bound stops a
    follow session even as records keep arriving past it."""
    from s2_spark.store import ReadLimit

    store.append(BASIN, "s1", [Record(body=b"a", timestamp=1000)])
    gen = store.read_session(
        BASIN, "s1", limit=ReadLimit(until=2000), wait_s=30.0, heartbeat_s=30.0
    )
    e1 = next(gen)
    assert e1.kind == "batch" and [r["timestamp"] for r in e1.records] == [1000]
    assert next(gen).kind == "heartbeat"
    store.append(BASIN, "s1", [Record(body=b"b", timestamp=5000)])  # ≥ until
    assert next(gen, None) is None  # bound reached → closed, record not delivered


def test_tails_cache_evicts_compacted_files(spark, store):
    """A long-running query over a store with periodic compaction must
    not leak cache entries for files the rewrite removed."""
    from s2_spark.streaming.source import SEP, _parquet_files, _tails

    for i in range(6):
        store.append(BASIN, "s1", [Record(body=f"b{i}".encode())])
    cache: dict = {}
    tails = _tails(store.base_dir, cache)
    assert tails[f"{BASIN}{SEP}s1"] == 6
    assert len(cache) == len(_parquet_files(store.base_dir)) > 1

    store.compact()
    tails2 = _tails(store.base_dir, cache)
    assert tails2[f"{BASIN}{SEP}s1"] == 6
    live = set(_parquet_files(store.base_dir))
    assert set(cache) == live  # stale entries evicted


def test_source_maxbytes_budget_survives_restart(spark, store, tmp_path):
    """A14: the source's metered-bytes budget is deterministic over the
    immutable log (sse.rs:10-73, records.rs:49-65), so a checkpoint-
    restarted byte-limited query stops at the original combined limit
    even though more data exists."""
    ckpt = str(tmp_path / "ckpt-bbudget")
    out_dir = str(tmp_path / "out-bbudget")
    store.append(BASIN, "s1", _recs(5))  # each record meters 8 + 5 = 13
    register(spark)

    def run_once():
        sdf = (
            spark.readStream.format("s2")
            .option("path", store.base_dir)
            .option("basin", BASIN)
            .option("maxbytes", 7 * 13)  # admits exactly 7 records
            .load()
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    assert spark.read.parquet(out_dir).count() == 5
    store.append(BASIN, "s1", _recs(10, start=5))  # tail 15, way past budget
    run_once()
    got = sorted(r.seq_num for r in spark.read.parquet(out_dir).collect())
    assert got == list(range(7))  # stopped at the original 91-byte limit


# --- paused-clock wait/heartbeat timing (read.rs:603-684) -------------------


class FakeMono:
    """Paused monotonic clock: time advances only through sleep()."""

    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t

    def sleep(self, dt: float) -> None:
        self.t += dt


def test_read_session_heartbeat_cadence_paused_clock(spark, store):
    """read.rs:603-684: in follow mode a heartbeat is emitted on entry
    and every heartbeat_s thereafter, and the wait deadline lands at
    exactly wait_s — heartbeats never extend it. No real sleeps."""
    store.append(BASIN, "s1", _recs(2))
    mono = FakeMono()
    events = list(
        store.read_session(
            BASIN, "s1", wait_s=20.0, heartbeat_s=5.0, poll_s=1.0,
            clock=mono, sleep=mono.sleep,
        )
    )
    batches = [e for e in events if e.kind == "batch"]
    hbs = [e for e in events if e.kind == "heartbeat"]
    assert len(batches) == 1
    assert len(hbs) == 4  # entry at t=0, then t=5, 10, 15
    assert mono.t == 20.0  # closed exactly at the un-extended deadline


def test_read_session_wait_budget_resets_only_on_delivery_paused_clock(spark, store):
    """read.rs:190-192: only a delivered batch re-arms the wait budget.
    A batch landing at t=3 extends the session to t=13, past the
    original t=10 deadline; the heartbeats in between extend nothing."""
    store.append(BASIN, "s1", _recs(1))
    mono = FakeMono()
    gen = store.read_session(
        BASIN, "s1", wait_s=10.0, heartbeat_s=3.0, poll_s=1.0,
        clock=mono, sleep=mono.sleep,
    )
    assert next(gen).kind == "batch"      # catch-up, t=0
    assert next(gen).kind == "heartbeat"  # follow armed: deadline t=10
    e = next(gen)                          # periodic heartbeat at t=3
    assert e.kind == "heartbeat" and mono.t == 3.0
    store.append(BASIN, "s1", _recs(1, start=1))  # lands mid-follow
    e = next(gen)  # one poll sleep (t=4), then the live batch delivers
    assert e.kind == "batch" and [r["seq_num"] for r in e.records] == [1]
    assert mono.t == 4.0
    # delivery re-armed the budget: new deadline t=4+10=14
    tail_events = list(gen)
    assert all(e.kind == "heartbeat" for e in tail_events)
    assert len(tail_events) == 4  # re-entry at t=4, then t=7, 10, 13
    assert mono.t == 14.0  # closed at the re-armed deadline, not t=10


def test_follow_mode_survives_streamer_dormancy_after_catchup_batch(spark, store):
    """read_follow.rs:514-576: the stream goes dormant (hot state
    evicted) between the catch-up batch and the live append; the session
    still delivers the live batch with correct positions."""
    store.append(BASIN, "s1", _recs(2))
    mono = FakeMono()
    gen = store.read_session(
        BASIN, "s1", wait_s=30.0, heartbeat_s=5.0, poll_s=1.0,
        clock=mono, sleep=mono.sleep,
    )
    e = next(gen)
    assert e.kind == "batch" and [r["seq_num"] for r in e.records] == [0, 1]
    assert next(gen).kind == "heartbeat"  # follow armed
    # dormancy strikes: force-evict the stream's hot state
    assert store.evict_dormant(max_age_ms=0) >= 1
    store.append(BASIN, "s1", _recs(3, start=2))
    e = next(gen)
    assert e.kind == "batch" and [r["seq_num"] for r in e.records] == [2, 3, 4]


def test_follow_mode_with_exact_count_limit(spark, store):
    """read_follow.rs:637-686: a live batch that lands exactly on the
    remaining count budget is delivered whole and the session closes
    immediately — no residual waiting."""
    from s2_spark.store import ReadLimit

    store.append(BASIN, "s1", _recs(2))
    mono = FakeMono()
    gen = store.read_session(
        BASIN, "s1", limit=ReadLimit(count=4), wait_s=30.0, heartbeat_s=5.0,
        poll_s=1.0, clock=mono, sleep=mono.sleep,
    )
    e = next(gen)
    assert e.kind == "batch" and len(e.records) == 2
    assert next(gen).kind == "heartbeat"
    store.append(BASIN, "s1", _recs(2, start=2))  # exactly the remaining 2
    e = next(gen)
    assert e.kind == "batch" and [r["seq_num"] for r in e.records] == [2, 3]
    assert next(gen, None) is None  # budget exhausted exactly → closed
    assert mono.t < 30.0  # closed by the budget, not the wait deadline


def test_follow_collect_stops_at_target_count_with_multi_record_batch(spark, store):
    """read_follow.rs:687-741: a single multi-record append larger than
    the remaining budget is truncated at the budget boundary."""
    from s2_spark.store import ReadLimit

    store.append(BASIN, "s1", _recs(1))
    mono = FakeMono()
    gen = store.read_session(
        BASIN, "s1", limit=ReadLimit(count=3), wait_s=30.0, heartbeat_s=5.0,
        poll_s=1.0, clock=mono, sleep=mono.sleep,
    )
    assert [r["seq_num"] for r in next(gen).records] == [0]
    assert next(gen).kind == "heartbeat"
    store.append(BASIN, "s1", _recs(5, start=1))  # one batch of 5, budget has 2 left
    e = next(gen)
    assert e.kind == "batch" and [r["seq_num"] for r in e.records] == [1, 2]
    assert next(gen, None) is None


def test_heartbeat_cadence_randomized_5_to_15s(spark, store):
    """read.rs:383-386: default heartbeat cadence is uniform 5-15 s per
    gap. With a seeded rng and a paused clock the gaps are exactly the
    rng's uniform draws."""
    import random

    store.append(BASIN, "s1", _recs(1))
    mono = FakeMono()
    rng = random.Random(7)
    expect_gaps = [random.Random(7).uniform(5.0, 15.0) for _ in range(3)]
    events = []
    times = []
    for e in store.read_session(
        BASIN, "s1", wait_s=25.0, poll_s=1.0,
        clock=mono, sleep=mono.sleep, rng=rng,
    ):
        events.append(e.kind)
        times.append(mono.t)
    hb_times = [t for k, t in zip(events, times) if k == "heartbeat"]
    # entry heartbeat at t=0; the first periodic one fires at the first
    # poll tick >= the drawn gap (poll_s=1 → ceil)
    import math
    assert events.count("batch") == 1
    assert hb_times[0] == 0.0  # entry heartbeat (after the batch)
    # periodic heartbeats land on the first poll tick >= each drawn gap
    assert hb_times[1] == math.ceil(expect_gaps[0])
    assert mono.t == 25.0  # randomized cadence never extends the budget


def test_purged_and_recreated_stream_delivers_under_running_query(spark, store):
    """delete_stream → purge → recreate under a RUNNING query: without
    the purge-generation tombstone the reader's monotone tail guard
    pins the dead stream's tail forever and the recreated stream's
    records (restarting at seq 0) are never delivered."""
    from s2_spark.operators.maintenance import deletion_purge_sweep

    store.catalog.create_stream(BASIN, "dead")
    store.append(BASIN, "dead", _recs(4))
    q = _start_tail_query(spark, store, "regen1")
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) c FROM regen1").first().c == 4
        store.catalog.delete_stream(BASIN, "dead")
        deletion_purge_sweep(store)
        store.catalog.create_stream(BASIN, "dead")
        ack = store.append(
            BASIN, "dead", [Record(body=b"fresh-0"), Record(body=b"fresh-1")]
        )
        assert ack.start_seq == 0  # genuinely a new generation
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT seq_num, CAST(body AS STRING) AS b FROM regen1 ORDER BY seq_num"
        ).collect()
        fresh = [(r.seq_num, r.b) for r in rows if r.b.startswith("fresh")]
        assert fresh == [(0, "fresh-0"), (1, "fresh-1")]
        # and the new generation tails live like any other stream
        store.append(BASIN, "dead", [Record(body=b"fresh-2")])
        q.processAllAvailable()
        n = spark.sql(
            "SELECT count(*) c FROM regen1 WHERE CAST(body AS STRING) LIKE 'fresh%'"
        ).first().c
        assert n == 3
    finally:
        q.stop()


def test_purge_while_query_down_delivers_on_restart(spark, store, tmp_path):
    """End-to-end restart-across-purge: run a checkpointed query, STOP
    it, delete+purge+recreate the stream while it is down, restart from
    the same checkpoint. The recreated stream's records (restarting at
    seq 0, the reference's recreate semantics —
    lite/src/backend/streams.rs:82-397) must be delivered exactly once;
    without the generation in the checkpointed offset the restart would
    pin the dead generation's tail and silently deliver nothing."""
    from s2_spark.operators.maintenance import deletion_purge_sweep

    cp = str(tmp_path / "cp")
    out = str(tmp_path / "out")

    def start():
        register(spark)
        sdf = (
            spark.readStream.format("s2")
            .option("path", store.base_dir)
            .option("basin", BASIN)
            .load()
        )
        return (
            sdf.selectExpr("stream", "seq_num", "CAST(body AS STRING) AS b")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .start()
        )

    store.catalog.create_stream(BASIN, "dead")
    store.append(BASIN, "dead", [Record(body=b"old-0"), Record(body=b"old-1")])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the query is DOWN for the whole delete → purge → recreate cycle
    store.catalog.delete_stream(BASIN, "dead")
    deletion_purge_sweep(store)
    store.catalog.create_stream(BASIN, "dead")
    ack = store.append(
        BASIN, "dead", [Record(body=b"new-0"), Record(body=b"new-1")]
    )
    assert ack.start_seq == 0  # genuinely a new generation
    q = start()  # restart from the SAME checkpoint
    try:
        q.processAllAvailable()
        # live tailing of the new generation keeps working post-rebase
        store.append(BASIN, "dead", [Record(body=b"new-2")])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(
        (r.seq_num, r.b)
        for r in spark.read.parquet(out).filter("stream = 'dead'").collect()
    )
    assert rows == [
        (0, "new-0"),
        (0, "old-0"),
        (1, "new-1"),
        (1, "old-1"),
        (2, "new-2"),
    ]  # both generations, each exactly once


def test_jvm_and_python_record_digests_agree(spark):
    """The intent's distributed digest column must be byte-identical to
    the probe's Python recomputation — empty/None headers and bodies,
    multi-header records, binary payloads."""
    from s2_spark.streaming.sink import _record_digest, _record_digest_col

    rows = [
        (BASIN, "s1", None, [], b"plain", 0),
        (BASIN, "s1", None, None, None, 1),
        (BASIN, "s1", None, [(b"", b"")], b"", 2),
        (BASIN, "s1", None, [(b"k", b"v"), (b"", b"fence")], bytes(range(256)), 3),
        (BASIN, "s1", None, [(None, b"x"), (b"y", None)], b"\x00\x01", 4),
    ]
    df = spark.createDataFrame(
        rows,
        "basin string, stream string, timestamp long, "
        "headers array<struct<name binary, value binary>>, body binary, "
        "ingest_order long",
    )
    got = {
        r["ingest_order"]: r["d"]
        for r in df.select(
            "ingest_order", _record_digest_col().alias("d")
        ).collect()
    }
    for _, _, _, headers, body, i in rows:
        hdrs = (
            [{"name": n, "value": v} for n, v in headers] if headers else headers
        )
        assert got[i] == _record_digest(hdrs, body), f"row {i} digest diverged"


def test_sink_replay_first_record_alias_detected_by_range_probe(spark, store):
    """A foreign producer landing a byte-identical FIRST record (but
    different subsequent records) at the recorded tail fooled the old
    first-record-only probe into 'committed' — silently dropping the
    epoch. The v3 whole-range digest detects the foreign range and
    re-appends."""
    import json
    import os

    from s2_spark.streaming.sink import append_sink

    df = _sink_batch(spark, 2)  # will land at seqs 0..1 when replayed
    commit = append_sink(store, sink_id="q-alias")
    # run once for real to capture a genuine v3 intent, then roll the
    # store back by rebuilding the scenario in a sibling stream
    epochs = os.path.join(store.base_dir, "_sink_epochs", "q-alias")
    os.makedirs(epochs, exist_ok=True)
    # craft the v3 intent the crashed attempt would have written
    payload_probe = append_sink(store, sink_id="q-scratch")
    payload_probe(df, 0)  # writes + commits epoch 0 under q-scratch
    with open(os.path.join(store.base_dir, "_sink_epochs", "q-scratch", "_watermark")) as f:
        assert int(f.read()) >= 0
    # the actual crashed intent: recorded tail 2 (post-scratch append)
    from s2_spark.streaming.sink import _record_digest, _range_digest

    t0 = store.check_tail(BASIN, "s1")[0]
    rows = [{"headers": [], "body": f"r{i}".encode()} for i in range(2)]
    intent = {
        "v": 3,
        "tails": {f"{BASIN}\x00s1": t0},
        "counts": {f"{BASIN}\x00s1": 2},
        "digests": {f"{BASIN}\x00s1": _record_digest([], b"r0")},
        "range_digests": {f"{BASIN}\x00s1": _range_digest(rows)},
    }
    with open(os.path.join(epochs, "7.intent"), "w") as f:
        json.dump(intent, f)
    # foreign writer: first record byte-identical to ours, second NOT
    store.append(BASIN, "s1", [Record(body=b"r0"), Record(body=b"FOREIGN")])
    commit(df, 7)  # replay: range mismatch → our records re-appended
    bodies = [bytes(r.body) for r in store.read(BASIN, "s1").collect()]
    # scratch epoch (r0 r1) + foreign (r0 FOREIGN) + replayed (r0 r1)
    assert bodies.count(b"r0") == 3 and bodies.count(b"r1") == 2
    assert bodies.count(b"FOREIGN") == 1
    assert store.check_tail(BASIN, "s1")[0] == 6


def test_sink_replay_range_probe_confirms_genuine_commit(spark, store):
    """The inverse: when the crashed attempt's append genuinely landed,
    the whole-range probe confirms it and the replay appends nothing."""
    import json
    import os

    from s2_spark.streaming.sink import _record_digest, _range_digest, append_sink

    commit = append_sink(store, sink_id="q-genuine")
    epochs = os.path.join(store.base_dir, "_sink_epochs", "q-genuine")
    df = _sink_batch(spark, 3)
    commit(df, 0)  # epoch 0 commits records 0..2
    # simulate: epoch 0's done marker lost, only the intent remains
    # (crash after append, before mark_done)
    rows = [{"headers": [], "body": f"r{i}".encode()} for i in range(3)]
    intent = {
        "v": 3,
        "tails": {f"{BASIN}\x00s1": 0},
        "counts": {f"{BASIN}\x00s1": 3},
        "digests": {f"{BASIN}\x00s1": _record_digest([], b"r0")},
        "range_digests": {f"{BASIN}\x00s1": _range_digest(rows)},
    }
    os.makedirs(epochs, exist_ok=True)
    with open(os.path.join(epochs, "1.intent"), "w") as f:
        json.dump(intent, f)
    commit(df, 1)  # probe proves committed → skip, no duplicates
    bodies = [bytes(r.body) for r in store.read(BASIN, "s1").collect()]
    assert bodies == [b"r0", b"r1", b"r2"]
    assert store.check_tail(BASIN, "s1")[0] == 3


def test_sink_non_v3_intent_refused(spark, store):
    """The sink writes only v3 intents (whole-range digests). A replay
    that finds any other intent format cannot attribute a moved tail,
    so it raises before appending anything or touching the epoch
    log."""
    import json
    import os

    from s2_spark.streaming.sink import ExactlyOnceUnverifiable, append_sink

    df = _sink_batch(spark, 3)
    epochs = os.path.join(store.base_dir, "_sink_epochs", "q-old")
    os.makedirs(epochs, exist_ok=True)
    intent = os.path.join(epochs, "0.intent")
    for old in (
        {f"{BASIN}\x00s1": 0},  # bare key -> tail map
        {**_crash_intent(spark, store, df, {f"{BASIN}\x00s1": 0}), "v": 2},
    ):
        with open(intent, "w") as f:
            json.dump(old, f)
        with pytest.raises(ExactlyOnceUnverifiable, match="not a v3"):
            append_sink(store, sink_id="q-old")(df, 0)
        assert store.check_tail(BASIN, "s1")[0] == 0
        assert sorted(os.listdir(epochs)) == ["0.intent"]
        with open(intent) as f:
            assert json.load(f) == old


def test_sink_orphan_intents_are_cleaned(spark, store):
    """A crash between mark_done and the intent removal must not leak
    .intent files forever: the is_done early-return and the epoch-log
    compaction both reap orphans."""
    import os

    from s2_spark.streaming.sink import EpochLog, append_sink

    commit = append_sink(store, sink_id="q-orphan")
    epochs = os.path.join(store.base_dir, "_sink_epochs", "q-orphan")
    log = EpochLog(epochs)
    # orphan BELOW the watermark: reaped by compaction on next mark_done
    os.makedirs(epochs, exist_ok=True)
    for e in range(3):
        with open(log.intent_path(e), "w") as f:
            f.write("{}")
        log.mark_done(e)
    assert not [f for f in os.listdir(epochs) if f.endswith(".intent")]
    # orphan ABOVE the watermark with a done marker: reaped by the
    # is_done early return on replay
    with open(log.intent_path(7), "w") as f:
        f.write("{}")
    log._write_atomic(log.done_path(7), "")
    commit(_sink_batch(spark, 1), 7)  # replay of a done epoch
    assert not os.path.exists(log.intent_path(7))
    assert store.check_tail(BASIN, "s1")[0] == 0  # nothing appended


def _reader(store):
    from s2_spark.streaming.source import S2StreamReader

    return S2StreamReader({"path": store.base_dir, "basin": BASIN})


def _purge_recreate(store, stream, n):
    from s2_spark.operators.maintenance import deletion_purge_sweep

    store.catalog.delete_stream(BASIN, stream)
    deletion_purge_sweep(store)
    store.catalog.create_stream(BASIN, stream)
    ack = store.append(BASIN, stream, _recs(n))
    assert ack.start_seq == 0
    return ack


def _seqs(offset: dict) -> dict:
    """Offset dict → {key: seq}, dropping the version stamp."""
    return {k: v[1] for k, v in offset.items() if k != "__v"}


def test_rebase_survives_equal_tail_dead_generation_commit(spark, store):
    """The dead generation's late commit can carry an end NUMERICALLY
    equal to the new generation's tail (purge + recreate with the same
    record count). With generations riding in the offsets the two ends
    are structurally different values — the equal-tail batch plans a
    full rebase immediately (no waiting for a tail-breaking append),
    and the dead generation's commit cannot re-pin the baseline."""
    k = f"{BASIN}\x00dead"
    store.catalog.create_stream(BASIN, "dead")
    store.append(BASIN, "dead", _recs(4))
    r = _reader(store)
    o1 = r.latestOffset()
    assert o1 == {"__v": 2, k: [0, 4]}
    r.partitions({}, o1)
    r.commit(o1)
    _purge_recreate(store, "dead", 4)  # new generation, SAME tail 4
    o2 = r.latestOffset()  # same seq, bumped generation
    assert o2 == {"__v": 2, k: [1, 4]}
    # offsets differ (gen bump), so the engine plans the batch at once:
    # the whole new generation delivers without an extra append
    parts = [
        (p.stream, p.start, p.end) for p in r.partitions(o1, o2) if p.stream
    ]
    assert parts == [("dead", 0, 4)]
    # the dead generation's commit arrives AFTER the rebase (Spark
    # commits batch N only when batch N+1 starts) — generation-aware
    # baseline ignores it even though its seq equals the new tail
    r.commit(o1)
    r.commit(o2)
    store.append(BASIN, "dead", [Record(body=b"fifth")])
    o3 = r.latestOffset()
    assert o3 == {"__v": 2, k: [1, 5, 4]}  # hwm rides along
    parts = [
        (p.stream, p.start, p.end) for p in r.partitions(o2, o3) if p.stream
    ]
    assert parts == [("dead", 4, 5)]  # plain monotone again — no re-delivery


def test_rebase_replay_reproduced_from_offsets_after_crash(spark, store):
    """Crash between the offset-log write and the rebased batch's
    commit: the fresh reader replays exactly (start=dead-gen offset,
    end=new-gen offset). The rebase decision is a pure function of
    that pair — the generation comparison reproduces it from the
    offset log alone, with no side-channel state."""
    k = f"{BASIN}\x00dead"
    store.catalog.create_stream(BASIN, "dead")
    store.append(BASIN, "dead", _recs(4))
    r = _reader(store)
    o1 = r.latestOffset()
    r.partitions({}, o1)
    r.commit(o1)
    _purge_recreate(store, "dead", 2)  # new generation, tail 2
    o2 = r.latestOffset()
    assert o2 == {"__v": 2, k: [1, 2]}
    r.partitions(o1, o2)  # plans the rebase
    # CRASH here (before commit). A fresh reader replays the batch:
    r2 = _reader(store)
    parts = [
        (p.stream, p.start, p.end) for p in r2.partitions(o1, o2) if p.stream
    ]
    assert parts == [("dead", 0, 2)]  # rebase reproduced from offsets
    r2.commit(o2)
    # the next trigger continues monotone — nothing re-delivers
    parts = [
        (p.stream, p.start, p.end)
        for p in r2.partitions(o2, r2.latestOffset())
        if p.stream
    ]
    assert parts == []


def test_legacy_rebase_marker_file_ignored(spark, store):
    """Round-8 readers persisted planned-rebase ``.rebase`` markers
    under ``_purges/``; the offset-carried generations make them
    obsolete. A leftover marker from an upgraded store must be inert:
    no re-delivery, no parse error."""
    import hashlib
    import json as _json
    import os

    k = f"{BASIN}\x00dead"
    store.catalog.create_stream(BASIN, "dead")
    store.append(BASIN, "dead", _recs(4))
    r = _reader(store)
    o1 = r.latestOffset()
    r.partitions({}, o1)
    r.commit(o1)
    # resurrect an r8-style marker claiming a pending rebase to end=2
    d = os.path.join(store.base_dir, "_purges")
    os.makedirs(d, exist_ok=True)
    marker = os.path.join(
        d, hashlib.sha1(k.encode()).hexdigest()[:24] + ".rebase"
    )
    with open(marker, "w") as f:
        _json.dump({"key": k, "end": 2}, f)
    store.append(BASIN, "dead", [Record(body=b"fifth")])
    r2 = _reader(store)
    o2 = r2.latestOffset()
    assert o2 == {"__v": 2, k: [0, 5]}  # marker never parsed as a tombstone
    parts = [
        (p.stream, p.start, p.end) for p in r2.partitions(o1, o2) if p.stream
    ]
    assert parts == [("dead", 4, 5)]  # NOT from 0 — no re-delivery


def test_purge_while_reader_down_rebases_from_checkpoint(spark, store):
    """THE restart gap: query stops, stream is purged + recreated while
    it is DOWN, query restarts from the checkpoint. The checkpointed
    offset carries the dead generation; the fresh reader's latestOffset
    reports the live one — the mismatch rebases delivery to the
    recreated stream's head, exactly once."""
    k = f"{BASIN}\x00dead"
    store.catalog.create_stream(BASIN, "dead")
    store.append(BASIN, "dead", _recs(4))
    r = _reader(store)
    o1 = r.latestOffset()
    r.partitions({}, o1)
    r.commit(o1)
    # query stops here; purge + recreate with the reader GONE
    _purge_recreate(store, "dead", 2)
    r2 = _reader(store)  # restart: only the checkpoint (o1) survives
    o2 = r2.latestOffset()
    assert o2 == {"__v": 2, k: [1, 2]}
    parts = [
        (p.stream, p.start, p.end) for p in r2.partitions(o1, o2) if p.stream
    ]
    assert parts == [("dead", 0, 2)]  # new generation delivered from seq 0
    r2.commit(o2)
    parts = [
        (p.stream, p.start, p.end)
        for p in r2.partitions(o2, r2.latestOffset())
        if p.stream
    ]
    assert parts == []  # and exactly once


def test_plain_int_offset_refused(spark, store):
    """Offsets carry the purge generation (``[gen, seq]``). A plain-int
    value, from a checkpoint written before that format, has no
    knowable generation: planning or committing it raises instead of
    guessing one."""
    k = f"{BASIN}\x00s1"
    store.append(BASIN, "s1", _recs(6))
    r = _reader(store)
    o = r.latestOffset()
    assert o == {"__v": 2, k: [0, 6]}
    with pytest.raises(ValueError, match="predates"):
        r.partitions({k: 4}, o)
    with pytest.raises(ValueError, match="predates"):
        r.commit({k: 6})


def test_rebase_with_rate_limit_delivers_new_generation_windowed(spark, store):
    """Purge rebase composes with maxrecordspertrigger: the recreated
    stream's records deliver window-by-window from seq 0, and the
    windows never skip or repeat."""
    from s2_spark.streaming.source import S2StreamReader

    k = f"{BASIN}\x00dead"
    store.catalog.create_stream(BASIN, "dead")
    store.append(BASIN, "dead", _recs(4))
    r = S2StreamReader(
        {"path": store.base_dir, "basin": BASIN, "maxrecordspertrigger": 2}
    )
    o = r.initialOffset()
    o1 = r.latestOffset()
    r.partitions(o, o1)
    r.commit(o1)
    o2 = r.latestOffset()
    r.partitions(o1, o2)
    r.commit(o2)
    assert _seqs(o2) == {k: 4}
    _purge_recreate(store, "dead", 5)  # new generation, tail 5
    delivered = []
    prev = o2
    for _ in range(6):  # enough triggers to drain 5 records at <=2/batch
        o = r.latestOffset()
        for p in r.partitions(prev, o):
            if p.stream:
                delivered.append((p.start, p.end))
        r.commit(o)
        prev = o
    # windows cover exactly [0,5) in order without gaps or repeats
    covered = []
    for s, e in delivered:
        covered.extend(range(s, e))
    assert covered == list(range(5)), delivered


def test_latest_offset_purge_racing_tails_scan_rescans(spark, store, monkeypatch):
    """A purge+recreate completing BETWEEN latestOffset's tails scan and
    its tombstone read must not stamp the dead generation's tail with
    the new generation: [new_gen, dead_tail] would pin the recreated
    stream's high-water mark above its true tail, silently skipping
    every record appended below it. latestOffset re-reads the
    generations after the scan and rescans until they are stable."""
    import s2_spark.streaming.source as src

    k = f"{BASIN}\x00dead"
    store.catalog.create_stream(BASIN, "dead")
    store.append(BASIN, "dead", _recs(6))
    r = _reader(store)
    o1 = r.latestOffset()
    assert o1 == {"__v": 2, k: [0, 6]}
    r.partitions({}, o1)
    r.commit(o1)
    real = src._tails
    fired = {"n": 0}

    def racing(path, cache=None, stats=None, backend=None):
        out = real(path, cache, stats, backend)
        if fired["n"] == 0:
            fired["n"] = 1
            # the purge lands AFTER the scan read the old files but
            # BEFORE the tombstone read — the exact race window
            _purge_recreate(store, "dead", 3)
        return out

    monkeypatch.setattr(src, "_tails", racing)
    o2 = r.latestOffset()
    # the stable snapshot pairs the NEW generation with the NEW tail —
    # the racing interleaving would have produced [1, 6]
    assert o2 == {"__v": 2, k: [1, 3]}
    parts = [
        (p.stream, p.start, p.end) for p in r.partitions(o1, o2) if p.stream
    ]
    assert parts == [("dead", 0, 3)]
    r.commit(o2)
    # appends below the dead generation's tail still deliver (the
    # broken interleaving pinned the HWM at 6 and lost these)
    store.append(BASIN, "dead", _recs(2))
    o3 = r.latestOffset()
    assert o3 == {"__v": 2, k: [1, 5, 3]}  # hwm rides along
    parts = [
        (p.stream, p.start, p.end) for p in r.partitions(o2, o3) if p.stream
    ]
    assert parts == [("dead", 3, 5)]


def test_latest_offset_purge_churn_bounded_retry_raises(spark, store, monkeypatch):
    """ADVICE r9: the tails/tombstone consistency loop must not wedge
    the driver's trigger forever under sustained purge churn — bounded
    retries, then a descriptive error instead of a silent stall."""
    import s2_spark.streaming.source as src

    store.append(BASIN, "s1", _recs(2))
    r = _reader(store)
    tick = {"n": 0}

    def churning(path, cache=None, backend=None):
        tick["n"] += 1
        return {f"{BASIN}\x00s1": tick["n"]}  # never stable

    monkeypatch.setattr(src, "_purge_gens", churning)
    with pytest.raises(RuntimeError, match="purge-stable"):
        r.latestOffset()


@pytest.mark.parametrize("no_fcntl", [False, True], ids=["flock", "no-fcntl"])
def test_source_restart_admission_durable(spark, store, monkeypatch, no_fcntl):
    """Admission control survives restarts (the reference's in-flight
    semaphore contract, streamer.rs:815-838): every emission persists
    the end to the durable reader HWM (`{path}/_reader_hwm/`, monotone
    max, written BEFORE the emission can reach Spark's offset log), so
    a COLD reader facing a deep backlog caps its FIRST window at
    min(tail, durable + cap) — which, durable being >= every logged
    end, never regresses below any checkpointed position. On
    filesystems without `fcntl` the merge lands in per-writer sidecars
    max-merged at read time — same durable semantics, no lock."""
    import sys

    from s2_spark.streaming.source import S2StreamReader

    if no_fcntl:
        monkeypatch.setitem(sys.modules, "fcntl", None)

    k = f"{BASIN}\x00s1"
    store.append(BASIN, "s1", _recs(4))
    mk = lambda: S2StreamReader(  # noqa: E731
        {"path": store.base_dir, "basin": BASIN, "maxrecordspertrigger": 2}
    )
    r = mk()
    o0 = r.initialOffset()
    o1 = r.latestOffset()
    assert o1[k] == [0, 4]  # no durable state yet: uncapped fallback
    r.partitions(o0, o1)
    r.commit(o1)
    # a deep backlog lands while the query is down
    store.append(BASIN, "s1", _recs(20))  # tail 24
    r2 = mk()  # cold restart
    o2 = r2.latestOffset()
    assert o2[k] == [0, 6]  # min(24, 4+2): throttled on the FIRST batch
    assert [
        (p.start, p.end) for p in r2.partitions(o1, o2) if p.stream
    ] == [(4, 6)]
    r2.commit(o2)
    o3 = r2.latestOffset()
    assert o3[k] == [0, 8, 6]  # warm path takes over, hwm rides
    # double restart mid-catch-up: still capped, never re-delivers
    r3 = mk()
    o4 = r3.latestOffset()
    assert o4[k] == [0, 10]  # durable base 8 (o3 was persisted)
    assert [
        (p.start, p.end) for p in r3.partitions(o3, o4) if p.stream
    ] == [(8, 10)]


def test_source_rebase_first_window_capped(spark, store):
    """A purge+recreate's rebase position is structural (seq 0), so a
    rate-capped reader's first post-rebase window is capped too — the
    baseline is known, not guessed, and a same-generation offset-log
    entry cannot predate the generation's first sighting."""
    from s2_spark.streaming.source import S2StreamReader

    k = f"{BASIN}\x00dead"
    store.catalog.create_stream(BASIN, "dead")
    store.append(BASIN, "dead", _recs(3))
    r = S2StreamReader(
        {"path": store.base_dir, "basin": BASIN, "maxrecordspertrigger": 2}
    )
    o0 = r.initialOffset()
    o1 = r.latestOffset()
    r.partitions(o0, o1)
    r.commit(o1)
    _purge_recreate(store, "dead", 7)  # new generation, tail 7
    o2 = r.latestOffset()
    assert o2[k] == [1, 2, 0]  # capped at start_seq + 2, not [1, 7]
    assert [
        (p.start, p.end) for p in r.partitions(o1, o2) if p.stream == "dead"
    ] == [(0, 2)]


@pytest.mark.parametrize("no_fcntl", [False, True], ids=["flock", "no-fcntl"])
def test_reader_hwm_concurrent_writers_keep_monotone_max(
    tmp_path, monkeypatch, no_fcntl
):
    """The durable reader-HWM merge never loses the maximum under
    concurrent writers (two queries on one store, or a trigger racing
    a restart) — a lost max would let a later cold reader cap below
    another query's checkpointed position. With `fcntl` the merge is
    flock-serialized; without it each (pid, thread) writes a private
    sidecar (no contended rename exists to clobber) and the read side
    max-merges them."""
    import os
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from s2_spark.streaming.source import (
        _reader_hwm_read,
        _reader_hwm_write_max,
    )

    if no_fcntl:
        monkeypatch.setitem(sys.modules, "fcntl", None)

    base = str(tmp_path / "records")
    os.makedirs(base)
    key = "b\x00s"

    def writer(vals):
        for g, e in vals:
            _reader_hwm_write_max(base, key, g, e)

    import random as _r

    seqs = []
    for w in range(4):
        rng = _r.Random(w)
        seqs.append([(0, rng.randint(1, 1000)) for _ in range(50)])
    with ThreadPoolExecutor(4) as ex:
        for f in [ex.submit(writer, s) for s in seqs]:
            f.result()
    expect = max(e for s in seqs for _, e in s)
    assert _reader_hwm_read(base, key) == (0, expect)
    # generation replaces outright, then stays monotone; lower-gen
    # stragglers are ignored
    _reader_hwm_write_max(base, key, 1, 3)
    _reader_hwm_write_max(base, key, 0, 10_000)
    assert _reader_hwm_read(base, key) == (1, 3)


def test_reader_hwm_namespace_isolates_queries(spark, store):
    """ADVICE r10: the durable reader HWM is keyed per store and
    therefore SHARED across queries by default — a query positioned at
    a shallow checkpoint that cold-restarts beside a query with a deep
    persisted baseline runs its first window effectively uncapped.
    The `hwmns` option namespaces the baseline per query identity
    (e.g. a checkpoint dir or query name): namespaced queries recover
    only their OWN baselines; the un-namespaced default keeps the
    shared-store behavior."""
    from s2_spark.streaming.source import S2StreamReader

    k = f"{BASIN}\x00s1"
    mk = lambda **kw: S2StreamReader(  # noqa: E731
        {
            "path": store.base_dir,
            "basin": BASIN,
            "maxrecordspertrigger": 2,
            **kw,
        }
    )
    store.append(BASIN, "s1", _recs(4))
    a = mk()
    assert a.latestOffset()[k] == [0, 4]  # persists the SHARED hwm 4
    store.append(BASIN, "s1", _recs(20, start=4))  # deep backlog, tail 24
    # default (shared) cold reader: capped from the shared baseline
    assert mk().latestOffset()[k] == [0, 6]
    # a namespaced query is isolated: its namespace has no durable
    # state yet, so it gets the disclosed uncapped-first-window
    # fallback — NOT another query's deep baseline
    b = mk(hwmns="query-b")
    assert b.latestOffset()[k] == [0, 24]
    store.append(BASIN, "s1", _recs(10, start=24))  # tail 34
    # ...and its baseline persists within its own namespace
    assert mk(hwmns="query-b").latestOffset()[k] == [0, 26]
    # while the shared namespace still caps from ITS last emission
    assert mk().latestOffset()[k] == [0, 8]


def test_source_exactly_once_under_live_concurrent_compaction(spark, tmp_path):
    """A reader triggers continuously while the store compacts in a
    loop, so every tails scan and slice read races generations that
    delist the files it just listed. Offsets must never regress within
    a generation, and every appended record is delivered exactly once.
    Appends and compactions serialize against each other (compaction
    is a maintenance op); the READER runs fully concurrent with both."""
    import threading
    import time as _t

    from s2_spark.streaming.source import SEP, S2StreamReader

    cat = Catalog(spark)
    cat.create_basin(BASIN)
    cat.create_stream(BASIN, "s1")
    store = StreamStore(spark, str(tmp_path / "records"), catalog=cat)
    k = f"{BASIN}{SEP}s1"
    mu = threading.Lock()
    stop = threading.Event()
    n_total = 36

    def appender():
        for i in range(0, n_total, 3):
            with mu:
                store.append(
                    BASIN, "s1", [Record(body=f"r{i + j}".encode()) for j in range(3)]
                )
            _t.sleep(0.01)

    def compactor():
        while not stop.is_set():
            with mu:
                store.compact()
            _t.sleep(0.005)

    ta = threading.Thread(target=appender)
    tc = threading.Thread(target=compactor)
    ta.start()
    tc.start()
    r = S2StreamReader({"path": store.base_dir, "basin": BASIN})
    ckpt = r.initialOffset()
    delivered: list[tuple[int, bytes]] = []
    last_end = 0
    try:
        deadline = _t.monotonic() + 60
        while _t.monotonic() < deadline:
            o = r.latestOffset()
            if k in o:
                end = o[k][1]
                assert end >= last_end, (
                    f"offset regressed {last_end} -> {end} mid-compaction"
                )
                last_end = end
            for p in r.partitions(ckpt, o):
                if not p.stream:
                    continue
                for batch in r.read(p):
                    d = batch.to_pydict()
                    delivered += list(
                        zip(d["seq_num"], [bytes(b) for b in d["body"]])
                    )
            r.commit(o)
            ckpt = o
            if not ta.is_alive() and last_end >= n_total:
                break
    finally:
        stop.set()
        ta.join()
        tc.join()
    assert sorted(delivered) == [
        (i, f"r{i}".encode()) for i in range(n_total)
    ], "lost or duplicated records under live compaction"


def test_reader_hwm_ignores_inflight_sidecar_tmps(tmp_path):
    """The sidecar glob (`.w*`) also matches in-flight STAGING files
    (`{p}.w{pid}-{tid}.tmp.{pid}.{salt}`). Only completed sidecars are
    durable state: a tmp's contents must never widen the admission
    baseline, and a stale tmp from a crashed writer is swept once it
    ages past the in-flight window (ADVICE r11)."""
    import json
    import os
    import time

    from s2_spark.streaming.source import (
        _reader_hwm_file,
        _reader_hwm_read,
        _reader_hwm_write_max,
    )

    base = str(tmp_path / "records")
    os.makedirs(base)
    key = "b\x00s"
    _reader_hwm_write_max(base, key, 0, 7)
    assert _reader_hwm_read(base, key) == (0, 7)

    # a crashed writer's abandoned staging file holding a LARGER value
    # must not be read as durable state
    p = _reader_hwm_file(base, key)
    stale = f"{p}.w999-1.tmp.999.0"
    with open(stale, "w") as f:
        json.dump({"key": key, "gen": 5, "end": 10_000}, f)
    assert _reader_hwm_read(base, key) == (0, 7)
    assert os.path.exists(stale)  # fresh tmp: still inside the
    # in-flight window, not swept

    # ...but once it ages past the window it is cleaned up
    old = time.time() - 7200
    os.utime(stale, (old, old))
    assert _reader_hwm_read(base, key) == (0, 7)
    assert not os.path.exists(stale)


def test_neardup_clusters_restores_prior_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir sets SESSION-GLOBAL SparkContext state; the loop
    must restore the caller's previous checkpoint dir afterwards so a
    later .checkpoint() elsewhere doesn't silently land under this
    call's dir (ADVICE r11)."""
    from s2_spark.functions import dedup as D

    sc = spark.sparkContext
    prior = str(tmp_path / "prior_ckpt")
    mine = str(tmp_path / "cc_ckpt")
    sc.setCheckpointDir(prior)
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(8)],
        "doc_id long, text string",
    )
    D.neardup_clusters(docs, checkpoint_dir=mine).collect()
    # setCheckpointDir nests a UUID subdir per call, so assert by tree:
    # later checkpoints must land back under the caller's PRIOR dir,
    # not under this call's dir
    after = sc.getCheckpointDir()
    assert "prior_ckpt" in after and "cc_ckpt" not in after, after


def test_reader_hwm_autonamespace_from_checkpoint_location(spark, store):
    """VERDICT r11: checkpoint dirs are per-query by construction, so a
    `checkpointLocation` read option auto-derives the admission
    namespace — two queries that each disclose their checkpoint are
    BOTH throttled from their own baselines starting with the very
    first micro-batch, without the explicit `hwmns` knob. `hwmns`
    still wins when both are given."""
    from s2_spark.streaming.source import S2StreamReader

    k = f"{BASIN}\x00s1"
    mk = lambda **kw: S2StreamReader(  # noqa: E731
        {
            "path": store.base_dir,
            "basin": BASIN,
            "maxrecordspertrigger": 2,
            **kw,
        }
    )
    store.append(BASIN, "s1", _recs(4))
    # two fresh queries, distinct checkpoints: each gets the disclosed
    # uncapped first window (no durable baseline of its OWN), then each
    # persists into its own namespace
    a = mk(checkpointlocation="/ckpt/query-a")
    b = mk(checkpointlocation="/ckpt/query-b")
    assert a.latestOffset()[k] == [0, 4]
    assert b.latestOffset()[k] == [0, 4]
    store.append(BASIN, "s1", _recs(20, start=4))  # tail 24
    # cold restarts with the same checkpoints: throttled from their own
    # persisted baselines on the FIRST window — never another query's
    assert mk(checkpointlocation="/ckpt/query-a").latestOffset()[k] == [0, 6]
    assert mk(checkpointlocation="/ckpt/query-b").latestOffset()[k] == [0, 6]
    # the namespaces are really distinct: advance only query-a (each
    # capped emission persists into its OWN namespace)
    assert mk(checkpointlocation="/ckpt/query-a").latestOffset()[k] == [0, 8]
    assert mk(checkpointlocation="/ckpt/query-a").latestOffset()[k] == [0, 10]
    # ...query-b's baseline is untouched by query-a's advances
    assert mk(checkpointlocation="/ckpt/query-b").latestOffset()[k] == [0, 8]
    # explicit hwmns overrides the checkpoint-derived namespace: a
    # fresh explicit ns gets the disclosed uncapped first window, not
    # query-a's baseline
    c = mk(checkpointlocation="/ckpt/query-a", hwmns="shared")
    assert c.latestOffset()[k] == [0, 24]
    assert mk(hwmns="shared").latestOffset()[k] == [0, 24]
    # and query-a's namespace was not polluted by the override
    assert mk(checkpointlocation="/ckpt/query-a").latestOffset()[k] == [0, 12]


def test_source_manifest_store_live_tail_across_compaction(spark, tmp_path):
    """r13: the source's footer scanner lists MANIFEST stores from the
    generation log (source._parquet_files), so a compaction mid-query
    — which leaves the delisted originals on disk beside the compacted
    copies until vacuum — must neither double-deliver the catch-up
    records nor stall the live tail. The follow query sees exactly
    each record once across catch-up, a compaction, a vacuum, and a
    post-churn append."""
    cat = Catalog(spark)
    cat.create_basin(BASIN)
    cat.create_stream(BASIN, "s1")
    store = StreamStore(
        spark, str(tmp_path / "records"), catalog=cat
    )
    store.append(BASIN, "s1", _recs(10))
    q = _start_tail_query(spark, store, "mftail")
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT seq_num FROM mftail ORDER BY seq_num").collect()
        assert [r.seq_num for r in got] == list(range(10))
        store.compact()  # originals + compacted copies now coexist
        store.append(BASIN, "s1", _recs(5, start=10))
        q.processAllAvailable()
        got = spark.sql("SELECT seq_num FROM mftail ORDER BY seq_num").collect()
        assert [r.seq_num for r in got] == list(range(15))  # no dupes
        store.vacuum(grace_ms=0)
        store.append(BASIN, "s1", _recs(3, start=15))
        q.processAllAvailable()
        got = spark.sql("SELECT seq_num FROM mftail ORDER BY seq_num").collect()
        assert [r.seq_num for r in got] == list(range(18))
    finally:
        q.stop()
