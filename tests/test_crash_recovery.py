"""Crash consistency of the append commit sequence.

The reference's durability boundary is one atomic SlateDB WriteBatch
followed by a durability watermark before acks
(lite/src/backend/streamer.rs:1010-1070, ordered-ack bookkeeping
lite/src/backend/append.rs:96-220). The engine's equivalent is:

    (1) records-parquet write  — the durable commit
    (2) driver hot-state advance (tail / last_ts / token / trim)

Invariant under a crash BETWEEN (1) and (2): the parquet write alone
defines the log. Driver state is a cache, rebuilt from storage on
recovery (store.recover_state / lazy per-stream recovery), so

- every record the write landed is visible to readers after recovery
  and counted in the recovered tail — no phantom or lost seq_nums;
- a fresh append after recovery continues at the recovered tail —
  seq_nums stay contiguous and unique, never reassigned;
- a client retry guarded by match_seq_num (the CAS the reference
  offers for exactly this ack-lost case) is rejected instead of
  double-appending.

The crash is injected by monkeypatching ``_invalidate_records``, which
both append paths call immediately after the parquet write and before
any state mutation reaches a committed ack. Spark's parquet commit
protocol (task temp files + rename) makes step (1) itself all-or-
nothing per batch, which is why the injection point between the steps
is the only window that needs evidence.
"""

from __future__ import annotations

import pytest

from s2_spark.catalog import BasinConfig
from s2_spark.model import Record, SeqNumMismatch
from s2_spark.store import StreamStore

BASIN = "crash-basin"


def _fresh(spark, base):
    """A store over ``base`` whose basin auto-creates streams on append
    (the catalog persists to ``base/_meta``, so a recovery store reads
    the same basin config back)."""
    s = StreamStore(spark, base)
    s.catalog.create_basin(
        BASIN, BasinConfig(create_stream_on_append=True, create_stream_on_read=True)
    )
    return s


class _Boom(RuntimeError):
    pass


def _crashing(store):
    """Make the store 'crash' right after the durable parquet write,
    before hot state advances."""

    def boom():
        raise _Boom("simulated crash between parquet write and state advance")

    store._invalidate_records = boom
    return store


def _all_seqs(store, stream):
    return [
        r["seq_num"]
        for r in store.read(BASIN, stream).select("seq_num").collect()
    ]


def test_unary_crash_between_write_and_state_then_recover(spark, tmp_path):
    base = str(tmp_path / "records")
    s1 = _fresh(spark, base)
    s1.append(BASIN, "s", [Record(body=b"a"), Record(body=b"b"), Record(body=b"c")])

    _crashing(s1)
    with pytest.raises(_Boom):
        s1.append(BASIN, "s", [Record(body=b"d"), Record(body=b"e")])
    # the crashed process's memory is gone; a new store recovers from
    # storage alone
    s2 = StreamStore(spark, base)
    s2.recover_state()
    tail, _ = s2.check_tail(BASIN, "s")
    # the batch was durably written before the crash: it IS in the log
    assert tail == 5
    assert _all_seqs(s2, "s") == [0, 1, 2, 3, 4]

    # a retry guarded by match_seq_num=3 (the tail the client saw
    # before the crashed call) is rejected — the CAS surfaces that the
    # earlier write committed, so nothing is double-appended
    with pytest.raises(SeqNumMismatch):
        s2.append(BASIN, "s", [Record(body=b"d"), Record(body=b"e")], match_seq_num=3)
    assert s2.check_tail(BASIN, "s")[0] == 5

    # an unconditional append continues at the recovered tail: seq_nums
    # stay contiguous and unique (no reassignment over the orphan batch)
    ack = s2.append(BASIN, "s", [Record(body=b"f")])
    assert ack.start_seq == 5
    assert _all_seqs(s2, "s") == [0, 1, 2, 3, 4, 5]


def test_unary_recovery_is_lazy_without_explicit_recover(spark, tmp_path):
    base = str(tmp_path / "records")
    s1 = _fresh(spark, base)
    s1.append(BASIN, "s", [Record(body=b"a")])
    _crashing(s1)
    with pytest.raises(_Boom):
        s1.append(BASIN, "s", [Record(body=b"b")])
    # no recover_state() call: the first touch of the stream on a fresh
    # store probes storage (store._st lazy recovery) and still lands on
    # the post-write tail
    s2 = StreamStore(spark, base)
    assert s2.check_tail(BASIN, "s")[0] == 2
    ack = s2.append(BASIN, "s", [Record(body=b"c")])
    assert ack.start_seq == 2
    assert _all_seqs(s2, "s") == [0, 1, 2]


def test_bulk_append_crash_between_write_and_state_then_recover(spark, tmp_path):
    from pyspark.sql import functions as F

    base = str(tmp_path / "records")
    s1 = _fresh(spark, base)

    def batch(tag, n):
        return spark.range(n).select(
            F.lit(BASIN).alias("basin"),
            F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("stream"),
            F.lit(None).cast("long").alias("timestamp"),
            F.array().cast("array<struct<name binary, value binary>>").alias("headers"),
            F.encode(F.concat(F.lit(tag), F.col("id").cast("string")), "utf-8").alias(
                "body"
            ),
            F.col("id").alias("ingest_order"),
        )

    s1.bulk_append(batch("x", 90))  # 30 records per stream
    _crashing(s1)
    with pytest.raises(_Boom):
        s1.bulk_append(batch("y", 30))

    s2 = StreamStore(spark, base)
    s2.recover_state()
    # the crashed bulk batch was durably written: every stream's
    # recovered tail covers it, readers see contiguous seq_nums
    for i in range(3):
        assert s2.check_tail(BASIN, f"s{i}")[0] == 40
        assert _all_seqs(s2, f"s{i}") == list(range(40))

    # a follow-up bulk append sequences strictly after the recovered
    # tails — contiguous, no duplicate assignment anywhere
    s2.bulk_append(batch("z", 30))
    for i in range(3):
        assert _all_seqs(s2, f"s{i}") == list(range(50))


def test_compaction_preserves_durable_catalog_and_audit(spark, tmp_path):
    """compact()/apply_trim_and_retention rewrite the DATA only: the
    durable catalog (_meta) and flushed audit history under base_dir
    must survive the rewrite — a compaction must never un-create every
    basin and stream."""
    base = str(tmp_path / "records")
    s1 = _fresh(spark, base)
    s1.append(BASIN, "s", [Record(body=b"a"), Record(body=b"b")])
    s1.read(BASIN, "s")
    s1.audit.flush()
    s1.compact()
    s1.apply_trim_and_retention()

    s2 = StreamStore(spark, base)
    # catalog survived: the basin config (auto-create flag) is intact
    assert s2.catalog.get_basin(BASIN).config.create_stream_on_append
    # flushed audit history survived too (checked before this test's
    # own reads add fresh ops to s2's buffer)
    from pyspark.sql import functions as F

    assert s2.audit.df().filter(F.col("op") == "read").count() == 1
    assert s2.check_tail(BASIN, "s")[0] == 2
    assert _all_seqs(s2, "s") == [0, 1]


def test_full_trim_then_physical_delete_preserves_tail(spark, tmp_path):
    """Trimming a stream to its tail and physically applying the trim
    must NOT reset the recovered tail to 0: the highest-seq record (the
    trim command itself) survives the rewrite as the tail keeper, reads
    see nothing, and new appends continue past the old tail — seq_nums
    are never reused."""
    base = str(tmp_path / "records")
    s1 = _fresh(spark, base)
    s1.append(BASIN, "s", [Record(body=b"a"), Record(body=b"b"), Record(body=b"c")])
    s1.trim(BASIN, "s", 1 << 62)  # clamps to its own position + 1 = 4
    s1.apply_trim_and_retention()

    s2 = StreamStore(spark, base)
    s2.recover_state()
    tail, _ = s2.check_tail(BASIN, "s")
    assert tail == 4  # 3 records + the trim command — nothing forgotten
    assert _all_seqs(s2, "s") == []  # fully trimmed: readers see nothing
    ack = s2.append(BASIN, "s", [Record(body=b"d")])
    assert ack.start_seq == 4  # no seq reuse
    assert _all_seqs(s2, "s") == [4]


def test_compaction_keeps_the_defining_trim_command(spark, tmp_path):
    """A later trim with a LOWER payload is dominated by the monotone
    max and must not displace the DEFINING trim command from the
    compaction keep-set: keeping only the latest-by-seq trim and
    deleting the defining one regresses the recovered trim point and
    resurrects every record in between (round-11 fresh-seed sim soak,
    seed 930413 — now also pinned in the sim matrix)."""
    base = str(tmp_path / "records")
    s1 = _fresh(spark, base)
    s1.append(BASIN, "s", [Record(body=bytes([i])) for i in range(8)])
    s1.trim(BASIN, "s", 8)  # seq 8, effective trim 8
    s1.apply_trim_and_retention()  # physically drops seqs 0-7
    s1.trim(BASIN, "s", 1)  # seq 9: DOMINATED (monotone max keeps 8)
    assert _all_seqs(s1, "s") == [8, 9]  # hot state still hides 0-7
    s1.apply_trim_and_retention()

    s2 = StreamStore(spark, base)
    s2.recover_state()
    st = s2._st(BASIN, "s")
    assert st.trim_point == 8, "recovered trim point regressed"
    # nothing resurrected, tail intact, appends continue past it
    assert _all_seqs(s2, "s") == [8, 9]
    assert s2.check_tail(BASIN, "s")[0] == 10
    ack = s2.append(BASIN, "s", [Record(body=b"d")])
    assert ack.start_seq == 10


from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

_ops_st = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(1, 3)),
        st.tuples(st.just("trim"), st.integers(0, 15)),
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops_st)
@example(ops=[("append", 2), ("trim", 2**63), ("append", 1)])
@example(ops=[("append", 1), ("trim", 2**64 - 1)])
def test_any_trim_sequence_recovers_exactly_after_compaction(spark, ops):
    """Property form of the trim-keeper rule: for ANY interleaving of
    appends and trims — including dominated trims, self-trimming trims,
    and past-tail clamps up to u64 payloads — physical compaction
    followed by recovery (eager, and lazy on first touch) reproduces
    exactly the monotone-max trim point, the tail, and the visible
    suffix. Generalizes the seed-930413 regression."""
    import tempfile

    base = tempfile.mkdtemp(prefix="trimprop_")
    s1 = _fresh(spark, base)
    tail, trim = 0, 0
    for kind, v in ops:
        if kind == "append":
            s1.append(BASIN, "s", [Record(body=bytes([i])) for i in range(v)])
            tail += v
        else:
            s1.trim(BASIN, "s", v)  # the trim record itself takes seq `tail`
            trim = max(trim, min(v, tail + 1))
            tail += 1
    s1.apply_trim_and_retention()

    s2 = StreamStore(spark, base)
    s2.recover_state()
    st_ = s2._st(BASIN, "s")
    assert (st_.tail_seq, st_.trim_point) == (tail, trim)
    cold = StreamStore(spark, base)._st(BASIN, "s")
    assert (cold.tail_seq, cold.trim_point) == (tail, trim)
    assert _all_seqs(s2, "s") == [s for s in range(tail) if s >= trim]
    ack = s2.append(BASIN, "s", [Record(body=b"next")])
    assert ack.start_seq == tail


def _plan_node_names(node) -> list[str]:
    kids = node.children()
    names = [node.nodeName()]
    for i in range(kids.size()):
        names += _plan_node_names(kids.apply(i))
    return names


def test_trim_retention_plan_is_one_aggregate_and_one_join(spark, tmp_path):
    """Trim/retention takes its keepers (tail, trim point, and the
    fence and trim commands defining the recovered state) from the one
    per-stream state aggregation recovery runs: one Aggregate, joined
    back to the records once."""
    s1 = _fresh(spark, str(tmp_path / "records"))
    s1.append(BASIN, "s", [Record(body=b"a"), Record(body=b"b")])
    s1.fence(BASIN, "s", "tok")
    s1.trim(BASIN, "s", 1)
    plan, _files = s1._build_trim_retention_plan(None)
    names = _plan_node_names(plan._jdf.queryExecution().optimizedPlan())
    assert (names.count("Aggregate"), names.count("Join")) == (1, 1), names


def test_purged_stream_name_recreates_fresh(spark, tmp_path):
    """delete_stream → purge → create the same name: the new stream
    must start empty at seq 0, never resurrecting the dead stream's
    records or tail."""
    from s2_spark.operators.maintenance import deletion_purge_sweep

    base = str(tmp_path / "records")
    s1 = _fresh(spark, base)
    s1.append(BASIN, "dead", [Record(body=b"ghost1"), Record(body=b"ghost2")])
    s1.catalog.delete_stream(BASIN, "dead")
    deletion_purge_sweep(s1)

    s1.catalog.create_stream(BASIN, "dead")
    assert s1.check_tail(BASIN, "dead")[0] == 0
    assert _all_seqs(s1, "dead") == []
    ack = s1.append(BASIN, "dead", [Record(body=b"fresh")])
    assert ack.start_seq == 0
    assert [
        bytes(r["body"]) for r in s1.read(BASIN, "dead").collect()
    ] == [b"fresh"]


def test_read_unary_zero_limits_mean_exhausted_budget(spark, tmp_path):
    from s2_spark.store import ReadLimit

    base = str(tmp_path / "records")
    s1 = _fresh(spark, base)
    s1.append(BASIN, "s", [Record(body=b"a")])
    assert s1.read_unary(BASIN, "s", limit=ReadLimit(count=0)).count() == 0
    assert s1.read_unary(BASIN, "s", limit=ReadLimit(bytes=0)).count() == 0


def test_bulk_append_admission_failure_writes_nothing(spark, tmp_path):
    """The other half of validate-then-commit: a batch rejected at
    admission (invalid record) must leave storage untouched — the
    failure is BEFORE the durability boundary, so recovery sees the old
    tail, not a half-committed batch."""
    from pyspark.sql import functions as F

    from s2_spark.model import InvalidRecord

    base = str(tmp_path / "records")
    s1 = _fresh(spark, base)
    good = spark.range(5).select(
        F.lit(BASIN).alias("basin"),
        F.lit("s").alias("stream"),
        F.lit(None).cast("long").alias("timestamp"),
        F.array().cast("array<struct<name binary, value binary>>").alias("headers"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("body"),
        F.col("id").alias("ingest_order"),
    )
    s1.bulk_append(good)
    bad = good.withColumn(
        "headers",
        F.array(
            F.struct(
                F.lit(b"").alias("name"), F.lit(b"not-a-command").alias("value")
            )
        ),
    )
    with pytest.raises(InvalidRecord):
        s1.bulk_append(bad)
    s2 = StreamStore(spark, base)
    s2.recover_state()
    assert s2.check_tail(BASIN, "s")[0] == 5
    assert _all_seqs(s2, "s") == list(range(5))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops_st, crash_at=st.integers(0, 5))
def test_any_trim_sequence_recovers_exactly_manifest_publish_crash(
    spark, ops, crash_at
):
    """Property form of the trim-keeper rule, with the
    compaction rewrite crashing at the ``crash_at``-th protocol step —
    a staged-output rename or the generation PUBLISH itself (the
    single commit point; VERDICT r13 task 1). Whether the publish
    landed (rewrite committed) or not (rewrite discarded, orphans
    invisible), cold recovery plus a zero-grace vacuum must reproduce
    exactly the monotone-max trim point, the tail, and the visible
    suffix, and the next append must take the recovered tail. When
    ``crash_at`` exceeds the protocol's step count the rewrite simply
    completes — both outcomes are inside the property."""
    import os as _os
    import tempfile

    base = tempfile.mkdtemp(prefix="mftrimprop_")
    s1 = StreamStore(spark, base)
    s1.catalog.create_basin(
        BASIN,
        BasinConfig(create_stream_on_append=True, create_stream_on_read=True),
    )
    tail, trim = 0, 0
    for kind, v in ops:
        if kind == "append":
            s1.append(BASIN, "s", [Record(body=bytes([i])) for i in range(v)])
            tail += v
        else:
            s1.trim(BASIN, "s", v)
            trim = max(trim, min(v, tail + 1))
            tail += 1

    # the publish commit point is os.link since r14 (create-if-absent);
    # intercepting only rename/replace would silently stop covering
    # the "crash at the publish itself" arm of the property
    real_replace, real_rename, real_link = _os.replace, _os.rename, _os.link
    calls = {"n": 0}

    def _step(src, dst, real):
        if "_compact-stage-" in str(src) or f"_manifest{_os.sep}" in str(dst):
            calls["n"] += 1
            if calls["n"] > crash_at:
                raise _Boom("injected manifest protocol crash")
        return real(src, dst)

    _os.replace = lambda src, dst: _step(src, dst, real_replace)
    _os.rename = lambda src, dst: _step(src, dst, real_rename)
    _os.link = lambda src, dst: _step(src, dst, real_link)
    try:
        s1.apply_trim_and_retention()
    except _Boom:
        pass
    finally:
        _os.replace, _os.rename, _os.link = (
            real_replace, real_rename, real_link,
        )

    s2 = StreamStore(spark, base)
    s2.vacuum(grace_ms=0)
    s2.recover_state()
    st_ = s2._st(BASIN, "s")
    assert (st_.tail_seq, st_.trim_point) == (tail, trim)
    assert _all_seqs(s2, "s") == [s for s in range(tail) if s >= trim]
    ack = s2.append(BASIN, "s", [Record(body=b"next")])
    assert ack.start_seq == tail
