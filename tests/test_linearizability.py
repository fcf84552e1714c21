"""Linearizability checking of concurrent operation histories — the
pytest rendering of the reference's strongest verification layer
(``sim/src/scenarios/linearizable.rs``, ``sim/src/history.rs``): three
kinds of logical clients (plain appender, match_seq_num CAS, fencing)
run concurrently against ONE stream, every operation is recorded as a
timed call/return event, and the history is checked OFFLINE against a
sequential StreamStore model with a Wing & Gong search (the algorithm
Porcupine implements). Appends that fail indefinitely — the client
cannot know whether the records became durable — are recorded as
``unknown`` and the checker accepts both outcomes, exactly the
reference's deferred-event treatment.

The checker itself is adversarially tested on hand-built histories it
must REJECT (stale read, duplicated sequence number, lost CAS update),
so a vacuous always-true checker cannot pass this file.
"""

from __future__ import annotations

import random
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pytest

from s2_spark.catalog import BasinConfig, Catalog
from s2_spark.model import (
    FencingTokenMismatch,
    Record,
    SeqNumMismatch,
    fence_record,
)
from s2_spark.store import StreamStore

BASIN = "lin-basin"
STREAM = "lin-s"

INF = float("inf")


# --------------------------------------------------------------------
# history events
# --------------------------------------------------------------------


@dataclass(frozen=True)
class Op:
    """One completed client operation with its observation interval.

    kind: 'append' | 'check_tail' | 'read'
    For appends: ``bodies`` is the record payload tuple, ``match`` the
    optional match_seq_num precondition, ``token`` the optional fencing
    precondition, ``new_token`` set when the batch is a fence command,
    ``trim_to`` set when it is a trim command (the requested trim
    point; the model applies the store's clamp-to-own-seq+1 and
    monotone-max rules, store.py:542-546). For reads: ``read_start``
    is the inclusive range floor (0 = full read); trim visibility
    applies on top. ``result`` is ('ok', value) / ('seq_mismatch',) /
    ('token_mismatch',) / ('unknown',).
    """

    client: int
    call: float
    ret: float
    kind: str
    result: tuple
    bodies: tuple = ()
    match: int | None = None
    token: str | None = None
    new_token: str | None = None
    trim_to: int | None = None
    read_start: int = 0


class _Clock:
    """Strictly monotonic event stamps shared by all client threads."""

    def __init__(self):
        self._t = 0
        self._lock = threading.Lock()

    def tick(self) -> int:
        with self._lock:
            self._t += 1
            return self._t


# --------------------------------------------------------------------
# sequential model + Wing & Gong checker
# --------------------------------------------------------------------


def _model_apply(state, op: Op):
    """Apply ``op`` to the sequential model state ``(bodies, token,
    trim_point)``; return (expected_result, new_state). Mirrors the
    documented append semantics: fencing precondition checked before
    CAS (store.py), fence/trim command records occupy a sequence
    number themselves, a trim's requested point is clamped to its own
    seq+1 and merges as a monotone max (store.py:542-546), and reads
    hide records below the trim point (store.py:942-944) on top of
    their own range floor — check_tail is trim-blind (the tail never
    regresses, stream_trim.rs keeps it in a dedicated row)."""
    bodies, token, trim = state
    if op.kind == "check_tail":
        return ("ok", len(bodies)), state
    if op.kind == "read":
        if op.read_start > len(bodies):
            # non-clamped read past the tail: RangeNotSatisfiable
            # carrying the tail at the linearization point (A7,
            # read.rs:260-269) — itself an observable to check
            return ("range_error", len(bodies)), state
        floor = max(trim, op.read_start)
        vis = tuple((i, b) for i, b in enumerate(bodies) if i >= floor)
        return ("ok", vis), state
    # append
    if op.token is not None and op.token != token:
        return ("token_mismatch",), state
    if op.match is not None and op.match != len(bodies):
        return ("seq_mismatch",), state
    new_token = op.new_token if op.new_token is not None else token
    new_trim = trim
    if op.trim_to is not None:
        # single-record trim batch at seq = len(bodies)
        new_trim = max(trim, min(op.trim_to, len(bodies) + 1))
    return ("ok", len(bodies)), (bodies + op.bodies, new_token, new_trim)


def check_linearizable(history: list[Op]) -> bool:
    """Wing & Gong: search for a total order of the history that (a)
    respects real-time precedence (op A before op B whenever A returned
    before B was called) and (b) replays through the sequential model
    producing every observed result. ``unknown`` appends may linearize
    with any outcome or not at all (they are given ret=+inf by the
    recorder, so they never constrain real-time order). Memoized on
    (linearized-set, model-state) — the P-compositionality trick that
    keeps the search polynomial on result-pinned histories."""
    ops = sorted(history, key=lambda o: o.call)
    n = len(ops)
    seen: set = set()

    def dfs(done: frozenset, state) -> bool:
        if len(done) == n:
            return True
        pending = [i for i in range(n) if i not in done]
        # every op left unlinearized must be an unknown (maybe-never-
        # happened) append for the history to be complete
        if all(ops[i].result == ("unknown",) for i in pending):
            return True
        key = (done, state)
        if key in seen:
            return False
        seen.add(key)
        horizon = min(ops[i].ret for i in pending)
        for i in pending:
            op = ops[i]
            if op.call > horizon:
                break  # ops sorted by call: nothing later is minimal
            expected, new_state = _model_apply(state, op)
            if op.result != ("unknown",) and expected != op.result:
                continue
            if dfs(done | {i}, new_state):
                return True
        return False

    return dfs(frozenset(), ((), "", 0))


# --------------------------------------------------------------------
# checker self-tests: histories it must reject (teeth, not vacuity)
# --------------------------------------------------------------------


def _ok_append(client, call, ret, body, start):
    return Op(client, call, ret, "append", ("ok", start), bodies=(body,))


def test_checker_accepts_sequential_history():
    h = [
        _ok_append(0, 1, 2, b"a", 0),
        _ok_append(1, 3, 4, b"b", 1),
        Op(0, 5, 6, "read", ("ok", ((0, b"a"), (1, b"b")))),
        Op(1, 7, 8, "check_tail", ("ok", 2)),
    ]
    assert check_linearizable(h)


def test_checker_accepts_concurrent_order_swap():
    # overlapping appends may linearize in either order; the acked
    # start_seqs pin which order actually happened
    h = [
        _ok_append(0, 1, 10, b"a", 1),
        _ok_append(1, 2, 9, b"b", 0),
        Op(0, 11, 12, "read", ("ok", ((0, b"b"), (1, b"a")))),
    ]
    assert check_linearizable(h)


def test_checker_rejects_stale_read():
    # append of b returned (t=4) before the read was called (t=5), yet
    # the read does not contain it
    h = [
        _ok_append(0, 1, 2, b"a", 0),
        _ok_append(1, 3, 4, b"b", 1),
        Op(0, 5, 6, "read", ("ok", ((0, b"a"),))),
    ]
    assert not check_linearizable(h)


def test_checker_rejects_duplicate_start_seq():
    h = [
        _ok_append(0, 1, 2, b"a", 0),
        _ok_append(1, 3, 4, b"b", 0),
    ]
    assert not check_linearizable(h)


def test_checker_rejects_gap_in_seq_space():
    h = [
        _ok_append(0, 1, 2, b"a", 0),
        _ok_append(1, 3, 4, b"b", 2),
    ]
    assert not check_linearizable(h)


def test_checker_rejects_lost_cas_update():
    # CAS(match=0) acked ok, but a read called after it returned shows
    # an empty stream — the write was lost
    h = [
        Op(0, 1, 2, "append", ("ok", 0), bodies=(b"a",), match=0),
        Op(1, 3, 4, "read", ("ok", ())),
    ]
    assert not check_linearizable(h)


def test_checker_rejects_both_cas_winners():
    # two CAS appends with the same expected tail cannot BOTH succeed
    h = [
        Op(0, 1, 10, "append", ("ok", 0), bodies=(b"a",), match=0),
        Op(1, 2, 9, "append", ("ok", 1), bodies=(b"b",), match=0),
    ]
    assert not check_linearizable(h)


def test_checker_rejects_fencing_bypass():
    # the fence (token 'z') returned before the stale-token append was
    # called, yet the append reports success
    h = [
        Op(0, 1, 2, "append", ("ok", 0), bodies=(b"z",), new_token="z"),
        Op(1, 3, 4, "append", ("ok", 1), bodies=(b"a",), token=""),
    ]
    assert not check_linearizable(h)


def test_checker_rejects_read_below_trim():
    # trim(1) acked at seq 2 returned before the read was called, yet
    # the read still shows seq 0 — trim visibility violated
    h = [
        _ok_append(0, 1, 2, b"a", 0),
        _ok_append(0, 3, 4, b"b", 1),
        Op(1, 5, 6, "append", ("ok", 2), bodies=(b"\x00" * 8,), trim_to=1),
        Op(0, 7, 8, "read",
           ("ok", ((0, b"a"), (1, b"b"), (2, b"\x00" * 8)))),
    ]
    assert not check_linearizable(h)
    ok = [
        h[0], h[1], h[2],
        Op(0, 7, 8, "read", ("ok", ((1, b"b"), (2, b"\x00" * 8)))),
    ]
    assert check_linearizable(ok)


def test_checker_trim_clamps_to_own_seq_and_stays_monotone():
    # a trim requesting far past its own record clamps to seq+1 (the
    # trim may hide itself but nothing that doesn't exist yet)…
    big = [
        _ok_append(0, 1, 2, b"a", 0),
        Op(1, 3, 4, "append", ("ok", 1), bodies=(b"\x00" * 8,), trim_to=100),
        _ok_append(0, 5, 6, b"c", 2),
        Op(0, 7, 8, "read", ("ok", ((2, b"c"),))),
    ]
    assert check_linearizable(big)
    # …and a LATER smaller trim never un-hides: a read showing seq 0
    # after trim(2)-then-trim(1) both returned must fail
    h = [
        _ok_append(0, 1, 2, b"a", 0),
        _ok_append(0, 3, 4, b"b", 1),
        Op(1, 5, 6, "append", ("ok", 2), bodies=(b"\x00" * 8,), trim_to=2),
        Op(1, 7, 8, "append", ("ok", 3), bodies=(b"\x00" * 8,), trim_to=1),
        Op(0, 9, 10, "read", ("ok", ((0, b"a"),) + tuple())),
    ]
    assert not check_linearizable(h)


def test_checker_ranged_read_floor():
    # a ranged read applies its own floor on top of trim…
    h = [
        _ok_append(0, 1, 2, b"a", 0),
        _ok_append(0, 3, 4, b"b", 1),
        Op(1, 5, 6, "read", ("ok", ((1, b"b"),)), read_start=1),
    ]
    assert check_linearizable(h)
    # …and showing a record below that floor is rejected
    bad = [
        h[0], h[1],
        Op(1, 5, 6, "read", ("ok", ((0, b"a"), (1, b"b"))), read_start=1),
    ]
    assert not check_linearizable(bad)


def test_checker_range_error_carries_the_tail():
    # a non-clamped past-tail read observes RangeNotSatisfiable(tail);
    # the reported tail must be consistent with SOME linearization…
    h = [
        _ok_append(0, 1, 2, b"a", 0),
        Op(1, 3, 4, "read", ("range_error", 1), read_start=3),
    ]
    assert check_linearizable(h)
    # …an error claiming a tail the stream never had is rejected…
    bad = [
        h[0],
        Op(1, 3, 4, "read", ("range_error", 0), read_start=3),
    ]
    assert not check_linearizable(bad)
    # …and an error for a start the tail already covers is rejected
    # (the read should have succeeded)
    bad2 = [
        h[0],
        Op(1, 3, 4, "read", ("range_error", 1), read_start=1),
    ]
    assert not check_linearizable(bad2)


def test_checker_unknown_append_both_outcomes():
    # an unknown append may be present in the final read…
    h_present = [
        Op(0, 1, INF, "append", ("unknown",), bodies=(b"x",)),
        Op(1, 2, 3, "read", ("ok", ((0, b"x"),))),
    ]
    # …or absent — both are linearizable
    h_absent = [
        Op(0, 1, INF, "append", ("unknown",), bodies=(b"x",)),
        Op(1, 2, 3, "read", ("ok", ())),
    ]
    assert check_linearizable(h_present)
    assert check_linearizable(h_absent)
    # but it cannot be HALF-present: a read showing a record the
    # unknown append never wrote stays rejected
    h_wrong = [
        Op(0, 1, INF, "append", ("unknown",), bodies=(b"x",)),
        Op(1, 2, 3, "read", ("ok", ((0, b"y"),))),
    ]
    assert not check_linearizable(h_wrong)


# --------------------------------------------------------------------
# live concurrent histories against the real store
# --------------------------------------------------------------------


@pytest.fixture()
def store(spark, tmp_path):
    cat = Catalog(spark)
    cat.create_basin(BASIN, BasinConfig(create_stream_on_append=True))
    cat.create_stream(BASIN, STREAM)
    return StreamStore(spark, str(tmp_path / "records"), catalog=cat)


class _Recorder:
    def __init__(self):
        self.clock = _Clock()
        self.events: list[Op] = []
        self._lock = threading.Lock()

    def record(self, **kw) -> None:
        with self._lock:
            self.events.append(Op(**kw))


def _read_result(store, start: int = 0, stream: str = STREAM) -> tuple:
    from s2_spark.store import ReadStart

    df = store.read(BASIN, stream, start=ReadStart(seq_num=start))
    rows = df.select("seq_num", "body").collect()
    return tuple(sorted((r.seq_num, bytes(r.body)) for r in rows))


def _plain_client(store, rec, cid, rng, n_ops, stream: str = STREAM):
    for j in range(n_ops):
        roll = rng.random()
        call = rec.clock.tick()
        if roll < 0.6:
            bodies = tuple(
                f"c{cid}o{j}r{i}".encode() for i in range(rng.randint(1, 3))
            )
            ack = store.append(BASIN, stream, [Record(body=b) for b in bodies])
            rec.record(
                client=cid, call=call, ret=rec.clock.tick(), kind="append",
                bodies=bodies, result=("ok", ack.start_seq),
            )
        elif roll < 0.8:
            tail, _ = store.check_tail(BASIN, stream)
            rec.record(
                client=cid, call=call, ret=rec.clock.tick(),
                kind="check_tail", result=("ok", tail),
            )
        else:
            got = _read_result(store, stream=stream)
            rec.record(
                client=cid, call=call, ret=rec.clock.tick(),
                kind="read", result=("ok", got),
            )


def _cas_client(store, rec, cid, rng, n_ops, stream: str = STREAM):
    for j in range(n_ops):
        tail, _ = store.check_tail(BASIN, stream)
        # sometimes race a deliberately stale expectation
        expect = tail if rng.random() < 0.7 else max(0, tail - 1)
        body = f"c{cid}o{j}cas".encode()
        call = rec.clock.tick()
        try:
            ack = store.append(
                BASIN, stream, [Record(body=body)], match_seq_num=expect
            )
            result = ("ok", ack.start_seq)
        except SeqNumMismatch:
            result = ("seq_mismatch",)
        rec.record(
            client=cid, call=call, ret=rec.clock.tick(), kind="append",
            bodies=(body,), match=expect, result=result,
        )


def _fencing_client(store, rec, cid, rng, n_ops, stream: str = STREAM):
    last_set = ""
    for j in range(n_ops):
        roll = rng.random()
        if roll < 0.3:
            token = f"tok-{cid}-{j}"
            frec = fence_record(token)
            bodies = (bytes(frec.body),)
            call = rec.clock.tick()
            ack = store.append(BASIN, stream, [frec])
            rec.record(
                client=cid, call=call, ret=rec.clock.tick(), kind="append",
                bodies=bodies, new_token=token, result=("ok", ack.start_seq),
            )
            last_set = token
        else:
            # appends guarded by the token this client last set — a
            # concurrent re-fence by itself later, or the initial ""
            # epoch, makes mismatches genuinely reachable
            guard = last_set if rng.random() < 0.7 else ""
            body = f"c{cid}o{j}f".encode()
            call = rec.clock.tick()
            try:
                ack = store.append(
                    BASIN, stream, [Record(body=body)], fencing_token=guard
                )
                result = ("ok", ack.start_seq)
            except FencingTokenMismatch:
                result = ("token_mismatch",)
            rec.record(
                client=cid, call=call, ret=rec.clock.tick(), kind="append",
                bodies=(body,), token=guard, result=result,
            )


def _trim_client(store, rec, cid, rng, n_ops, stream: str = STREAM):
    """Trims (in-band command appends, A6) interleaved with ranged
    reads — the alphabet extension that audits trim visibility, the
    clamp-to-own-seq rule, and monotone merge under concurrency."""
    for j in range(n_ops):
        call = rec.clock.tick()
        if rng.random() < 0.5:
            tail, _ = store.check_tail(BASIN, stream)
            # mostly conservative points (some clamp past the tail so
            # the min(requested, own seq+1) branch is reachable)
            req = rng.randint(0, tail + 2)
            ack = store.trim(BASIN, stream, req)
            rec.record(
                client=cid, call=call, ret=rec.clock.tick(), kind="append",
                bodies=(req.to_bytes(8, "big"),), trim_to=req,
                result=("ok", ack.start_seq),
            )
        else:
            from s2_spark.model import RangeNotSatisfiable

            start = rng.randint(0, 4)
            try:
                got = _read_result(store, start=start, stream=stream)
                result = ("ok", got)
            except RangeNotSatisfiable as e:
                # past-tail without clamp: the 416's tail value is an
                # observation the checker must linearize too
                result = ("range_error", e.tail)
            rec.record(
                client=cid, call=call, ret=rec.clock.tick(), kind="read",
                read_start=start, result=result,
            )


@pytest.mark.parametrize("seed", [11, 3001])
def test_concurrent_history_linearizable(store, seed):
    """linearizable.rs shape: clients i%3 → plain / match_seq_num /
    fencing, all against one stream; the recorded history must be
    linearizable against the sequential model."""
    rec = _Recorder()
    clients, n_ops = 6, 8
    kinds = [_plain_client, _cas_client, _fencing_client]

    def run(cid):
        kinds[cid % 3](store, rec, cid, random.Random(seed * 100 + cid), n_ops)

    with ThreadPoolExecutor(clients) as ex:
        for f in [ex.submit(run, c) for c in range(clients)]:
            f.result()
    # one final read closes the history so every acked write is audited
    call = rec.clock.tick()
    got = _read_result(store)
    rec.record(client=99, call=call, ret=rec.clock.tick(), kind="read",
               result=("ok", got))
    assert check_linearizable(rec.events)
    # sanity: the mix actually exercised all three result shapes
    kinds_seen = {o.result[0] for o in rec.events}
    assert "ok" in kinds_seen


# 20325: round-12 fresh-seed soak find — a read filtered by the live
# st.trim_point over an independently-captured file listing observed
# a trim's clamp while missing the append sequenced before it (torn
# read); fixed by the atomic (tail, trim) snapshot in store.read()
@pytest.mark.parametrize("seed", [7, 4242, 20325])
def test_concurrent_history_with_trims_linearizable(store, seed):
    """The extended alphabet live: plain / CAS / fencing / trim+ranged-
    read clients against one stream. Every recorded trim must replay
    through the model's clamp + monotone-max rules, and every (ranged)
    read must observe exactly the surviving suffix at its
    linearization point."""
    rec = _Recorder()
    clients, n_ops = 8, 6
    kinds = [_plain_client, _cas_client, _fencing_client, _trim_client]

    def run(cid):
        kinds[cid % 4](store, rec, cid, random.Random(seed * 100 + cid), n_ops)

    with ThreadPoolExecutor(clients) as ex:
        for f in [ex.submit(run, c) for c in range(clients)]:
            f.result()
    call = rec.clock.tick()
    got = _read_result(store)
    rec.record(client=99, call=call, ret=rec.clock.tick(), kind="read",
               result=("ok", got))
    assert check_linearizable(rec.events)
    # the mix really exercised the new letters
    assert any(o.trim_to is not None for o in rec.events)
    assert any(o.kind == "read" and o.read_start > 0 for o in rec.events)


class _Boom(RuntimeError):
    pass


def test_history_with_indefinite_failure_append(spark, tmp_path):
    """The reference's deferred-event case: an append whose client saw
    an error AFTER the records became durable is recorded as
    ``unknown`` (ret=∞); the post-recovery read SHOWS the records, and
    the checker must accept the history by linearizing the unknown
    append as having happened."""
    base = str(tmp_path / "records")
    # the store's own default catalog persists under ``base``, so the
    # recovery store below reads the same basin config back
    s1 = StreamStore(spark, base)
    s1.catalog.create_basin(BASIN, BasinConfig(create_stream_on_append=True))
    s1.catalog.create_stream(BASIN, STREAM)
    rec = _Recorder()

    call = rec.clock.tick()
    ack = s1.append(BASIN, STREAM, [Record(body=b"pre")])
    rec.record(client=0, call=call, ret=rec.clock.tick(), kind="append",
               bodies=(b"pre",), result=("ok", ack.start_seq))

    # crash between the durable parquet write and the state advance:
    # the client cannot know whether the batch landed
    def boom():
        raise _Boom("simulated crash after durable write")

    s1._invalidate_records = boom
    call = rec.clock.tick()
    with pytest.raises(_Boom):
        s1.append(BASIN, STREAM, [Record(body=b"maybe")])
    rec.record(client=0, call=call, ret=INF, kind="append",
               bodies=(b"maybe",), result=("unknown",))

    # recovery store over the same directory: the batch WAS durable
    s2 = StreamStore(spark, base)
    call = rec.clock.tick()
    got = tuple(sorted(
        (r.seq_num, bytes(r.body))
        for r in s2.read(BASIN, STREAM).select("seq_num", "body").collect()
    ))
    rec.record(client=1, call=call, ret=rec.clock.tick(), kind="read",
               result=("ok", got))
    assert (1, b"maybe") in got  # it really was durable
    assert check_linearizable(rec.events)

    # and the checker is not just waving unknowns through: claiming a
    # DIFFERENT body at that seq must still fail
    bad = [
        o if o.kind != "read"
        else Op(o.client, o.call, o.ret, "read",
                ("ok", ((0, b"pre"), (1, b"forged"))))
        for o in rec.events
    ]
    assert not check_linearizable(bad)


STREAM2 = "lin-s2"


# 732608: the same round-12 torn-read find surfacing on one stream of
# the multi-stream history (seed pinned with the single-stream 20325)
@pytest.mark.parametrize("seed", [13, 5150, 732608])
def test_concurrent_multi_stream_histories_isolated(store, seed):
    """Cross-stream isolation LIVE (previously only unit-tested):
    plain / CAS / fencing / trim clients hammer TWO streams of one
    store concurrently, each stream recording its own Wing & Gong
    history. Commands on one stream (trims, fences) must never affect
    the other's visibility — leakage would surface as a non-
    linearizable history on the victim stream (a read missing acked
    records, a trim point it never set, a fencing rejection under a
    token it never saw). Each history is checked independently: the
    per-stream clocks impose each stream's own real-time order."""
    store.catalog.create_stream(BASIN, STREAM2)
    recs = {STREAM: _Recorder(), STREAM2: _Recorder()}
    kinds = [_plain_client, _cas_client, _fencing_client, _trim_client]
    clients, n_ops = 8, 6

    def run(cid):
        s = STREAM if cid % 2 == 0 else STREAM2
        kinds[(cid // 2) % 4](
            store, recs[s], cid, random.Random(seed * 100 + cid), n_ops,
            stream=s,
        )

    with ThreadPoolExecutor(clients) as ex:
        for f in [ex.submit(run, c) for c in range(clients)]:
            f.result()
    for s, rec in recs.items():
        call = rec.clock.tick()
        got = _read_result(store, stream=s)
        rec.record(client=99, call=call, ret=rec.clock.tick(), kind="read",
                   result=("ok", got))
        assert check_linearizable(rec.events), f"stream {s} history"
    # the command letters really ran (union-level, not per-stream: a
    # trim client issues a trim with p=0.5 per op, so one stream
    # seeing zero trims happens on ~1.6% of random soak seeds — the
    # isolation property above is what each stream must always prove)
    assert any(
        o.trim_to is not None for rec in recs.values() for o in rec.events
    )
    for rec in recs.values():
        assert any(o.result[0] == "ok" for o in rec.events)


def _history_under_compaction(store, seed) -> None:
    """Shared core: the full client alphabet (plain / CAS / fencing /
    trim+ranged-read) races a background compaction churn, and the
    recorded history must STILL be linearizable — compaction must be
    invisible to every client. Reads are never retried: delisted files
    outlive in-flight readers until vacuum, so ANY read exception fails
    the scenario outright, and a SILENT anomaly — a hole, a resurrected
    trimmed record, a lost append — reaches the checker."""
    import threading

    stop = threading.Event()
    churn_errs: list = []

    def churn():
        while not stop.is_set():
            try:
                store.compact()
            except Exception as e:  # pragma: no cover - the assertion
                churn_errs.append(e)
                return

    rec = _Recorder()
    clients, n_ops = 8, 6
    kinds = [_plain_client, _cas_client, _fencing_client, _trim_client]

    def run(cid):
        kinds[cid % 4](store, rec, cid, random.Random(seed * 100 + cid), n_ops)

    th = threading.Thread(target=churn)
    th.start()
    try:
        with ThreadPoolExecutor(clients) as ex:
            for f in [ex.submit(run, c) for c in range(clients)]:
                f.result()
    finally:
        stop.set()
        th.join()
    assert not churn_errs, churn_errs
    # one final read AFTER the churn stopped closes the history
    call = rec.clock.tick()
    got = _read_result(store)
    rec.record(client=99, call=call, ret=rec.clock.tick(), kind="read",
               result=("ok", got))
    assert check_linearizable(rec.events)
    # the command letters really ran against the churn
    assert any(o.trim_to is not None for o in rec.events)


@pytest.mark.parametrize("seed", [29, 6006])
def test_concurrent_history_linearizable_under_compaction_manifest(
    spark, tmp_path, seed
):
    """Linearizable under compaction churn: readers pin a generation
    whose files compaction never renames or deletes (until vacuum), so
    any read exception fails the scenario, and the history must
    linearize without pause/latch coordination anywhere. Checks live
    that concurrent append batches survive a rewrite, that reads never
    observe a hole below an acked tail, and that trim visibility stays
    exactly the monotone-clamp model while rewrites physically delete
    trimmed records."""
    cat = Catalog(spark)
    cat.create_basin(BASIN, BasinConfig(create_stream_on_append=True))
    cat.create_stream(BASIN, STREAM)
    store = StreamStore(spark, str(tmp_path / "records"), catalog=cat)
    _history_under_compaction(store, seed)


@pytest.mark.parametrize("seed", [13, 5150])
def test_concurrent_multi_stream_histories_manifest_under_compaction(
    spark, tmp_path, seed
):
    """Cross-stream isolation on the MANIFEST layout under compaction
    churn — the round-13 protocol's hottest concurrency surface: every
    append on EVERY stream serializes its generation publish on one
    manifest lock while compaction publishes remove-generations on the
    same log, so a lost or misordered publish would surface as a
    non-linearizable history (a hole below an acked tail, a trim the
    stream never set). Reads never retry. Each stream's Wing & Gong
    history is checked independently."""
    import threading

    cat = Catalog(spark)
    cat.create_basin(BASIN, BasinConfig(create_stream_on_append=True))
    cat.create_stream(BASIN, STREAM)
    cat.create_stream(BASIN, STREAM2)
    store = StreamStore(spark, str(tmp_path / "records"), catalog=cat)
    recs = {STREAM: _Recorder(), STREAM2: _Recorder()}
    kinds = [_plain_client, _cas_client, _fencing_client, _trim_client]
    clients, n_ops = 8, 6

    stop = threading.Event()
    churn_errs: list = []

    def churn():
        while not stop.is_set():
            try:
                store.compact()
            except Exception as e:  # pragma: no cover - the assertion
                churn_errs.append(e)
                return

    def run(cid):
        s = STREAM if cid % 2 == 0 else STREAM2
        kinds[(cid // 2) % 4](
            store, recs[s], cid, random.Random(seed * 100 + cid), n_ops,
            stream=s,
        )

    th = threading.Thread(target=churn)
    th.start()
    try:
        with ThreadPoolExecutor(clients) as ex:
            for f in [ex.submit(run, c) for c in range(clients)]:
                f.result()
    finally:
        stop.set()
        th.join()
    assert not churn_errs, churn_errs
    for s, rec in recs.items():
        call = rec.clock.tick()
        got = _read_result(store, stream=s)
        rec.record(client=99, call=call, ret=rec.clock.tick(), kind="read",
                   result=("ok", got))
        assert check_linearizable(rec.events), f"stream {s} history"
    for rec in recs.values():
        assert any(o.result[0] == "ok" for o in rec.events)
