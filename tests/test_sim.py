"""Deterministic simulation / differential model-checking — the
pytest rendering of the reference's ``sim/`` layer (seeded RNG, shadow
model, history checking; ``sim/src/scenarios/linearizable.rs``).

A seeded random workload (appends with client timestamps, fence/trim
commands, conditional appends, reads with every start/limit shape) runs
against BOTH the Spark-backed StreamStore and a pure-Python shadow
model implementing the documented semantics. Every read result, ack,
precondition failure, and final recovered state must agree. Reruns with
the same seed are byte-identical (the reference's determinism meta-test).
"""

from __future__ import annotations

import random

import pytest

from s2_spark.catalog import Catalog
from s2_spark.model import (
    FencingTokenMismatch,
    Record,
    SeqNumMismatch,
    fence_record,
    trim_record,
)
from s2_spark.store import ReadLimit, ReadStart, StreamStore

BASIN = "test-basin"
STREAMS = ["sim-a", "sim-b"]


class ShadowModel:
    """Pure-Python semantics of one stream (client-prefer, capped)."""

    def __init__(self):
        self.rows = []  # (seq, ts, body)
        self.tail = 0
        self.last_ts = 0
        self.token = ""
        self.trim_point = 0

    def append(self, records, arrival, match_seq_num=None, fencing_token=None):
        if fencing_token is not None and fencing_token != self.token:
            raise FencingTokenMismatch(self.token)
        if match_seq_num is not None and match_seq_num != self.tail:
            raise SeqNumMismatch(self.tail)
        start = self.tail
        for rec in records:
            ts = arrival if rec.timestamp is None else min(rec.timestamp, arrival)
            ts = max(ts, self.last_ts)
            self.last_ts = ts
            cmd = rec.command()
            if cmd == "fence":
                self.token = rec.body.decode()
            elif cmd == "trim":
                # clamp to own seq + 1 (the command's seq is self.tail
                # here, pre-increment) — streamer.rs:369-380
                self.trim_point = max(
                    self.trim_point, min(int.from_bytes(rec.body, "big"), self.tail + 1)
                )
            self.rows.append((self.tail, ts, rec.body))
            self.tail += 1
        return start, self.tail

    def visible(self):
        return [r for r in self.rows if r[0] >= self.trim_point]

    def read(self, start_seq=None, tail_offset=None, count=None, clamp=False):
        rows = self.visible()
        if tail_offset is not None:
            start_seq = max(0, self.tail - tail_offset)
        if start_seq is None:
            start_seq = 0
        if start_seq > self.tail and not clamp:
            raise ValueError("range")
        rows = [r for r in rows if r[0] >= start_seq]
        if count is not None:
            rows = rows[:count]
        return rows


@pytest.fixture()
def sim(spark, tmp_path):
    clockbox = {"ms": 1_000_000}
    cat = Catalog(spark, clock=lambda: clockbox["ms"])
    cat.create_basin(BASIN)
    for s in STREAMS:
        cat.create_stream(BASIN, s)
    store = StreamStore(
        spark, str(tmp_path / "records"), catalog=cat, clock=lambda: clockbox["ms"]
    )
    return store, clockbox


def _random_record(rng, arrival):
    ts = None
    if rng.random() < 0.5:
        # client timestamps around arrival: sometimes past, sometimes future
        ts = arrival + rng.randint(-5000, 5000)
    return Record(body=rng.randbytes(rng.randint(0, 12)), timestamp=ts)


def _run_workload(
    store,
    clockbox,
    seed,
    n_ops=40,
    chaos=False,
    rebuild=None,
    crash=False,
    compaction=False,
):
    """Returns the op/result trace for determinism comparison.

    ``chaos`` injects hot-state loss between ops — forced dormancy
    evictions and (when ``rebuild`` is given) full store reopens over
    the same directory — so lazy per-stream recovery must reproduce the
    shadow model from storage alone at any point.

    ``crash`` additionally injects mid-append crashes BETWEEN the
    durable parquet write and the driver state advance (the
    crash-consistency window of tests/test_crash_recovery.py, here
    randomized): the shadow model treats the crashed batch as
    committed — because it is, the write is the durability boundary —
    and every later op on the rebuilt store must still agree.

    ``compaction`` runs trim/retention rewrites at random points,
    sometimes crashing at one of the rewrite's own steps: the
    staged-output moves and the generation-publish create (the single
    commit point). It also runs vacuum(grace_ms=0) after a random
    subset of rebuilds — with no reader in flight, GC of delisted
    files must be semantically invisible."""
    rng = random.Random(seed)
    models = {s: ShadowModel() for s in STREAMS}
    trace = []
    for op_i in range(n_ops):
        if compaction and rebuild is not None and rng.random() < 0.2:
            # physical trim/retention compaction at a random point —
            # sometimes crashing at a random protocol step. Either
            # way, after the rebuild every stream's visible
            # rows and recovered state must still equal the shadow:
            # the rewrite changes the physical layout, never semantics
            import os as _os

            crashed = False
            if rng.random() < 0.6:
                real_rename = _os.rename
                real_replace = _os.replace
                real_link = _os.link
                # protocol steps: staged-output moves (os.replace) and
                # the publish CREATE (os.link into _manifest/, the
                # create-if-absent commit) — crash anywhere before the
                # publish discards the rewrite, after it commits it
                def _hit(src, dst):
                    return "_compact-stage-" in str(src) or (
                        f"_manifest{_os.sep}" in str(dst)
                    )

                calls = {"n": 0, "limit": rng.randint(1, 3)}

                def bomb(src, dst, _real=real_rename):
                    if _hit(src, dst):
                        calls["n"] += 1
                        if calls["n"] >= calls["limit"]:
                            raise RuntimeError("injected rewrite crash")
                    return _real(src, dst)

                def bomb_replace(src, dst):
                    return bomb(src, dst, _real=real_replace)

                def bomb_link(src, dst):
                    return bomb(src, dst, _real=real_link)

                _os.rename = bomb
                _os.replace = bomb_replace
                _os.link = bomb_link
                try:
                    store.apply_trim_and_retention()
                except RuntimeError as e:
                    if "injected rewrite crash" not in str(e):
                        raise
                    crashed = True
                finally:
                    _os.rename = real_rename
                    _os.replace = real_replace
                    _os.link = real_link
            else:
                store.apply_trim_and_retention()
            store = rebuild()
            if rng.random() < 0.5:
                store.vacuum(grace_ms=0)
            for s_c, m_c in models.items():
                got_c = [
                    (r.seq_num, r.timestamp, bytes(r.body))
                    for r in store.read(BASIN, s_c).collect()
                ]
                assert got_c == m_c.visible(), (
                    f"compaction divergence op {op_i} (crashed={crashed})"
                )
            trace.append(("compaction", op_i, crashed))
        if crash and rebuild is not None and rng.random() < 0.15:
            clockbox["ms"] += rng.randint(1, 10_000)
            stream_c = rng.choice(STREAMS)
            mc = models[stream_c]
            arrival_c = clockbox["ms"]
            recs = [
                _random_record(rng, arrival_c) for _ in range(rng.randint(1, 3))
            ]

            def _boom():
                raise RuntimeError("injected crash post-write pre-state")

            store._invalidate_records = _boom
            with pytest.raises(RuntimeError, match="injected crash"):
                store.append(BASIN, stream_c, recs)
            # the batch was durably written before the crash point: the
            # log HAS it, so the shadow commits it too
            mc.append(recs, arrival_c)
            store = rebuild()
            trace.append(("crash_append", stream_c, len(recs), mc.tail))
        if chaos and rng.random() < 0.25:
            if rebuild is not None and rng.random() < 0.5:
                store = rebuild()
                trace.append(("rebuild", op_i))
            else:
                trace.append(("evict", op_i, store.evict_dormant(max_age_ms=0)))
        clockbox["ms"] += rng.randint(1, 10_000)
        stream = rng.choice(STREAMS)
        m = models[stream]
        roll = rng.random()
        arrival = clockbox["ms"]
        if roll < 0.45:  # plain append
            recs = [_random_record(rng, arrival) for _ in range(rng.randint(1, 4))]
            ack = store.append(BASIN, stream, recs)
            ms, me = m.append(recs, arrival)
            assert (ack.start_seq, ack.end_seq) == (ms, me)
            trace.append(("append", stream, ack.start_seq, ack.end_seq, ack.start_ts))
        elif roll < 0.55:  # conditional append (sometimes stale)
            expected = m.tail if rng.random() < 0.6 else max(0, m.tail - 1 - rng.randint(0, 3))
            recs = [_random_record(rng, arrival)]
            outcomes = []
            for target in ("spark", "model"):
                try:
                    if target == "spark":
                        store.append(BASIN, stream, recs, match_seq_num=expected)
                    else:
                        m.append(recs, arrival, match_seq_num=expected)
                    outcomes.append("ok")
                except SeqNumMismatch as e:
                    outcomes.append(("mismatch", e.expected))
            assert outcomes[0] == outcomes[1]
            trace.append(("cas", stream, expected, outcomes[0]))
        elif roll < 0.65:  # fence (new token or same), then a fenced append probe
            tok = f"t{rng.randint(0, 3)}"
            store.append(BASIN, stream, [fence_record(tok)])
            m.append([fence_record(tok)], arrival)
            probe_tok = f"t{rng.randint(0, 3)}"
            outcomes = []
            for target in ("spark", "model"):
                try:
                    if target == "spark":
                        store.append(
                            BASIN, stream, [Record(body=b"p")], fencing_token=probe_tok
                        )
                    else:
                        m.append([Record(body=b"p")], arrival, fencing_token=probe_tok)
                    outcomes.append("ok")
                except FencingTokenMismatch:
                    outcomes.append("fenced")
            assert outcomes[0] == outcomes[1]
            trace.append(("fence", stream, tok, probe_tok, outcomes[0]))
        elif roll < 0.75:  # trim to a random point (past, present, or beyond)
            point = rng.randint(0, m.tail + 5)
            store.append(BASIN, stream, [trim_record(point)])
            m.append([trim_record(point)], arrival)
            trace.append(("trim", stream, point, m.trim_point))
        else:  # read, random shape
            shape = rng.choice(["full", "from_seq", "tail_offset", "count"])
            kw_store, kw_model = {}, {}
            if shape == "from_seq":
                s0 = rng.randint(0, m.tail + 2)
                kw_store = dict(start=ReadStart(seq_num=s0, clamp=True))
                kw_model = dict(start_seq=s0, clamp=True)
            elif shape == "tail_offset":
                off = rng.randint(0, 10)
                kw_store = dict(start=ReadStart(tail_offset=off))
                kw_model = dict(tail_offset=off)
            elif shape == "count":
                c = rng.randint(1, 6)
                kw_store = dict(limit=ReadLimit(count=c))
                kw_model = dict(count=c)
            got = [
                (r.seq_num, r.timestamp, bytes(r.body))
                for r in store.read(BASIN, stream, **kw_store).collect()
            ]
            want = m.read(**kw_model)
            assert got == want, f"read divergence op {op_i} {shape}: {got} vs {want}"
            trace.append(("read", stream, shape, len(got)))
        # invariant probes every op
        tail, last_ts = store.check_tail(BASIN, stream)
        assert (tail, last_ts) == (m.tail, m.last_ts)
    # end-state: recovery from storage reproduces the model
    store.recover_state()
    for s, m in models.items():
        st = store._st(BASIN, s)
        assert (st.tail_seq, st.last_ts, st.fencing_token, st.trim_point) == (
            m.tail,
            m.last_ts,
            m.token,
            m.trim_point,
        )
    return trace


@pytest.mark.parametrize("seed", [7, 1234])
def test_sim_differential(sim, seed):
    store, clockbox = sim
    _run_workload(store, clockbox, seed)


@pytest.mark.parametrize("seed", [21, 4242])
def test_sim_differential_with_dormancy_and_restart(spark, tmp_path, seed):
    """Hot-state chaos: random forced evictions and cold store reopens
    over the same directory mid-workload. Every op's result must still
    match the shadow model — lazy recovery (store._st/_ensure_states)
    always rebuilds exactly the state the log implies (the Spark
    rendering of the reference's streamer-dormancy scenarios)."""
    clockbox = {"ms": 1_000_000}
    base = str(tmp_path / "records")
    cat = Catalog(spark, clock=lambda: clockbox["ms"])
    cat.create_basin(BASIN)
    for s in STREAMS:
        cat.create_stream(BASIN, s)

    def rebuild():
        return StreamStore(spark, base, catalog=cat, clock=lambda: clockbox["ms"])

    _run_workload(rebuild(), clockbox, seed, n_ops=30, chaos=True, rebuild=rebuild)


@pytest.mark.parametrize("seed", [11, 777])
def test_sim_differential_with_crash_injection(spark, tmp_path, seed):
    """Randomized crash-consistency: appends crash between the durable
    write and the state advance at random workload points. The shadow
    commits every crashed batch (the parquet write is the durability
    boundary), the store is rebuilt cold, and all subsequent appends,
    conditional appends, fences, trims, reads, and tail probes must
    still match the shadow exactly — recovery never loses, duplicates,
    or reorders anything the log holds."""
    clockbox = {"ms": 1_000_000}
    base = str(tmp_path / "records")
    cat = Catalog(spark, clock=lambda: clockbox["ms"])
    cat.create_basin(BASIN)
    for s in STREAMS:
        cat.create_stream(BASIN, s)

    def rebuild():
        return StreamStore(spark, base, catalog=cat, clock=lambda: clockbox["ms"])

    _run_workload(
        rebuild(), clockbox, seed, n_ops=30, chaos=True, rebuild=rebuild, crash=True
    )


def test_sim_deterministic_rerun(spark, tmp_path):
    """Same seed → identical trace (the reference's byte-identical
    rerun meta-test, sim/src/main.rs:42-53)."""
    traces = []
    for run in range(2):
        clockbox = {"ms": 1_000_000}
        cat = Catalog(spark, clock=lambda: clockbox["ms"])
        cat.create_basin(BASIN)
        for s in STREAMS:
            cat.create_stream(BASIN, s)
        store = StreamStore(
            spark,
            str(tmp_path / f"records{run}"),
            catalog=cat,
            clock=lambda: clockbox["ms"],
        )
        traces.append(_run_workload(store, clockbox, seed=99, n_ops=25))
    assert traces[0] == traces[1]


@pytest.mark.parametrize("seed", [13, 4040])
def test_sim_sink_replay_with_purges_and_trims(spark, tmp_path, seed):
    """Seeded chaos over the foreachBatch sink composed with the purge
    and trim machinery: sink epochs randomly crash at BOTH exactly-once
    crash points (post-intent/pre-append and post-append/pre-done) and
    are replayed; between epochs, streams are trimmed in-band and
    sometimes deleted + physically purged + recreated (fresh generation
    restarting at seq 0). After every op each stream's visible rows
    (seq, ts, body), tail, and last_ts must equal the shadow model —
    exactly-once survives the interleavings: a crashed-then-replayed
    epoch lands exactly once, a purge drops everything, and a recreated
    stream's sink appends start over at 0. The clock is frozen across
    each crash/replay pair so the shadow's single append is the
    arrival-time ground truth for whichever attempt actually wrote."""
    from s2_spark.operators.maintenance import deletion_purge_sweep
    from s2_spark.streaming.sink import EpochLog, append_sink

    clockbox = {"ms": 1_000_000}
    cat = Catalog(spark, clock=lambda: clockbox["ms"])
    cat.create_basin(BASIN)
    for s in STREAMS:
        cat.create_stream(BASIN, s)
    store = StreamStore(
        spark, str(tmp_path / "records"), catalog=cat, clock=lambda: clockbox["ms"]
    )
    rng = random.Random(seed)
    models = {s: ShadowModel() for s in STREAMS}
    commit = append_sink(store, sink_id="sim")
    schema = (
        "basin string, stream string, timestamp long, "
        "headers array<struct<name binary, value binary>>, body binary, "
        "ingest_order long"
    )
    epoch = 0
    for op_i in range(14):
        clockbox["ms"] += rng.randint(1, 10_000)
        roll = rng.random()
        if roll < 0.55:  # sink epoch (clean, or crashed then replayed)
            tstreams = rng.sample(STREAMS, rng.randint(1, 2))
            per, rows = {}, []
            for s in tstreams:
                recs = [
                    _random_record(rng, clockbox["ms"])
                    for _ in range(rng.randint(1, 3))
                ]
                per[s] = recs
                rows += [
                    (BASIN, s, r.timestamp, [], bytes(r.body), i)
                    for i, r in enumerate(recs)
                ]
            df = spark.createDataFrame(rows, schema)
            arrival = clockbox["ms"]
            crash = rng.random()
            if crash < 0.3:
                # post-intent/pre-append: the crashed attempt wrote
                # nothing — the replay must append the batch (once)
                real = store.bulk_append

                def _boom(*a, **k):
                    raise RuntimeError("injected sink crash pre-append")

                store.bulk_append = _boom
                try:
                    with pytest.raises(RuntimeError, match="pre-append"):
                        commit(df, epoch)
                finally:
                    store.bulk_append = real
                commit(df, epoch)
            elif crash < 0.6:
                # post-append/pre-done: the records landed — the replay
                # must prove it from storage and append NOTHING
                real_done = EpochLog.mark_done

                def _boom_done(self, e):
                    raise RuntimeError("injected sink crash post-append")

                EpochLog.mark_done = _boom_done
                try:
                    with pytest.raises(RuntimeError, match="post-append"):
                        commit(df, epoch)
                finally:
                    EpochLog.mark_done = real_done
                commit(df, epoch)
            else:
                commit(df, epoch)
            for s in tstreams:
                models[s].append(per[s], arrival)  # exactly once
            epoch += 1
        elif roll < 0.75:  # in-band trim (past, present, or beyond)
            s = rng.choice(STREAMS)
            m = models[s]
            point = rng.randint(0, m.tail + 5)
            store.append(BASIN, s, [trim_record(point)])
            m.append([trim_record(point)], clockbox["ms"])
        elif epoch > 0:  # delete + physical purge + recreate at seq 0
            s = rng.choice(STREAMS)
            cat.delete_stream(BASIN, s)
            deletion_purge_sweep(store)
            cat.create_stream(BASIN, s)
            models[s] = ShadowModel()
        for s, m in models.items():
            got = [
                (r.seq_num, r.timestamp, bytes(r.body))
                for r in store.read(BASIN, s).collect()
            ]
            assert got == m.visible(), f"sink-sim divergence op {op_i} {s}"
            tail, last_ts = store.check_tail(BASIN, s)
            assert (tail, last_ts) == (m.tail, m.last_ts)
    # no evidence leaks: every crashed epoch's intent was consumed by
    # its replay, and done markers fold into the watermark
    epochs_dir = store.base_dir + "/_sink_epochs/sim"
    import os as _os

    leftovers = [f for f in _os.listdir(epochs_dir) if f.endswith(".intent")]
    assert leftovers == []


@pytest.mark.parametrize("seed", [23, 3001, 6060])  # 3001 caught the regressed-end duplicate
def test_sim_source_exactly_once_with_purges_restarts_rate_limits(
    spark, tmp_path, seed
):
    """Seeded chaos over the streaming SOURCE: random appends, stream
    purge+recreates, cold reader restarts, rate limits, and
    crash-replays of planned batches on fresh readers — checked against
    a shadow log per (stream, generation). Exactly-once invariants:

    - every delivered slice's records match the shadow log exactly
      (seqs and bodies, in order);
    - per generation, slices tile contiguously from seq 0 with no gaps
      and no overlaps (no duplicate, no skip);
    - a batch replayed on a COLD reader (in-memory state lost) plans
      byte-identical slices — the offset pair alone carries the rebase
      decision AND the rate-limit high-water mark;
    - after draining, the live generation is fully delivered; dead
      (purged) generations are delivered up to a contiguous prefix
      (records appended after the last trigger before the purge are
      destroyed by design).

    Trims are deliberately out of scope: the source delivers raw log
    slices, and logical-trim visibility is a read-path contract
    (st5/st6), not a delivery one."""
    from s2_spark.operators.maintenance import deletion_purge_sweep
    from s2_spark.streaming.source import S2StreamReader, SEP

    clockbox = {"ms": 1_000_000}
    cat = Catalog(spark, clock=lambda: clockbox["ms"])
    cat.create_basin(BASIN)
    for s in STREAMS:
        cat.create_stream(BASIN, s)
    store = StreamStore(
        spark, str(tmp_path / "records"), catalog=cat, clock=lambda: clockbox["ms"]
    )
    rng = random.Random(seed)
    maxpt = rng.choice([0, 2, 3])

    def mk():
        opts = {"path": store.base_dir, "basin": BASIN}
        if maxpt:
            opts["maxrecordspertrigger"] = str(maxpt)
        return S2StreamReader(opts)

    reader = mk()
    ckpt = reader.initialOffset()
    gen = {s: 0 for s in STREAMS}
    applog = {s: {0: []} for s in STREAMS}  # stream -> gen -> [bodies]
    delivered = {s: {} for s in STREAMS}  # stream -> gen -> [(st, en, rows)]
    n_appended = {s: 0 for s in STREAMS}

    def trigger():
        nonlocal reader, ckpt
        o = reader.latestOffset()
        parts = [p for p in reader.partitions(ckpt, o) if p.stream]
        shape = [(p.stream, p.start, p.end) for p in parts]
        if rng.random() < 0.3:
            # crash before the batch completes: Spark replays the SAME
            # offset pair on a fresh reader — the plan must reproduce
            reader = mk()
            parts = [p for p in reader.partitions(ckpt, o) if p.stream]
            assert [(p.stream, p.start, p.end) for p in parts] == shape, (
                f"cold replay planned different slices (seed {seed})"
            )
        for p in parts:
            if maxpt:
                # round-10 admission durability: once a stream has any
                # emission history (in-memory, durable reader-HWM, or
                # the structural rebase position), every window obeys
                # the cap — including the FIRST window after a cold
                # restart against a backlog. The only uncapped window
                # is a generation's first (start == 0: no baseline of
                # any kind can exist before the generation is sighted).
                assert p.end - p.start <= maxpt or p.start == 0, (
                    f"admission violated: {p.stream} [{p.start},{p.end})"
                    f" exceeds cap {maxpt} with history (seed {seed})"
                )
            rows = []
            for batch in reader.read(p):
                d = batch.to_pydict()
                rows += list(zip(d["seq_num"], [bytes(b) for b in d["body"]]))
            rows.sort()
            k = f"{BASIN}{SEP}{p.stream}"
            eg = o[k][0]
            delivered[p.stream].setdefault(eg, []).append(
                (p.start, p.end, rows)
            )
        reader.commit(o)
        ckpt = o
        return bool(parts)

    for op_i in range(22):
        clockbox["ms"] += rng.randint(1, 5_000)
        roll = rng.random()
        s = rng.choice(STREAMS)
        if roll < 0.4:  # append
            n = rng.randint(1, 4)
            bodies = [
                f"{s}/g{gen[s]}/#{n_appended[s] + i}".encode() for i in range(n)
            ]
            n_appended[s] += n
            store.append(BASIN, s, [Record(body=b) for b in bodies])
            applog[s][gen[s]] += bodies
        elif roll < 0.55:  # purge + recreate: a fresh generation
            cat.delete_stream(BASIN, s)
            deletion_purge_sweep(store)
            cat.create_stream(BASIN, s)
            # every purge writes the stream's generation tombstone,
            # whether or not the store ever held data
            gen[s] += 1
            applog[s][gen[s]] = []
        elif roll < 0.7:  # cold reader restart (checkpoint persists)
            reader = mk()
        else:
            trigger()
    # drain: live generations must deliver completely (60 triggers:
    # durable admission now caps post-restart and post-rebase windows
    # too, so catch-up takes genuinely more, smaller batches)
    idle = 0
    for _ in range(60):
        if not trigger():
            idle += 1
            if idle >= 3:
                break
        else:
            idle = 0
    for s in STREAMS:
        for g, slices in sorted(delivered[s].items()):
            slices.sort(key=lambda t: t[0])
            pos = 0
            for st, en, rows in slices:
                assert st == pos, (
                    f"{s} gen {g}: slice starts at {st}, expected {pos} "
                    f"(gap or overlap; seed {seed})"
                )
                want = applog[s][g][st:en]
                assert [b for _, b in rows] == want, (
                    f"{s} gen {g} [{st},{en}): bodies diverge (seed {seed})"
                )
                assert [q for q, _ in rows] == list(range(st, en))
                pos = en
            if g < gen[s]:  # dead generation: contiguous prefix only
                assert pos <= len(applog[s][g])
        live_slices = delivered[s].get(gen[s], [])
        got = sum(en - st for st, en, _ in live_slices)
        assert got == len(applog[s][gen[s]]), (
            f"{s}: live generation under-delivered {got}/"
            f"{len(applog[s][gen[s]])} (seed {seed}, maxpt {maxpt})"
        )


def test_sim_soak_script_wiring():
    """scripts/sim_soak.py drives these sim tests BY NAME at soak time;
    a rename here would break the soak silently at its next run. Pin
    that every scenario the script sweeps resolves to a callable with
    the (spark, tmp_path, seed)-shaped signature it invokes."""
    import importlib.util
    import inspect
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "sim_soak",
        pathlib.Path(__file__).resolve().parent.parent / "scripts" / "sim_soak.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    src = inspect.getsource(mod.main)
    import re as _re

    names = _re.findall(r'\("([a-z_]+)", (T\.[A-Za-z_0-9]+|_[A-Za-z_0-9]+)\)', src)
    # exact roster size (ADVICE r12): a silently dropped scenario must
    # fail here, not vanish from the sweep — update in lockstep with
    # scripts/sim_soak.py
    assert len(names) == 18, f"soak roster drifted: {len(names)} scenarios"
    import tests.test_sim as T  # the module the script resolves against

    for label, ref in names:
        fn = getattr(T, ref[2:]) if ref.startswith("T.") else getattr(mod, ref)
        assert callable(fn), (label, ref)
        params = list(inspect.signature(fn).parameters)
        assert params[:3] == ["spark", "tmp_path", "seed"], (label, params)


@pytest.mark.parametrize("seed", [41, 9119])
def test_sim_bulk_unary_race(spark, tmp_path, seed):
    """Randomized generalization of the r12 bulk-vs-unary find: a
    bulk_append over a random subset of streams runs in a thread while
    unary writers hammer BOTH a stream inside the batch and one
    outside it. Afterwards every stream's seq space must be exactly
    [0, its total) — duplicate or missing seq_nums mean the bulk's
    offsets and a racing unary advance diverged — and check_tail must
    agree with the row count."""
    import threading

    from s2_spark.catalog import BasinConfig

    rng = random.Random(seed)
    store = StreamStore(spark, str(tmp_path / "records"))
    store.catalog.create_basin(
        BASIN, BasinConfig(create_stream_on_append=True)
    )
    streams = ["bk-a", "bk-b", "bk-c"]
    for s in streams:
        store.catalog.create_stream(BASIN, s)
        store.append(BASIN, s, [Record(body=b"seed")])
    in_bulk = rng.sample(streams, 2)
    n_bulk = rng.randint(1500, 3000)
    rows = [
        (BASIN, rng.choice(in_bulk), None, [], f"blk{i}".encode(), i)
        for i in range(n_bulk)
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

    counts = {s: 1 for s in streams}
    for _, s, *_ in rows:
        counts[s] += 1
    th = threading.Thread(target=bulk)
    th.start()
    i = 0
    while not done.is_set():
        s = rng.choice(streams)  # inside AND outside the batch
        store.append(BASIN, s, [Record(body=b"u%d" % i)])
        counts[s] += 1
        i += 1
    th.join()
    assert not errs, errs
    for s in streams:
        seqs = sorted(
            r.seq_num
            for r in store.read(BASIN, s).select("seq_num").collect()
        )
        assert seqs == list(range(counts[s])), (
            f"{s}: {len(seqs)} rows, {len(set(seqs))} distinct, "
            f"expected [0, {counts[s]})"
        )
        tail, _ = store.check_tail(BASIN, s)
        assert tail == counts[s]


# 52 and 8813 are the regression seeds of the r12 churn scenario
@pytest.mark.parametrize("seed", [41, 6161, 52, 8813])
def test_sim_append_during_compaction_churn_manifest(spark, tmp_path, seed):
    """Unary appends to two streams race a background compaction /
    trim-rewrite loop; afterwards every acked record must be visible
    exactly once, through the live store and a COLD reopen. Append
    survival is structural: an append publishes its own generation,
    and a compaction's remove-set is its pinned input, so generations
    published after its capture are untouched. A zero-grace vacuum
    after the churn must change nothing visible."""
    import threading

    from s2_spark.catalog import BasinConfig

    rng = random.Random(seed)
    store = StreamStore(spark, str(tmp_path / "records"))
    store.catalog.create_basin(
        BASIN, BasinConfig(create_stream_on_append=True)
    )
    streams = ["cc-a", "cc-b"]
    acked: dict[str, list] = {s: [] for s in streams}
    for s in streams:
        store.catalog.create_stream(BASIN, s)
        for i in range(rng.randint(3, 8)):
            body = f"{s}-pre{i}".encode()
            ack = store.append(BASIN, s, [Record(body=body)])
            acked[s].append((ack.start_seq, body))

    stop = threading.Event()
    errs: list = []

    def churn():
        while not stop.is_set():
            try:
                if rng.random() < 0.3:
                    store.apply_trim_and_retention()
                else:
                    store.compact()
            except Exception as e:  # pragma: no cover - the assertion
                errs.append(e)
                return

    th = threading.Thread(target=churn)
    th.start()
    try:
        for i in range(rng.randint(15, 30)):
            s = rng.choice(streams)
            n = rng.randint(1, 3)
            bodies = [f"{s}-live{i}r{j}".encode() for j in range(n)]
            ack = store.append(BASIN, s, [Record(body=b) for b in bodies])
            for j, b in enumerate(bodies):
                acked[s].append((ack.start_seq + j, b))
    finally:
        stop.set()
        th.join()
    assert not errs, errs
    # one final rewrite so at least one runs AFTER the last append
    store.compact()

    def check(st):
        for s in streams:
            rows = {
                r.seq_num: bytes(r.body)
                for r in st.read(BASIN, s).select("seq_num", "body").collect()
            }
            want = dict(acked[s])
            assert rows == want, (
                f"{s}: {len(rows)} visible vs {len(want)} acked; "
                f"missing={sorted(set(want) - set(rows))[:5]} "
                f"extra={sorted(set(rows) - set(want))[:5]}"
            )
            tail, _ = st.check_tail(BASIN, s)
            assert tail == len(want)

    check(store)
    # GC of delisted files must be invisible (no reader in flight)
    store.vacuum(grace_ms=0)
    check(store)
    cold = StreamStore(spark, str(tmp_path / "records"))
    cold.recover_state()
    check(cold)


# 930413: r11 soak — the dominated trim command was the only one kept
@pytest.mark.parametrize("seed", [31, 909, 930413])
def test_sim_differential_with_compaction_crashes_manifest(spark, tmp_path, seed):
    """Compaction-crash chaos on the full workload mix: rewrites
    crash at a random protocol step — a staged-output rename or the
    generation-publish rename itself (the single commit point). A
    crash before the publish discards the rewrite (orphaned invisible
    files only); after it, the rewrite is committed. Either way the
    rebuilt store — and, on a random subset of rounds, a zero-grace
    vacuum — must keep every stream's visible rows, tails, fence
    tokens, and trim points exactly equal to the shadow model."""
    clockbox = {"ms": 1_000_000}
    base = str(tmp_path / "records")
    cat = Catalog(spark, clock=lambda: clockbox["ms"])
    cat.create_basin(BASIN)
    for s in STREAMS:
        cat.create_stream(BASIN, s)

    def rebuild():
        return StreamStore(spark, base, catalog=cat, clock=lambda: clockbox["ms"])

    _run_workload(
        rebuild(),
        clockbox,
        seed,
        n_ops=25,
        chaos=True,
        rebuild=rebuild,
        compaction=True,
    )


@pytest.mark.parametrize("seed", [55])
def test_sim_differential_compaction_crashes_manifest_bucketed(
    spark, tmp_path, seed
):
    """Compaction-crash chaos over the bucketed layout — the
    generation log must be layout-invisible too (bucket=N dirs carry
    partition pruning; the manifest carries visibility)."""
    clockbox = {"ms": 1_000_000}
    base = str(tmp_path / "records")
    cat = Catalog(spark, clock=lambda: clockbox["ms"])
    cat.create_basin(BASIN)
    for s in STREAMS:
        cat.create_stream(BASIN, s)

    def rebuild():
        return StreamStore(
            spark, base, catalog=cat, clock=lambda: clockbox["ms"],
            bucket_count=8,
        )

    _run_workload(
        rebuild(),
        clockbox,
        seed,
        n_ops=20,
        chaos=True,
        rebuild=rebuild,
        compaction=True,
    )


@pytest.mark.parametrize("seed", [88, 7707])
def test_sim_compaction_during_cc_loop_manifest_no_pause(spark, tmp_path, seed):
    """A long batch analytics loop (near-dup connected components)
    runs DIRECTLY on a store-backed plan (no pause around compaction,
    no localCheckpoint pinning) while compaction churns concurrently.
    The plan's file list is pinned to one generation whose files
    compaction delists but never deletes, so every evaluation —
    including the CC loop's repeated passes — must succeed with exact
    results."""
    import threading

    from pyspark.sql import functions as F

    from s2_spark.catalog import BasinConfig
    from s2_spark.functions.dedup import neardup_clusters
    from tests.test_functions import _cluster_replay

    rng = random.Random(seed)
    store = StreamStore(spark, str(tmp_path / "records"))
    store.catalog.create_basin(
        BASIN, BasinConfig(create_stream_on_append=True)
    )
    store.catalog.create_stream(BASIN, "docs")
    words = [
        "alpha", "beta", "gamma", "delta", "epsilon",
        "zeta", "eta", "theta", "iota", "kappa",
    ]
    texts = []
    for i in range(30):
        base = rng.sample(words, 5)
        texts.append(" ".join(base))
        if rng.random() < 0.5:
            texts.append(" ".join(base + [f"x{i % 7}"]))
    for tx in texts:
        store.append(BASIN, "docs", [Record(body=tx.encode())])
    rows = [
        (r.seq_num, bytes(r.body).decode())
        for r in store.read(BASIN, "docs").select("seq_num", "body").collect()
    ]
    expected = _cluster_replay(rows)

    stop = threading.Event()
    errs: list = []

    def churn():
        while not stop.is_set():
            try:
                store.compact()
            except Exception as e:  # pragma: no cover - the assertion
                errs.append(e)
                return

    th = threading.Thread(target=churn)
    th.start()
    try:
        # the raw store-backed plan, unpinned and unpaused
        snap = store.read(BASIN, "docs").select(
            F.col("seq_num").alias("doc_id"),
            F.col("body").cast("string").alias("text"),
        )
        got = sorted(
            (r["doc_id"], r["cluster"])
            for r in neardup_clusters(
                snap, checkpoint_dir=str(tmp_path / "cc_ckpt")
            ).collect()
        )
    finally:
        stop.set()
        th.join()
    assert not errs, errs
    assert got == expected


@pytest.mark.parametrize(
    "seed, fresh",
    [
        pytest.param(17, False, id="17"),
        pytest.param(5150, False, id="5150"),
        pytest.param(17, True, id="fresh"),
    ],
)
def test_sim_staged_append_kill_point(spark, tmp_path, seed, fresh):
    """Kill-point chaos for the staged bulk commit's per-file move loop
    (``finalize_data``): a bulk_append batch spanning both streams is
    interrupted before a random part file's move, while readers poll
    and a compaction races. The batch commits only at its generation
    publish, so after recovery it must be ALL-or-NOTHING across every
    stream — fully visible if bulk_append returned, fully invisible if
    the kill fired, never a per-file subset. Reads never fail, each
    stream's pre-batch rows stay intact, check_tail equals the visible
    count, and later appends continue from the recovered tail.

    ``fresh``: no append or compaction precedes the batch, and the
    kill fires after the first part file's move, so the killed batch
    is the directory's first commit. Reopening must not publish the
    moved orphan: every stream stays empty and later appends start at
    seq 0."""
    import os as _os
    import threading

    from s2_spark.catalog import BasinConfig

    rng = random.Random(seed)
    base = str(tmp_path / "records")
    store = StreamStore(spark, base, bucket_count=8)
    store.catalog.create_basin(BASIN, BasinConfig(create_stream_on_append=True))
    pre: dict[str, list] = {s: [] for s in STREAMS}
    for s in STREAMS:
        store.catalog.create_stream(BASIN, s)
        for i in range(0 if fresh else rng.randint(1, 4)):
            body = f"{s}-pre{i}".encode()
            store.append(BASIN, s, [Record(body=body)])
            pre[s].append(body)

    batch: dict[str, list] = {s: [] for s in STREAMS}
    rows = []
    for s in STREAMS:
        for j in range(rng.randint(4, 9)):
            body = f"{s}-bulk{j}".encode()
            batch[s].append(body)
            rows.append((BASIN, s, None, [], body, j))
    df = spark.createDataFrame(
        rows,
        "basin string, stream string, timestamp long, "
        "headers array<struct<name binary, value binary>>, body binary, "
        "ingest_order long",
    )

    stop = threading.Event()
    errs: list = []

    def poll_reads():
        while not stop.is_set():
            try:
                for s in STREAMS:
                    got = [
                        r.seq_num
                        for r in store.read(BASIN, s).select("seq_num").collect()
                    ]
                    assert got == sorted(got)
            except Exception as e:  # pragma: no cover - the assertion
                errs.append(e)
                return

    def churn():
        while not stop.is_set():
            try:
                store.compact()
            except Exception as e:  # pragma: no cover - the assertion
                errs.append(e)
                return

    # no compaction races the fresh case's batch: a compaction
    # publishes a generation, and the batch must be the first commit
    ths = [threading.Thread(target=poll_reads)]
    if not fresh:
        ths.append(threading.Thread(target=churn))
    for th in ths:
        th.start()

    real_replace = _os.replace
    calls = {"n": 0, "limit": 2 if fresh else rng.randint(1, 4)}

    def bomb(src, dst):
        if "_stage-" in str(src):
            calls["n"] += 1
            if calls["n"] >= calls["limit"]:
                raise RuntimeError("injected kill point")
        return real_replace(src, dst)

    killed = False
    _os.replace = bomb
    try:
        store.bulk_append(df, order_col="ingest_order")
    except RuntimeError as e:
        # the kill point may land past the batch's last part file on
        # some seeds — then the append simply succeeds
        assert "injected kill point" in str(e), e
        killed = True
    finally:
        _os.replace = real_replace
        stop.set()
        for th in ths:
            th.join()
    assert not errs, errs
    assert killed or not fresh

    cold = StreamStore(spark, base, bucket_count=8)
    cold.recover_state()
    for s in STREAMS:
        visible = [
            bytes(r.body)
            for r in cold.read(BASIN, s).select("seq_num", "body")
            .orderBy("seq_num").collect()
        ]
        n_pre = len(pre[s])
        assert visible[:n_pre] == pre[s], f"{s}: pre-batch rows damaged"
        landed = visible[n_pre:]
        want = [] if killed else batch[s]
        assert landed == want, (
            f"{s}: killed={killed} landed {landed} vs {want}"
        )
        tail, _ = cold.check_tail(BASIN, s)
        assert tail == len(visible)
        # the store keeps working past the kill
        ack = cold.append(BASIN, s, [Record(body=b"after")])
        assert ack.start_seq == tail


@pytest.mark.parametrize("seed", [11, 4242])
def test_sim_manifest_cas_two_writer_publish_race(spark, tmp_path, seed):
    """Randomized multi-writer CAS publish chaos (VERDICT r13 task 5):
    three writer threads race appends and delisting rewrites onto ONE
    generation log through :func:`s2_spark.manifest.publish`, with
    crash injection between fold and publish (a writer folds, prepares
    an op, and dies — committing nothing) and deliberately STALE
    ``known`` snapshots on every rewrite. Half the seeds run the local
    os.link backend, half the in-memory conditional-PUT object store.

    Invariants checked at the end, in commit (generation) order:
    generations are contiguous with no duplicates (every CAS winner is
    unique), every committed rewrite's remove set was visible when it
    committed (the ``require_visible`` guarantee), and replaying the
    writers' recorded successes reproduces the folded visible set
    exactly — no lost publish, no phantom."""
    import threading

    from s2_spark import manifest as mf

    rng = random.Random(seed)
    backend = mf.InMemoryCASBackend() if rng.random() < 0.5 else mf.LOCAL
    base = str(tmp_path / "cas")
    committed: list[tuple[int, tuple, tuple]] = []
    mu = threading.Lock()
    n_writers = 3
    barrier = threading.Barrier(n_writers)
    errs: list = []

    def writer(w: int) -> None:
        wrng = random.Random(seed * 1000 + w)
        barrier.wait()
        for i in range(15):
            op = wrng.random()
            try:
                if op < 0.15:
                    # crash between fold and publish: prepares, then dies
                    mf.fold(base, backend)
                    continue
                if op < 0.75:
                    add = (f"w{w}-{i}.parquet",)
                    gen, _ = mf.publish(base, add=add, backend=backend)
                    with mu:
                        committed.append((gen, add, ()))
                else:
                    # rewrite seeded with a (possibly already stale)
                    # snapshot; PublishConflict = correct abort
                    snap_gen, snap = mf.fold(base, backend)
                    if not snap:
                        continue
                    consumed = tuple(
                        sorted(
                            wrng.sample(
                                sorted(snap),
                                k=min(len(snap), wrng.randint(1, 3)),
                            )
                        )
                    )
                    out = (f"w{w}-compact-{i}.parquet",)
                    try:
                        gen, _ = mf.publish(
                            base, add=out, remove=consumed,
                            require_visible=True, known=(snap_gen, set(snap)),
                            backend=backend,
                        )
                        with mu:
                            committed.append((gen, out, consumed))
                    except mf.PublishConflict:
                        pass
            except Exception as e:  # pragma: no cover - surfaced below
                errs.append((w, i, repr(e)))

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    head, visible = mf.fold(base, backend)
    committed.sort()
    gens = [g for g, _, _ in committed]
    assert gens == list(range(1, len(gens) + 1)), "gens not contiguous/unique"
    assert head == len(gens)
    replay: set[str] = set()
    for _g, add, remove in committed:
        assert set(remove) <= replay, "rewrite committed over a delisted input"
        replay -= set(remove)
        replay |= set(add)
    assert replay == visible


@pytest.mark.parametrize("seed", [5, 909])
def test_sim_manifest_vacuum_pinned_reader_grace(spark, tmp_path, seed):
    """Vacuum racing pinned readers at the grace boundary (VERDICT r13
    task 5): randomized append/compact/vacuum churn on a fake-clock
    manifest store, with reader plans pinned at random generations and
    collected within strictly less than the grace window. The
    reader-pinning contract says such a collect may NEVER lose a file
    to vacuum, no matter how close delist ages run to the boundary —
    the delist clock is the generation log's ``ts_ms`` on the store's
    own clock, so the bound is exact, not mtime-approximate. A final
    past-the-boundary vacuum then reclaims everything delisted and the
    live rows must be intact."""
    from s2_spark.catalog import BasinConfig

    rng = random.Random(seed)
    box = {"ms": 1_000_000}
    clock = lambda: box["ms"]  # noqa: E731
    cat = Catalog(spark, clock=clock)
    cat.create_basin(BASIN, BasinConfig(create_stream_on_append=True))
    cat.create_stream(BASIN, STREAMS[0])
    store = StreamStore(
        spark, str(tmp_path / "records"), catalog=cat, clock=clock,
    )
    GRACE = 10_000
    expected: list[bytes] = []
    pins: list[tuple] = []  # (df, snapshot of expected at pin time)
    n = 0
    for _round in range(rng.randint(5, 8)):
        for _ in range(rng.randint(1, 3)):
            op = rng.choice(["append", "append", "compact", "vacuum", "pin"])
            if op == "append":
                body = f"b{n}".encode()
                n += 1
                store.append(BASIN, STREAMS[0], [Record(body=body)])
                expected.append(body)
            elif op == "compact":
                store.compact()
            elif op == "vacuum":
                store.vacuum(grace_ms=GRACE)
            else:
                pins.append(
                    (
                        store.read(BASIN, STREAMS[0]).select("seq_num", "body"),
                        list(expected),
                    )
                )
        # collect every pin within ONE round of its birth: clock
        # advance per round is < GRACE/2, so pin-to-collect age < GRACE
        # and the grace contract guarantees the collect succeeds
        for df, snap in pins:
            got = [(r.seq_num, bytes(r.body)) for r in df.collect()]
            assert got == list(enumerate(snap)), "pinned plan lost rows"
        pins.clear()
        box["ms"] += rng.randint(1_000, 4_500)
    # past the boundary: everything delisted is reclaimable, live rows
    # intact, and the log prune keeps the fold consistent
    box["ms"] += GRACE + 1
    store.vacuum(grace_ms=GRACE)
    got = [
        (r.seq_num, bytes(r.body))
        for r in store.read(BASIN, STREAMS[0]).select("seq_num", "body").collect()
    ]
    assert got == list(enumerate(expected))
    cold = StreamStore(spark, store.base_dir, catalog=cat, clock=clock)
    got_cold = [
        (r.seq_num, bytes(r.body))
        for r in cold.read(BASIN, STREAMS[0]).select("seq_num", "body").collect()
    ]
    assert got_cold == list(enumerate(expected))


@pytest.mark.parametrize("seed", [17, 6006])
def test_sim_manifest_two_store_churn(spark, tmp_path, seed):
    """Store-LEVEL multi-writer chaos (the round-14 CAS protocol end to
    end): two StreamStore objects — two simulated processes — over one
    directory, each appending to its own stream while one also runs
    compactions; the other store's rewrites race them through
    PublishConflict re-plans. Every acked append must survive into a
    cold reopen after a zero-grace vacuum, with contiguous seq_nums
    per stream (per-stream sequencing stays single-writer; the STORE
    is what's shared)."""
    import threading

    from s2_spark.catalog import BasinConfig, Catalog

    rng = random.Random(seed)
    cat = Catalog(spark)
    cat.create_basin(BASIN, BasinConfig(create_stream_on_append=True))
    base = str(tmp_path / "records")
    stores = [
        StreamStore(spark, base, catalog=cat) for _ in range(2)
    ]
    for w in range(2):
        cat.create_stream(BASIN, f"mw-{w}")
    counts = [rng.randint(6, 12) for _ in range(2)]
    barrier = threading.Barrier(2)
    errs: list = []

    def writer(w: int) -> None:
        wrng = random.Random(seed * 77 + w)
        barrier.wait()
        try:
            for i in range(counts[w]):
                stores[w].append(
                    BASIN, f"mw-{w}", [Record(body=f"w{w}-{i}".encode())]
                )
                # writer 0 also compacts sometimes: its rewrite may
                # consume files writer 1's rewrite just delisted —
                # the PublishConflict re-plan must absorb it
                if w == 0 and wrng.random() < 0.3:
                    stores[w].compact()
                elif w == 1 and wrng.random() < 0.15:
                    stores[w].compact()
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append((w, repr(e)))

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    cold = StreamStore(spark, base, catalog=cat)
    cold.vacuum(grace_ms=0)
    for w in range(2):
        rows = [
            (r.seq_num, bytes(r.body))
            for r in cold.read(BASIN, f"mw-{w}")
            .select("seq_num", "body")
            .collect()
        ]
        assert rows == [
            (i, f"w{w}-{i}".encode()) for i in range(counts[w])
        ], f"writer {w}: {rows[:6]}..."
        tail, _ = cold.check_tail(BASIN, f"mw-{w}")
        assert tail == counts[w]


# --- round 15: multi-writer across OS PROCESSES (VERDICT r14 task 2) -----
#
# The CAS publish loop exists for the topology where the in-process
# mutexes protect nothing: separate OS processes (in production,
# separate hosts) publishing onto one generation log. These workers run
# the manifest protocol directly — no Spark in the children — because
# the property under test is the log protocol itself: os.link
# create-if-absent arbitration, head-verified snapshots, prune racing
# live publishers, lease GC, and crash debris.


def _mp_cas_worker(args):
    """One writer PROCESS: seeded op mix of append publishes, delisting
    rewrites (require_visible), folds, short-TTL leases, prune_log
    sweeps, and two crash modes — 'stage crash' (leaves a manifest
    `.tmp.` debris file and dies before any commit attempt, the
    between-stage-and-link kill point) and 'post-commit crash' (dies
    after the publish committed but before the ack record lands; the
    checker accepts such adds as crash-committed). Acks are fsync'd
    JSON lines — a publish is 'acked' only once its line is durable."""
    import json as _json
    import os as _os
    import random as _random

    from s2_spark import manifest as _mf

    base, seed, w, n_ops, ack_path, entry_grace_ms = args
    rng = _random.Random(seed * 7919 + w)
    known = None
    with open(ack_path, "a") as ack:
        def record(op, gen, add, remove):
            ack.write(_json.dumps(
                {"op": op, "gen": gen, "add": sorted(add),
                 "remove": sorted(remove)}) + "\n")
            ack.flush()
            _os.fsync(ack.fileno())

        for i in range(n_ops):
            r = rng.random()
            try:
                if r < 0.50:
                    add = (f"w{w}-{i}.parquet",)
                    gen, files = _mf.publish(base, add=add, known=known)
                    known = (gen, files)
                    record("append", gen, add, ())
                elif r < 0.70:
                    snap_gen, snap = _mf.fold(base)
                    if not snap:
                        continue
                    consumed = tuple(sorted(rng.sample(
                        sorted(snap), k=min(len(snap), rng.randint(1, 3)))))
                    out = (f"w{w}-compact-{i}.parquet",)
                    try:
                        gen, files = _mf.publish(
                            base, add=out, remove=consumed,
                            require_visible=True,
                            known=(snap_gen, set(snap)),
                        )
                        known = (gen, files)
                        record("rewrite", gen, out, consumed)
                    except _mf.PublishConflict:
                        known = None  # correct abort: re-plan next op
                elif r < 0.78:
                    known = _mf.fold(base)  # reader: pure fold
                elif r < 0.86:
                    # maintenance racing the writers: prune with a
                    # SMALL-but-nonzero entry grace (the resurrection
                    # gate stays on, at soak timescale), plus lease GC
                    _mf.prune_log(base, entry_grace_ms=entry_grace_ms)
                    _mf.active_lease_floor(base)
                elif r < 0.93:
                    g = (known or _mf.fold(base))[0]
                    lid = _mf.acquire_lease(base, g, ttl_ms=rng.choice([1, 50]))
                    if rng.random() < 0.7:
                        _mf.release_lease(base, lid)
                elif r < 0.97 and i > 0:
                    # kill BETWEEN STAGE AND LINK (the VERDICT r14
                    # task-2 kill point): the backend stages the tmp
                    # exactly as a real publish would, then the process
                    # dies before the os.link commit — leaving genuine
                    # crash debris and no generation
                    class _KillAtLink(_mf.LocalBackend):
                        def put_if_absent(self, path, data):
                            import uuid as _uuid

                            tmp = path + f".tmp.{_uuid.uuid4().hex}"
                            _os.makedirs(
                                _os.path.dirname(path), exist_ok=True
                            )
                            with open(tmp, "wb") as f:
                                f.write(data)
                            _os._exit(0)

                    try:
                        _mf.publish(
                            base,
                            add=(f"w{w}-stagekill-{i}.parquet",),
                            known=known,
                            backend=_KillAtLink(),
                        )
                    finally:  # pragma: no cover - never reached
                        _os._exit(0)
                else:
                    # post-commit crash: committed, never acked
                    add = (f"w{w}-crash-{i}.parquet",)
                    _mf.publish(base, add=add, known=known)
                    _os._exit(0)
            except Exception:
                import traceback as _tb

                with open(ack_path + ".err", "a") as ef:
                    ef.write(_tb.format_exc())
                _os._exit(1)
    _os._exit(0)


@pytest.mark.parametrize("seed", [31, 62017])
def test_sim_manifest_cas_multiprocess(spark, tmp_path, seed):
    """N OS processes CAS-publish appends + delisting rewrites onto ONE
    local generation log, racing prune sweeps, lease GC, and crash
    injection (stage debris + post-commit death). Invariants over the
    fsync'd ack logs and the final fold:

    - the final fold succeeds (no chain gap — the r15 guard means no
      committed generation is ever deleted);
    - no generation number was acked twice (os.link arbitration);
    - every acked rewrite consumed only files that existed (add'd by
      an acked op, or crash-committed);
    - file accounting: every acked add is visible XOR consumed by
      exactly one acked rewrite; visible files nobody acked must be
      crash-committed appends (the post-commit kill window's
      documented unknown-outcome envelope);
    - replaying acked ops in generation order reproduces the final
      visible set up to crash-committed extras."""
    import json
    import multiprocessing as mp
    import os

    from s2_spark import manifest as mf

    base = str(tmp_path / "mpcas")
    n_workers, n_ops = 3, 40
    ctx = mp.get_context("spawn")  # never fork the JVM-bearing parent
    acks = [str(tmp_path / f"ack-{w}.jsonl") for w in range(n_workers)]
    procs = [
        ctx.Process(
            target=_mp_cas_worker,
            args=((base, seed, w, n_ops, acks[w], 250),),
        )
        for w in range(n_workers)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=240)
        assert p.exitcode is not None, "worker hung"
    for w in range(n_workers):
        err = acks[w] + ".err"
        assert not os.path.exists(err), open(err).read()

    head, visible = mf.fold(base)
    ops = []
    for w in range(n_workers):
        if os.path.exists(acks[w]):
            with open(acks[w]) as f:
                ops.extend(json.loads(line) for line in f if line.strip())
    gens = [o["gen"] for o in ops]
    assert len(gens) == len(set(gens)), "two acks share a generation"
    assert head >= (max(gens) if gens else 0)

    acked_adds = {a for o in ops for a in o["add"]}
    consumed: dict[str, int] = {}
    for o in ops:
        for rmv in o["remove"]:
            consumed[rmv] = consumed.get(rmv, 0) + 1
    assert all(n == 1 for n in consumed.values()), (
        "a file was consumed by two committed rewrites"
    )
    crash_committed = visible - acked_adds
    assert all("-crash-" in f for f in crash_committed), crash_committed
    # every acked add is visible XOR consumed (no lost publish)
    for o in ops:
        for a in o["add"]:
            assert (a in visible) != (a in consumed), (
                f"acked add {a!r}: visible={a in visible}, "
                f"consumed={a in consumed}"
            )
    # rewrites only ever consumed files some committed op produced —
    # an acked add, a still-visible file, or a crash-committed append
    # (identifiable by name: it was folded in by the consumer's own
    # require_visible snapshot, proving it committed)
    producible = acked_adds | visible | {
        f for f in consumed if "-crash-" in f
    }
    for o in ops:
        assert set(o["remove"]) <= producible, o
    # replay acked ops in generation order == final visible minus the
    # crash-committed extras (which never enter the acked replay)
    replay: set = set()
    for o in sorted(ops, key=lambda o: o["gen"]):
        replay -= set(o["remove"])
        replay |= set(o["add"])
    assert replay == visible - crash_committed
