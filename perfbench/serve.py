"""``serve``: open-loop unary appends with live tail followers.

Two streams. Append ``i`` (10 records of 1 KiB) is due at
``t0 + i / RATE_PER_S`` and goes to stream ``i % 2``; one writer thread
per stream sends its appends in due order, so a slow append delays the
ones behind it on that stream and the delay counts in their latency.
One ``read_session`` follower per stream delivers the records as they
commit. After every ``COMPACT_EVERY``-th append the writer that sent it
runs ``compact()``.
"""

from __future__ import annotations

import random
import threading
import time

from perfbench.common import BASIN, Ctx, chains_by, visible_files, visible_parquet_bytes
from perfbench.harness import INF, OpenLoop, Ops, median, percentile, tail_percentile, tree_cpu_s

#: appends per second over both streams. Two writers sustain about 6/s
#: on 4 cores when the host runs at full speed (ack p50 200 ms at 4/s,
#: 335 ms at 6/s, 1.6 s and growing at 8/s), and about half of that
#: when it slows, as it does for minutes at a time (3/s then gave ack
#: p50 of 0.3-1.3 s); 2/s stays below half of the slow figure
RATE_PER_S = 2.0
APPEND_RECORDS = 10
RECORD_BYTES = 1024
COMPACT_EVERY = 10
#: warm-up: appends at the rate two writers sustain on a full-speed
#: host, enough for the driver's JIT to settle (ack latency still falls
#: over the first few dozen appends after a cold start)
WARM_APPENDS = 30
WARM_RATE_PER_S = 6.0
STREAMS = ("s0", "s1")
#: a follower gives up this long after its last delivered batch
FOLLOW_WAIT_S = 20.0


class Serve:
    name = "serve"

    def setup(self, ctx: Ctx) -> None:
        from s2_spark.catalog import Catalog
        from s2_spark.store import StreamStore

        self.cat = Catalog(ctx.spark)
        self.cat.create_basin(BASIN)
        for s in STREAMS:
            self.cat.create_stream(BASIN, s)
        self.store = StreamStore(ctx.spark, ctx.dir("serve", "records"), catalog=self.cat)
        # warm-up: the measured traffic (appends, followers and
        # compactions) on the measured store, faster, until the JIT has
        # settled; the measured phase starts where it ends
        ops = Ops()
        self._traffic(ctx, self.store, ops, _batches(ctx.seed + 1, WARM_APPENDS), WARM_RATE_PER_S, "warm")
        if ops.failed:
            raise RuntimeError(f"serve warm-up failed: {ops.errors}")

    def _traffic(self, ctx: Ctx, store, ops: Ops, batches: list[list[bytes]], rate: float, tag: str):
        """Send ``batches`` open loop at ``rate`` appends/s with one
        writer and one follower per stream, the followers starting at
        each stream's tail; returns ``(first, per_stream, acks,
        delivered, late, compactions)``, ``first`` being those tails.
        Jobs are grouped under ``tag``."""
        from s2_spark.model import Record
        from s2_spark.store import ReadLimit, ReadStart

        n_ops = len(batches)
        first = {s: store.check_tail(BASIN, s)[0] for s in STREAMS}
        per_stream = {s: [i for i in range(n_ops) if i % len(STREAMS) == k] for k, s in enumerate(STREAMS)}
        acks: dict[int, tuple[int, int, float, float]] = {}  # i -> (start, end, due, acked)
        late: list[float] = []
        delivered = {s: {} for s in STREAMS}  # seq -> (t, body)
        compactions: list[float] = []
        loop = OpenLoop(rate, n_ops, t0=time.perf_counter() + 0.5)

        def writer(stream: str) -> None:
            for i in per_stream[stream]:
                late.append(loop.wait_until_due(i))
                try:
                    with ctx.group(f"{tag}.append"):
                        ack = store.append(BASIN, stream, [Record(body=b) for b in batches[i]])
                    acks[i] = (ack.start_seq, ack.end_seq, loop.due(i), time.perf_counter())
                    ops.ok()
                except Exception as e:  # noqa: BLE001 - a failed append is data
                    ops.fail(f"append {i}: {type(e).__name__}: {e}")
                if (i + 1) % COMPACT_EVERY == 0:
                    t0 = time.perf_counter()
                    try:
                        with ctx.group(f"{tag}.compact"):
                            store.compact()
                        compactions.append(time.perf_counter() - t0)
                        ops.ok()
                    except Exception as e:  # noqa: BLE001
                        ops.fail(f"compact: {type(e).__name__}: {e}")

        def follower(stream: str) -> None:
            want = len(per_stream[stream]) * APPEND_RECORDS
            got = delivered[stream]
            try:
                with ctx.group(f"{tag}.tail"):
                    for ev in store.read_session(
                        BASIN, stream, start=ReadStart(seq_num=first[stream]),
                        limit=ReadLimit(count=want), wait_s=FOLLOW_WAIT_S, poll_s=0.02,
                    ):
                        if ev.kind == "batch":
                            t = time.perf_counter()
                            for r in ev.records:
                                got[r.seq_num] = (t, bytes(r.body))
            except Exception as e:  # noqa: BLE001
                ops.fail(f"follower {stream}: {type(e).__name__}: {e}")

        threads = [threading.Thread(target=writer, args=(s,), daemon=True) for s in STREAMS]
        threads += [threading.Thread(target=follower, args=(s,), daemon=True) for s in STREAMS]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=n_ops / rate + 120)
            if t.is_alive():
                ops.fail(f"thread {t.name} did not finish")
        return first, per_stream, acks, delivered, late, compactions

    def run(self, ctx: Ctx) -> dict:
        from s2_spark.store import ReadStart

        n_ops = max(len(STREAMS), int(RATE_PER_S * ctx.seconds))
        batches = _batches(ctx.seed, n_ops)
        ops, store = ctx.ops, self.store
        cpu0 = tree_cpu_s()
        first, per_stream, acks, delivered, late, compactions = self._traffic(ctx, store, ops, batches, RATE_PER_S, "serve")
        cpu_s = tree_cpu_s() - cpu0

        ack_lat, tail_lat = [], []
        for i in range(n_ops):
            stream = STREAMS[i % len(STREAMS)]
            if i not in acks:
                ack_lat.append(INF)
                tail_lat.append(INF)
                continue
            start, end, due, acked = acks[i]
            ack_lat.append(acked - due)
            seen = delivered[stream].get(end - 1)
            ops.check(seen is not None, f"append {i} never reached the follower")
            tail_lat.append(seen[0] - due if seen else INF)

        # correctness: write == live tail == catch-up read, per stream;
        # one Spark job for the write and tail chains, one for the reads
        rows = [
            ("write", STREAMS[i % len(STREAMS)], acks[i][0] + k, b)
            for i in range(n_ops) if i in acks
            for k, b in enumerate(batches[i])
        ]
        user_bytes = sum(len(r[3]) for r in rows)
        rows += [
            ("tail", stream, seq, b) for stream in STREAMS for seq, (_t, b) in delivered[stream].items()
        ]
        chains = chains_by(
            ctx.spark.createDataFrame(rows, "kind string, stream string, o long, body binary"),
            ["kind", "stream"], "o",
        )
        reads = [store.read(BASIN, s, start=ReadStart(seq_num=first[s])) for s in STREAMS]
        for df in reads[1:]:
            reads[0] = reads[0].unionByName(df)
        read_chains = chains_by(reads[0], ["stream"], "seq_num")
        for stream in STREAMS:
            write = chains.get(("write", stream), (0, None))
            tail = chains.get(("tail", stream), (0, None))
            read = read_chains.get((stream,), (0, None))
            ops.check(write[0] == len(per_stream[stream]) * APPEND_RECORDS, f"{stream}: {write[0]} records acked")
            ops.check(tail == write, f"{stream}: live tail {tail} != write {write}")
            ops.check(read == write, f"{stream}: catch-up read {read} != write {write}")

        # the store also holds the warm-up's appends, all acked
        space_amp = visible_parquet_bytes(store) / (user_bytes + WARM_APPENDS * APPEND_RECORDS * RECORD_BYTES)
        ack_ms = [x * 1e3 for x in ack_lat]
        tail_ms = [x * 1e3 for x in tail_lat]
        return {
            "e2e": {
                # the traffic's whole compute (appends, tail delivery,
                # compactions) per append: they overlap, so no split
                "cpu_ms_per_op": cpu_s * 1e3 / n_ops,
            },
            "detail": {
                "appends": n_ops,
                "cpu_s": cpu_s,
                "rate_per_s": RATE_PER_S,
                "ack_p50_ms": percentile(ack_ms, 50),
                "ack_p90_ms": percentile(ack_ms, 90),
                "tail_p50_ms": percentile(tail_ms, 50),
                "tail_p90_ms": percentile(tail_ms, 90),
                # (q, value): the highest percentile with 10 samples beyond it
                "ack_tail_percentile": tail_percentile(ack_ms),
                "tail_tail_percentile": tail_percentile(tail_ms),
                "space_amp": space_amp,
                "compactions": len(compactions),
            },
            "layer": {
                "wall.ack_p50_ms": percentile(ack_ms, 50),
                "wall.tail_p50_ms": percentile(tail_ms, 50),
                "harness.generator_late_p90_ms": percentile(late, 90) * 1e3,
                "store.visible_files": len(visible_files(store)),
                "store.space_amp": space_amp,
                "store.compact.calls": len(compactions),
                "store.compact.s": median(compactions) if compactions else 0.0,
            },
            "appends": n_ops,
        }


def _batches(seed: int, n_ops: int) -> list[list[bytes]]:
    """Seeded random record bodies, ``APPEND_RECORDS`` per append."""
    rng = random.Random(seed)
    return [[rng.randbytes(RECORD_BYTES) for _ in range(APPEND_RECORDS)] for _ in range(n_ops)]
