"""``batch``: bulk writes, each round read back, mirrored and followed by
a pass of the registry queries.

Closed loop, one client. A round has a write side and a read side:

- write: ``BULKS_PER_ROUND`` ``bulk_append`` calls, each of
  ``BULK_RECORDS`` records of ``RECORD_BYTES`` over 8 streams, half of
  them to the hot stream ``s0`` (the `s2 bench` record shape);
- read: a catch-up ``StreamStore.read`` of the round's records of
  ``s0``; a Structured Streaming mirror, the ``s2`` source
  (``availableNow``, one checkpoint for the whole run) feeding
  ``append_sink``, which copies the new records of the cold stream
  ``MIRRORED`` into a second store; and one pass of the 12 headline
  registry queries (``query.py``) in an order drawn from the seed.

Rounds repeat until the run's seconds are spent, one at least.
"""

from __future__ import annotations

import json
import random
import time

from perfbench.common import BASIN, Ctx, chain_cols, chain_of, visible_parquet_bytes
from perfbench.harness import INF, median, tree_cpu_s
from perfbench.query import HEADLINE, Suite

BULK_RECORDS = 2000
BULKS_PER_ROUND = 2
RECORD_BYTES = 8192
STREAMS = tuple(f"s{k}" for k in range(8))
HOT = STREAMS[0]
#: the stream the mirror copies: a cold one, about 1/14 of a round
MIRRORED = STREAMS[1]
MIN_ROUNDS = 1


def source_df(spark, seed: int, bulk: int, n: int):
    """Bulk ``bulk``'s seeded input: even ids go to the hot stream, the
    rest spread over the other streams by a seeded hash."""
    from pyspark.sql import functions as F

    cold = F.concat(
        F.lit("s"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(len(STREAMS) - 1)) + 1).cast("string"),
    )
    body = F.encode(
        F.concat(
            F.sha2(F.concat(F.lit(f"{seed}/{bulk}/"), F.col("id").cast("string")), 256),
            F.lit("x" * (RECORD_BYTES - 64)),
        ),
        "utf-8",
    )
    return spark.range(n).select(
        F.lit(BASIN).alias("basin"),
        F.when(F.col("id") % 2 == 0, F.lit(HOT)).otherwise(cold).alias("stream"),
        F.lit(None).cast("long").alias("timestamp"),
        F.array().cast("array<struct<name binary, value binary>>").alias("headers"),
        body.alias("body"),
        F.col("id").alias("ingest_order"),
    )


def _offset_sum(off) -> int:
    """Sum of the per-stream seqs in an ``s2`` source offset."""
    if not off:
        return 0
    d = json.loads(off) if isinstance(off, str) else off
    return sum(v[1] if isinstance(v, list) else int(v) for k, v in d.items() if k != "__v")


class Batch:
    name = "batch"

    def setup(self, ctx: Ctx) -> None:
        from s2_spark.catalog import Catalog
        from s2_spark.store import StreamStore
        from s2_spark.streaming.source import register

        register(ctx.spark)
        cat, mcat = Catalog(ctx.spark), Catalog(ctx.spark)
        for c in (cat, mcat):
            c.create_basin(BASIN)
            for s in STREAMS:
                c.create_stream(BASIN, s)
        self.store = StreamStore(ctx.spark, ctx.dir("batch", "records"), catalog=cat)
        self.mirror_store = StreamStore(ctx.spark, ctx.dir("batch", "mirror"), catalog=mcat)
        self.ckpt = ctx.dir("batch", "ckpt")
        self.inputs: list = []  # every bulk's cached input, in write order
        self.rng = random.Random(ctx.seed)
        self.suite = Suite()
        self.suite.setup(ctx, self.rng)
        # warm-up: a round without the query pass, which the suite's
        # set-up has warmed (write, read and mirror plans, the Python
        # workers the streaming source runs in, and each store's first
        # write); the checks cover it too
        self.warm = self._round(ctx, "warm", queries=False)

    def _round(self, ctx: Ctx, tag: str, queries: bool = True) -> dict:
        """One round; its Spark jobs are grouped under ``tag``."""
        from pyspark import StorageLevel
        from s2_spark.store import ReadStart

        store, sc = self.store, ctx.spark.sparkContext
        # inputs are generated and cached before the clock starts, so
        # bulk_append's passes over them time the store, not the generator
        srcs = []
        for _ in range(BULKS_PER_ROUND):
            src = source_df(ctx.spark, ctx.seed, len(self.inputs), BULK_RECORDS)
            src = src.persist(StorageLevel.MEMORY_ONLY)
            src.count()
            self.inputs.append(src)
            srcs.append(src)
        start = store.check_tail(BASIN, HOT)[0]
        out: dict = {"first_bulk": len(self.inputs) - len(srcs), "bulk_s": [], "timings": []}
        cpu0 = tree_cpu_s()
        for src in srcs:
            timings: dict = {}
            t0 = time.perf_counter()
            with ctx.group(f"{tag}.bulk_append"):
                jobs0 = len(sc.statusTracker().getJobIdsForGroup(f"{tag}.bulk_append"))
                store.bulk_append(src, timings=timings)
                timings["spark_jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"{tag}.bulk_append")) - jobs0
            out["bulk_s"].append(time.perf_counter() - t0)
            out["timings"].append(timings)
        cpu1 = tree_cpu_s()
        t1 = time.perf_counter()
        with ctx.group(f"{tag}.catchup"):
            df = store.read(BASIN, HOT, start=ReadStart(seq_num=start))
            t2 = time.perf_counter()
            row = df.agg(*chain_cols("seq_num"), _bytes_col()).first()
        t3 = time.perf_counter()
        out.update(
            catchup_build_s=t2 - t1, catchup_exec_s=t3 - t2,
            catchup_s=t3 - t1, hot_bytes=row["bytes"], read=(row["n"], row["chain"]),
        )
        out.update(self._mirror(ctx, tag))
        if queries:
            order = HEADLINE[:]
            self.rng.shuffle(order)
            t4 = time.perf_counter()
            out["suite"] = self.suite.run_pass(ctx, order)
            out["suite_s"] = time.perf_counter() - t4
        out.update(write_cpu_s=cpu1 - cpu0, read_cpu_s=tree_cpu_s() - cpu1)
        return out

    def _mirror(self, ctx: Ctx, tag: str) -> dict:
        """Copy the records of ``MIRRORED`` that are new since the last
        mirror into the mirror store with one availableNow streaming
        query on the run's checkpoint; the sink's calls are timed."""
        from pyspark.sql import functions as F
        from s2_spark.streaming.sink import append_sink

        sink = append_sink(self.mirror_store, order_col="ingest_order")
        commit_s: list[float] = []

        def timed_sink(batch_df, epoch_id):
            c0 = time.perf_counter()
            sink(batch_df, epoch_id)
            commit_s.append(time.perf_counter() - c0)

        t0 = time.perf_counter()
        q = (
            ctx.spark.readStream.format("s2")
            .option("path", self.store.base_dir)
            .option("basin", BASIN)
            .option("stream", MIRRORED)
            .option("startseq", 0)
            .load()
            .select("basin", "stream", "timestamp", "headers", "body",
                    F.col("seq_num").alias("ingest_order"))
            .writeStream.foreachBatch(timed_sink)
            .option("checkpointLocation", self.ckpt)
            .trigger(availableNow=True)
            .start()
        )
        ctx.group_aliases[str(q.runId)] = f"{tag}.mirror"
        q.awaitTermination(timeout=120)
        mirror_s = time.perf_counter() - t0
        if q.isActive:
            q.stop()
            raise TimeoutError("mirror query did not finish")
        if q.exception() is not None:
            raise RuntimeError(f"mirror query failed: {q.exception()}")
        progress = [json.loads(p.json) for p in q.recentProgress]
        return {
            "mirror_s": mirror_s,
            "mirror_rows": sum(p.get("numInputRows", 0) for p in progress),
            "commit_s": commit_s,
            "progress": progress,
        }

    def run(self, ctx: Ctx) -> dict:
        ops, rounds, failed = ctx.ops, [], 0
        deadline = time.perf_counter() + ctx.seconds
        while len(rounds) < MIN_ROUNDS or time.perf_counter() < deadline:
            try:
                rounds.append(self._round(ctx, "batch"))
                ops.ok()
            except Exception as e:  # noqa: BLE001 - a failed round is data
                ops.fail(f"round {len(rounds)}: {type(e).__name__}: {e}")
                failed += 1
                break  # the store's state after a failed write is unknown
        if not rounds:
            raise RuntimeError(f"no batch round completed: {ops.errors}")
        self._check(ctx, [self.warm] + rounds)

        round_mib = BULKS_PER_ROUND * BULK_RECORDS * RECORD_BYTES / 2**20
        bulk_s = [s for r in rounds for s in r["bulk_s"]]
        timings = [t for r in rounds for t in r["timings"]]
        space_amp = visible_parquet_bytes(self.store) / (len(self.inputs) * BULK_RECORDS * RECORD_BYTES)
        bulk_ms = [s * 1e3 for s in bulk_s] + [INF] * failed
        read_ms = [(r["catchup_s"] + r["mirror_s"] + r["suite_s"]) * 1e3 for r in rounds] + [INF] * failed
        cpu_ms = [(r["write_cpu_s"] + r["read_cpu_s"]) * 1e3 for r in rounds] + [INF] * failed
        per_query = {
            label: median([sum(r["suite"][label]) for r in rounds]) for label, _ in HEADLINE
        }
        layer = {
            **{
                f"store.bulk_append.{k}": median([t.get(f"{k[:-2]}_sec", 0.0) for t in timings])
                for k in ("admission_s", "plan_s", "parquet_s", "publish_s", "state_s")
            },
            "wall.bulk_append_ms": median(bulk_ms),
            "wall.read_side_ms": median(read_ms),
            "cpu.write_ms": median([r["write_cpu_s"] for r in rounds]) * 1e3,
            "cpu.read_ms": median([r["read_cpu_s"] for r in rounds]) * 1e3,
            "store.bulk_append.spark_jobs": median([t["spark_jobs"] for t in timings]),
            "store.read.catchup_build_ms": median([r["catchup_build_s"] for r in rounds]) * 1e3,
            "store.read.catchup_exec_s": median([r["catchup_exec_s"] for r in rounds]),
            "store.space_amp": space_amp,
            **_streaming_layer(rounds),
        }
        for label, _ in HEADLINE:
            layer[f"suite.{label}.build_s"] = median([r["suite"][label][0] for r in rounds])
            layer[f"suite.{label}.exec_s"] = median([r["suite"][label][1] for r in rounds])
        return {
            "e2e": {
                # a round's whole compute: its writes and its read side
                "cpu_ms_per_op": median(cpu_ms),
            },
            "detail": {
                "rounds": len(rounds),
                "cpu_ms": cpu_ms,
                "bulk_append_p50_ms": median(bulk_ms),
                "read_side_p50_ms": median(read_ms),
                "bulk_mib": BULK_RECORDS * RECORD_BYTES / 2**20,
                "bulk_append_ms": bulk_ms,
                "catchup_ms": [r["catchup_s"] * 1e3 for r in rounds],
                "mirror_ms": [r["mirror_s"] * 1e3 for r in rounds],
                "suite_ms": [r["suite_s"] * 1e3 for r in rounds],
                "ingest_mib_s": BULK_RECORDS * RECORD_BYTES / 2**20 / median(bulk_s),
                "catchup_mib_s": median([r["hot_bytes"] / 2**20 / r["catchup_s"] for r in rounds]),
                "mirror_records_s": median([r["mirror_rows"] / r["mirror_s"] for r in rounds]),
                "query_suite_s": sum(per_query.values()),
                "per_query_s": per_query,
                "round_mib": round_mib,
                "space_amp": space_amp,
            },
            "layer": layer,
            "passes": len(rounds),
        }

    def _check(self, ctx: Ctx, rounds: list[dict]) -> None:
        """Correctness, outside the timed legs: per round, the hot
        stream's writes == its catch-up read; over all rounds, the
        mirrored stream's writes == the mirror; every query's result ==
        DuckDB's."""
        from pyspark.sql import functions as F

        def ordered(bulks, stream):
            # a record's place in its stream: its bulk, then its order
            out = None
            for b in bulks:
                part = self.inputs[b].filter(F.col("stream") == stream).select(
                    (F.lit(b * BULK_RECORDS) + F.col("ingest_order")).alias("o"), "body"
                )
                out = part if out is None else out.unionByName(part)
            return chain_of(out, "o")

        ops = ctx.ops
        for k, r in enumerate(rounds):
            write = ordered(range(r["first_bulk"], r["first_bulk"] + BULKS_PER_ROUND), HOT)
            ops.check(write[0] > 0 and r["read"] == write, f"round {k}: catch-up {r['read']} != write {write}")
        write = ordered(range(len(self.inputs)), MIRRORED)
        mirrored = chain_of(self.mirror_store.read(BASIN, MIRRORED), "seq_num")
        ops.check(write[0] > 0 and mirrored == write, f"mirror {mirrored} != writes {write}")
        for src in self.inputs:
            src.unpersist()
        self.suite.check(ctx)


def _bytes_col():
    from pyspark.sql import functions as F

    return F.sum(F.length("body")).alias("bytes")


def _streaming_layer(rounds: list[dict]) -> dict:
    """Source and sink metrics from the mirrors' ``recentProgress``;
    ``batches`` is per mirror."""
    progress = [p for r in rounds for p in r["progress"]]
    commit_s = [c for r in rounds for c in r["commit_s"]]
    if not progress:
        return {}
    dur = lambda key: median([p.get("durationMs", {}).get(key, 0) for p in progress])  # noqa: E731
    rows = [p.get("numInputRows", 0) for p in progress]
    lag = [
        max(0, _offset_sum(s.get("latestOffset")) - _offset_sum(s.get("endOffset")))
        for p in progress for s in p.get("sources", [])
    ]
    return {
        "streaming.source.batches": len(progress) / len(rounds),
        "streaming.source.latest_offset_ms": dur("latestOffset"),
        "streaming.source.planning_ms": dur("queryPlanning"),
        "streaming.source.add_batch_ms": dur("addBatch"),
        "streaming.source.rows_per_batch": sum(rows) / len(rows),
        "streaming.source.lag_records": sum(lag) / max(1, len(lag)),
        "streaming.source.empty_batch_ratio": sum(1 for r in rows if r == 0) / len(rows),
        "streaming.sink.commit_ms": median(commit_s) * 1e3 if commit_s else 0.0,
    }
