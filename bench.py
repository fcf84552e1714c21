"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS], plus an `s2 bench`-equivalent
append→catchup-read workload with xxh-chain verification
(cli/src/bench.rs:389-394: write chain == read chain, counts equal).

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from s2_spark.registry import all_queries
from s2_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Headline set: one per operator family — scan, TPC-H Q1 agg, multiway
# join, window seq-assignment, tumbling metrics window, exact dedup,
# cosine top-k, top-k per group, command fold, BPE tokens, set ops,
# generalized as-of join.
HEADLINE = [
    ("q_scan_ts", "sc4_range_scan_ts"),
    ("q_tpch1", "ag1_hash_agg_multi"),
    ("q_join_multi", "j2_multiway_join"),
    ("q_window_seq", "w1_row_number"),
    ("q_metrics_hour", "ag9_metrics_rollup"),
    ("q_dedup_exact", "x1b_distinct_docs"),
    ("q_cosine_topk", "x4_cosine_topk"),
    ("q_topk_group", "sl2_topk_per_group"),
    ("q_cmd_fold", "str6_command_fold"),
    ("q_bpe_tokens", "x12_bpe_token_count"),
    ("q_setops_intersect", "set2_intersect"),
    ("q_asof_join", "j7_asof_join"),
]

# Fact-table-driven headline entries re-run on a synthesized 10x
# dataset so round-over-round scaling trends are visible (no sf1
# fixture exists; the probe unions 10 key-shifted copies of the fact
# tables — lineitem/orders/events; dimension and document tables are
# symlinked, so only queries whose input actually scales are probed).
SCALE_PROBE = [
    ("q_scan_ts", "sc4_range_scan_ts"),
    ("q_tpch1", "ag1_hash_agg_multi"),
    ("q_join_multi", "j2_multiway_join"),
    ("q_window_seq", "w1_row_number"),
    ("q_metrics_hour", "ag9_metrics_rollup"),
    ("q_topk_group", "sl2_topk_per_group"),
    ("q_cmd_fold", "str6_command_fold"),
    ("q_asof_join", "j7_asof_join"),
    # LLM-pipeline heads: the bucketed-not-all-pairs claim gets a
    # measured ratio (documents/embeddings scale 10x in the probe dir).
    # Near-dup is probed via the keep/drop action (x29), NOT the
    # pair-emitting oracle shape (x9): on this dup-dense corpus the
    # pair *answer* is quadratic (8.9M true pairs at J>=0.5 from 5000
    # sf0.1 docs — DuckDB brute force needs 223 s for the same output),
    # so pair emission cannot scale no matter the candidate pruning;
    # production dedup emits one decision per doc (O(n*bands) rows).
    ("q_dedup_exact", "x1b_distinct_docs"),
    ("q_minhash_dedup", "x29_minhash_dedup_keep"),
    # the gram-fan-out heads: round 9 fixed an O(tokens^2)-per-doc
    # re-tokenization in this shape (x25 was 21.7 s warm at sf0.1);
    # a probed ratio per round pins the zip_with form against
    # regression back to element_at-over-sequence
    ("q_repetition", "x25_repetition_signals"),
    ("q_bigram_lm", "x42_bigram_surprisal"),
    # the iterative connected-components head: driver-paced label
    # propagation whose scaling was architecture-argued but unmeasured
    # past 10x until round 7 (it also joins X100_PROBE below)
    ("q_neardup_clusters", "x30_neardup_clusters"),
    ("q_lsh_ann", "x13_lsh_ann_topk"),
    # the adaptive-bucket SemDeDup tier: 2^m tracks the corpus, so the
    # probed ratio pins the per-bucket-occupancy-stays-constant claim
    # (embeddings scale 10x in the probe dir -> m steps 11 -> 14)
    ("q_semdedup_bucketed", "x51_semdedup_bucketed"),
    # cluster-size report: CC labels + two label aggregations — the
    # x10 leg seeds the x100 probe's denominator below
    ("q_cluster_report", "x53_dedup_cluster_report"),
    # global running token count via the chunked two-phase prefix sum —
    # the scale-safe replacement for single-partition windows
    ("q_seq_packing", "x31_sequence_packing"),
    # the gram-digest equi-shuffle heads (r11's three steepest first
    # decades: 2.11 / 1.71 / 2.28) — x10 legs seed their x100 probes
    ("q_decontamination", "x68_decontamination_overlap"),
    ("q_dup_leakage", "x69_cross_source_leakage"),
    ("q_novelty_decile", "x70_ngram_novelty_by_decile"),
    # x68's case/punct-normalized sibling: same digest-equi-shuffle
    # defense, steepest r12 first decade (3.65 — after normalization
    # the 10x corpus's byte-identical copies are maximally duplicated,
    # the dup-dense worst case for gram occurrences)
    ("q_norm_contamination", "x79_normalized_contamination"),
]


def _materialize(df) -> int:
    """Run the full plan without driver transfer (noop sink)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


#: iterations per headline query — the r5 lesson: a single-iteration
#: bench on a co-tenant machine recorded 24.8 s for code an idle re-run
#: measured at 12.1 s; medians shrug off transient contention spikes
BENCH_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


#: outlier re-run trigger (VERDICT r15 task 1b): a median more than this
#: factor above the same run's own min means the spread within one bench
#: is contamination, not code — the machine demonstrably CAN run the
#: query at the min. Extra reps are taken and pooled, and the retry is
#: stamped so the record shows which numbers needed rescue.
RETRY_FACTOR = float(os.environ.get("SPARK_GRAFT_BENCH_RETRY_FACTOR", "1.5"))


def run_queries(spark) -> tuple[dict, dict, dict, dict]:
    """(median, min, first-run, retries) seconds per headline query over
    BENCH_REPS iterations. Median is the noise-resistant headline; min
    is the machine's best case; first includes plan compilation and is
    the number comparable with rounds 1-5 (which timed one iteration).
    A query whose median lands > RETRY_FACTOR x its own min gets
    BENCH_REPS more samples (pooled median) — r15's committed record
    had untouched queries at 2-4.5x their min purely from co-tenant
    phasing; the retry self-heals that class of artifact."""
    qs = all_queries()
    med, mn, first, retried = {}, {}, {}, {}

    def sample(fn, times):
        t0 = time.perf_counter()
        _materialize(fn(spark, SF_DIR))
        times.append(time.perf_counter() - t0)

    for label, name in HEADLINE:
        fn = qs[name].spark
        times: list[float] = []
        for _ in range(BENCH_REPS):
            sample(fn, times)
        first[label] = round(times[0], 3)
        srt = sorted(times)
        if srt[len(srt) // 2] > RETRY_FACTOR * srt[0]:
            before = round(srt[len(srt) // 2], 3)
            for _ in range(BENCH_REPS):
                sample(fn, times)
            srt = sorted(times)
            retried[label] = {
                "median_before_retry": before,
                "median_after_retry": round(srt[len(srt) // 2], 3),
                "reps_total": len(times),
            }
        med[label] = round(srt[len(srt) // 2], 3)
        mn[label] = round(srt[0], 3)
    return med, mn, first, retried


#: repetitions for the s2-bench append/read legs. Round 12's lesson:
#: these legs ran ONCE per bench while every headline query got 3 reps
#: with median — so a single co-tenant stall on the read leg (9.88 s vs
#: 0.67 s idle) became the committed headline. Median-of-3 with a fresh
#: temp store per rep self-corrects that class of artifact.
S2BENCH_REPS = int(os.environ.get("SPARK_GRAFT_S2BENCH_REPS", "3"))


def s2_bench_equivalent(
    spark,
    n_records: int = 8000,
    record_bytes: int = 8192,
    reps: int | None = None,
) -> dict:
    """Repeated-median wrapper over the single-run bench: each rep gets
    a fresh temp store; append/read legs report the MEDIAN of
    ``reps`` (spread kept alongside), verification must pass on EVERY
    rep, and the ack/e2e latency percentiles pool the raw samples of
    all reps (3x16 batches instead of 16)."""
    reps = S2BENCH_REPS if reps is None else reps
    runs = [_s2_bench_once(spark, n_records, record_bytes) for _ in range(reps)]
    return _s2_agg(runs, n_records, record_bytes, reps)


def _s2_agg(runs: list[dict], n_records: int, record_bytes: int, reps: int) -> dict:

    def med_by(key):
        return sorted(runs, key=lambda r: r[key])[len(runs) // 2]

    med_a, med_r = med_by("append_sec"), med_by("read_sec")
    append_s, read_s = med_a["append_sec"], med_r["read_sec"]
    mib = n_records * record_bytes / (1024 * 1024)
    ack = [x for r in runs for x in r["_ack_samples"]]
    e2e = [x for r in runs for x in r["_e2e_samples"]]
    return {
        "append_sec": append_s,
        "read_sec": read_s,
        "append_spread": [min(r["append_sec"] for r in runs),
                          max(r["append_sec"] for r in runs)],
        "read_spread": [min(r["read_sec"] for r in runs),
                        max(r["read_sec"] for r in runs)],
        "reps": reps,
        "mib": round(mib, 1),
        "records_per_s": round(n_records / append_s, 1),
        "append_mib_s": round(mib / append_s, 1),
        "read_mib_s": round(mib / read_s, 1),
        "verified": all(r["verified"] for r in runs),
        "live_verified": all(r["live_verified"] for r in runs),
        "append_phases": med_a["append_phases"],
        "latency": {"ack": _percentiles(ack), "e2e": _percentiles(e2e)},
    }


def _s2_bench_once(
    spark,
    n_records: int = 8000,
    record_bytes: int = 8192,
    sandbox: bool = False,
) -> dict:
    """One run of the reference bench workload (cli/src/cli.rs:702-736
    defaults: 8 KiB records, ~60 MiB): bulk-append through the store's
    distributed sequencing, then catch-up read; verify count +
    order-sensitive chain hash on both sides.

    ``sandbox=True`` runs the whole store against the
    SandboxObjectBackend (r15: data + manifest + catalog through the
    object API — COPY-finalized parts, conditional-PUT publishes), the
    honest cost model for a bucket-backed deployment minus network."""
    from s2_spark.catalog import Catalog
    from s2_spark.store import StreamStore

    base = tempfile.mkdtemp(prefix="s2bench_")
    try:
        backend = None
        if sandbox:
            from s2_spark.manifest import SandboxObjectBackend

            backend = SandboxObjectBackend(os.path.join(base, "bucket"))
        cat = Catalog(spark)
        cat.create_basin("bench-basin")
        cat.create_stream("bench-basin", "bench")
        store = StreamStore(
            spark, os.path.join(base, "records"), catalog=cat,
            manifest_backend=backend,
        )

        def chain_over(df, order_col):
            # collect (order, hash) pairs, sort in-array (struct sort is
            # by first field), fold the chain — order-guaranteed
            hashes = F.array_sort(
                F.collect_list(F.struct(F.col(order_col).alias("o"), F.xxhash64("body").alias("h")))
            )
            return F.aggregate(
                F.transform(hashes, lambda x: x["h"]),
                F.lit(0).cast("long"),
                lambda acc, h: F.xxhash64(acc, h),
            )

        # warm the append code path — plan compilation AND the JVM JIT
        # for the size-dependent hot loops (snappy/parquet encode,
        # window sort, xxhash) — with throwaway batches of the same
        # record shape, so the timed run measures the workload, not
        # first-call compilation; same hygiene as the lineitem warm-up
        # for the query loop
        warm_payload = F.encode(
            F.concat(F.lit("w"), F.col("id").cast("string"), F.lit("x" * record_bytes)),
            "utf-8",
        )
        warm = spark.range(2000).select(
            F.lit("bench-basin").alias("basin"),
            F.lit("warm").alias("stream"),
            F.lit(None).cast("long").alias("timestamp"),
            F.array().cast("array<struct<name binary, value binary>>").alias("headers"),
            warm_payload.alias("body"),
            F.col("id").alias("ingest_order"),
        )
        cat.create_stream("bench-basin", "warm")
        store.bulk_append(warm)
        store.bulk_append(warm)
        # warm the read+chain path the same way
        wread = store.read("bench-basin", "warm")
        wread.agg(F.count("*"), chain_over(wread, "seq_num")).first()

        payload = F.encode(
            F.concat(F.lit("r"), F.col("id").cast("string"), F.lit("x" * record_bytes)),
            "utf-8",
        )
        src = (
            spark.range(n_records)
            .select(
                F.lit("bench-basin").alias("basin"),
                F.lit("bench").alias("stream"),
                F.lit(None).cast("long").alias("timestamp"),
                F.array().cast("array<struct<name binary, value binary>>").alias("headers"),
                payload.alias("body"),
                F.col("id").alias("ingest_order"),
            )
        )
        write_chain = src.agg(chain_over(src, "ingest_order").alias("chain")).first()["chain"]

        # live leg: a follow-mode read session opened BEFORE the append,
        # tailing records as they commit — the reference bench verifies
        # write == LIVE-read == catchup three ways (cli/src/bench.rs:
        # 389-394,948-963), not just write vs catchup
        import threading

        from s2_spark.store import ReadLimit

        live_rows: list = []

        def live_reader():
            for ev in store.read_session(
                "bench-basin",
                "bench",
                limit=ReadLimit(count=n_records),
                wait_s=120.0,
                poll_s=0.05,
            ):
                if ev.kind == "batch":
                    live_rows.extend(ev.records)

        live_t = threading.Thread(target=live_reader, daemon=True)
        live_t.start()

        sc = spark.sparkContext
        sc.setJobGroup("bench_append", "timed bulk_append")
        t0 = time.perf_counter()
        phases: dict = {}
        store.bulk_append(src, timings=phases)
        append_s = time.perf_counter() - t0
        # job count for the timed call (pinned-thread mode keeps the
        # live reader's jobs out of this group). The current plan
        # measures 6 jobs — admission agg, the per-stream tail/config
        # recovery collects, the per-chunk offset/stat aggregation,
        # and the staged parquet write — recorded so a regression
        # shows as this count GROWING round-over-round (the r11-r12
        # series holds at 6), not as a hand-written expectation
        phases["spark_jobs"] = len(
            sc.statusTracker().getJobIdsForGroup("bench_append")
        )
        sc.setJobGroup("", "")
        live_t.join(timeout=180)
        live_ok = not live_t.is_alive() and len(live_rows) == n_records
        if live_ok:
            live_df = spark.createDataFrame(
                [(r["seq_num"], bytes(r["body"])) for r in live_rows],
                "seq_num long, body binary",
            )
            live_chain = live_df.agg(chain_over(live_df, "seq_num").alias("c")).first()["c"]
            live_ok = live_chain == write_chain

        t0 = time.perf_counter()
        read = store.read("bench-basin", "bench")
        read_chain_row = read.agg(
            F.count("*").alias("n"), chain_over(read, "seq_num").alias("chain")
        ).first()
        read_s = time.perf_counter() - t0
        mib = n_records * record_bytes / (1024 * 1024)
        ok = read_chain_row["n"] == n_records and read_chain_row["chain"] == write_chain
        return {
            "append_sec": round(append_s, 3),
            "read_sec": round(read_s, 3),
            "mib": round(mib, 1),
            "records_per_s": round(n_records / append_s, 1),
            "append_mib_s": round(mib / append_s, 1),
            "read_mib_s": round(mib / read_s, 1),
            # write == live-tail == catchup, all chain-verified
            "verified": bool(ok and live_ok),
            "live_verified": bool(live_ok),
            # sub-phase decomposition of the timed append (admission
            # agg / shuffle+window+parquet write / driver state
            # advance) — attributes any run-to-run variance to the
            # phase that moved instead of leaving it a mystery
            "append_phases": phases,
            # raw per-batch samples, pooled across reps by the wrapper
            **_latency_probe(spark, store),
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _gate(section: str, budget_s: int | None = None) -> dict:
    """Per-SECTION co-tenant gate (VERDICT r14 task 4): wait for the
    1-minute loadavg to decay below the threshold before a measurement
    section starts. The t=0 guard alone let r14's probe rows run at
    loadavg 16-28 — the bench's OWN earlier sections — which poisoned
    the decade-ratio series (untouched plans "regressed" 15-60% in
    lockstep). Loadavg decays ~e^(-t/60) once work stops, so a
    120-240 s budget rides out self-load; a co-tenant that never goes
    idle shows up as passed=False stamped on the section rather than
    as a silent bad number. Returns the stamp dict recorded with the
    section's output."""
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "8"))
    if budget_s is None:
        budget_s = int(os.environ.get("SPARK_GRAFT_BENCH_GATE_S", "240"))
    waited = 0
    # gate on max(1-min, 5-min): r15's headline record passed a
    # 1-min-only gate at 2.11 while the 5-min average was 8.36 — a
    # just-idled co-tenant — and came out 2x contaminated (VERDICT r15
    # task 1a). The 5-min average decays slower, so the budget rides it
    # out; a co-tenant that never idles still stamps passed=False
    # instead of silently poisoning the section.
    while max(os.getloadavg()[:2]) > max_load and waited < budget_s:
        time.sleep(5)
        waited += 5
    la = os.getloadavg()
    return {
        "section": section,
        "passed": max(la[0], la[1]) <= max_load,
        "loadavg": [round(x, 2) for x in la],
        "waited_s": waited,
    }


def _percentiles(xs: list[float]) -> dict:
    """min/p50/p90/p99/max in milliseconds (cli/src/bench.rs:112-181
    reports the same five points for ack and e2e latency)."""
    s = sorted(xs)
    pick = lambda q: s[min(len(s) - 1, int(q * (len(s) - 1) + 0.5))]
    ms = lambda v: round(v * 1000, 1)
    return {
        "min_ms": ms(s[0]),
        "p50_ms": ms(pick(0.50)),
        "p90_ms": ms(pick(0.90)),
        "p99_ms": ms(pick(0.99)),
        "max_ms": ms(s[-1]),
    }


def _latency_probe(
    spark, store, n_batches: int = 16, per_batch: int = 10, record_bytes: int = 1024
) -> dict:
    """Latency half of `s2 bench` (cli/src/bench.rs:112-181,718-731):
    small sequential appends through the unary (actor-discipline) path,
    measuring per-batch ack latency (append durable + acked) and e2e
    latency (append start → records served back by a read). The
    reference's standard-class target is <500 ms ack (api/src/v1/
    config.rs:11-14); this records where the Spark-job floor puts us.
    Returns the RAW per-batch samples — the repeated-median wrapper
    pools them across reps before computing percentiles."""
    from s2_spark.model import Record
    from s2_spark.store import ReadLimit, ReadStart

    basin, stream = "bench-basin", "lat"
    store.catalog.create_stream(basin, stream)
    body = b"l" * record_bytes
    # warm the unary append + point-read plans (excluded from stats)
    store.append(basin, stream, [Record(body=body)])
    store.read(basin, stream, start=ReadStart(seq_num=0), limit=ReadLimit(count=1)).collect()
    ack_lat, e2e_lat = [], []
    for i in range(n_batches):
        recs = [Record(body=body) for _ in range(per_batch)]
        t0 = time.perf_counter()
        ack = store.append(basin, stream, recs)
        ack_lat.append(time.perf_counter() - t0)
        got = store.read(
            basin,
            stream,
            start=ReadStart(seq_num=ack.start_seq),
            limit=ReadLimit(count=per_batch),
        ).count()
        e2e_lat.append(time.perf_counter() - t0)
        assert got == per_batch
    return {"_ack_samples": ack_lat, "_e2e_samples": e2e_lat}


def skew_probe(
    spark, n_records: int = 240_000, record_bytes: int = 2048
) -> dict:
    """Hot-key skew: bulk_append a batch where 90% of records hit ONE
    stream (~420 MiB on the hot key at the defaults), chunked
    sequencing (default) vs the one-chunk-per-stream plan (chunk_width
    wider than the batch — the pre-chunk design, where the hot
    stream's whole sort AND parquet write serialize on one task).
    Turns the skew-proof claim in the bulk_append docstring into a
    measured number. Output equality of the two plans is pinned by
    tests/test_store.py::test_bulk_append_chunked_matches_single_chunk
    — this probe measures, the test proves.

    Both paths are JIT-warmed with a small untimed batch first, and
    each variant reports the MEDIAN of 3 runs plus the min/max spread —
    the same treatment the headline queries got in round 6. The probe's
    historical single-number quotes ranged 1.3x-3.75x across machines
    and co-tenant load; the median + spread makes the instability
    visible instead of quotable. Below ~100 MiB hot-key the single-task
    plan actually wins on overhead — the chunk decomposition is a
    large-batch device, which is the honest claim (SEQ_CHUNK_WIDTH
    keeps per-chunk sorts ~32 MiB; the win grows with hot-key bytes
    per task)."""
    from s2_spark.catalog import Catalog
    from s2_spark.store import StreamStore

    def run_once(width, n, rb) -> float:
        base = tempfile.mkdtemp(prefix="s2skew_")
        try:
            cat = Catalog(spark)
            cat.create_basin("skew-basin")
            for s in range(10):
                cat.create_stream("skew-basin", f"s{s}")
            store = StreamStore(
                spark, os.path.join(base, "records"), catalog=cat
            )
            stream = F.when(F.col("id") % 10 != 0, F.lit("s0")).otherwise(
                F.concat(F.lit("s"), ((F.col("id") % 90) % 9 + 1).cast("string"))
            )
            payload = F.encode(
                F.concat(F.col("id").cast("string"), F.lit("x" * rb)), "utf-8"
            )
            src = spark.range(n).select(
                F.lit("skew-basin").alias("basin"),
                stream.alias("stream"),
                F.lit(None).cast("long").alias("timestamp"),
                F.array()
                .cast("array<struct<name binary, value binary>>")
                .alias("headers"),
                payload.alias("body"),
                F.col("id").alias("ingest_order"),
            )
            t0 = time.perf_counter()
            store.bulk_append(src, chunk_width=width)
            return time.perf_counter() - t0
        finally:
            shutil.rmtree(base, ignore_errors=True)

    # untimed warm-up of both plan shapes
    run_once(None, 5000, 256)
    run_once(1 << 62, 5000, 256)
    out: dict = {}
    for label, width in (("chunked", None), ("single_chunk", 1 << 62)):
        times = sorted(run_once(width, n_records, record_bytes) for _ in range(3))
        out[f"{label}_sec"] = round(times[1], 3)  # median of 3
        out[f"{label}_spread"] = [round(times[0], 3), round(times[-1], 3)]
    out.update(
        {
            "records": n_records,
            "record_bytes": record_bytes,
            "hot_fraction": 0.9,
            "speedup": round(out["single_chunk_sec"] / out["chunked_sec"], 2),
        }
    )
    return out


def _build_x10(spark, out_dir: str) -> None:
    """Synthesize a ~10x scale directory: fact tables (lineitem, orders,
    events) become unions of 10 key-shifted copies; dimension tables are
    symlinked unchanged."""
    shifts = {
        "lineitem": ("l_orderkey", 10_000_000),
        "orders": ("o_orderkey", 10_000_000),
        "events": ("event_id", 100_000_000),
        "documents": ("doc_id", 10_000_000),
        "embeddings": ("vec_id", 10_000_000),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name in [
        "region", "nation", "customer", "supplier", "part",
    ]:
        src = os.path.join(SF_DIR, f"{name}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(out_dir, f"{name}.parquet"))
    for name, (key, stride) in shifts.items():
        src = os.path.join(SF_DIR, f"{name}.parquet")
        if not os.path.exists(src):
            continue
        base = spark.read.parquet(src)
        copies = [
            base.withColumn(key, F.col(key) + F.lit(i * stride)) for i in range(10)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))


# x100 representatives — one chunked-prefix query, the dedup heads, one
# multiway join: the second decade of the scale curve for the paths
# whose 100-TB story matters most. Only lineitem/orders/documents/
# embeddings are physically scaled (the tables these probes touch);
# everything else symlinks.
X100_PROBE = [
    ("q_join_multi", "j2_multiway_join"),
    ("q_minhash_dedup", "x29_minhash_dedup_keep"),
    ("q_seq_packing", "x31_sequence_packing"),
    # the one LLM head whose convergence loop is driver-paced: per-decade
    # growth of bucket-star CC label propagation (rounds grow ~log of the
    # largest cluster diameter, each round one shuffle over the edges)
    ("q_neardup_clusters", "x30_neardup_clusters"),
    # second decade for the adaptive SemDeDup tier: 2^m tracks n across
    # BOTH decades (m steps 14 -> 16 at x100), so the probe pins the
    # occupancy-stays-constant claim where the bucket count saturates
    # the 16-plane family — embeddings scale physically below
    ("q_semdedup_bucketed", "x51_semdedup_bucketed"),
    # CC + two label aggregations: the report's growth should track
    # x30's label-propagation decade, not add one of its own
    ("q_cluster_report", "x53_dedup_cluster_report"),
    # the gram-occurrence-bound digest shapes (VERDICT r11 task 3):
    # their first decades were the three steepest of the r11 cohort
    # (x68 2.11, x69 1.71, x70 2.28) because gram OCCURRENCES grow
    # faster than documents on a dup-dense corpus — the defense is
    # that every stage is an equi-shuffle on md5 digests (no pair
    # expansion), which should hold through the second decade too
    ("q_decontamination", "x68_decontamination_overlap"),
    ("q_dup_leakage", "x69_cross_source_leakage"),
    ("q_novelty_decile", "x70_ngram_novelty_by_decile"),
    # the normalized sibling (r12): first decade 3.65 — the steepest
    # of the r12 cohort, same gram-occurrence-bound defense as x68
    ("q_norm_contamination", "x79_normalized_contamination"),
    # the winnowing-sampled variant (r13, VERDICT task 5): same
    # normalization + semi-join skeleton but only ~2/(w+1) of the gram
    # digests cross the shuffle — its decade should sit MATERIALLY
    # below x79's 8.5x, which is the whole point of the sampling knob
    ("q_winnow_contamination", "x82_winnowed_contamination"),
]


def _build_x100(spark, from10: str, out_dir: str) -> None:
    """~100x dir from the x10 dir: 10 more key-shifted copies of the
    fact tables the X100_PROBE queries read (stride 100M clears every
    x10 key); all other tables symlink through."""
    shifts = {
        "lineitem": ("l_orderkey", 100_000_000),
        "orders": ("o_orderkey", 100_000_000),
        "documents": ("doc_id", 100_000_000),
        "embeddings": ("vec_id", 100_000_000),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name in [
        "region", "nation", "customer", "supplier", "part",
        "events",
    ]:
        src = os.path.join(from10, f"{name}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(out_dir, f"{name}.parquet"))
    for name, (key, stride) in shifts.items():
        base = spark.read.parquet(os.path.join(from10, f"{name}.parquet"))
        copies = [
            base.withColumn(key, F.col(key) + F.lit(i * stride)) for i in range(10)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))


def scale_probe(spark, gates: list | None = None) -> tuple[dict, dict]:
    """Heaviest scan/agg/join entries at ~10x the bench SF (seconds and
    the x10/x1 runtime ratio: ideal ~10 for scans at fixed cores, less
    with pruning; superlinear growth flags a scale bottleneck), plus a
    second decade (~100x) for the three X100_PROBE representatives —
    the curve, not just one point. ``gates`` collects per-section
    loadavg-gate stamps; every x100 row additionally carries its own
    gate (VERDICT r14 task 4: the r14 rows ran at loadavg 16-28 from
    the bench's own earlier sections)."""
    qs = all_queries()
    tmp10 = tempfile.mkdtemp(prefix="s2scale10_")
    tmp100 = tempfile.mkdtemp(prefix="s2scale100_")
    if gates is None:
        gates = []
    try:
        _build_x10(spark, tmp10)
        gates.append(_gate("scale_probe_x10"))
        def best_of(fn, sf_dir, reps: int = 2) -> float:
            # min over reps: the first execution of a plan in a session
            # pays whole-stage-codegen + JIT compilation (observed 17x
            # swings on the heavier expression trees), which is not the
            # quantity the x10/x1 ratio is about
            best = float("inf")
            for _ in range(reps):
                t0 = time.perf_counter()
                _materialize(fn(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
            return best

        out = {}
        for label, name in SCALE_PROBE:
            fn = qs[name].spark
            x1 = best_of(fn, SF_DIR)
            x10 = best_of(fn, tmp10)
            out[label] = {
                "x1_warm_sec": round(x1, 3),
                "x10_sec": round(x10, 3),
                "ratio": round(x10 / x1, 2),
            }
        x100 = {}
        if os.environ.get("SPARK_GRAFT_X100", "1") != "0":
            _build_x100(spark, tmp10, tmp100)
            gates.append(_gate("scale_probe_x100"))
            for label, name in X100_PROBE:
                # plans are already codegen/JIT-warm from the x1/x10
                # runs above. MEDIAN of 3 + min/max spread + loadavg,
                # the skew-probe treatment: a single 28-39 s sample in
                # a co-tenant sandbox cannot distinguish a scale
                # regression from neighbor noise (round 8's lone x100
                # minhash run read 10.87x/decade — above ideal linear —
                # on code untouched since round 6, while the same
                # query's warm headline median IMPROVED).
                # per-ROW gate (shorter budget): the previous row's
                # own 32-thread work is the dominant load source here
                row_gate = _gate(f"x100:{label}", budget_s=120)
                # a label probed only at the second decade (not in
                # SCALE_PROBE's x1/x10 sweep) measures its own x10
                # here — reps=2 doubles as the codegen/JIT warm-up
                if label in out:
                    x10_sec = out[label]["x10_sec"]
                else:
                    x10_sec = round(best_of(qs[name].spark, tmp10, reps=2), 3)
                times = sorted(
                    best_of(qs[name].spark, tmp100, reps=1)
                    for _ in range(3)
                )
                x100[label] = {
                    "x10_sec": x10_sec,
                    "x100_sec": round(times[1], 3),
                    "x100_spread": [round(times[0], 3), round(times[-1], 3)],
                    "loadavg": row_gate["loadavg"],
                    "gate_passed": row_gate["passed"],
                    "gate_waited_s": row_gate["waited_s"],
                    # per-decade growth at fixed cores: ~10 is ideal
                    # linear; compare with the first decade's ratio
                    "ratio_x100_x10": round(times[1] / x10_sec, 2),
                }
        return out, x100
    finally:
        shutil.rmtree(tmp100, ignore_errors=True)
        shutil.rmtree(tmp10, ignore_errors=True)


def main() -> None:
    # Co-tenant guard (r12: one noise-stalled sample became the
    # committed 18.7 s headline — an artifact-quality failure, not a
    # code one). If the 1-minute loadavg exceeds the threshold, wait
    # for the machine to go idle; if it never does, REFUSE to write a
    # BENCH record rather than poison the round series — unless
    # explicitly overridden.
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "8"))
    # 900 s default: the gate now watches the 5-MINUTE average too
    # (VERDICT r15 task 1a — the r15 record started at 1-min 2.11 /
    # 5-min 8.36 from a just-idled co-tenant and came out 2x
    # contaminated), and a 5-min average needs longer to decay once the
    # load stops; the refusal for genuinely persistent load stays.
    idle_wait_s = int(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT_S", "900"))
    force = os.environ.get("SPARK_GRAFT_BENCH_FORCE", "0") == "1"
    waited = 0
    while max(os.getloadavg()[:2]) > max_load and waited < idle_wait_s:
        time.sleep(10)
        waited += 10
    load_start = os.getloadavg()
    if max(load_start[0], load_start[1]) > max_load and not force:
        print(
            f"bench REFUSED: loadavg(1m,5m) {load_start[0]:.1f},{load_start[1]:.1f} > {max_load} after "
            f"waiting {waited}s — a co-tenant-loaded record would poison the "
            f"round series. Set SPARK_GRAFT_BENCH_FORCE=1 to record anyway.",
            file=sys.stderr,
        )
        sys.exit(3)
    spark = get_spark("s2_spark_bench", cpus=CPUS, shuffle_partitions=CPUS)
    # warm the JVM + file listing so query times measure execution
    for name in ("lineitem", "orders", "events", "documents"):
        p = os.path.join(SF_DIR, f"{name}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).count()

    queries, queries_min, queries_first, queries_retried = run_queries(spark)
    gates = []
    # the s2bench section is gated on loadavg decay so the query
    # suite's self-load doesn't ride in
    gates.append(_gate("s2bench"))
    bench = s2_bench_equivalent(spark)
    bench_sandbox = _s2_bench_once(spark, sandbox=True)
    for d in (queries, queries_min, queries_first):
        d["q_s2bench_append"] = bench["append_sec"]
        d["q_s2bench_read"] = bench["read_sec"]
    # headline `value` = sum of per-query MEDIANS (of BENCH_REPS runs):
    # the noise-resistant number. `value_first_run` sums each query's
    # first iteration — the definition rounds 1-5 recorded — so the
    # round-over-round series stays interpretable across the change.
    total = round(sum(queries.values()), 3)
    total_first = round(sum(queries_first.values()), 3)
    # SPARK_GRAFT_PROBES=0 → headline-only rep: skip the skew and
    # x10/x100 probes AND leave BENCH_DETAIL.json untouched, so cheap
    # repeated headline measurements (noise triage on a co-tenant
    # machine) never clobber a full run's probe record
    probes = os.environ.get("SPARK_GRAFT_PROBES", "1") != "0"
    if probes:
        gates.append(_gate("skew_probe"))
        skew = skew_probe(spark)
        probe10, probe100 = scale_probe(spark, gates)
    else:
        skew = {"speedup": None}
        probe10, probe100 = {}, {}
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    # Detail record FIRST (big: per-query min/first, probes, latency
    # percentiles), compact headline record LAST: the driver artifact
    # keeps only the final ~2000 chars of stdout and parses the last
    # JSON line it finds — round 6's single giant line lost its own
    # `value` field to the truncation. The summary line repeats every
    # headline-grade field and is sized to survive the tail capture.
    detail = {
        "detail": "full bench record (headline summary is the last line)",
        "queries_min": queries_min,
        "queries_first": queries_first,
        # outlier re-runs (VERDICT r15 task 1b): queries whose median
        # exceeded RETRY_FACTOR x their own min and got BENCH_REPS more
        # pooled samples — non-empty means ambient load touched the run
        "queries_retried": queries_retried,
        "s2bench": bench,
        # whole-store-on-object-backend series (r15): one rep against
        # the SandboxObjectBackend — COPY-finalized parts,
        # conditional-PUT publishes, catalog in the bucket. The honest
        # local cost model for a bucket deployment (minus network);
        # non-headline, recorded for the round-over-round trend.
        "s2bench_sandbox": {
            k: bench_sandbox[k]
            for k in ("append_sec", "read_sec", "verified", "live_verified")
        },
        # per-section loadavg gates (r15): passed=False marks a section
        # that started under residual load despite the decay wait
        "gates": gates,
        # hot-key probe: chunked vs single-chunk bulk_append
        "skew_probe": skew,
        # x10 + x100 trend probes — excluded from `value` so
        # headline totals stay comparable round-over-round
        "scale_probe_x10": probe10,
        "scale_probe_x100": probe100,
    }
    print(json.dumps(detail))
    # the driver keeps only the tail of stdout, so the detail record is
    # the truncation victim — persist it to a file too (s2bench latency
    # percentiles and skew spread stay inspectable every round)
    if probes:
        try:
            with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                   "BENCH_DETAIL.json"), "w") as f:
                json.dump(detail, f, indent=1)
        except OSError:
            pass  # read-only checkout: stdout copy still exists
    print(
        json.dumps(
            {
                "metric": "headline suite + s2-bench-equivalent (chain-verified)",
                "value": total,
                "unit": "sec",
                "bench_reps": BENCH_REPS,
                "value_first_run": total_first,
                "queries": queries,
                # 1/5/15-minute system load before and after: a driver
                # machine under co-tenant pressure shows up here
                # instead of masquerading as an engine regression
                "loadavg_start": [round(x, 2) for x in load_start],
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                # r15: per-section loadavg gates all green? (details in
                # BENCH_DETAIL.json "gates"; False = some section ran
                # under residual load past the decay budget)
                "gates_passed": all(g["passed"] for g in gates),
                # labels of headline queries that needed an outlier
                # re-run (median > 1.5x own min); [] on a clean run
                "queries_retried": sorted(queries_retried),
                "sf": float(sf),
                "verified": bench["verified"],
                "live_verified": bench["live_verified"],
                "skew_speedup": skew["speedup"],
            }
        )
    )
    if not bench["verified"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
