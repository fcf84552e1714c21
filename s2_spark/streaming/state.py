"""Stateful in-band command application (Q-STR6).

The reference applies fence/trim commands at their exact log position
inside the per-stream actor (``lite/src/backend/streamer.rs:368-390``).
The streaming analogue is an ordered stateful fold per stream:
``applyInPandasWithState`` keyed by (basin, stream), carrying
(fencing_token, trim_point) across micro-batches.

Semantics folded per record, in seq order:
- ``fence`` command → token := body (UTF-8, ≤36 bytes)
- ``trim`` command  → trim_point := max(trim_point, min(payload, own seq + 1)),
  the payload being any u64
- every record is annotated with the state *after* it applies, and
  ``visible`` = seq_num >= current trim_point.

Batch-mode equivalence: :func:`apply_commands_batch` computes the same
fold with window functions (running max over command columns) so the
streaming and batch paths can be asserted equal — the contract test.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from s2_spark.model import command_col, trim_point_col

OUT_SCHEMA = T.StructType(
    [
        T.StructField("basin", T.StringType()),
        T.StructField("stream", T.StringType()),
        T.StructField("seq_num", T.LongType()),
        T.StructField("timestamp", T.LongType()),
        T.StructField("fencing_token", T.StringType()),
        T.StructField("trim_point", T.LongType()),
        T.StructField("visible", T.BooleanType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("fencing_token", T.StringType()),
        T.StructField("trim_point", T.LongType()),
    ]
)


def _fold(key, pdf_iter, state):
    """Per-stream ordered fold (the actor's command application)."""
    token, trim = ("", 0)
    if state.exists:
        token, trim = state.get
    for pdf in pdf_iter:
        pdf = pdf.sort_values("seq_num")
        out = {
            "basin": [],
            "stream": [],
            "seq_num": [],
            "timestamp": [],
            "fencing_token": [],
            "trim_point": [],
            "visible": [],
        }
        for row in pdf.itertuples(index=False):
            cmd, payload = row.cmd, row.body
            if cmd == "fence":
                token = payload.decode("utf-8") if payload is not None else ""
            elif cmd == "trim":
                req = int.from_bytes(payload, "big") if payload else 0
                # clamp to seq+1 (may trim its own record), streamer.rs:369-389
                trim = max(trim, min(req, int(row.seq_num) + 1))
            out["basin"].append(row.basin)
            out["stream"].append(row.stream)
            out["seq_num"].append(int(row.seq_num))
            out["timestamp"].append(int(row.timestamp))
            out["fencing_token"].append(token)
            out["trim_point"].append(trim)
            out["visible"].append(int(row.seq_num) >= trim)
        yield pd.DataFrame(out)
    state.update((token, trim))


def _with_cmd_cols(records: DataFrame) -> DataFrame:
    return records.select(
        "basin", "stream", "seq_num", "timestamp", command_col().alias("cmd"), "body"
    )


def apply_commands_stream(records: DataFrame) -> DataFrame:
    """Streaming stateful fold keyed by (basin, stream)."""
    return (
        _with_cmd_cols(records)
        .groupBy("basin", "stream")
        .applyInPandasWithState(
            _fold, OUT_SCHEMA, STATE_SCHEMA, "append", "NoTimeout"
        )
    )


def apply_commands_batch(records: DataFrame) -> DataFrame:
    """Batch-equivalent fold via per-stream chunked running maxes
    (``s2_spark.operators.prefix``) — fully distributed AND skew-proof:
    the fold is scoped per (basin, stream), but within a stream the
    running state decomposes across seq_num chunks, so one hot stream
    (or a single-stream fixture) spreads over many tasks instead of
    serializing on one. No Python in the loop.

    Both folds are running maxes: the latest fence is the max of
    struct(fence_seq, token) — lexicographic struct order picks the
    highest fence position — and the trim point is the max clamped
    trim request seen so far (streamer.rs:368-390 semantics).
    """
    from s2_spark.operators.prefix import chunked_running_multi

    df = _with_cmd_cols(records)
    trim_req = F.when(F.col("cmd") == "trim", trim_point_col())
    token_at = F.when(F.col("cmd") == "fence", F.col("body").cast("string"))
    fence_at = F.when(
        token_at.isNotNull(),
        F.struct(F.col("seq_num").alias("s"), token_at.alias("t")),
    )
    d = df.withColumn("_fence", fence_at).withColumn("_treq", trim_req)
    # both running maxes share one chunked pass — chaining two calls
    # would re-execute the first fold's plan inside the second's scans
    d = chunked_running_multi(
        d,
        ["seq_num"],
        [("_fence", "_fmax", "max"), ("_treq", "_tmax", "max")],
        partition_by=["basin", "stream"],
        # the command-parsing projection feeding the fold is the
        # expensive part of this plan; materializing the chunk totals
        # keeps the offsets self-join from re-evaluating it twice
        # (1.23 s -> 1.11 s warm at sf0.1, plan: 3 scans -> 2)
        materialize_totals=True,
    )
    return d.select(
        "basin",
        "stream",
        "seq_num",
        "timestamp",
        F.coalesce(F.col("_fmax")["t"], F.lit("")).alias("fencing_token"),
        F.coalesce(F.col("_tmax"), F.lit(0)).alias("trim_point"),
    ).withColumn("visible", F.col("seq_num") >= F.col("trim_point"))
