"""Run context and helpers shared by the workloads."""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass, field

from perfbench.harness import Ops, Tracer

BASIN = "perfbench-basin"


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    tmp: str  # every file the run writes lives under here
    nproc: int
    tracer: Tracer
    ops: Ops = field(default_factory=Ops)
    #: streaming run id -> job group name, for the event-log fold
    group_aliases: dict[str, str] = field(default_factory=dict)

    def dir(self, *parts: str) -> str:
        """A directory under the run's temp root (created if missing)."""
        p = os.path.join(self.tmp, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    @contextlib.contextmanager
    def group(self, name: str):
        """Tag the Spark jobs this thread starts with job group ``name``."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setJobGroup("", "")


def chain_cols(order_col: str, body_col: str = "body"):
    """(count, order-sensitive xxhash64 chain of ``body`` by
    ``order_col``) aggregate columns — the `s2 bench` verification."""
    from pyspark.sql import functions as F

    pairs = F.array_sort(
        F.collect_list(F.struct(F.col(order_col).alias("o"), F.xxhash64(body_col).alias("h")))
    )
    chain = F.aggregate(
        F.transform(pairs, lambda x: x["h"]), F.lit(0).cast("long"),
        lambda acc, h: F.xxhash64(acc, h),
    )
    return F.count("*").alias("n"), chain.alias("chain")


def chain_of(df, order_col: str) -> tuple[int, int | None]:
    row = df.agg(*chain_cols(order_col)).first()
    return row["n"], row["chain"]


def chains_by(df, keys: list[str], order_col: str) -> dict[tuple, tuple[int, int | None]]:
    """``chain_of`` per group of ``keys``, in one Spark job."""
    rows = df.groupBy(*keys).agg(*chain_cols(order_col)).collect()
    return {tuple(r[k] for k in keys): (r["n"], r["chain"]) for r in rows}


def visible_files(store) -> list[str]:
    """Paths of the parquet files the store's manifest lists now. Calls
    the untraced fold, so the probe adds nothing to the layer counts."""
    from s2_spark import manifest

    fold = getattr(manifest.fold, "__wrapped__", manifest.fold)
    return [os.path.join(store.base_dir, f) for f in fold(store.base_dir)[1]]


def visible_parquet_bytes(store) -> int:
    return sum(os.path.getsize(f) for f in visible_files(store))
