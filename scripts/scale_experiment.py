"""Reproducible scale experiment: ingest N records across K streams
through the distributed sequencing path, flat and bucketed, then
measure the single-stream operations the reference serves constantly
(range read, full-stream catch-up), compaction, post-compaction reads
and the vacuum of the compaction's delisted originals.

Run: python scripts/scale_experiment.py  (env: SCALE_N, SCALE_STREAMS)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from s2_spark.catalog import BasinConfig, Catalog
from s2_spark.session import get_spark
from s2_spark.store import ReadLimit, ReadStart, StreamStore

N = int(os.environ.get("SCALE_N", "2000000"))
STREAMS = int(os.environ.get("SCALE_STREAMS", "100"))
BODY = 512


def main() -> None:
    spark = get_spark("scale_experiment")
    src = (
        spark.range(N)
        .select(
            F.lit("exp-basin-01").alias("basin"),
            F.concat(F.lit("st-"), (F.col("id") % STREAMS).cast("string")).alias("stream"),
            F.lit(None).cast("long").alias("timestamp"),
            F.array().cast("array<struct<name binary, value binary>>").alias("headers"),
            F.encode(F.concat(F.col("id").cast("string"), F.lit("x" * BODY)), "utf-8").alias(
                "body"
            ),
            F.col("id").alias("ingest_order"),
        )
        .cache()
    )
    src.count()
    mib = N * (BODY + 20) / 2**20
    probe = f"st-{STREAMS // 2}"
    for bucket_count, label in ((0, "flat"), (64, "bucketed(64)")):
        cat = Catalog(spark)
        cat.create_basin("exp-basin-01", BasinConfig(create_stream_on_append=True))
        store = StreamStore(
            spark, tempfile.mkdtemp() + "/r", catalog=cat,
            bucket_count=bucket_count,
        )
        t0 = time.perf_counter()
        store.bulk_append(src)
        t_append = time.perf_counter() - t0
        t0 = time.perf_counter()
        store.read(
            "exp-basin-01", probe, ReadStart(seq_num=10_000), ReadLimit(count=1000)
        ).count()
        t_read1 = time.perf_counter() - t0
        t0 = time.perf_counter()
        n_full = store.read("exp-basin-01", probe).count()
        t_full = time.perf_counter() - t0
        t0 = time.perf_counter()
        store.compact()
        t_comp = time.perf_counter() - t0
        t0 = time.perf_counter()
        store.read(
            "exp-basin-01", probe, ReadStart(seq_num=10_000), ReadLimit(count=1000)
        ).count()
        t_read2 = time.perf_counter() - t0
        t0 = time.perf_counter()
        n_vac = store.vacuum(grace_ms=0)
        t_vac = time.perf_counter() - t0
        print(
            f"{label}: append {t_append:.1f}s ({mib / t_append:.0f} MiB/s), "
            f"range-read(1k) {t_read1:.2f}s, full-stream {t_full:.2f}s ({n_full} rows), "
            f"compact {t_comp:.1f}s, range-read-after {t_read2:.2f}s, "
            f"vacuum {t_vac:.1f}s ({n_vac} files)",
            flush=True,
        )


if __name__ == "__main__":
    main()
