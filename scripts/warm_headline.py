"""Warm-throughput guard: run the 12 headline queries for several passes
in one Spark session (``local[N]`` over the cores this process may run
on) and print each pass's wall time, process-tree CPU and Spark job
count.

Usage (from the repository root):

    python3 scripts/warm_headline.py --sf-dir DIR --passes 6

``--sf-dir`` defaults to ``tables.DEFAULT_SF_DIR`` (the sf0.1 fixtures,
or ``$SPARK_GRAFT_SF_DIR``).

A JVM setting that saves CPU early in a process (fewer or cheaper JIT
compiles) can cost wall time once the code is hot; the last passes show
the warm steady state. Each query runs through the ``noop`` sink, as in
the ``batch`` benchmark's suite phase. The query set is perfbench's
``HEADLINE``, imported, so the two cannot drift apart. The last line is
one JSON object with the per-pass lists.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import tree_cpu_s
from perfbench.query import HEADLINE
from s2_spark.registry import all_queries
from s2_spark.session import get_spark
from s2_spark.tables import DEFAULT_SF_DIR


def run_pass(spark, qs, sf_dir: str) -> int:
    """Every headline query once, in ``HEADLINE`` order; returns the
    number of Spark jobs the pass ran."""
    sc = spark.sparkContext
    group = f"warm-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        for _label, name in HEADLINE:
            qs[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR, help="fixture directory (default: %(default)s)")
    ap.add_argument("--passes", type=int, default=6)
    args = ap.parse_args()
    cpus = len(os.sched_getaffinity(0))

    t0, c0 = time.perf_counter(), tree_cpu_s()
    spark = get_spark("warm_headline", cpus=cpus, shuffle_partitions=cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    print(f"session wall_s {time.perf_counter() - t0:.2f} cpu_s {tree_cpu_s() - c0:.2f}", flush=True)
    qs = all_queries()
    walls, cpu_s, jobs = [], [], []
    for i in range(1, args.passes + 1):
        t0, c0 = time.perf_counter(), tree_cpu_s()
        n = run_pass(spark, qs, args.sf_dir)
        walls.append(round(time.perf_counter() - t0, 3))
        cpu_s.append(round(tree_cpu_s() - c0, 3))
        jobs.append(n)
        print(f"pass {i} wall_s {walls[-1]:.2f} cpu_s {cpu_s[-1]:.2f} jobs {n}", flush=True)
    spark.stop()
    print(json.dumps({"sf_dir": args.sf_dir, "cpus": cpus, "wall_s": walls, "cpu_s": cpu_s, "jobs": jobs}))


if __name__ == "__main__":
    main()
