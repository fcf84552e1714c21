"""The 12 headline registry queries on the sf0.01 fixtures, as one
phase of the ``batch`` workload.

``Suite.run_pass`` runs every query once through the ``noop`` sink, in
an order drawn from the seed. ``Suite.setup`` warms the suite up with
``WARM_PASSES`` such passes (pass times keep falling over the first two
after a cold start; a second warm pass did not fit the runs' time
budget). ``Suite.check``, outside every timed region,
collects every query's result to the driver, side by side, and
compares it with its DuckDB oracle through the repository's own
``tests/oracle.py``; the ``noop`` sink discards its rows, so the
collected results stand for the measured passes, which run the same
plans on the same tables.

The tables under ``fixtures/`` are byte-identical copies of the
seed-42 fixture sets the repository's tests run on
(``fixtures/SHA256SUMS``), so the benchmark reads nothing outside its
checkout.
"""

from __future__ import annotations

import importlib.util
import os
import time
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

from perfbench.common import Ctx
from perfbench.harness import INF

#: (label, registry name): bench.py's headline set, copied so that a
#: change to bench.py cannot change what this benchmark measures
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
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
#: the measured tables (at sf0.1 one pass of the suite takes longer
#: than a whole run on 4 cores), and the tiny ones of the smoke tests
SF_DIR = os.path.join(FIXTURES, "sf0.01")
SMOKE_DIR = os.path.join(FIXTURES, "sf0.001")
WARM_PASSES = 1


def _oracle():
    """The repository's DuckDB comparison harness, ``tests/oracle.py``,
    loaded by path so no other ``tests`` package can shadow it."""
    path = os.path.join(os.getcwd(), "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Suite:
    def setup(self, ctx: Ctx, rng) -> None:
        from s2_spark.registry import all_queries

        self.qs = all_queries()
        self.sf_dir = SF_DIR
        for _ in range(WARM_PASSES):
            order = HEADLINE[:]
            rng.shuffle(order)
            if any(b == INF for b, _e in self.run_pass(ctx, order, "warm").values()):
                raise RuntimeError("suite warm-up failed")

    def run_pass(self, ctx: Ctx, order: list[tuple[str, str]], tag: str = "query") -> dict[str, tuple[float, float]]:
        """Every query once, in ``order``, its jobs grouped under
        ``<tag>.<label>``; returns ``label -> (build_s, exec_s)``, with a
        failed query as ``(inf, 0)``."""
        out = {}
        for label, name in order:
            try:
                with ctx.group(f"{tag}.{label}"):
                    t0 = time.perf_counter()
                    df = self.qs[name].spark(ctx.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                out[label] = (t1 - t0, t2 - t1)
                ctx.ops.ok()
            except Exception as e:  # noqa: BLE001 - a failed query is data
                ctx.ops.fail(f"{label}: {type(e).__name__}: {e}")
                out[label] = (INF, 0.0)
        return out

    def check(self, ctx: Ctx) -> None:
        """Collect every result and compare it with its DuckDB oracle;
        a failed collect or a mismatch is a failed op."""
        oracle = _oracle()

        def collect(name: str):
            with ctx.group("query.check"):
                return self.qs[name].spark(ctx.spark, self.sf_dir).toPandas()

        with ThreadPoolExecutor(ctx.nproc) as pool:
            futures = [(label, name, pool.submit(collect, name)) for label, name in HEADLINE]
        con = oracle.duck_connect(self.sf_dir)
        try:
            for label, name, f in futures:
                try:
                    got = f.result()
                    # compare() collects through toPandas(); hand it the
                    # frame collected above
                    oracle.compare(SimpleNamespace(toPandas=lambda: got), con, self.qs[name].oracle)
                    ctx.ops.ok()
                except Exception as e:  # noqa: BLE001 - a mismatch asserts
                    ctx.ops.fail(f"{label}: {type(e).__name__}: {e}")
        finally:
            con.close()
