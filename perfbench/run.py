"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|batch --seed N \\
        --seconds S --trace 0|1

Run from the repository root. Sets up the workload once, from a cold
JVM (Spark session, fixtures, stores and warm-up), and reports that as
``setup_s``; measures for ``--seconds``, checks every output,
and prints as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics when
``--trace 0``, the per-layer metrics when ``--trace 1``. The line before
it holds the workload's own figures. Exits non-zero when an output is
wrong or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
DRIVER_MEMORY = "3g"
#: the run aborts (non-zero, no result) past this many seconds
RUN_LIMIT_S = 170


def _pin_env(tmp: str, nproc: int) -> None:
    """Pin what the run depends on before pyspark is imported."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # Python workers (the s2 streaming source) import s2_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")


def _spark_conf(tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _workload(name: str):
    if name == "serve":
        from perfbench.serve import Serve

        return Serve()
    if name == "batch":
        from perfbench.batch import Batch

        return Batch()
    raise SystemExit(f"unknown workload {name!r}")


def _span_cost_s() -> float:
    """Cost of one begin/end span pair, for the tracing overhead."""
    from perfbench.harness import Tracer

    tr, n = Tracer(True), 20_000
    t0 = time.perf_counter()
    for _ in range(n):
        tr.end(tr.begin("x"))
    return (time.perf_counter() - t0) / n


def measure(args, tmp: str, nproc: int) -> tuple[dict, dict, object]:
    """Set up, run and check one workload; returns ``(metrics, detail,
    ops)`` with ``metrics`` as ``name -> (value, unit)``."""
    from perfbench import eventlog, layers
    from perfbench.common import Ctx
    from perfbench.harness import Ops, Tracer
    from perfbench.metrics import END_TO_END, PER_LAYER
    from s2_spark.session import get_spark

    conf = _spark_conf(tmp, args.trace)
    if args.trace:
        os.makedirs(os.path.join(tmp, "eventlog"), exist_ok=True)
    wl = _workload(args.workload)
    # one set-up per process: only the first starts the JVM, so a
    # repeat in the same process would time a warm one
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=nproc, shuffle_partitions=nproc, extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    ctx = Ctx(spark, args.seed, args.seconds, tmp, nproc, Tracer(bool(args.trace)))
    wl.setup(ctx)
    setup_s = time.perf_counter() - t0
    ctx.ops = Ops()

    restore = layers.install(ctx.tracer) if args.trace else None
    t0 = time.perf_counter()
    try:
        out = wl.run(ctx)
    finally:
        if restore:
            restore()
    wall = time.perf_counter() - t0
    app_id = ctx.spark.sparkContext.applicationId
    ctx.spark.stop()

    detail = {
        "workload": args.workload, "seed": args.seed,
        "ops_failed_ratio": ctx.ops.failed / max(1, ctx.ops.attempted),
        "setup_s": setup_s, **out["detail"],
    }
    if ctx.ops.errors:
        detail["errors"] = ctx.ops.errors
    if args.trace:
        groups = eventlog.fold_dir(os.path.join(tmp, "eventlog"), app_id, ctx.group_aliases)
        metrics, declared = _per_layer(ctx, out, groups, get_spark_s, wall), PER_LAYER
    else:
        metrics, declared = {"setup_s": setup_s, **out["e2e"]}, END_TO_END
    if set(metrics) != set(declared):
        raise RuntimeError(f"metrics differ from the declared set: {sorted(set(metrics) ^ set(declared))}")
    return {k: (metrics[k], declared[k][0]) for k in declared}, detail, ctx.ops


def _per_layer(ctx, out: dict, groups: dict, get_spark_s: float, wall: float) -> dict:
    """Every declared per-layer metric: spans, the workload's own
    figures and the event-log groups; layers the workload did not touch
    read 0."""
    from perfbench import layers
    from perfbench.metrics import HEADLINE_LABELS, PER_LAYER, SPARK_FIELDS, SPARK_GROUPS

    layer = dict.fromkeys(PER_LAYER, 0.0)
    layer["session.get_spark_s"] = get_spark_s
    layer.update(layers.span_metrics(ctx.tracer))
    layer.update(out["layer"])
    group = lambda g: groups.get(g, {})  # noqa: E731
    for g in SPARK_GROUPS:
        for f in SPARK_FIELDS:
            layer[f"spark.{g}.{f}"] = group(g).get(f, 0)
    if out.get("appends"):
        layer["store.append.spark_jobs"] = group("serve.append").get("jobs", 0) / out["appends"]
        n_reads = len(ctx.tracer.by_name("store.read"))
        layer["store.read.tasks"] = group("serve.tail").get("tasks", 0) / max(1, n_reads)
    if out.get("passes"):
        for label in HEADLINE_LABELS:
            layer[f"suite.{label}.jobs"] = group(f"query.{label}").get("jobs", 0) / out["passes"]
            layer[f"suite.{label}.exec_cpu_s"] = group(f"query.{label}").get("exec_cpu_s", 0) / out["passes"]
    layer["harness.tracing_overhead_pct"] = 100.0 * len(ctx.tracer.spans) * _span_cost_s() / wall
    return layer


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "s2_spark")):
        print(f"perfbench: no s2_spark package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    _pin_env(tmp, nproc)
    sys.path.insert(0, ROOT)

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(RUN_LIMIT_S)
    try:
        metrics, detail, ops = measure(args, tmp, nproc)
    except Exception:  # noqa: BLE001 - report any failure as a non-zero exit
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        _stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still uses it, or it is already gone
    correct = ops.failed == 0
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def _stop_spark() -> None:
    """Stop any live session, then the JVM, and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
