"""Fresh-seed differential-sim soak — the per-round chaos sweep.

Runs the heaviest seeded sim scenarios from tests/test_sim.py with
RANDOM seeds (the pytest matrix pins known-regression seeds; this
sweep hunts new ones). Every failure prints the scenario + seed so it
can be pinned into the matrix.

Usage: python scripts/sim_soak.py [n_seeds] [base_seed]
A fixed base_seed reproduces the whole sweep.
"""

from __future__ import annotations

import pathlib
import random
import shutil
import sys
import tempfile
import traceback

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from s2_spark.session import get_spark  # noqa: E402


def _linearizability_scenario(spark, tmp_path, seed):
    """Random-seed wrapper for the live concurrent Wing & Gong history
    (tests/test_linearizability.py pins two seeds; this sweeps fresh
    interleavings of the plain/CAS/fencing/trim client mix)."""
    import tests.test_linearizability as L
    from s2_spark.catalog import BasinConfig, Catalog
    from s2_spark.store import StreamStore

    cat = Catalog(spark)
    cat.create_basin(L.BASIN, BasinConfig(create_stream_on_append=True))
    cat.create_stream(L.BASIN, L.STREAM)
    store = StreamStore(spark, str(tmp_path / "records"), catalog=cat)
    L.test_concurrent_history_with_trims_linearizable(store, seed)


def _multi_stream_scenario(spark, tmp_path, seed):
    """Random-seed wrapper for the cross-stream isolation history:
    plain/CAS/fencing/trim clients on TWO streams of one store, each
    stream's Wing & Gong history checked independently (r12 — its
    first run found the shared-committer append race, fixed by the
    staged per-job parquet write)."""
    import tests.test_linearizability as L
    from s2_spark.catalog import BasinConfig, Catalog
    from s2_spark.store import StreamStore

    cat = Catalog(spark)
    cat.create_basin(L.BASIN, BasinConfig(create_stream_on_append=True))
    cat.create_stream(L.BASIN, L.STREAM)
    store = StreamStore(spark, str(tmp_path / "records"), catalog=cat)
    L.test_concurrent_multi_stream_histories_isolated(store, seed)


def _manifest_linearizability_scenario(spark, tmp_path, seed):
    """Random-seed wrapper for the under-compaction Wing & Gong history:
    the full client alphabet racing compaction churn. Readers pin a
    generation whose files compaction never deletes, so any read
    exception is a failure."""
    import tests.test_linearizability as L
    from s2_spark.catalog import BasinConfig, Catalog
    from s2_spark.store import StreamStore

    cat = Catalog(spark)
    cat.create_basin(L.BASIN, BasinConfig(create_stream_on_append=True))
    cat.create_stream(L.BASIN, L.STREAM)
    store = StreamStore(spark, str(tmp_path / "records"), catalog=cat)
    L._history_under_compaction(store, seed)


def _manifest_multi_stream_scenario(spark, tmp_path, seed):
    """Cross-stream isolation under compaction churn — every stream's
    appends serialize generation publishes on one manifest lock while
    compaction publishes remove-generations on the same log; each
    stream's Wing & Gong history checked independently, reads never
    retried."""
    import tests.test_linearizability as L

    L.test_concurrent_multi_stream_histories_manifest_under_compaction(
        spark, tmp_path, seed
    )


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    base = int(sys.argv[2]) if len(sys.argv) > 2 else random.SystemRandom().randrange(1 << 30)
    rng = random.Random(base)
    spark = get_spark("sim_soak", cpus=8, shuffle_partitions=8)

    import tests.test_sim as T

    scenarios = [
        ("crash_injection", T.test_sim_differential_with_crash_injection),
        ("dormancy_restart", T.test_sim_differential_with_dormancy_and_restart),
        ("source_exactly_once", T.test_sim_source_exactly_once_with_purges_restarts_rate_limits),
        ("sink_replay", T.test_sim_sink_replay_with_purges_and_trims),
        ("linearizability", _linearizability_scenario),
        ("multi_stream_linearizability", _multi_stream_scenario),
        ("bulk_unary_race", T.test_sim_bulk_unary_race),
        # r13: compaction chaos on the generation log
        ("manifest_compaction_crashes", T.test_sim_differential_with_compaction_crashes_manifest),
        ("manifest_compaction_bucketed", T.test_sim_differential_compaction_crashes_manifest_bucketed),
        ("manifest_append_during_churn", T.test_sim_append_during_compaction_churn_manifest),
        ("manifest_cc_no_pause", T.test_sim_compaction_during_cc_loop_manifest_no_pause),
        ("manifest_linearizability", _manifest_linearizability_scenario),
        ("manifest_multi_stream", _manifest_multi_stream_scenario),
        # r13: kill-point chaos for the staged multi-file append commit
        ("staged_append_kill_point", T.test_sim_staged_append_kill_point),
        # r14: multi-writer CAS publish protocol + vacuum grace boundary
        ("manifest_cas_two_writer", T.test_sim_manifest_cas_two_writer_publish_race),
        ("manifest_vacuum_grace", T.test_sim_manifest_vacuum_pinned_reader_grace),
        ("manifest_two_store_churn", T.test_sim_manifest_two_store_churn),
        # r15: multi-writer across OS processes (the topology the CAS
        # loop exists for — in-process mutexes protect nothing here)
        ("manifest_cas_multiprocess", T.test_sim_manifest_cas_multiprocess),
    ]
    print(f"sim_soak: {n} seeds per scenario, base_seed={base}", flush=True)
    failures = []
    for name, fn in scenarios:
        for _ in range(n):
            seed = rng.randrange(1 << 20)
            tmp = pathlib.Path(tempfile.mkdtemp(prefix=f"soak_{name}_"))
            try:
                fn(spark, tmp, seed)
                print(f"  ok   {name} seed={seed}", flush=True)
            except Exception:
                failures.append((name, seed))
                print(f"  FAIL {name} seed={seed}", flush=True)
                traceback.print_exc()
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
    if failures:
        print(f"FAILURES: {failures}")
        return 1
    print("sim_soak: all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
