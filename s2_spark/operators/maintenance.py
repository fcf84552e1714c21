"""Background maintenance jobs — the ``lite/src/backend/bgtasks/``
analogues, as scheduled Spark batch jobs:

- :func:`retention_sweep` — age-based TTL deletes (A17,
  ``stream_trim.rs`` TTL path; reference default 7 days).
- :func:`delete_on_empty_sweep` — fully-trimmed streams older than
  min_age get a terminal trim + deletion (A18, ``stream_doe.rs:50-143``).
- :func:`basin_deletion_sweep` — deleting a basin deletes its streams
  then the basin (A20, ``basin_deletion.rs:23-150``).

Each sweep is decoupled from the data plane exactly like the
reference's 60s-tick tasks: reads the catalog + tails, mutates
metadata, and delegates physical deletes to the store's compaction.

Driver-memory bound: sweeps page over their candidate streams
(``page_size`` at a time — the reference's resumable-cursor shape,
``basin_deletion.rs:23-150``), so a sweep over millions of streams
holds one page of (basin, stream, …) tuples on the driver and runs one
Spark aggregation per page, never one job per stream and never an
unbounded collect. The remaining O(streams) driver structure is the
catalog's metadata dict itself, which is the declared driver-resident
metadata store (SURVEY §1.1).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import functions as F

from s2_spark.catalog import Catalog
from s2_spark.model import trim_record
from s2_spark.store import StreamStore, _lit_rows_df

SWEEP_PAGE_SIZE = 10_000


def _paged(items: list, page_size: int) -> Iterator[list]:
    for i in range(0, len(items), page_size):
        yield items[i : i + page_size]


def _append_trim_commands(store: StreamStore, targets: list[tuple[str, str, int]]) -> None:
    """Durably advance trim points for many streams in ONE bulk append
    of in-band trim command records. Trims must ride the log (the
    reference's TTL task writes durable trim state, stream_trim.rs):
    mutating only the driver's hot-state cache would silently revert on
    dormancy eviction or restart, because recovery re-derives trim
    points from storage commands alone."""
    if not targets:
        return
    rows = [
        (
            basin,
            stream,
            None,
            [{"name": b"", "value": b"trim"}],
            point.to_bytes(8, "big"),
            i,
        )
        for i, (basin, stream, point) in enumerate(targets)
    ]
    df = store.spark.createDataFrame(
        rows,
        "basin string, stream string, timestamp long, "
        "headers array<struct<name binary, value binary>>, body binary, "
        "ingest_order long",
    )
    store.bulk_append(df)


def retention_sweep(
    store: StreamStore, now_ms: int | None = None, page_size: int = SWEEP_PAGE_SIZE
) -> int:
    """Advance trim points past expired records for every stream with a
    finite retention age; returns number of streams trimmed. Physical
    deletion happens at the next compaction.

    One Spark job per page for the candidate scan, plus one bulk append
    of in-band trim commands per page — the sweep's trims are DURABLE
    log records (like the reference's TTL trims), not volatile driver
    state, so they survive dormancy eviction and restarts and the
    compaction rewrite honors them."""
    now_ms = now_ms or store._clock()
    candidates = []
    for (basin, stream), meta in store.catalog.streams.items():
        if meta.deleted_at is not None:
            continue
        try:
            cfg = store.catalog.resolve_config(basin, stream)
        except Exception:
            continue
        age = cfg.retention_age_secs or 0
        if age > 0:
            candidates.append((basin, stream, now_ms - age * 1000))
    trimmed = 0
    for page in _paged(candidates, page_size):
        cutoffs = _lit_rows_df(
            store.spark,
            page,
            [("basin", "string"), ("stream", "string"), ("cutoff_ms", "long")],
        )
        rows = (
            store.records_df()
            .join(F.broadcast(cutoffs), ["basin", "stream"])
            .groupBy("basin", "stream")
            .agg(
                F.min(
                    F.when(F.col("timestamp") >= F.col("cutoff_ms"), F.col("seq_num"))
                ).alias("first_live"),
                (F.max("seq_num") + 1).alias("tail"),
            )
            .collect()
        )
        store._ensure_states([(r["basin"], r["stream"]) for r in rows])
        targets = []
        for r in rows:
            st = store._st(r["basin"], r["stream"])
            target = r["first_live"] if r["first_live"] is not None else r["tail"]
            if target > st.trim_point:
                targets.append((r["basin"], r["stream"], target))
        _append_trim_commands(store, targets)
        trimmed += len(targets)
    return trimmed


def delete_on_empty_sweep(
    store: StreamStore, now_ms: int | None = None, page_size: int = SWEEP_PAGE_SIZE
) -> list[str]:
    """Streams configured with delete_on_empty whose live range is empty
    and whose age exceeds min_age get deleted (terminal trim + catalog
    delete) — stream_doe.rs eligibility (streamer.rs:448-511).

    Candidates (configured + old enough) come from the catalog; each
    page runs one distributed pass counting visible envelope records
    ("empty" = every data record at/below the trim point; command
    records riding the log don't keep a stream alive)."""
    now_ms = now_ms or store._clock()
    from s2_spark.model import is_command_col

    candidates = []
    for (basin, stream), meta in list(store.catalog.streams.items()):
        if meta.deleted_at is not None:
            continue
        cfg = store.catalog.resolve_config(basin, stream)
        min_age = cfg.delete_on_empty_min_age_secs or 0
        if min_age <= 0 or now_ms - meta.created_at < min_age * 1000:
            continue
        candidates.append((basin, stream))
    deleted = []
    for page in _paged(candidates, page_size):
        store._ensure_states(page)
        trims = _lit_rows_df(
            store.spark,
            [(b, s, store._st(b, s).trim_point) for b, s in page],
            [("basin", "string"), ("stream", "string"), ("trim_point", "long")],
        )
        live = (
            store.records_df()
            .join(F.broadcast(trims), ["basin", "stream"])
            .filter((F.col("seq_num") >= F.col("trim_point")) & ~is_command_col())
            .groupBy("basin", "stream")
            .agg(F.count("*").alias("n"))
        )
        live_counts = {(r["basin"], r["stream"]): r["n"] for r in live.collect()}
        for basin, stream in page:
            st = store._st(basin, stream)
            if st.tail_seq > 0 and live_counts.get((basin, stream), 0) == 0:
                # terminal trim (u64::MAX clamps to tail) then delete
                store.append(basin, stream, [trim_record((1 << 64) - 1)])
                store.catalog.delete_stream(basin, stream)
                deleted.append(f"{basin}/{stream}")
    return deleted


def deletion_purge_sweep(store: StreamStore) -> list[str]:
    """Complete pending deletions: physically drop trimmed/expired data
    AND all records of deleted streams (compaction rewrite), then purge
    deleted basin/stream metadata so the names become creatable again —
    the final step of the reference's async deletion tasks. Until this
    runs, create on a deleted name raises DeletionPending.

    Deleted streams' data must go WITH the metadata: purging only the
    catalog entry would let a recreated stream of the same name recover
    the dead stream's records and tail instead of starting fresh at
    seq 0."""
    doomed = [
        (basin, stream)
        for (basin, stream), meta in store.catalog.streams.items()
        if meta.deleted_at is not None
    ]
    store.apply_trim_and_retention(drop_streams=doomed or None)
    return store.catalog.purge_deleted()


def basin_deletion_sweep(store: StreamStore) -> list[str]:
    """Finish async basin deletions: delete every live stream of a
    deleted basin (resumable-cursor semantics in the reference; one
    pass here). The trim-point advance here is volatile bookkeeping
    only, and that is sound: the basin is already deleted, so no read
    can reach these streams through the API regardless of trim state,
    and :func:`deletion_purge_sweep` physically drops their records
    (drop_streams) before the names become recreatable."""
    finished = []
    for name, meta in store.catalog.basins.items():
        if meta.deleted_at is None:
            continue
        for (basin, stream), smeta in list(store.catalog.streams.items()):
            if basin == name and smeta.deleted_at is None:
                smeta.deleted_at = store._clock()
                st = store._st(basin, stream)
                # under the meta lock: readers snapshot (tail, trim)
                # as an atomic pair (store._st_snapshot)
                with store._meta_mu:
                    st.trim_point = st.tail_seq
                finished.append(f"{basin}/{stream}")
    return finished
