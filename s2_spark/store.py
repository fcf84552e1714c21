"""StreamStore — the batch data plane: append / read / check_tail /
trim / fence / list, with S2's exact semantics re-expressed on Spark.

Architecture (vs the reference):

- The reference serializes all per-stream work in a dedicated actor
  (``lite/src/backend/streamer.rs``). Here the per-stream hot state
  (tail, fencing token, trim point, running max timestamp) is a small
  driver-side dict — the actor's memoized slot. A unary append writes
  one parquet file from the driver (the durability boundary, like a
  SlateDB WriteBatch commit) and live followers are served from an
  in-memory broadcast of the latest batches, so the unary serve path
  runs no Spark job; every other data movement is a DataFrame: bulk
  appends are a Spark write, reads are pushed-down parquet scans.
- API appends (≤1000 records / ≤1 MiB, ``common/src/caps.rs``) are
  sequenced under the single-writer discipline exactly like the actor;
  the distributed scale path is :meth:`bulk_append`, which sequences
  arbitrary-size ingest with a per-stream window + tails join — that is
  what a 1000-executor backfill uses.
- Reads never collect: they return DataFrames whose filters (stream,
  seq range, trim point, retention age, until-timestamp) all reach the
  parquet scan, and whose bytes-limit is a per-stream cumulative-sum
  window (the reference's ``EvaluatedReadLimit`` state machine,
  ``common/src/read_extent.rs:18-137``, as one window expression).
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, Row, SparkSession, Window as W
from pyspark.sql import functions as F

from s2_spark.catalog import Catalog
from s2_spark.model import (
    MAX_BATCH_METERED_BYTES,
    MAX_BATCH_RECORDS,
    MAX_FENCING_TOKEN_BYTES,
    MAX_RECORD_METERED_BYTES,
    BatchTooLarge,
    ClientTimestampRequired,
    FencingTokenMismatch,
    InvalidRecord,
    RangeNotSatisfiable,
    Record,
    RECORD_SCHEMA,
    SeqNumMismatch,
    arrow_record_schema,
    command_col,
    is_command_col,
    metered_size_bytes,
    metered_size_col,
    trim_point_col,
)


def _pid_alive(pid: int) -> bool:
    """True if ``pid`` is a live process on THIS host (signal-0 probe;
    EPERM means alive-but-not-ours). Vacuum's stage sweep uses it to
    skip another live process's in-flight staging dir."""
    if pid <= 0:
        return False
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:  # pragma: no cover - alive, other user
        return True


def _lit_rows_df(spark: SparkSession, rows: list[tuple], fields: list[tuple[str, str]]) -> DataFrame:
    """Tiny driver-literal DataFrame WITHOUT a Python RDD: an inline'd
    array of struct literals — a pure JVM-local plan. Broadcasting one
    of these inside the append plan costs microseconds; the
    ``createDataFrame(list)`` alternative scans a Python RDD (spinning
    up Python workers) on every use, which at small batch sizes cost
    more than the append itself.

    ``fields`` is ``[(name, sql_type), ...]``; values are cast to the
    declared type so int literals become longs etc. Row sets past a few
    hundred switch to an Arrow-backed local relation (pandas →
    createDataFrame) — still no Python workers, and a giant literal
    plan would bloat analysis instead.
    """
    ddl = ", ".join(f"{n} {t}" for n, t in fields)
    if not rows:
        # empty: inline(array()) has no element type — use an empty
        # relation with the declared schema instead
        return spark.createDataFrame(rows, ddl)
    if len(rows) > 256:
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=[n for n, _ in fields])
        return spark.createDataFrame(pdf, ddl)
    structs = [
        F.struct(*[F.lit(v).cast(t).alias(n) for v, (n, t) in zip(r, fields)])
        for r in rows
    ]
    return spark.range(1).select(F.inline(F.array(*structs)))


@dataclass
class AppendAck:
    """(start, end, tail) positions (streamer.rs:1010-1070)."""

    start_seq: int
    end_seq: int  # exclusive
    tail_seq: int
    start_ts: int
    end_ts: int


@dataclass
class AppendInput:
    """One pipelined append-session input: a batch plus its conditions
    (lite/tests/backend/data_plane/append.rs AppendInput)."""

    records: list
    match_seq_num: Optional[int] = None
    fencing_token: Optional[str] = None


@dataclass
class ReadStart:
    """One-of start spec (api/src/v1/stream/mod.rs:133-167)."""

    seq_num: Optional[int] = None
    timestamp: Optional[int] = None  # ms; first record with ts >= t
    tail_offset: Optional[int] = None
    clamp: bool = False


@dataclass
class ReadLimit:
    """count/bytes/until bounds (common/src/read_extent.rs)."""

    count: Optional[int] = None
    bytes: Optional[int] = None  # metered bytes
    until: Optional[int] = None  # exclusive ts bound (ms)


@dataclass(frozen=True)
class LastEventId:
    """SSE resume token: ``seq_num,count,bytes`` where count/bytes are
    the cumulative records/metered-bytes already delivered for the
    original request (api/src/v1/stream/sse.rs:10-73). Resuming starts
    at seq_num+1 with the original limits decremented by count/bytes
    (lite/src/handlers/v1/records.rs:49-65)."""

    seq_num: int
    count: int
    bytes: int

    def __str__(self) -> str:
        return f"{self.seq_num},{self.count},{self.bytes}"

    @classmethod
    def parse(cls, s: str) -> "LastEventId":
        seq, count, nbytes = s.split(",", 2)
        return cls(int(seq), int(count), int(nbytes))


@dataclass(frozen=True)
class SessionEvent:
    """One read-session output: a delivered batch, a heartbeat (ping
    with the current tail), matching StoredReadSessionOutput
    (lite/src/backend/read.rs:183-240)."""

    kind: str  # "batch" | "heartbeat"
    records: tuple = ()
    tail: int = 0
    last_event_id: Optional[LastEventId] = None  # batch events only


# the Row shapes a storage read's collect() returns: the follow
# broadcast hands followers the same objects
_HeaderRow = Row("name", "value")
_RecordRow = Row(*RECORD_SCHEMA.names)
_BucketedRecordRow = Row(*RECORD_SCHEMA.names, "bucket")

#: unary batches a live follower may lag and still be served from the
#: in-memory follow broadcast (lite/src/backend/mod.rs:27)
FOLLOWER_MAX_LAG = 25

#: the largest snapshot, in uncompressed parquet bytes summed from the
#: consumed files' row-group footers, that :meth:`StreamStore.compact`
#: merges on the driver with pyarrow; a larger one runs the Spark plan,
#: the only writer that can compact a store larger than driver memory
DRIVER_COMPACT_MAX_BYTES = 64 * MAX_BATCH_METERED_BYTES


@dataclass
class _StreamState:
    """The streamer actor's hot state (streamer.rs:55, core.rs:101-161)."""

    tail_seq: int = 0
    last_ts: int = 0
    fencing_token: str = ""
    trim_point: int = 0
    # the follow broadcast (read.rs:183-240, streamer.rs:571-611): the
    # Rows of the last FOLLOWER_MAX_LAG unary batches, one tuple per
    # batch, replaced whole under the meta lock. Valid only while its
    # last record is tail_seq - 1; a tail advanced any other way
    # (bulk_append) leaves it stale, and a recovered or evicted state
    # starts without one
    follow: tuple = field(default=(), compare=False, repr=False)


class StreamStore:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        catalog: Catalog | None = None,
        clock=None,
        bucket_count: int = 0,
        manifest_backend=None,
    ):
        """``bucket_count > 0`` enables the partitioned physical layout:
        records land under ``bucket=crc32(basin\\0stream) % N`` directory
        partitions (the Spark analogue of the reference's 32-byte
        StreamId key prefix, lite/src/stream_id.rs:21-34). Single-stream
        reads then touch exactly one partition directory — partition
        pruning does what the LSM key-range seek does. CRC32 is used
        because Python (zlib.crc32) and Spark (F.crc32) agree on it, so
        both the driver-side and distributed paths compute the same
        bucket.

        Visibility is defined by the manifest-MVCC generation log
        (:mod:`s2_spark.manifest`), never by a directory listing:
        appends and compactions commit by atomically publishing a
        generation (multi-writer-safe via the CAS publish loop), a
        compaction's consumed files stay on disk for in-flight readers,
        and delisted files are garbage-collected by :meth:`vacuum`.
        Opening a directory with no generation log starts the log with
        an empty generation 0, so record files a crashed first commit
        left behind stay invisible orphans for :meth:`vacuum`. A
        directory that holds record files but no log is foreign (or
        predates the log) and is refused with a ``RuntimeError``.

        ``manifest_backend`` swaps the WHOLE store's storage
        (:class:`s2_spark.manifest.LocalBackend` by default): since
        r15 the backend carries the generation log (conditional-PUT
        publishes), the record data plane (Spark read/write locations,
        staged-part finalize, vacuum deletes, the orphan sweep), and
        the control plane (catalog metadata, purge tombstones) — a
        whole-store object deployment swaps this one object
        (:class:`~s2_spark.manifest.SandboxObjectBackend` is the test
        double). Split deployments (log in an object store, data on a
        shared filesystem — :class:`~s2_spark.manifest
        .InMemoryCASBackend`'s shape) remain supported: the data-plane
        methods delegate to the local filesystem."""
        from s2_spark import manifest as _mf

        self.spark = spark
        self.base_dir = base_dir
        self._mf_backend = manifest_backend or _mf.LOCAL
        if manifest_backend is None and _mf.has_external_backend_marker(
            base_dir
        ):
            # this directory's generation log lives in a NON-local
            # backend: opening it without that backend would start an
            # empty local log and hide every record — fail loudly
            # instead
            raise RuntimeError(
                f"store {base_dir!r} uses an external manifest backend "
                f"(marker {_mf.EXTERNAL_BACKEND_MARKER!r}); pass the "
                f"matching manifest_backend to open it"
            )
        if not _mf.is_manifest_store(base_dir, self._mf_backend):
            # every store writes its log before its first record file,
            # so record files with no log are not this store's: refuse.
            # The log re-check after the walk lets a concurrent open of
            # the same fresh directory (which may already have written
            # generation 0 and appended) through.
            if any(
                rel.endswith(".parquet")
                for rel, _mt in self._mf_backend.walk_files(base_dir)
            ) and not _mf.is_manifest_store(base_dir, self._mf_backend):
                raise RuntimeError(
                    f"store {base_dir!r} holds record files but no "
                    f"generation log (foreign or pre-log data); refusing "
                    f"to open it"
                )
            _mf.write_gen(base_dir, 0, [], [], None, backend=self._mf_backend)
        if manifest_backend is not None and not getattr(
            manifest_backend, "is_local", False
        ):
            # breadcrumb for path-only readers (streaming footer
            # scanner) and backend-less reopens: the visibility log is
            # not on the local filesystem. An explicitly passed LOCAL
            # backend must NOT drop it — the log IS reachable by path,
            # and the marker would permanently lock out backend-less
            # reopens (ADVICE r14)
            _mf.mark_external_backend(base_dir)
        # cache of the current (generation, visible relpaths).
        # Guarded by _manifest_mu; gen None = not yet folded from disk
        self._manifest_mu = threading.Lock()
        self._mf_gen: int | None = None
        self._mf_files: set[str] = set()
        # default catalog persists its metadata under the store's own
        # directory (underscore prefix → invisible to parquet listings),
        # so basins/streams/configs survive a session restart alongside
        # the record data (kv/mod.rs:55-95 BasinMeta/StreamMeta)
        self.catalog = catalog or Catalog(
            spark,
            meta_dir=os.path.join(base_dir, "_meta"),
            # control plane rides the same backend as records: a store
            # living in a bucket keeps basins/streams/configs there too
            backend=self._mf_backend,
        )
        self._clock = clock or (lambda: int(time.time() * 1000))
        self.bucket_count = bucket_count
        # store-wide metadata lock guarding the hot-state dicts
        # (_state/_touched_ms/_evicted) — concurrent appends to
        # DIFFERENT streams share these dicts, and unsynchronized
        # mutation during evict_dormant's sweep iteration is a
        # "dictionary changed size during iteration" crash. RLock:
        # _st runs the sweep inline. Never held across Spark actions
        # (recovery collects happen outside, then insert-if-absent).
        self._meta_mu = threading.RLock()
        self._state: dict[tuple[str, str], _StreamState] = {}
        # per-stream writer lock — the actor's serialization discipline
        # (lite/src/backend/core.rs:214-298): concurrent appends to one
        # stream commit one at a time; different streams proceed in
        # parallel
        self._locks: dict[tuple[str, str], threading.Lock] = defaultdict(threading.Lock)
        # physical-rewrite latch: compaction, retention and vacuum
        # serialize on it within this process
        self._rewrite_mu = threading.RLock()
        os.makedirs(base_dir, exist_ok=True)
        # snapshot cache, keyed by the bucket hint (None = the full
        # table; single-stream reads add one pruned snapshot per
        # touched bucket). One epoch fences all.
        self._records_cache: dict[int | None, tuple[DataFrame, frozenset]] = {}
        # epoch fencing for the snapshot cache: bumped by every
        # invalidation so a reader that started FOLDING before a
        # concurrent append cannot cache its pre-append snapshot after
        # the append's invalidation ran (the lost-invalidation race —
        # every later read would silently serve a snapshot missing the
        # acked records; found by the round-11 linearizability soak)
        self._records_epoch = 0
        self._records_mu = threading.Lock()
        # Hot state is recovered LAZILY, per touched stream: a store
        # opened over existing data probes storage on a stream's first
        # touch (never silently restarting it at seq 0), and only
        # touched streams occupy driver memory — the reference's
        # actor-cache shape with its 60 s dormancy eviction
        # (streamer.rs:55) rather than an eager all-streams scan. A store
        # opened over no visible file has nothing to probe.
        self._probe_unknown_streams = bool(self._manifest_current()[1])
        self._evicted: set[tuple[str, str]] = set()
        self._touched_ms: dict[tuple[str, str], int] = {}
        self._last_sweep_ms = 0
        # prefixes with record-derived views attached; every
        # write-side invalidation re-attaches these (the views snapshot
        # one generation's file list)
        self._attached_view_prefixes: set[str] = set()
        # ops audit meta-stream: one row per served read / session /
        # control op — the input the read-side metric sets aggregate
        # (api/src/v1/metrics.rs:110-130 ReadOps/ReadThroughput/BasinOps).
        # Bound to this store, so flushes append to the reserved
        # s2-ops-audit/ops stream through the store's own data plane
        # (dogfooding: audit inherits sequencing/retention/read).
        from s2_spark.operators.audit import OpsAudit

        self.audit = OpsAudit(spark, self, self._clock)
        if self.catalog.audit is None:
            self.catalog.audit = self.audit

    # --- state ----------------------------------------------------------

    DORMANT_STREAM_MS = 60_000  # actor dormancy eviction (streamer.rs:55)

    def _st(self, basin: str, stream: str) -> _StreamState:
        key = (basin, stream)
        now = self._clock()
        need_recover = False
        with self._meta_mu:
            if now - self._last_sweep_ms >= self.DORMANT_STREAM_MS:
                self._last_sweep_ms = now
                self.evict_dormant()
            st = self._state.get(key)
            if st is None:
                if self._probe_unknown_streams or key in self._evicted:
                    need_recover = True  # Spark collect — not under the lock
                else:
                    st = _StreamState()
                    self._state[key] = st
            self._touched_ms[key] = now
        if need_recover:
            rec = self._recover([key]).get(key, _StreamState())
            with self._meta_mu:
                # insert-if-absent: a concurrent touch may have recovered
                # (and even advanced) this stream already — keep theirs
                st = self._state.setdefault(key, rec)
                self._evicted.discard(key)
                self._touched_ms[key] = self._clock()
        return st

    def evict_dormant(self, max_age_ms: int | None = None) -> int:
        """Drop hot state for streams untouched for ``max_age_ms`` —
        bounding driver memory to live streams (streamer.rs:55). State
        is always re-derivable from storage, so the next touch of an
        evicted stream recovers it lazily."""
        max_age = self.DORMANT_STREAM_MS if max_age_ms is None else max_age_ms
        now = self._clock()
        n = 0
        with self._meta_mu:
            for key in [
                k for k, t in list(self._touched_ms.items()) if now - t >= max_age
            ]:
                lk = self._locks.get(key)
                if lk is not None and lk.locked():
                    continue  # append in flight — not dormant
                self._state.pop(key, None)
                self._touched_ms.pop(key, None)
                self._evicted.add(key)
                n += 1
        return n

    # --- manifest-MVCC visibility -----------------------------------------

    def _manifest_current(self, refresh: bool = False) -> tuple[int, frozenset]:
        """Current (generation, visible relpath set), folding the log on
        first touch and served from the in-process cache afterwards.
        The cache is write-through for this store's own publishes and
        absorbs OTHER writers' generations whenever a publish loses a
        CAS round (the retry re-folds); ``refresh=True`` forces a
        re-fold for readers that must observe concurrent writers'
        commits without publishing anything themselves."""
        from s2_spark import manifest as _mf

        with self._manifest_mu:
            if self._mf_gen is None or refresh:
                self._mf_gen, self._mf_files = _mf.fold(
                    self.base_dir, self._mf_backend
                )
            return self._mf_gen, frozenset(self._mf_files)

    def manifest_refresh(self) -> int:
        """Re-fold the generation log and drop cached listings — makes
        generations published by OTHER writers (concurrent jobs on the
        same store directory, committing through the CAS loop) visible
        to this store's subsequent reads. Returns the generation seen.
        A single-writer store never needs this; its cache is
        write-through.

        Hot stream state (tails) is evicted too: reads serve exactly
        the ``[trim, tail)`` snapshot, so a stale cached tail would
        hide another writer's records even after the file list
        refreshed. Eviction follows the dormancy discipline (streams
        with an append in flight are skipped — their state advances
        past the refresh anyway), and unknown streams re-probe
        storage on next touch."""
        # the frozenset returned by _manifest_current was captured
        # inside _manifest_mu — never re-read self._mf_files here,
        # where a concurrent publish's cache write would race it
        gen, files = self._manifest_current(refresh=True)
        self._invalidate_records()
        self.evict_dormant(max_age_ms=0)
        with self._meta_mu:
            self._probe_unknown_streams = self._probe_unknown_streams or bool(
                files
            )
        return gen

    def _manifest_publish(self, add=(), remove=(), require_visible=False) -> int:
        """Publish generation N+1 — THE commit point for appends and
        compactions. One atomic create-if-absent through
        the publish backend (:func:`s2_spark.manifest.publish` CAS
        loop); data files named by ``add`` become visible and
        ``remove`` files invisible in the same instant, for every
        reader whose listing starts after this returns (in-flight
        readers keep their pinned generation's files, which stay on
        disk until :meth:`vacuum`). A concurrent writer on the same
        directory loses at most the CAS round, never the commit —
        plain appends commute; delisting publishes pass
        ``require_visible=True`` and surface
        :class:`~s2_spark.manifest.PublishConflict` when a racing
        publish consumed their inputs (the caller re-plans). The
        entry's ``ts_ms`` (this store's clock) is the delist time
        vacuum's grace window runs on."""
        from s2_spark import manifest as _mf

        with self._manifest_mu:
            known = (
                (self._mf_gen, set(self._mf_files))
                if self._mf_gen is not None
                else None
            )
            gen, files = _mf.publish(
                self.base_dir,
                add,
                remove,
                require_visible=require_visible,
                known=known,
                ts_ms=self._clock(),
                backend=self._mf_backend,
            )
            self._mf_gen, self._mf_files = gen, files
            return gen

    def vacuum(
        self,
        grace_ms: int = 15 * 60 * 1000,
        log_entry_grace_ms: int = 3_600_000,
        stage_grace_ms: int | None = None,
    ) -> int:
        """Garbage collection, driven by the generation
        LOG: the ``remove`` entries name every delisted file together
        with its delist time (the publishing generation's ``ts_ms``),
        so the hot path deletes from the log — no directory walk, no
        file mtimes (object stores cannot set them) — and entries
        whose files still await grace keep their log record alive
        across the prune (``keep_gens``). A bounded walk remains only
        for ORPHANS: files a crashed writer staged and renamed in but
        never published — invisible to every reader from birth and
        absent from the log, aged by their own write time (object
        creation time on an object store). Returns files deleted.

        The grace window is the reader-pinning contract: an in-flight
        DataFrame holds the file list of the generation it started on,
        so ``grace_ms`` must exceed the longest batch plan you run
        against a live store (at 1000-executor scale this would be a
        lease registry; a retention horizon is the standard practical
        answer). It also covers the append path's tiny
        rename-into-place → publish window. Delist ages are measured
        on the store's own clock against the PUBLISHING writer's
        ``ts_ms`` stamp — on a single-writer directory the same
        clock; on a SHARED directory another writer's clock, so
        cross-writer skew directly shrinks (or inflates) the grace
        window for files that writer delisted. The deployment
        contract is NTP-class skew ≪ ``grace_ms``; pad ``grace_ms``
        by the worst skew you tolerate (the reference carries the
        same assumption in its retention clocks). Orphan/stage ages
        run on wall clock, their only timestamp.

        ``log_entry_grace_ms`` bounds how young a log entry may be
        pruned (:func:`s2_spark.manifest.prune_log` — recycling a
        fresh generation number is what would re-open the publish
        resurrection race). ``stage_grace_ms`` is the sweep horizon
        for stranded ``_stage-*`` dirs — it defaults to
        ``max(grace_ms, 1h)`` because another LIVE process's
        compaction Spark write may legitimately run longer than the
        file grace, and its stage dir is additionally skipped
        outright while that pid is alive on this host. Runs under
        the rewrite latch so it never races a compaction's own
        staging."""
        from s2_spark import manifest as _mf

        # FRESH fold, never the write-through cache: on a shared
        # directory another writer's files are live-but-absent from a
        # stale cache — the orphan sweep would delete acked head-visible
        # records, and a delisted-within-grace file still present in the
        # stale `visible` would lose its delist record to the prune
        # (code-review r14, acked-data-loss class)
        _, visible = self._manifest_current(refresh=True)
        bk = self._mf_backend
        now_ms = self._clock()
        wall_ms = int(time.time() * 1000)
        removed = 0
        with self._rewrite_mu:
            # reader leases trump the grace clock: a lease pinning
            # generation G keeps every file delisted by a LATER
            # generation (it was visible at G), however old the delist.
            # Expired leases (crashed readers) are GC'd by this call.
            lease_floor = _mf.active_lease_floor(
                self.base_dir, now_ms, self._mf_backend
            )
            delisted: set[str] = set()
            pending_gens: set[int] = set()
            for gen, rel, ts in _mf.delisted_entries(
                self.base_dir, self._mf_backend
            ):
                delisted.add(rel)
                if rel in visible:
                    continue  # re-added by a later generation — live
                p = os.path.join(self.base_dir, rel)
                if not bk.exists(p):
                    continue  # already vacuumed
                if lease_floor is not None and gen > lease_floor:
                    pending_gens.add(gen)  # pinned by an active lease
                elif now_ms - ts >= grace_ms:
                    bk.delete(p)
                    removed += 1
                else:
                    # within grace: the file stays, and so must its
                    # delist record (the only copy of the delist time)
                    pending_gens.add(gen)
            # orphan sweep: one recursive LIST through the backend —
            # files never published (crashed writer) age by their own
            # write time (object creation time on an object store)
            for rel, mt in bk.walk_files(self.base_dir):
                if not rel.endswith(".parquet"):
                    continue
                if rel in visible or rel in delisted:
                    continue  # live, or the log path owns it
                if wall_ms - mt >= grace_ms:
                    bk.delete(os.path.join(self.base_dir, rel))
                    removed += 1
            # stage dirs stranded by a crashed process (invisible to
            # every reader; their files were never published). Swept on
            # a DEDICATED horizon ≥1h — another live process's
            # compaction Spark write may legitimately outlive the file
            # grace, and rmtree'ing its in-flight stage fails that
            # rewrite. On a LOCAL backend a dir whose embedded pid
            # (stage names are `_stage-{pid}-{uuid}` /
            # `_compact-stage-{pid}-{uuid}`) is still alive on this
            # host is never touched regardless of age; on a non-local
            # backend the stages live in the shared bucket where a pid
            # means nothing across hosts, so only the long horizon
            # protects in-flight cross-host rewrites — keep
            # stage_grace_ms above your longest compaction write
            # (code-review r15)
            stage_grace = (
                stage_grace_ms
                if stage_grace_ms is not None
                else max(grace_ms, 3_600_000)
            )
            for entry in bk.list_data_dir(self.base_dir):
                if entry.startswith(("_stage-", "_compact-stage-")):
                    p = os.path.join(self.base_dir, entry)
                    m = re.search(r"stage-(\d+)-", entry)
                    if bk.data_is_local and m and _pid_alive(int(m.group(1))):
                        continue  # owner still running: in flight
                    mt = bk.mtime_ms(p)
                    if mt is not None and wall_ms - mt >= stage_grace:
                        bk.remove_tree(p)
            _mf.prune_log(
                self.base_dir,
                self._mf_backend,
                keep_gens=pending_gens,
                now_ms=now_ms,
                entry_grace_ms=log_entry_grace_ms,
            )
        return removed

    def reader_lease(self, ttl_ms: int = 15 * 60 * 1000):
        """Context manager pinning the CURRENT generation against
        :meth:`vacuum` — the lease-registry answer to reader pinning
        that a fixed grace window only approximates (a fixed horizon is
        either wastefully long or silently short for a 1000-executor
        batch plan). While the lease is active, vacuum keeps every file
        delisted by a generation NEWER than the pinned one, regardless
        of delist age; the grace window still covers lease-less
        readers. Leases are crash-safe advisory objects: a reader that
        dies without releasing delays GC by at most ``ttl_ms`` (vacuum
        garbage-collects expired leases). Yields the pinned generation.

        Usage::

            with store.reader_lease(ttl_ms=2 * 3600 * 1000):
                df = store.read(basin, stream)
                ...  # hours-long plan; vacuum cannot pull its files
        """
        from contextlib import contextmanager

        from s2_spark import manifest as _mf

        @contextmanager
        def _lease():
            # pin a FRESH generation: a stale cached one may already
            # have been compacted past and its files vacuumed — a lease
            # on it would promise protection for files already gone.
            # Files delisted between this fold and the acquire are
            # still inside the grace window, which covers the gap.
            gen, _ = self._manifest_current(refresh=True)
            lease_id = _mf.acquire_lease(
                self.base_dir, gen, ttl_ms,
                now_ms=self._clock(), backend=self._mf_backend,
            )
            try:
                yield gen
            finally:
                _mf.release_lease(self.base_dir, lease_id, self._mf_backend)

        return _lease()

    def _bucket_of(self, basin: str, stream: str) -> int:
        import zlib

        return zlib.crc32(f"{basin}\x00{stream}".encode()) % self.bucket_count

    def records_df(self, bucket: int | None = None) -> DataFrame:
        """The raw records table (commands included, trim not applied)
        over the current generation's visible files — the relation of
        :meth:`_records_snapshot`. Every read path goes through here."""
        return self._records_snapshot(bucket)[0]

    def _records_snapshot(
        self, bucket: int | None = None
    ) -> tuple[DataFrame, frozenset]:
        """``(records DataFrame, visible relpaths it lists)`` for one
        generation. In bucketed layout the partition column rides along
        so stream filters prune directories. With no visible file the
        relation is the empty, schema-pinned one (the bucket column
        included, so an empty plan can still ``partitionBy``).

        ``bucket`` prunes the EXPLICIT file list to one ``bucket=N``
        subtree before the reader is built: a read names every visible
        file up front, and building a relation over thousands of paths
        to then read one bucket measurably taxes single-stream reads
        (2M-record experiment: 3.2 s -> sub-second pre-compaction).

        The file list is an immutable snapshot of one generation: no
        write moves a file a plan has captured (delisted files outlive
        in-flight plans until :meth:`vacuum`), and the relpath set is
        exactly what a rewrite built on the DataFrame consumes
        (:meth:`_rewrite`). The pair is cached between writes: every
        append/compaction of this store invalidates it
        (:meth:`_invalidate_records`), so read-heavy paths — follow
        sessions polling for new batches above all — skip a rebuild per
        call. The cache is keyed by the bucket hint (one snapshot per
        touched bucket, all fenced by the same epoch)."""
        cached = self._records_cache.get(bucket)
        if cached is not None:
            return cached
        epoch = self._records_epoch  # BEFORE the fold starts
        if self.bucket_count:
            from pyspark.sql import types as T

            schema = T.StructType(
                RECORD_SCHEMA.fields + [T.StructField("bucket", T.IntegerType(), True)]
            )
        else:
            schema = RECORD_SCHEMA
        _, visible = self._manifest_current()
        if bucket is not None:
            prefix = f"bucket={bucket}{os.sep}"
            visible = frozenset(rel for rel in visible if rel.startswith(prefix))
        if not visible:
            df = self.spark.createDataFrame([], schema)
        else:
            # spark_path maps each visible file to the location Spark
            # reads it from — identity locally, the object location
            # (s3a-style URL) on an object-store backend. basePath keeps
            # the bucket=N partition-column inference of a directory
            # read.
            bk = self._mf_backend
            paths = [
                bk.spark_path(os.path.join(self.base_dir, rel))
                for rel in sorted(visible)
            ]
            df = (
                self.spark.read.option("basePath", bk.spark_path(self.base_dir))
                .schema(schema)
                .parquet(*paths)
            )
        snap = (df, visible)
        # cache only if no writer invalidated while we folded: a df
        # that raced an append is still fine for THIS caller (its read
        # is concurrent with that append and may linearize first) but
        # must never become the served snapshot for reads that start
        # after the append acked
        with self._records_mu:
            if self._records_epoch == epoch:
                self._records_cache[bucket] = snap
        return snap

    def _invalidate_records(self) -> None:
        with self._records_mu:
            self._records_epoch += 1
            self._records_cache = {}
        # the SQL views snapshot one generation's file list (a raw path
        # view would double-count delisted files), so each write-side
        # invalidation re-attaches them
        if self._attached_view_prefixes:
            for prefix in list(self._attached_view_prefixes):
                self.attach_views(prefix)

    #: the hot-state columns of :meth:`_state_agg` (plus the key)
    _STATE_COLS = ("basin", "stream", "tail_seq", "last_ts", "fence_token", "trim_point")

    @staticmethod
    def _state_agg(df: DataFrame) -> DataFrame:
        """The one per-stream state aggregation: tail, last ts, latest
        fence token, monotone trim point (core.rs:101-161,
        streamer.rs:369-389), and the seqs of the commands defining the
        last two, which trim/retention keeps. Callers selecting only
        :attr:`_STATE_COLS` get the rest pruned by the optimizer."""
        cmd, tp, seq = F.col("_cmd"), F.col("_tp"), F.col("seq_num")
        fence_seq = F.when(cmd == "fence", seq)
        return (
            df.withColumn("_cmd", command_col())
            .withColumn("_tp", F.when(cmd == "trim", trim_point_col()))
            .groupBy("basin", "stream")
            .agg(
                (F.max("seq_num") + 1).alias("tail_seq"),
                F.max("timestamp").alias("last_ts"),
                F.max_by(
                    F.when(cmd == "fence", F.col("body").cast("string")), fence_seq
                ).alias("fence_token"),
                # monotone max of the effective points: a later trim
                # with a lower payload changes nothing
                F.max(tp).alias("trim_point"),
                F.max(fence_seq).alias("last_fence_seq"),
                # the trim DEFINING the trim point — arg-max of the
                # effective point, not the latest trim by seq: keeping
                # only a later, dominated trim would regress the
                # recovered trim point (seed-930413 sim soak)
                F.max_by(
                    F.when(cmd == "trim", seq),
                    F.when(cmd == "trim", F.struct(tp.alias("eff"), seq.alias("sq"))),
                ).alias("last_trim_seq"),
            )
        )

    @staticmethod
    def _state_of(row) -> _StreamState:
        return _StreamState(
            tail_seq=row["tail_seq"],
            last_ts=row["last_ts"] or 0,
            fencing_token=row["fence_token"] or "",
            trim_point=row["trim_point"] or 0,
        )

    def _recover(
        self, keys: list[tuple[str, str]]
    ) -> dict[tuple[str, str], _StreamState]:
        """Recovered state of the streams in ``keys`` that hold records,
        in ONE aggregation: ``basin``/``stream`` membership filters
        that push down to the parquet scan (and, partitioned, the bucket
        filter that prunes directories — the LSM key-range seek
        analogue), then only the requested pairs are kept. Streams with
        no records are absent from the result."""
        if not keys:
            return {}
        df = self.records_df()
        if self.bucket_count:
            df = df.filter(
                F.col("bucket").isin(sorted({self._bucket_of(*k) for k in keys}))
            )
        df = df.filter(
            F.col("basin").isin(sorted({b for b, _ in keys}))
            & F.col("stream").isin(sorted({s for _, s in keys}))
        )
        want = set(keys)
        out = {}
        for r in self._state_agg(df).select(*self._STATE_COLS).collect():
            key = (r["basin"], r["stream"])
            if key in want:
                out[key] = self._state_of(r)
        return out

    def _ensure_states(self, keys: list[tuple[str, str]]) -> None:
        """Batch form of the lazy recovery in :meth:`_st`: recover every
        missing key in ONE filtered aggregation (bulk_append touches many
        streams; one Spark job, not one per stream)."""
        with self._meta_mu:
            missing = [
                k
                for k in keys
                if k not in self._state
                and (self._probe_unknown_streams or k in self._evicted)
            ]
        recovered = self._recover(missing)
        with self._meta_mu:
            now = self._clock()
            for k in keys:
                # insert-if-absent: never clobber a state a concurrent
                # append advanced while the scan ran
                self._state.setdefault(k, recovered.get(k) or _StreamState())
                self._evicted.discard(k)
                self._touched_ms[k] = now

    def recover_state(self) -> None:
        """Rebuild hot state for every stream from storage, like the
        reference's recovery read of tail/token/trim rows
        (lite/src/backend/core.rs:101-161). One distributed pass over
        the whole store: per-stream aggregates + last-command lookups.

        Eager full recovery — normally unnecessary: streams recover
        lazily on first touch (:meth:`_st`, one keyed :meth:`_recover`).

        Streams with an append IN FLIGHT (their per-stream writer lock
        held) keep their existing state object: the holder's commit is
        at least as new as the scan, and replacing the object would
        detach the holder's tail advance (lost update → seq reuse)."""
        per_stream = (
            self._state_agg(self.records_df()).select(*self._STATE_COLS).collect()
        )
        with self._meta_mu:
            new_state: dict[tuple[str, str], _StreamState] = {}
            for r in per_stream:
                key = (r["basin"], r["stream"])
                lk = self._locks.get(key)
                if lk is not None and lk.locked() and key in self._state:
                    new_state[key] = self._state[key]
                else:
                    new_state[key] = self._state_of(r)
            for key, lk in self._locks.items():
                if lk.locked() and key in self._state and key not in new_state:
                    new_state[key] = self._state[key]
            self._state = new_state
            # everything with data is now in _state — unknown keys are fresh
            self._probe_unknown_streams = False
            self._evicted.clear()

    # --- append (A1-A6, A16) ---------------------------------------------

    def append(
        self,
        basin: str,
        stream: str,
        records: list[Record],
        match_seq_num: Optional[int] = None,
        fencing_token: Optional[str] = None,
    ) -> AppendAck:
        """Atomic sequenced append with conditions — the actor's
        serialized commit (streamer.rs:333-420, 964-1070)."""
        meta = self.catalog.ensure_stream_for(basin, stream, "append")
        cfg = self.catalog.resolve_config(meta.basin, meta.name)

        # batch caps (common/src/stream.rs:251-268)
        if not (1 <= len(records) <= MAX_BATCH_RECORDS):
            raise BatchTooLarge(f"{len(records)} records")
        metered = 0
        for rec in records:
            rec.validate()
            metered += rec.metered_size()
        if metered > MAX_BATCH_METERED_BYTES:
            raise BatchTooLarge(f"{metered} metered bytes")

        with self._locks[(basin, stream)]:
            # state is fetched AFTER acquiring the writer lock: a
            # concurrent recover_state skips locked keys, so the object
            # obtained here stays the canonical one for this commit
            st = self._st(basin, stream)
            return self._append_locked(
                basin, stream, records, match_seq_num, fencing_token, cfg, st, metered
            )

    def _append_locked(
        self, basin, stream, records, match_seq_num, fencing_token, cfg, st, metered
    ) -> AppendAck:
        # preconditions against current state (streamer.rs:341-359)
        if fencing_token is not None and fencing_token != st.fencing_token:
            raise FencingTokenMismatch(st.fencing_token)
        if match_seq_num is not None and match_seq_num != st.tail_seq:
            raise SeqNumMismatch(st.tail_seq)

        # timestamping (config.rs:88-100, streamer.rs:986-1000)
        arrival = self._clock()
        mode = cfg.timestamping_mode
        rows = []
        seq = st.tail_seq
        last_ts = st.last_ts
        new_token = st.fencing_token
        new_trim = st.trim_point
        for rec in records:
            if mode == "arrival":
                ts = arrival
            else:
                if rec.timestamp is None:
                    if mode == "client-require":
                        raise ClientTimestampRequired()
                    ts = arrival
                else:
                    ts = rec.timestamp
                    if not cfg.timestamping_uncapped:
                        ts = min(ts, arrival)
            ts = max(ts, last_ts)  # monotone adjust
            last_ts = ts
            cmd = rec.command()
            if cmd == "fence":
                new_token = rec.body.decode("utf-8")
            elif cmd == "trim":
                requested = int.from_bytes(rec.body, "big")
                # clamp to seq+1 — a trim may trim its own record;
                # regressions ignored (streamer.rs:369-389)
                new_trim = max(new_trim, min(requested, seq + 1))
            rows.append(
                _RecordRow(
                    basin,
                    stream,
                    seq,
                    ts,
                    [_HeaderRow(bytes(n), bytes(v)) for n, v in rec.headers],
                    bytes(rec.body),
                )
            )
            seq += 1

        # durable commit — one parquet file per append batch
        bkt = self._bucket_of(basin, stream) if self.bucket_count else None
        self._staged_commit(lambda stage: self._write_batch_file(stage, rows, bkt))

        if bkt is not None:
            # the follow broadcast serves what a storage read returns,
            # and a bucketed read carries the inferred partition column
            rows = [_BucketedRecordRow(*r, bkt) for r in rows]
        ack = AppendAck(
            start_seq=st.tail_seq,
            end_seq=seq,
            tail_seq=seq,
            start_ts=rows[0].timestamp,
            end_ts=rows[-1].timestamp,
        )
        # advance the four state fields as ONE atomic step under the
        # meta lock: readers snapshot (tail, trim) as a pair
        # (:meth:`_st_snapshot`), and an unsynchronized reader between
        # the tail and trim assignments would observe a state no
        # sequential execution produces (the torn-read class the
        # round-12 soak caught on the read path). The follow broadcast
        # is fed in the same step, restarting when a tail advance it
        # never saw (bulk_append) left it stale
        with self._meta_mu:
            kept = st.follow
            if kept and kept[-1][-1].seq_num + 1 != st.tail_seq:
                kept = ()
            st.follow = (*kept, tuple(rows))[-FOLLOWER_MAX_LAG:]
            st.tail_seq = seq
            st.last_ts = last_ts
            st.fencing_token = new_token
            st.trim_point = new_trim
        return ack

    def _write_batch_file(self, stage: str, rows: list, bucket: int | None) -> None:
        """Write one unary batch as a single parquet file under
        ``stage`` (in its ``bucket=N`` subdirectory in the bucketed
        layout) with pyarrow on the driver: no Spark job, and a file a
        Spark write of the same rows would produce column for column
        (:func:`~s2_spark.model.arrow_record_schema`, snappy)."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = arrow_record_schema()
        table = pa.Table.from_arrays(
            [pa.array(col, type=f.type) for col, f in zip(zip(*rows), schema)],
            schema=schema,
        )
        rel = f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"
        if bucket is not None:
            rel = os.path.join(f"bucket={bucket}", rel)
        path = self._mf_backend.spark_path(os.path.join(stage, rel))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path, compression="snappy")

    def _spark_write(self, df: DataFrame):
        """The Spark ``write(stage)`` of :meth:`_staged_commit` for
        ``df``: one parquet write job, ``bucket=N`` subdirectories in
        the bucketed layout (``df`` then carries the ``bucket``
        column)."""
        writer = df.write.mode("overwrite")
        if self.bucket_count:
            writer = writer.partitionBy("bucket")
        return lambda stage: writer.parquet(self._mf_backend.spark_path(stage))

    def _staged_commit(
        self, write, consumed: frozenset = frozenset(), timings: dict | None = None
    ) -> None:
        """THE commit path of every write into the store — a unary
        append, a :meth:`bulk_append` and each rewrite
        (:meth:`_rewrite`): stage the parquet in a PRIVATE dir, move
        its part files into ``base_dir``, then publish ONE generation
        that adds them and removes ``consumed`` (the snapshot a rewrite
        read; empty for an append). ``write(stage)`` produces the part
        files under ``stage`` — a Spark job (:meth:`_spark_write`), or
        driver-side pyarrow files: one for a unary append
        (:meth:`_write_batch_file`), one per directory for a small
        compaction (:meth:`_arrow_merge_write`).

        Each commit stages under its own ``_stage-{pid}-{uuid}``
        (``_compact-stage-…`` for a rewrite) dir beside the data
        (underscore prefix → invisible to every listing), never
        Hadoop's shared committer root: with
        ``mode("append").parquet(base_dir)`` every concurrent job
        stages under the SAME ``{base_dir}/_temporary/0``, and one
        job's commit/cleanup deletes it recursively — so two appends
        to DIFFERENT streams (serialized only per-stream by design,
        streamer.rs's actor-per-stream discipline) could fail each
        other's durable commit (found live by the multi-stream
        linearizability soak, r12).

        A part whose footer reports 0 rows is dropped (Spark writes one
        for an empty output; published, it would make the next
        compaction rewrite it and a reopened store probe for state), so
        a commit with nothing to add and nothing consumed publishes
        nothing. A part whose name is already live raises
        ``RuntimeError``: UUID part names make that structurally
        impossible, and the move would silently replace acked records.

        The moved files become visible only at the generation publish
        that follows the move loop, so the commit is ATOMIC: a crash
        anywhere before the publish leaves orphaned (invisible) files
        for :meth:`vacuum`, a crash after it the whole batch. A rewrite
        publishes with ``require_visible=True``; on
        :class:`~s2_spark.manifest.PublishConflict` (a racing rewrite
        delisted a consumed file) its never-published files are
        deleted before the conflict propagates. The records snapshot
        is invalidated before returning, i.e. before the caller
        advances stream state (:meth:`_st_snapshot`)."""
        import uuid

        import pyarrow.parquet as pq

        from s2_spark.manifest import PublishConflict

        bk = self._mf_backend
        prefix = "_compact-stage-" if consumed else "_stage-"
        stage = os.path.join(
            self.base_dir, f"{prefix}{os.getpid()}-{uuid.uuid4().hex}"
        )
        added: list[str] = []
        _t = time.perf_counter
        try:
            # the stage is written THROUGH the backend location
            # (executors PUT part files directly against the bucket on
            # an object store); the finalize loop then lands each part
            # on its final key — a rename locally, a server-side
            # COPY+DELETE on an object store (neither needs to be
            # atomic: visibility is the generation publish)
            _t0 = _t()
            write(stage)
            if timings is not None:
                timings["parquet_sec"] = round(_t() - _t0, 3)
            _t0 = _t()
            for rel, _mt in bk.walk_files(stage):
                if not rel.endswith(".parquet"):
                    continue
                src = os.path.join(stage, rel)
                if pq.read_metadata(bk.spark_path(src)).num_rows == 0:
                    continue
                dst = os.path.join(self.base_dir, rel)
                if bk.exists(dst):
                    # a RuntimeError, not assert: python -O must not
                    # strip the guard
                    raise RuntimeError(
                        f"staged part name collides with a live file: {dst}"
                    )
                bk.finalize_data(src, dst)
                added.append(rel)
            if added or consumed:
                try:
                    self._manifest_publish(
                        add=added,
                        remove=sorted(consumed),
                        require_visible=bool(consumed),
                    )
                except PublishConflict:
                    # never published → invisible to every reader: safe
                    # to delete rather than leave vacuum-aged orphans
                    for rel in added:
                        bk.delete(os.path.join(self.base_dir, rel))
                    raise
            if timings is not None:
                timings["publish_sec"] = round(_t() - _t0, 3)
            self._invalidate_records()
        finally:
            bk.remove_tree(stage)

    # default per-stream sequencing chunk (in order-col units): with a
    # dense order column this is records/chunk — 4096 × 8 KiB records
    # ≈ 32 MiB of shuffle per window task. The offset relation has
    # ~rows/width entries per stream; for extreme single-stream batches
    # (≥ ~1e9 rows) pass a larger chunk_width to keep it broadcastable.
    SEQ_CHUNK_WIDTH = 4096

    def bulk_append(
        self,
        df: DataFrame,
        order_col: str = "ingest_order",
        validate: bool = True,
        timings: dict | None = None,
        chunk_width: int | None = None,
    ) -> None:
        """Distributed sequencing for arbitrary-size ingest — the 100 TB
        path. Input columns: basin, stream, timestamp (nullable ms),
        headers, body, plus ``order_col`` defining per-stream input
        order. Sequencing is a chunked two-phase prefix (the
        ``operators/prefix.py`` decomposition, fused into the passes
        this method already pays): the admission aggregation groups by
        (basin, stream, chunk) where chunk = floor(order/width) is
        monotone in the per-stream order; the driver folds the tiny
        per-chunk stats into each chunk's starting seq offset and
        timestamp floor; the write's window partitions by (basin,
        stream, chunk). Two consequences a plain per-stream window
        can't give: a single hot stream spreads across tasks instead of
        serializing on one (the sort is per-chunk), and a bench-style
        constant-literal stream key — which Catalyst's foldable
        propagation would REMOVE from the partition spec, silently
        collapsing the window to one global partition — still leaves
        the non-foldable chunk column partitioning the sort. One
        shuffle on (basin, stream, chunk), same two scans as before.

        ``chunk_width`` is in order-col units (records, for a dense
        counter). Non-numeric order columns fall back to one chunk per
        stream (the pre-chunk plan).

        Each stream's resolved timestamping config and the call's
        arrival time ride the same per-chunk offsets rows, so the write
        plan has one broadcast join and no per-call primitive literal
        (its generated code is compiled once and reused by every later
        call; streamer.rs:1121-1149 matrix): ``arrival``
        overrides client timestamps, ``client-require`` rejects a batch
        with missing timestamps, ``timestamping_uncapped`` skips the
        min(client, arrival) cap. With ``validate`` (default), record
        constraints — metered size cap, envelope header names non-empty,
        fence token ≤ 36 bytes, trim payload exactly u64 BE
        (record/mod.rs:90-103, 204-212; fence-token UTF-8 validity is
        only checked on the unary path) — are counted in the single
        up-front admission aggregation, so the batch is rejected BEFORE
        anything is written (validate-then-commit, streamer.rs:964-1070).
        The unary per-call batch caps (1000 records / 1 MiB)
        intentionally don't apply: they are per-HTTP-append limits, not
        ingest limits.
        """
        from s2_spark.model import is_command_col, metered_size_col

        # ONE up-front admission pass over the batch (map-side combined
        # aggregation): the distinct key set (= the shuffle key space),
        # per-stream client-timestamp stats for the post-write state
        # advance, the in-band command count, and — with ``validate`` —
        # the count of constraint-violating records. Admission control
        # therefore fails BEFORE anything lands in storage (the
        # reference validates, then commits: streamer.rs:964-1070).
        # This replaces three separate passes (distinct().collect(), a
        # post-write stats job, and a per-row assert_true woven into the
        # write plan — the assert routing alone tripled the write cost
        # by blocking codegen).
        aggs = [
            F.count("*").alias("n"),
            F.max("timestamp").alias("mx_client"),
            F.sum(F.col("timestamp").isNull().cast("int")).alias("n_null_ts"),
            F.sum(is_command_col().cast("int")).alias("n_cmd"),
        ]
        if validate:
            is_cmd = is_command_col()
            cmd_val = F.col("headers")[0]["value"]
            ok = (
                (metered_size_col() <= MAX_RECORD_METERED_BYTES)
                & (
                    F.when(
                        is_cmd,
                        F.when(
                            cmd_val == F.lit(b"fence"),
                            F.length("body") <= MAX_FENCING_TOKEN_BYTES,
                        )
                        .when(cmd_val == F.lit(b"trim"), F.length("body") == 8)
                        .otherwise(F.lit(False)),
                    ).otherwise(
                        ~F.exists("headers", lambda h: F.length(h["name"]) == 0)
                    )
                )
            )
            aggs.append(F.sum((~ok).cast("int")).alias("n_bad"))
        from pyspark.sql import types as T

        width = chunk_width or self.SEQ_CHUNK_WIDTH
        if isinstance(df.schema[order_col].dataType, T.NumericType):
            chunk_col = F.floor(F.col(order_col) / F.lit(width)).cast("long")
        else:
            # non-numeric order: no monotone chunking available — one
            # chunk per stream (the plain per-stream window plan)
            chunk_col = F.lit(0).cast("long")
        _t0 = time.perf_counter()
        cstats = (
            df.groupBy("basin", "stream", chunk_col.alias("_chunk"))
            .agg(*aggs)
            .collect()
        )
        if timings is not None:
            timings["admission_sec"] = round(time.perf_counter() - _t0, 3)
        if not cstats:
            return  # an empty batch: nothing to admit, write or publish
        _t0 = time.perf_counter()
        # driver-side per-stream rollup of the chunk stats (tiny:
        # rows/width entries) — admission decisions use stream totals
        cstats.sort(key=lambda r: (r["basin"], r["stream"], r["_chunk"]))
        per_stream: dict[tuple[str, str], dict] = {}
        for r in cstats:
            k = (r["basin"], r["stream"])
            acc = per_stream.setdefault(
                k, {"n": 0, "mx_client": None, "n_null_ts": 0, "n_cmd": 0, "n_bad": 0}
            )
            acc["n"] += r["n"]
            acc["n_null_ts"] += r["n_null_ts"]
            acc["n_cmd"] += r["n_cmd"]
            if validate:
                acc["n_bad"] += r["n_bad"]
            if r["mx_client"] is not None:
                acc["mx_client"] = (
                    r["mx_client"]
                    if acc["mx_client"] is None
                    else max(acc["mx_client"], r["mx_client"])
                )
        if validate and any(v["n_bad"] for v in per_stream.values()):
            raise InvalidRecord("bulk_append: invalid record")

        # register every touched stream (auto-create semantics, A23) and
        # resolve each one's effective config for the join below
        keys = list(per_stream)
        cfg_by_key = {}
        for b, s in keys:
            self.catalog.ensure_stream_for(b, s, "append")
            cfg_by_key[(b, s)] = self.catalog.resolve_config(b, s)
        for k, v in per_stream.items():
            cfg = cfg_by_key[k]
            if cfg.timestamping_mode == "client-require" and v["n_null_ts"]:
                raise ClientTimestampRequired("client timestamp required")
        # lazily recover every touched stream's tail from storage in one
        # pass; only the batch's own chunk keys ride in the broadcast
        # EXCLUSIVITY against concurrent appends on the same streams:
        # take every touched stream's writer lock (sorted — unary
        # append takes one, two bulks take the same order, so no
        # cycle) from state recovery through the state advance.
        # Without this, a unary append racing the bulk write reads the
        # same tail, mints DUPLICATE seq_nums, and its smaller state
        # advance clobbers the bulk's (observed live: 4019 rows, 4008
        # distinct seqs, tail regressed 4019 -> 19). Unary appends to
        # streams outside the batch are unaffected; the hold spans the
        # write job by necessity — that IS the serialization the
        # per-stream actor discipline requires.
        _held = [self._locks[k] for k in sorted(keys)]
        for _lk in _held:
            _lk.acquire()
        try:
            self._ensure_states(keys)
            arrival = self._clock()

            def _chunk_ts_max(r, cfg) -> int:
                # max over the chunk's rows of the mode-adjusted ts0 — the
                # same fold the per-stream state advance uses: least(·,
                # arrival) is monotone, so the max of capped client ts is
                # least(max_client, arrival), with arrival a candidate when
                # any row's timestamp was NULL
                if cfg.timestamping_mode == "arrival":
                    return arrival
                cands = [arrival] if r["n_null_ts"] else []
                if r["mx_client"] is not None:
                    mxc = r["mx_client"]
                    cands.append(mxc if cfg.timestamping_uncapped else min(mxc, arrival))
                return max(cands)

            # phase 2 of the prefix, in driver math: each chunk's starting
            # seq (tail + earlier chunks' counts) and timestamp floor
            # (max of last_ts and earlier chunks' ts0 maxima). Each row
            # also carries its stream's timestamping config and the
            # call's arrival, so the write plan holds no per-call
            # primitive literal: Spark inlines a long literal into the
            # generated Java, which would make every call compile fresh
            # classes; rows of a relation are data, not source.
            off_rows = []
            running: dict[tuple[str, str], tuple[int, int]] = {}
            for r in cstats:
                k = (r["basin"], r["stream"])
                cfg = cfg_by_key[k]
                if k not in running:
                    st = self._st(*k)
                    running[k] = (st.tail_seq, st.last_ts)
                seq_off, ts_floor = running[k]
                off_rows.append((
                    k[0], k[1], r["_chunk"], seq_off, ts_floor,
                    cfg.timestamping_mode, bool(cfg.timestamping_uncapped), arrival,
                ))
                running[k] = (
                    seq_off + r["n"],
                    max(ts_floor, _chunk_ts_max(r, cfg)),
                )
            offsets = _lit_rows_df(
                self.spark,
                off_rows,
                [("basin", "string"), ("stream", "string"), ("_chunk", "long"),
                 ("seq_off", "long"), ("ts_floor", "long"),
                 ("ts_mode", "string"), ("ts_uncapped", "boolean"),
                 ("arrival", "long")],
            )
            w = W.partitionBy("basin", "stream", "_chunk").orderBy(order_col)
            wmax = w.rowsBetween(W.unboundedPreceding, W.currentRow)
            arr = F.col("arrival")
            client = F.coalesce("timestamp", arr)
            ts0 = (
                F.when(F.col("ts_mode") == "arrival", arr)
                .when(F.col("ts_uncapped"), client)
                .otherwise(F.least(client, arr))
            )
            # one broadcast join, then the whole sequencing projection in
            # one select (a withColumn chain re-analyses the plan per step)
            out = (
                df.withColumn("_chunk", chunk_col)
                .join(F.broadcast(offsets), ["basin", "stream", "_chunk"], "left")
                .select(
                    "basin",
                    "stream",
                    (F.row_number().over(w) - 1 + F.coalesce("seq_off", F.lit(0)))
                    .alias("seq_num"),
                    F.greatest(
                        F.max(ts0).over(wmax), F.coalesce("ts_floor", F.lit(0))
                    ).alias("timestamp"),
                    "headers",
                    "body",
                )
            )
            if timings is not None:
                # driver-side setup between admission and write: catalog
                # resolution, state recovery, offsets frame + plan build
                timings["plan_sec"] = round(time.perf_counter() - _t0, 3)
            _t0 = time.perf_counter()
            if self.bucket_count:
                out = out.withColumn(
                    "bucket",
                    (
                        F.crc32(F.concat_ws("\x00", "basin", "stream"))
                        % self.bucket_count
                    ).cast("int"),
                )
            self._staged_commit(self._spark_write(out), timings=timings)
            if timings is not None:
                timings["write_sec"] = round(time.perf_counter() - _t0, 3)
            _t0 = time.perf_counter()
            # advance hot state from the up-front stats — pure driver math,
            # no second scan. Per stream the final last_ts is
            # max(old_last_ts, max(mode-adjusted per-row ts)) since the
            # running-max adjust never exceeds that bound; and because
            # least(·, arrival) is monotone, max over rows of the capped
            # client ts folds to least(max_client, arrival), with arrival
            # itself a candidate when any row's timestamp was NULL.
            if any(v["n_cmd"] for v in per_stream.values()):
                # in-band fence/trim in a bulk batch: rare — re-derive the
                # batch's streams from storage to fold the commands at
                # their assigned positions. Their writer locks are ours,
                # so the scan is the newest truth for exactly these keys
                recovered = self._recover(keys)
                with self._meta_mu:
                    for k in keys:
                        self._state[k] = recovered.get(k) or _StreamState()
            else:
                # the prefix fold in `running` already ends at each
                # stream's final (tail, last_ts) — reuse it, no recompute
                # (advance under the meta lock: readers snapshot state
                # pairs atomically, see the unary path)
                for (b, s), (tail, last_ts) in running.items():
                    st = self._st(b, s)
                    with self._meta_mu:
                        st.tail_seq = tail
                        st.last_ts = max(st.last_ts, last_ts)
        finally:
            for _lk in reversed(_held):
                _lk.release()
        if timings is not None:
            timings["state_sec"] = round(time.perf_counter() - _t0, 3)

    def append_session(self, basin: str, stream: str, inputs):
        """Pipelined append session (A2, append.rs:96-220): consume an
        iterable of :class:`AppendInput` and yield one :class:`AppendAck`
        per input, in order. The first condition failure
        (SeqNumMismatch / FencingTokenMismatch) propagates and ENDS the
        session — later inputs are never applied
        (append.rs:653-719 test_append_session_stops_after_condition_failure).
        Inputs are consumed lazily, so a session survives streamer
        dormancy between inputs (append.rs:416-470): evicted hot state
        is recovered on the next append's touch."""
        for inp in inputs:
            yield self.append(
                basin,
                stream,
                inp.records,
                match_seq_num=inp.match_seq_num,
                fencing_token=inp.fencing_token,
            )

    # --- command shortcuts (A5/A6) ----------------------------------------

    def fence(self, basin: str, stream: str, token: str, **kw) -> AppendAck:
        from s2_spark.model import fence_record

        return self.append(basin, stream, [fence_record(token)], **kw)

    def trim(self, basin: str, stream: str, seq_num: int, **kw) -> AppendAck:
        from s2_spark.model import trim_record

        return self.append(basin, stream, [trim_record(seq_num)], **kw)

    # --- read (A7-A12, A17) ------------------------------------------------

    def check_tail(self, basin: str, stream: str) -> tuple[int, int]:
        """(next_seq_num, last_timestamp) (A15, read.rs:31-43)."""
        self.audit.log("check_tail", basin, stream)
        return self._tail(basin, stream)

    def _tail(self, basin: str, stream: str) -> tuple[int, int]:
        """check_tail without the audit record — for internal polls
        (session follow loops would otherwise flood the ops log with
        20 ms heartbeat probes that are not client RPCs)."""
        self.catalog.ensure_stream_for(basin, stream, "read")
        st = self._st(basin, stream)
        with self._meta_mu:
            return st.tail_seq, st.last_ts

    def _st_snapshot(self, basin: str, stream: str) -> tuple[int, int]:
        """Atomic ``(tail_seq, trim_point)`` pair for the read path.

        Writers advance all state fields as one step under
        ``_meta_mu`` (after the batch is durable), so a pair captured
        under the same lock corresponds to an actual point in the
        stream's history. Capturing the fields WITHOUT the lock — or
        one field before the records listing and one after — produced
        a torn read the round-12 fresh-seed soak caught (seed 20325):
        a read observed a trim command's clamp while missing the
        append sequenced BEFORE that trim, a state no linearization
        order allows. The read path filters to ``[trim, tail)`` of one
        snapshot, making the result exactly the stream prefix this
        store (the stream's actor — appends serialize on its per-
        stream writer locks) had acknowledged at the snapshot point;
        the file listing only needs to COVER the snapshot (guaranteed:
        records are durable and the listing cache invalidated before
        the state advance that published them)."""
        st = self._st(basin, stream)
        with self._meta_mu:
            return st.tail_seq, st.trim_point

    def _resolve_start(
        self, basin: str, stream: str, start: ReadStart, tail: int | None = None
    ) -> int:
        if tail is None:
            st = self._st(basin, stream)
            tail = st.tail_seq
        if start.timestamp is not None:
            # first record with ts >= t: timestamps are monotone per
            # stream (append invariant), so the seq resolution the
            # reference does via its ts index (read.rs:287-317) is a
            # pushed-down filter; return trim-aware floor seq here.
            return None  # sentinel: filter by timestamp in read()
        if start.tail_offset is not None:
            return max(0, tail - start.tail_offset)
        seq = start.seq_num or 0
        if seq > tail:
            if not start.clamp:
                raise RangeNotSatisfiable(tail)
            seq = tail  # clamp (read.rs:260-269)
        return seq

    def read(
        self,
        basin: str,
        stream: str,
        start: ReadStart | None = None,
        limit: ReadLimit | None = None,
        apply_retention: bool = False,
        audit: bool = True,
    ) -> DataFrame:
        """Range read returning an ordered DataFrame of sequenced
        records (A7). All bounds are filters/windows — nothing collects.

        Audit: one ``read`` op is logged per client-shaped call (the
        ReadOps input). Bytes aren't known for a lazily-returned plan,
        so only the session path accounts throughput; internal callers
        (session batch reads) pass ``audit=False``."""
        self.catalog.ensure_stream_for(basin, stream, "read")
        if audit:
            self.audit.log("read", basin, stream)
        start = start or ReadStart(seq_num=0)
        limit = limit or ReadLimit()
        cfg = self.catalog.resolve_config(basin, stream)
        # ONE atomic (tail, trim) snapshot, captured BEFORE the records
        # listing: the read returns exactly the prefix [trim, tail) of
        # that snapshot. Filtering by a live `st.trim_point` over an
        # independently-captured listing tears (soak seed 20325: trim's
        # clamp visible, the append sequenced before it missing); the
        # listing is a superset of the snapshot because records become
        # durable (and the listing cache is invalidated) before the
        # state advance that publishes them.
        tail_snap, trim_snap = self._st_snapshot(basin, stream)

        if self.bucket_count:
            # partition pruning: one bucket dir per stream key. The
            # bucket hint prunes the explicit file list down to that
            # subtree before the relation is even built; the filter
            # keeps the pruning visible in the plan as a partition
            # filter
            bkt = self._bucket_of(basin, stream)
            df = self.records_df(bucket=bkt).filter(F.col("bucket") == bkt)
        else:
            df = self.records_df()
        df = df.filter((F.col("basin") == basin) & (F.col("stream") == stream))
        # snapshot upper bound: records committed after the snapshot
        # (by a concurrent writer) must not leak into this read
        df = df.filter(F.col("seq_num") < tail_snap)
        # trim visibility (A6): records below the trim point are hidden
        if trim_snap > 0:
            df = df.filter(F.col("seq_num") >= trim_snap)
        # retention (A17): age-based expiry as a read-side filter
        if apply_retention and (cfg.retention_age_secs or 0) > 0:
            cutoff = self._clock() - cfg.retention_age_secs * 1000
            df = df.filter(F.col("timestamp") >= cutoff)

        # resolve against the SAME snapshot tail (a tail_offset or
        # clamp resolved from a fresher tail would contradict the
        # snapshot bound above)
        start_seq = self._resolve_start(basin, stream, start, tail=tail_snap)
        if start_seq is None:
            df = df.filter(F.col("timestamp") >= start.timestamp)
        elif start_seq > 0:
            df = df.filter(F.col("seq_num") >= start_seq)
        if limit.until is not None:
            df = df.filter(F.col("timestamp") < limit.until)  # exclusive (A11)

        if limit.bytes is not None:
            # metered-bytes cutoff: cumulative sum over seq order; emit
            # while cum ≤ B — empty if the first record already exceeds
            # (read_extent.rs:18-137; lite/tests/.../read.rs:530).
            # Chunked two-phase prefix, NOT a per-stream window: a read
            # targets ONE stream, so Window.partitionBy(stream) would
            # put the entire post-filter range on a single task — fine
            # for the 1 MiB-capped unary path, a serial bottleneck for
            # a large direct bytes budget. The chunk decomposition
            # spreads the running sum across seq ranges (the same
            # re-plan the w5/st8 suite queries use).
            from s2_spark.operators.prefix import chunked_running

            df = (
                chunked_running(
                    df,
                    ["seq_num"],
                    metered_size_col(),
                    "_cum",
                    kind="sum",
                    partition_by=["basin", "stream"],
                )
                .filter(F.col("_cum") <= limit.bytes)
                .drop("_cum")
            )
        df = df.orderBy("seq_num")
        if limit.count is not None:
            df = df.limit(limit.count)
        return df

    def attach_views(self, prefix: str = "s2_") -> None:
        """Register the engine's tables as temp views so the whole store
        is queryable through plain ``spark.sql``:

        - ``{prefix}records`` — the raw records table
        - ``{prefix}visible`` — trim- and command-aware user view
        - ``{prefix}streams`` / ``{prefix}basins`` — catalog metadata
        - ``{prefix}tails``   — check_tail per stream

        The record-derived views are **live**: ``{prefix}records`` is
        built from :meth:`records_df` (the CURRENT generation's explicit
        file list; a raw ``parquet.`path``` view would double-count
        every record a compaction delisted but vacuum has not yet
        deleted), and the store re-attaches it on every write-side
        invalidation, while trim points and tails are re-derived per
        query by recovery's :meth:`_state_agg` (a trim's point is
        ``min(payload, seq + 1)`` for any u64 payload) — so
        appends/trims/fences through this store after ``attach_views()``
        show up without re-attaching. On an empty store they sit over
        the empty relation until the first append re-attaches them.
        Catalog views are snapshots of driver
        metadata; with a durable catalog they can be re-attached after
        config changes.
        """
        self._attached_view_prefixes.add(prefix)
        records = self.records_df().select(*RECORD_SCHEMA.fieldNames())
        records.createOrReplaceTempView(f"{prefix}records")
        states = self._state_agg(records)
        (
            records.join(states, ["basin", "stream"], "left")
            .filter(
                (F.col("seq_num") >= F.coalesce("trim_point", F.lit(0)))
                & ~is_command_col()
            )
            .select(*records.columns)
            .createOrReplaceTempView(f"{prefix}visible")
        )
        states.select(
            "basin",
            "stream",
            F.col("tail_seq").alias("next_seq_num"),
            F.col("last_ts").alias("last_timestamp"),
        ).createOrReplaceTempView(f"{prefix}tails")
        self.catalog.streams_df().createOrReplaceTempView(f"{prefix}streams")
        self.catalog.basins_df().createOrReplaceTempView(f"{prefix}basins")

    def read_unary(
        self,
        basin: str,
        stream: str,
        start: ReadStart | None = None,
        limit: ReadLimit | None = None,
    ) -> DataFrame:
        """Unary read with the API-layer caps imposed: ≤1000 records and
        ≤1 MiB metered per response (lite/src/handlers/v1/records.rs:
        72-84) — whatever the caller asked for is clamped down. An
        explicit count=0 / bytes=0 is an exhausted budget (zero
        records), matching the session path's treatment — never the
        cap (the `or` idiom would silently turn 0 into 1000/1 MiB)."""
        limit = limit or ReadLimit()
        capped = ReadLimit(
            count=min(
                limit.count if limit.count is not None else MAX_BATCH_RECORDS,
                MAX_BATCH_RECORDS,
            ),
            bytes=min(
                limit.bytes if limit.bytes is not None else MAX_BATCH_METERED_BYTES,
                MAX_BATCH_METERED_BYTES,
            ),
            until=limit.until,
        )
        return self.read(basin, stream, start, capped)

    # --- maintenance (bgtasks analogues) -----------------------------------

    def read_wait(
        self,
        basin: str,
        stream: str,
        start: ReadStart | None = None,
        limit: ReadLimit | None = None,
        wait_s: float = 60.0,
        poll_s: float = 0.05,
        clock=None,
        sleep=None,
    ) -> DataFrame:
        """Long-poll read (A7 ``wait``: lite/src/handlers/v1/mod.rs:14,
        read.rs:319-361): if the requested start is at/past the tail,
        block up to ``wait_s`` (capped at the API's 60 s) for new
        records before returning the (possibly empty) read. Sustained
        tailing belongs to the streaming source; this is the unary
        long-poll."""
        mono = clock or time.monotonic
        slp = sleep or time.sleep
        start = start or ReadStart(seq_num=0)
        wait_s = min(wait_s, 60.0)
        deadline = mono() + wait_s
        want_seq = start.seq_num if start.seq_num is not None else None
        while mono() < deadline:
            tail, _ = self._tail(basin, stream)
            if want_seq is None or tail > want_seq:
                break
            slp(poll_s)
        clamped = ReadStart(
            seq_num=start.seq_num,
            timestamp=start.timestamp,
            tail_offset=start.tail_offset,
            clamp=True,  # post-wait the position may still be unwritten
        )
        return self.read(basin, stream, clamped, limit)

    def read_session(
        self,
        basin: str,
        stream: str,
        start: ReadStart | None = None,
        limit: ReadLimit | None = None,
        wait_s: float | None = None,
        heartbeat_s: float | tuple[float, float] = (5.0, 15.0),
        poll_s: float = 0.02,
        last_event_id: LastEventId | str | None = None,
        batch_count: int = 1000,
        clock=None,
        sleep=None,
        rng=None,
    ):
        """SSE-style read session (read.rs:95-280, records.rs:213-260):
        a generator of :class:`SessionEvent` — catch-up batches from
        storage, then live follow with heartbeats.

        Follow semantics mirror the reference's read_follow contract
        (lite/tests/backend/data_plane/read_follow.rs):

        - the absolute wait budget (``wait_s``) is armed when the
          session first becomes caught-up, and **only a delivered batch
          resets it** (read.rs:190-192) — heartbeats never extend it;
        - a heartbeat is emitted on entering follow mode and then on a
          randomized 5-15 s cadence while waiting (read.rs:225-228,
          383-386); pass a scalar ``heartbeat_s`` for a fixed cadence,
          or ``rng`` (e.g. ``random.Random(seed)``) for a
          deterministic randomized one;
        - a caught-up follower is served from the in-memory follow
          broadcast: the Rows of the stream's last ``FOLLOWER_MAX_LAG``
          (25, lite/src/backend/mod.rs:27) unary batches, kept by the
          append that committed them (:meth:`_follow_batch`) — no Spark
          job. A follower further behind, or one whose range the
          broadcast no longer covers (a ``bulk_append``, a recovered or
          evicted stream state), catches up with a storage read: the
          broadcast-lag path, read.rs:219-223;
        - ``wait_s=None`` means no follow: the session ends at the tail.

        Resume: each batch event carries a :class:`LastEventId`
        (``seq_num,count,bytes`` — cumulative for the *original*
        request). Passing it back with the original ``limit`` restarts
        at seq_num+1 with count/bytes budgets decremented, so the
        resumed session stops at the original combined limit
        (records.rs:49-65). The driver-side session is the unary/SSE
        surface; sustained distributed tailing is the streaming source.
        """
        limit = limit or ReadLimit()
        mono = clock or time.monotonic  # injectable for paused-clock tests
        slp = sleep or time.sleep
        if isinstance(heartbeat_s, tuple):
            import random as _random

            _rng = rng or _random
            lo, hi = heartbeat_s
            next_hb_gap = lambda: _rng.uniform(lo, hi)  # noqa: E731
        else:
            next_hb_gap = lambda: heartbeat_s  # noqa: E731
        if isinstance(last_event_id, str):
            last_event_id = LastEventId.parse(last_event_id)
        processed_count = last_event_id.count if last_event_id else 0
        processed_bytes = last_event_id.bytes if last_event_id else 0
        if last_event_id is not None:
            start = ReadStart(seq_num=last_event_id.seq_num + 1, clamp=True)
        start = start or ReadStart(seq_num=0)
        # Session-open resolution (lite/src/backend/read.rs:246-284): a
        # start beyond the tail without clamp is 416-Unwritten with the
        # current tail, and so is a start exactly AT the tail when the
        # session may not follow — may_follow is true iff count, bytes
        # and until are all unbounded, or wait > 0
        # (common/src/stream.rs:336-339). A resume whose budget is
        # already exhausted short-circuits before the open check
        # (lite/src/handlers/v1/records.rs:49-65).
        budget_spent = (
            limit.count is not None and processed_count >= limit.count
        ) or (limit.bytes is not None and processed_bytes >= limit.bytes)
        self.catalog.ensure_stream_for(basin, stream, "read")
        self.audit.log("read_session", basin, stream)
        st0 = self._st(basin, stream)
        with self._meta_mu:
            tail_seq0, tail_ts0 = st0.tail_seq, st0.last_ts
        may_follow = (
            limit.count is None and limit.bytes is None and limit.until is None
        ) or (wait_s is not None and wait_s > 0)
        if start.timestamp is not None and start.timestamp > tail_ts0:
            if not start.clamp and not budget_spent:
                raise RangeNotSatisfiable(tail_seq0)
            start = ReadStart(seq_num=tail_seq0, clamp=True)
        # resolve against the same tail the open checks used
        start_seq = self._resolve_start(basin, stream, start, tail=tail_seq0)
        if (
            start_seq is not None
            and start_seq == tail_seq0
            and not may_follow
            and not budget_spent
        ):
            raise RangeNotSatisfiable(tail_seq0)
        if start_seq is None:  # timestamp start: resolve to a seq once
            first = (
                self.read(basin, stream, start, ReadLimit(count=1), audit=False)
                .select("seq_num")
                .first()
            )
            start_seq = first["seq_num"] if first else self._st(basin, stream).tail_seq
        return self._session_events(
            basin, stream, limit, wait_s, poll_s, batch_count,
            start_seq, processed_count, processed_bytes,
            mono, slp, next_hb_gap,
        )

    def _session_events(
        self,
        basin: str,
        stream: str,
        limit: ReadLimit,
        wait_s: float | None,
        poll_s: float,
        batch_count: int,
        start_seq: int,
        processed_count: int,
        processed_bytes: int,
        mono,
        slp,
        next_hb_gap,
    ):
        """The event loop behind :meth:`read_session` — open validation
        happened eagerly in the wrapper (like try_open_read_session)."""

        def remaining(kind: str) -> Optional[int]:
            total = getattr(limit, kind)
            if total is None:
                return None
            done = processed_count if kind == "count" else processed_bytes
            return max(total - done, 0)

        def metered(row) -> int:
            return metered_size_bytes(row.headers, row.body)

        wait_deadline: float | None = None
        next_heartbeat = 0.0
        while True:
            rem_count, rem_bytes = remaining("count"), remaining("bytes")
            if rem_count == 0 or rem_bytes == 0:
                return
            tail, _ = self._tail(basin, stream)
            if start_seq < tail:
                batch_limit = ReadLimit(
                    count=min(rem_count or batch_count, batch_count),
                    bytes=rem_bytes,
                    until=limit.until,
                )
                rows = self._follow_batch(basin, stream, start_seq, batch_limit)
                if rows is None:
                    rows = self.read(
                        basin,
                        stream,
                        ReadStart(seq_num=start_seq, clamp=True),
                        batch_limit,
                        audit=False,  # the session op was logged at open
                    ).collect()
                if not rows:
                    # until/bytes bound cut everything that remains
                    return
                batch_bytes = sum(metered(r) for r in rows)
                processed_count += len(rows)
                processed_bytes += batch_bytes
                # throughput accounting: bytes are known exactly here —
                # this is the serving point (ReadThroughput input)
                self.audit.log(
                    "read_batch", basin, stream,
                    records=len(rows), nbytes=batch_bytes,
                )
                start_seq = rows[-1]["seq_num"] + 1
                token = LastEventId(rows[-1]["seq_num"], processed_count, processed_bytes)
                yield SessionEvent("batch", tuple(rows), tail, token)
                # only a delivered batch resets the absolute wait budget
                wait_deadline = None
            else:
                if wait_s is None:
                    return
                now = mono()
                if wait_deadline is None:
                    wait_deadline = now + wait_s
                    next_heartbeat = now + next_hb_gap()
                    yield SessionEvent("heartbeat", (), tail)
                if now >= wait_deadline:
                    return
                if now >= next_heartbeat:
                    next_heartbeat = now + next_hb_gap()
                    yield SessionEvent("heartbeat", (), tail)
                slp(min(poll_s, max(wait_deadline - now, 0)))

    def _follow_batch(
        self, basin: str, stream: str, start_seq: int, limit: ReadLimit
    ) -> list | None:
        """The follow broadcast's answer to the session read
        ``read(basin, stream, ReadStart(start_seq, clamp=True), limit)
        .collect()``: the same rows, from the stream's in-memory tail
        batches, when they cover ``[max(start_seq, trim), tail)`` of
        one ``(tail, trim)`` snapshot; ``None`` when they do not (the
        caller reads storage). ``count``, ``bytes`` and ``until``
        apply as in :meth:`read`: ``until`` filters, the bytes budget
        keeps the records whose running metered total fits it (none if
        the first is over), and ``count`` caps the result."""
        st = self._st(basin, stream)
        with self._meta_mu:
            tail, trim, batches = st.tail_seq, st.trim_point, st.follow
        lo = max(start_seq, trim)
        if (
            not batches
            or batches[-1][-1].seq_num + 1 != tail
            or batches[0][0].seq_num > lo
        ):
            return None
        rows: list = []
        total = 0
        for batch in batches:
            if batch[-1].seq_num < lo:
                continue
            for r in batch:
                if limit.count is not None and len(rows) >= limit.count:
                    return rows
                if r.seq_num < lo:
                    continue
                if limit.until is not None and r.timestamp >= limit.until:
                    continue
                if limit.bytes is not None:
                    total += metered_size_bytes(r.headers, r.body)
                    if total > limit.bytes:
                        return rows
                rows.append(r)
        return rows

    def compact(self) -> None:
        """Rewrite storage clustered by (basin, stream, seq_num) — the
        OPTIMIZE/compaction analogue of SlateDB's background compaction.
        Appends produce one small file per batch; compaction folds them
        into few files whose row-group (min, max) on the key columns are
        disjoint, so range reads prune precisely.

        Two writers, chosen by the snapshot's size: one that fits
        :data:`DRIVER_COMPACT_MAX_BYTES` is merged on the driver
        (:meth:`_arrow_merge_write`, no Spark job — SlateDB likewise
        merges L0 SSTs inside the server process); a larger one is a
        Spark range-repartition + sort + write. Both commit through
        :meth:`_rewrite` and produce the same records in the same
        order."""

        def build() -> tuple:
            _, files = self._manifest_current()
            if self._snapshot_fits_driver(files):
                return self._arrow_merge_write(files), files
            df, files = self._records_snapshot()
            n = max(1, self.spark.sparkContext.defaultParallelism // 4)
            # a partitioned write sorts each task by ``bucket`` unless
            # the rows already are, and that sort does not keep the key
            # order: lead with it so the write keeps this sort
            lead = ["bucket"] if self.bucket_count else []
            plan = df.repartitionByRange(
                n, "basin", "stream", "seq_num"
            ).sortWithinPartitions(*lead, "basin", "stream", "seq_num")
            return self._spark_write(plan), files

        self._rewrite_replanned(build)

    def _snapshot_fits_driver(self, files: frozenset) -> bool:
        """True if the uncompressed size of ``files`` (row-group
        ``total_byte_size`` from each footer, summed until it passes
        the bound) is at most :data:`DRIVER_COMPACT_MAX_BYTES`."""
        import pyarrow.parquet as pq

        bk = self._mf_backend
        total = 0
        for rel in files:
            md = pq.read_metadata(bk.spark_path(os.path.join(self.base_dir, rel)))
            total += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
            if total > DRIVER_COMPACT_MAX_BYTES:
                return False
        return True

    def _arrow_merge_write(self, files: frozenset):
        """The driver-side ``write(stage)`` of a compaction: per
        directory (``""`` flat, ``bucket=N`` bucketed), read every
        consumed file, sort the rows by (basin, stream, seq_num) — Arrow
        orders strings by bytes, as Spark's sort does — and write them
        as ONE snappy part file with the parquet schema of a Spark
        rewrite (every field nullable)."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        bk = self._mf_backend
        by_dir: dict[str, list[str]] = defaultdict(list)
        for rel in sorted(files):
            by_dir[os.path.dirname(rel)].append(rel)
        # Spark-written parts are all-nullable, driver-written ones keep
        # RECORD_SCHEMA's non-null fields: both cast to the nullable form
        schema = arrow_record_schema(nullable=True)
        order = [("basin", "ascending"), ("stream", "ascending"), ("seq_num", "ascending")]

        def write(stage: str) -> None:
            for d, rels in by_dir.items():
                table = pa.concat_tables(
                    pq.read_table(bk.spark_path(os.path.join(self.base_dir, rel)), schema=schema)
                    for rel in rels
                ).sort_by(order)
                path = bk.spark_path(
                    os.path.join(stage, d, f"part-00000-{uuid.uuid4()}.c000.snappy.parquet")
                )
                os.makedirs(os.path.dirname(path), exist_ok=True)
                pq.write_table(table, path, compression="snappy")

        return write

    def _rewrite_replanned(self, build, attempts: int = 8) -> None:
        """Run ``self._rewrite(*build())`` — ``build`` returns the
        ``write(stage)`` of :meth:`_staged_commit` and the snapshot it
        reads — re-planning on
        :class:`~s2_spark.manifest.PublishConflict`: the conflict means
        a racing rewrite in ANOTHER process delisted files this plan
        consumed (in-process rewrites serialize on the rewrite latch),
        so the correct response — per the CAS protocol — is to rebuild
        the plan from the fresh generation and try again. Appends that
        landed meanwhile are picked up by the rebuilt listing; bounded
        attempts keep a pathological rewrite storm loud. Each re-plan
        folds the log fresh, so every later conflict is a rewrite
        another writer committed meanwhile: a burst of N racing
        rewrites costs at most N + 1 attempts. The bound covers a
        writer compacting back to back between millisecond unary
        appends (tests/test_sim.py::test_sim_manifest_two_store_churn
        races four)."""
        from s2_spark.manifest import PublishConflict

        for attempt in range(attempts):
            try:
                self._rewrite(*build())
                return
            except PublishConflict:
                if attempt == attempts - 1:
                    raise
                self.manifest_refresh()

    def _rewrite(self, write, consumed: frozenset) -> None:
        """Replace ``consumed`` — the visible relpaths of the generation
        snapshot ``write`` reads — with ``write(stage)``'s output (a
        Spark plan's :meth:`_spark_write` or the driver's
        :meth:`_arrow_merge_write`), committed through
        :meth:`_staged_commit`: one generation adds the output's parts
        (0-row parts dropped, so a rewrite to no rows publishes a
        remove-only generation) and removes exactly the snapshot it
        read. An empty snapshot is no work: nothing is written and
        nothing published.

        Consumed files stay on disk (in-flight readers pinned to older
        generations keep reading them) until :meth:`vacuum`. Concurrent
        appends publish their own generations in between; their files
        are not in the consumed set and survive untouched. A concurrent
        REWRITE (another process compacting the same directory)
        surfaces as :class:`~s2_spark.manifest.PublishConflict` and the
        caller re-plans from the new generation; in-process rewrites
        serialize on ``_rewrite_mu``."""
        if not consumed:
            return
        with self._rewrite_mu:
            self._staged_commit(write, consumed)

    def apply_trim_and_retention(
        self, drop_streams: list[tuple[str, str]] | None = None
    ) -> None:
        """Physically delete trimmed/expired records — the background
        trim executor (lite/src/backend/bgtasks/stream_trim.rs:21-151)
        and retention TTL as one compaction rewrite.

        **Tail preservation**: each stream's highest-seq record survives
        even when it sits below the trim point. The reference keeps the
        tail in a dedicated KV row (StreamTailPosition) that trims never
        touch; here the tail is DERIVED from storage, so deleting a
        fully-trimmed stream's every record would reset its recovered
        tail to 0 and re-issue already-used seq_nums. The keeper record
        stays invisible to reads (the trim filter hides it) and, being
        the highest-seq record, is by construction at/after the last
        trim command — recovery re-derives both tail and trim point
        from it.

        ``drop_streams`` removes those streams' records entirely (no
        keeper) and, once the rewrite commits, their hot state: the
        purge path for DELETED streams, whose names must become
        recreatable as fresh streams starting at seq 0.
        """
        def build() -> tuple:
            plan, files = self._build_trim_retention_plan(drop_streams)
            return self._spark_write(plan), files

        self._rewrite_replanned(build)
        if drop_streams:
            self._record_purges(drop_streams)
            with self._meta_mu:
                for key in drop_streams:
                    self._state.pop(key, None)
                    self._touched_ms.pop(key, None)
                    self._evicted.discard(key)

    def _build_trim_retention_plan(
        self, drop_streams: list[tuple[str, str]] | None
    ) -> tuple[DataFrame, frozenset]:
        df, files = self._records_snapshot()
        # trim points come from storage, not the hot-state cache — the
        # cache only holds recently-touched streams (lazy recovery), and
        # maintenance must honor every stream's trim commands.
        # COMMAND keepers: recovery derives the fencing token and trim
        # point from command records, so physically deleting a stream's
        # defining fence/trim command (it can sit below its own trim
        # point) would silently regress recovered state — the reference
        # keeps both in dedicated KV rows that trims never touch
        # (kv/mod.rs:55-95). Like the tail keeper, kept commands stay
        # invisible to reads (the trim filter hides them).
        # no broadcast hint: one row per stream can be huge at the
        # million-stream scale — AQE picks broadcast vs shuffle join
        # from the aggregate's actual runtime size
        seq = F.col("seq_num")
        keep = (
            df.join(self._state_agg(df), ["basin", "stream"], "left")
            .filter(
                (seq >= F.coalesce("trim_point", F.lit(0)))
                | (seq == F.col("tail_seq") - 1)
                | (seq == F.col("last_fence_seq"))
                | (seq == F.col("last_trim_seq"))
            )
            .select(*df.columns)
        )
        if drop_streams:
            keep = keep.filter(
                ~F.concat_ws("\x00", "basin", "stream").isin(
                    [f"{b}\x00{s}" for b, s in drop_streams]
                )
            )
        return keep, files

    def _record_purges(self, drop_streams: list[tuple[str, str]]) -> None:
        """Generation tombstones for physically purged streams, written
        AFTER the rewrite commits (under ``{base}/_purges/``, invisible
        to parquet listings). A running streaming source reads these to
        drop its monotone tail guard for the dead generation — without
        a tombstone it would pin the purged stream's old tail forever
        and never deliver a recreated stream's records
        (streaming/source.py latestOffset)."""
        import hashlib

        bk = self._mf_backend
        d = os.path.join(self.base_dir, "_purges")
        for b, s in drop_streams:
            name = hashlib.sha1(f"{b}\x00{s}".encode()).hexdigest()[:24] + ".json"
            p = os.path.join(d, name)
            gen = 0
            try:
                gen = int(json.loads(bk.read(p)).get("gen", 0))
            except (OSError, ValueError):
                pass
            # one atomic object PUT (tmp+rename locally): readers see
            # old or new, never torn — and on a bucket store the
            # tombstone lives beside the records, so a reader on
            # ANOTHER host still observes the purge generation bump
            bk.put(
                p,
                json.dumps({"basin": b, "stream": s, "gen": gen + 1}).encode(),
            )
