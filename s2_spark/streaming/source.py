"""S2 streaming source — a Spark 4 Python Data Source.

Re-expresses the reference's read-session / live-tail machinery
(``lite/src/backend/read.rs:183-240``) in Structured Streaming terms:

- **offsets** = ``{ "__v": 2, "basin\\0stream": [purge_gen, next_seq,
  hwm?] }`` — the per-stream positions the reference encodes in SSE
  ``Last-Event-Id`` (``api/src/v1/stream/sse.rs:10-73``), paired with
  the stream's purge generation; Spark checkpoints them, so a
  restarted query resumes where it left off (A14/A28), and a stream
  deleted+recreated while the query was DOWN is detected at restart
  (generation in the checkpoint < generation on disk) and re-delivered
  from seq 0 — matching the reference's recreate-restarts-at-0
  semantics (``lite/src/backend/streams.rs:82-397``). The optional
  third element carries the reader's high-water mark at emission, so a
  rate-limited batch replayed after a crash recomputes its true start
  from the offset pair alone. Emitted ends never regress: rate caps
  apply only from a KNOWN same-generation baseline — in-memory for a
  warm reader, recovered from the durable reader-HWM files
  (``{path}/_reader_hwm/``, monotone max of every emitted end,
  persisted before each emission returns) for a cold one — so
  admission control survives restarts (a restart against a deep
  backlog is throttled from the first micro-batch, the reference's
  streamer.rs:815-838 contract) and is still never bought at the cost
  of exactly-once: with no durable file (caps newly enabled, non-POSIX
  filesystem) the first window falls back to uncapped. An offset value
  in any other shape (a plain int, written before offsets carried the
  generation) raises ``ValueError``: its generation is unknowable.
- **latestOffset** = the tails scan (``check_tail``, A15).
- **partitions** = one input split per stream per micro-batch — the
  per-stream single-reader discipline; N streams read in parallel
  across executors.
- **read()** runs executor-side over pyarrow with filter pushdown on
  ``(basin, stream, seq_num)`` — the catch-up scan with key-range
  pruning (``read.rs:111-131``).

Caught-up live tailing = successive micro-batches where ``partitions``
returns only streams whose tail advanced (heartbeat ≡ empty progress).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from s2_spark.model import RECORD_SCHEMA

SEP = "\x00"


class _StreamSlice(InputPartition):
    def __init__(self, path: str, basin: str, stream: str, start: int, end: int):
        self.path = path
        self.basin = basin
        self.stream = stream
        self.start = start
        self.end = end


def _parquet_files(path: str, backend=None) -> list[str]:
    """Data files only — hidden/metadata entries (underscore or dot
    prefixed, e.g. the store's ``_meta`` catalog) are skipped, matching
    Spark's and pyarrow's hidden-path filters.

    A store (generation log under ``<path>/_manifest``) is listed from
    its CURRENT generation: after a compaction the delisted originals
    coexist on disk with the compacted copies until vacuum, so a raw
    directory walk would double-count every record. The fold is
    lock-free (generation files are immutable once published) —
    exactly the reader protocol the store's own ``records_df`` uses.
    A directory with no generation log lists no files.

    ``backend`` reads a store whose log (and data) live in a
    non-local :mod:`s2_spark.manifest` backend — wired from the
    reader's ``backend`` option (a :func:`~s2_spark.manifest
    .backend_from_spec` string, since only strings cross the
    DataSource option boundary). Returned paths are the backend's
    READ locations, consumable by pyarrow and Spark alike."""
    return [s for _l, s in _listed_pairs(path, backend)]


def _listed_pairs(path: str, backend=None) -> list[tuple[str, str]]:
    """``(logical_path, spark_path)`` pairs for every visible data
    file, sorted by spark path. The logical path addresses the
    BACKEND (mtime probes, whole-object footer reads on a true remote
    store); the spark path is what Spark/pyarrow open directly."""
    from s2_spark import manifest as _mf

    bk = backend or _mf.LOCAL
    if getattr(bk, "is_local", False) and _mf.has_external_backend_marker(
        path
    ):
        # the generation log lives in a non-local PublishBackend this
        # local-backend scanner cannot reach — folding the local path
        # would silently list no files
        raise RuntimeError(
            f"store {path!r} uses an external manifest backend; pass "
            f"the matching spec via .option('backend', …) so the "
            f"source can read the generation log"
        )
    _, visible = _mf.fold(path, bk)
    pairs = [
        (p, bk.spark_path(p))
        for rel in visible
        if bk.exists(p := os.path.join(path, rel))
    ]
    pairs.sort(key=lambda t: t[1])
    return pairs


def _file_tails(
    file_path: str,
    stats: dict | None = None,
    backend=None,
    logical: str | None = None,
) -> dict[str, int]:
    """Per-stream next_seq for one parquet file, from footer metadata.

    Row groups whose (basin, stream) min==max statistics show a single
    stream contribute their seq_num max without touching data pages —
    the Spark analogue of the reference's tail rows in the KV store
    (lite/src/backend/kv/mod.rs:55-95). Only mixed row groups fall back
    to a 3-column vectorized read of just those groups.

    On a backend whose spark paths are not local files (a true remote
    object store — the sandbox maps to local files, a production port
    would hand pyarrow-openable URLs), the footer read falls back to
    one whole-object GET through the backend (code-review r15: the
    silent alternative was an empty tails scan)."""
    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(file_path)
    except (OSError, FileNotFoundError):
        if backend is None or logical is None:
            raise
        import io

        pf = pq.ParquetFile(io.BytesIO(backend.read(logical)))
    idx = {name: i for i, name in enumerate(pf.schema_arrow.names)}
    tails: dict[str, int] = {}
    mixed: list[int] = []
    for g in range(pf.metadata.num_row_groups):
        rg = pf.metadata.row_group(g)
        if rg.num_rows == 0:
            continue
        sb = rg.column(idx["basin"]).statistics
        ss = rg.column(idx["stream"]).statistics
        sq = rg.column(idx["seq_num"]).statistics
        if (
            sb is not None and ss is not None and sq is not None
            and sb.has_min_max and ss.has_min_max and sq.has_min_max
            and sb.min == sb.max and ss.min == ss.max
        ):
            k = f"{sb.min}{SEP}{ss.min}"
            tails[k] = max(tails.get(k, 0), sq.max + 1)
        else:
            mixed.append(g)
    if mixed:
        tbl = pf.read_row_groups(mixed, columns=["basin", "stream", "seq_num"])
        agg = tbl.group_by(["basin", "stream"]).aggregate([("seq_num", "max")])
        for b, s, q in zip(
            agg.column("basin").to_pylist(),
            agg.column("stream").to_pylist(),
            agg.column("seq_num_max").to_pylist(),
        ):
            k = f"{b}{SEP}{s}"
            tails[k] = max(tails.get(k, 0), q + 1)
    if stats is not None:
        stats["files"] = stats.get("files", 0) + 1
        stats["mixed_row_groups"] = stats.get("mixed_row_groups", 0) + len(mixed)
    return tails


def _tails(
    path: str,
    cache: dict[str, dict[str, int]] | None = None,
    stats: dict | None = None,
    backend=None,
) -> dict[str, int]:
    """Per-stream next_seq for the whole store — footer statistics only
    (no data pages for single-stream row groups), incremental via
    ``cache``, keyed by the file's path: a visible path names an
    immutable, UUID-named file (every commit refuses a part name that
    is already live), so each trigger pays only for files that appeared
    since the last one. Per-trigger cost is O(new files), independent
    of total store size."""
    tails: dict[str, int] = {}
    pairs = _listed_pairs(path, backend)
    if cache is not None:
        # evict entries for files removed by compaction/trim rewrites —
        # a long-running query over a periodically-compacted store must
        # not leak cache entries for files that no longer exist
        live = {fp for _l, fp in pairs}
        for gone in [fp for fp in cache if fp not in live]:
            del cache[gone]
    for logical, fp in pairs:
        if cache is not None and fp in cache:
            file_tails = cache[fp]
        else:
            try:
                file_tails = _file_tails(fp, stats, backend, logical)
            except (OSError, ValueError):
                continue
            if cache is not None:
                cache[fp] = file_tails
        for k, v in file_tails.items():
            if v > tails.get(k, 0):
                tails[k] = v
    return tails


def _purges_dir(path: str) -> str:
    return os.path.join(path, "_purges")


def _purge_gens(
    path: str, cache: dict | None = None, backend=None
) -> dict[str, int]:
    """Per-stream purge-generation tombstones written by
    ``StreamStore._record_purges`` after a deleted stream's records are
    physically dropped. A generation bump tells a reader that
    everything it knew about the stream (tail guard, high-water mark,
    byte budget) described a DEAD stream: a recreated stream of the
    same name is a new stream starting at seq 0.

    ``cache`` (a one-entry dict the caller owns) keys the parse on the
    tombstone files' ``(name, inode, mtime_ns, size)`` tuples, so the
    per-trigger hot path costs one readdir + a stat per tombstone —
    not N file opens. Inode membership makes the key tick-proof: every
    tombstone rewrite is tmp+rename, which always lands a fresh inode,
    so a generation bump within one coarse filesystem-timestamp tick
    (where mtime alone would serve stale) still misses the cache.

    ``backend`` (non-local): tombstones are read through the object
    API — one LIST plus a GET per tombstone, uncached. Purges are
    rare (stream delete + physical purge), so the prefix is empty or
    tiny on almost every trigger, and skipping the stat-key cache
    avoids depending on object timestamps for staleness."""
    if backend is not None and not getattr(backend, "is_local", False):
        d = _purges_dir(path)
        out: dict[str, int] = {}
        for f in backend.list_dir(d):
            if not f.endswith(".json"):
                continue
            try:
                m = json.loads(backend.read(os.path.join(d, f)))
                out[f"{m['basin']}{SEP}{m['stream']}"] = int(m["gen"])
            except (OSError, ValueError, KeyError):
                continue  # torn/foreign object: next trigger retries
        return out
    d = _purges_dir(path)
    try:
        names = [f for f in os.listdir(d) if f.endswith(".json")]
    except OSError:
        return {}
    key = []
    for f in sorted(names):
        try:
            st = os.stat(os.path.join(d, f))
        except OSError:
            continue
        key.append((f, st.st_ino, st.st_mtime_ns, st.st_size))
    key = tuple(key)
    if cache is not None and cache.get("key") == key:
        return cache["gens"]
    out: dict[str, int] = {}
    for f in names:
        try:
            with open(os.path.join(d, f)) as fh:
                m = json.load(fh)
            out[f"{m['basin']}{SEP}{m['stream']}"] = int(m["gen"])
        except (OSError, ValueError, KeyError):
            continue  # torn/foreign file: ignore, next trigger retries
    if cache is not None:
        cache["key"] = key
        cache["gens"] = out
    return out


def _reader_hwm_dir(path: str) -> str:
    return os.path.join(path, "_reader_hwm")


def _reader_hwm_file(path: str, key: str) -> str:
    import hashlib

    name = hashlib.sha1(key.encode()).hexdigest()[:24] + ".json"
    return os.path.join(_reader_hwm_dir(path), name)


def _reader_hwm_read(path: str, key: str) -> tuple[int, int] | None:
    """Durable admission baseline for ``key``: the max (gen, end) any
    reader of this store has ever emitted. Every file is written
    tmp+rename, so each read sees old or new, never torn. The value is
    the max-merge of the flock-merged main file AND any per-writer
    ``.w{pid}`` sidecars (the no-fcntl path below) — a store moved
    between filesystems still recovers the true max."""
    p = _reader_hwm_file(path, key)
    import glob

    best: tuple[int, int] | None = None
    # ".w*" also matches in-flight sidecar STAGING files
    # ({p}.w{pid}-{tid}.tmp.{pid}.{salt}); only completed sidecars are
    # durable state, so exclude ".tmp." paths — and sweep ones a
    # crashed writer abandoned (age-gated: an in-flight tmp lives
    # milliseconds between O_EXCL open and rename)
    sidecars = []
    for cand in sorted(glob.glob(glob.escape(p) + ".w*")):
        if ".tmp." in os.path.basename(cand):
            try:
                if time.time() - os.path.getmtime(cand) > 3600:
                    os.unlink(cand)
            except OSError:
                pass
            continue
        sidecars.append(cand)
    for cand in [p] + sidecars:
        try:
            with open(cand) as f:
                m = json.load(f)
            v = (int(m["gen"]), int(m["end"]))
        except (OSError, ValueError, KeyError):
            continue
        if best is None or v > best:
            best = v
    return best


def _reader_hwm_write_max(path: str, key: str, gen: int, end: int) -> None:
    """Monotone (gen, end) lexicographic max-merge — concurrent readers
    of one store never lose each other's maximum (a lost max could let
    a later cold reader cap its end BELOW another query's checkpointed
    position: the offset-log regression the never-regress invariant
    forbids). Same durable-marker pattern as the purge tombstones
    (store._record_purges).

    With ``fcntl`` the merge runs under an exclusive flock on the main
    file. Without it (non-POSIX), each writer lands its max in a
    PRIVATE ``.w{pid}`` sidecar via O_EXCL-tmp + atomic rename — no
    two writers ever rename onto the same path, so there is no
    clobber window at all, and ``_reader_hwm_read`` max-merges the
    main file with every sidecar. Persistence stays best-effort on
    I/O failure (costs only admission on the next cold start, never
    correctness)."""
    d = _reader_hwm_dir(path)
    p = _reader_hwm_file(path, key)

    def _land(target: str, value: tuple[int, int]) -> None:
        # unique O_EXCL tmp per attempt: two writers can never share a
        # staging file, and the rename itself is atomic
        for salt in range(64):
            tmp = f"{target}.tmp.{os.getpid()}.{salt}"
            try:
                fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                continue
            with os.fdopen(fd, "w") as f:
                json.dump({"key": key, "gen": value[0], "end": value[1]}, f)
            os.replace(tmp, target)
            return
        raise OSError(f"could not stage a unique tmp beside {target!r}")

    try:
        os.makedirs(d, exist_ok=True)
        try:
            import fcntl
        except ImportError:
            fcntl = None
        if fcntl is not None:
            with open(p + ".lock", "w") as lf:
                fcntl.flock(lf, fcntl.LOCK_EX)
                cur = _reader_hwm_read(path, key)
                if cur is not None and cur >= (gen, end):
                    return
                _land(p, (gen, end))
            return
        # no fcntl: single-writer sidecar. Only this (pid, thread)
        # renames onto its .w file, so the write can never lose a
        # concurrent writer's larger value — the merge happens at READ
        # time instead of write time. Stale sidecars from dead writers
        # are harmless (the merge is monotone) and bounded by writer
        # count.
        import threading

        side = f"{p}.w{os.getpid()}-{threading.get_ident()}"
        cur = _reader_hwm_read(path, key)
        if cur is not None and cur >= (gen, end):
            return
        _land(side, (gen, end))
    except OSError:
        return


class S2StreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        from s2_spark import manifest as _mf

        self.path = options["path"]
        # a store whose manifest log + data live in a non-local
        # backend passes its spec string here ("sandbox:<root>", an
        # s3/gcs scheme in a production port) — only strings cross
        # the DataSource option boundary, and the reconstructed
        # backend object pickles with this reader to the executors
        # that run read()
        self._backend = _mf.backend_from_spec(options.get("backend", "local"))
        self.basin = options.get("basin")
        self.stream = options.get("stream")
        self.start_seq = int(options.get("startseq", 0))
        # admission control / backpressure (the reference's in-flight
        # bytes semaphore, streamer.rs:815-838): cap how far each
        # stream's offset advances per micro-batch
        self.max_per_trigger = int(options.get("maxrecordspertrigger", 0))
        # total per-stream records budget (SSE Last-Event-Id count
        # decrement, records.rs:49-65): the cap start_seq+maxrecords is
        # deterministic, so a checkpoint-restarted query still stops at
        # the original combined limit — the remaining budget is exactly
        # cap minus the checkpointed offset.
        self.max_records = int(options.get("maxrecords", 0))
        # total per-stream metered-bytes budget (the SSE Last-Event-Id
        # bytes decrement, api/src/v1/stream/sse.rs:10-73 applied in
        # lite/src/handlers/v1/records.rs:49-65). Cumulative metered
        # bytes from start_seq are a pure function of the immutable log,
        # so the byte-capped end seq replans identically across
        # checkpoint restarts — no offset-format change needed. Planning
        # reads ≤ maxbytes of record data driver-side over the session's
        # lifetime (incremental, cached); the unbudgeted hot path never
        # touches data pages on the driver.
        self.max_bytes = int(options.get("maxbytes", 0))
        # admission namespace: the durable reader-HWM files are keyed by
        # (store path, basin/stream) and therefore SHARED across queries
        # reading one store — a cold query whose checkpoint sits at seq
        # 10 would recover another query's hwm=1000 baseline and run its
        # first window effectively uncapped (correctness unaffected:
        # the shared hwm is ≥ any checkpointed end, so no regression —
        # only the per-query throttle contract weakens). Passing a
        # per-query identity here (e.g. the checkpoint dir or query
        # name) isolates the baselines; empty = shared-store default,
        # disclosed in README. When `checkpointLocation` is given as a
        # READ option (mirror the writeStream setting on readStream),
        # the namespace is derived from it automatically — checkpoint
        # dirs are per-query by construction, so every query that
        # discloses its checkpoint gets an isolated baseline with no
        # extra knob; an explicit `hwmns` always wins (e.g. to SHARE a
        # baseline across a torn-down-and-recreated checkpoint).
        ns = str(options.get("hwmns", ""))
        if not ns:
            ckpt = str(options.get("checkpointlocation", ""))
            if ckpt:
                import hashlib

                ns = "ckpt-" + hashlib.sha1(ckpt.encode()).hexdigest()[:16]
        self.hwm_ns = ns
        self._bytes_scan: dict[str, tuple[int, int]] = {}  # key -> (next_seq, cum)
        self._bytes_cap: dict[str, int] = {}  # key -> resolved final cap
        # driver-side per-file tails cache: each trigger's latestOffset
        # only inspects files that appeared since the previous trigger
        self._tails_cache: dict[str, dict[str, int]] = {}
        self.tails_stats: dict = {}
        # per-stream max tail observed WITHIN the current generation
        # (the monotone guard against transient tails-scan regressions)
        self._max_seen: dict[str, int] = {}
        # purge-generation tracking. Offsets carry the generation (the
        # v2 ``[gen, seq]`` format, see OFFSET_VERSION), so the rebase
        # decision is a pure function of the checkpointed (start, end)
        # pair: a purge+recreate is replayed identically whether it
        # happened under a running query, across a crash replay, or
        # while the query was DOWN (the checkpoint remembers the start
        # generation; latestOffset reports the current one).
        self._purge_cache: dict = {}
        # generations on disk when THIS reader constructed: the
        # generation latestOffset stamps into fresh offsets
        self._gen_seen: dict[str, int] = _purge_gens(self.path, self._purge_cache, self._backend)
        # high-water mark: per key the max (gen, seq) ever planned or
        # committed — generation-aware, so a dead generation's late
        # commit (Spark delivers commit(N) only when batch N+1 starts)
        # can never re-pin a rebased stream
        self._baseline: dict[str, tuple[int, int]] = {}
        # last (gen, end) this incarnation persisted to the durable
        # reader-HWM file per key — skips the merge write on triggers
        # where the emitted end did not move
        self._hwm_written: dict[str, tuple[int, int]] = {}

    #: offset format version stamped into every emitted offset dict
    #: under the ``__v`` key; values are ``[gen, seq]`` or
    #: ``[gen, seq, hwm]``
    OFFSET_VERSION = 2
    _VKEY = "__v"

    @staticmethod
    def _norm(k: str, v) -> tuple[int, int]:
        """(gen, seq) from one offset value. Any other shape — a plain
        int from a checkpoint written before offsets carried the
        generation — raises: its generation is unknowable, so resuming
        it could silently skip a purge's re-delivery."""
        if not isinstance(v, (list, tuple)):
            raise ValueError(
                f"offset for stream {k!r} is {v!r}, not [gen, seq]: this "
                f"checkpoint predates generation-carrying offsets; "
                f"restart the query from a fresh checkpoint"
            )
        return int(v[0]), int(v[1])

    def _hwm_key(self, k: str) -> str:
        """Durable-HWM file key for stream key ``k`` — prefixed with the
        admission namespace (``hwmns`` option) when set, so distinct
        queries keep distinct throttle baselines over one store."""
        return f"{self.hwm_ns}\x01{k}" if self.hwm_ns else k

    def _filtered(self, tails: dict[str, int]) -> dict[str, int]:
        out = {}
        for k, v in tails.items():
            b, s = k.split(SEP, 1)
            if self.basin and b != self.basin:
                continue
            if self.stream and s != self.stream:
                continue
            out[k] = v
        return out

    def initialOffset(self) -> dict:
        # start of the log (or a requested seq) for every known stream;
        # streams discovered later start at 0 via partitions().
        tails = _tails(self.path, self._tails_cache, self.tails_stats, self._backend)
        out = {self._VKEY: self.OFFSET_VERSION}
        for k in self._filtered(tails):
            out[k] = [self._gen_seen.get(k, 0), self.start_seq]
        return out

    def latestOffset(self) -> dict:
        # Note: with rate limiting we still report true tails here and
        # clamp in latestOffset-vs-start at partition planning; Spark's
        # DataSourceStreamReader contract applies offsets as reported,
        # so clamping must happen where the end offset is produced.
        #
        # The tails scan and the tombstone read must be mutually
        # CONSISTENT: a purge+recreate completing between them would
        # stamp the dead generation's tail with the new generation
        # ([new_gen, dead_tail] pins the recreated stream's HWM above
        # its true tail — later appends below it silently skipped), or
        # conversely deliver new-generation records under the old
        # generation and duplicate them after the rebase. Tombstones
        # are written AFTER the purge rewrite commits, so if the
        # generations read before and after the tails scan agree, no
        # purge overlapped the scan — retry (purges are rare) until
        # stable, BOUNDED: sustained purge churn (or anything that
        # keeps perturbing tombstone stat keys) must stall this
        # trigger loudly, not wedge the driver forever with no
        # diagnostic.
        gens = _purge_gens(self.path, self._purge_cache, self._backend)
        for attempt in range(32):
            scanned = _tails(self.path, self._tails_cache, self.tails_stats, self._backend)
            tails = self._filtered(scanned)
            gens2 = _purge_gens(self.path, self._purge_cache, self._backend)
            if gens2 == gens:
                break
            gens = gens2
        else:
            raise RuntimeError(
                "latestOffset could not get a purge-stable tails scan "
                f"after 32 attempts over {self.path!r}: purge "
                "generations kept changing between scans (sustained "
                "purge churn?) — refusing to stamp tails with "
                "generations they may not belong to"
            )
        # a purge-generation bump means the stream was deleted and its
        # records physically dropped: the old tail/HWM/budget state
        # describes a dead generation — forget it. The bump itself
        # rides in the offset (the reported generation changes even
        # when the recreated tail is numerically equal to the dead
        # one), so the engine plans a batch and partitions() rebases
        # from the (start_gen < end_gen) comparison alone.
        for k, g in gens.items():
            if g > self._gen_seen.get(k, 0):
                self._gen_seen[k] = g
                self._max_seen.pop(k, None)
                # the rebase position is STRUCTURAL (partitions()
                # restarts the recreated stream at start_seq), so for a
                # rate-capped reader the new generation's baseline is
                # KNOWN, not guessed — seeding it keeps even the first
                # post-rebase window capped, and it cannot regress this
                # query's offset log: no same-generation entry can
                # precede the generation's first sighting. Uncapped
                # readers keep the pop (their baselines re-seed from
                # partitions/commit without touching emitted shapes).
                if self.max_per_trigger > 0:
                    self._baseline[k] = (g, self.start_seq)
                else:
                    self._baseline.pop(k, None)
                self._bytes_scan.pop(k, None)
                self._bytes_cap.pop(k, None)
        # monotone guard: a concurrent compaction rewrite can leave the
        # directory momentarily empty/partial; tails only ever grow
        # WITHIN a stream generation, so serve the max ever observed
        # per stream instead of regressing the offset log
        for k, v in self._max_seen.items():
            if tails.get(k, 0) < v:
                tails[k] = v
        self._max_seen = dict(tails)
        if self.max_records > 0:
            cap = self.start_seq + self.max_records
            tails = {k: min(v, cap) for k, v in tails.items()}
        if self.max_bytes > 0:
            tails = {k: min(v, self._byte_capped(k, v)) for k, v in tails.items()}
        if self.max_per_trigger > 0:
            # Cap ONLY from a KNOWN same-generation baseline — never a
            # guessed one: capping from a guess can emit an end BELOW
            # the checkpointed position, and once that regressed entry
            # is the offset log's latest, a second restart loses the
            # true position entirely (soak-caught: gen-1 records [2,4)
            # delivered twice after restart → regressed end → restart).
            # A cold reader (latestOffset takes no start in the Python
            # DataSourceStreamReader API) recovers its baseline from
            # the DURABLE reader HWM: the monotone max (gen, end) any
            # reader ever emitted for the key, persisted BEFORE each
            # emission returns — so durable-base ≥ every end Spark's
            # offset log can hold, and min(tail, durable + cap) never
            # regresses below a checkpointed position. The reference's
            # admission contract (in-flight semaphore,
            # streamer.rs:815-838) therefore survives restarts: a cold
            # start against a deep backlog is throttled from the first
            # micro-batch. Residual best-effort cases, README-disclosed:
            # no durable file yet (caps newly enabled over an old
            # checkpoint, or a non-POSIX filesystem) → the first window
            # is uncapped, exactly the pre-round-10 behavior.
            capped = {}
            for k, v in tails.items():
                g = self._gen_seen.get(k, 0)
                b = self._baseline.get(k)
                if b is None or b[0] != g:
                    db = _reader_hwm_read(self.path, self._hwm_key(k))
                    if db is not None and db[0] == g:
                        b = db
                if b is not None and b[0] == g:
                    capped[k] = min(v, b[1] + self.max_per_trigger)
                else:
                    capped[k] = v
            tails = capped
            # persist the emitted ends before they can reach Spark's
            # offset log (the ordering the never-regress argument
            # needs); unchanged ends skip the write
            for k, v in tails.items():
                g = self._gen_seen.get(k, 0)
                if self._hwm_written.get(k) != (g, v):
                    _reader_hwm_write_max(self.path, self._hwm_key(k), g, v)
                    self._hwm_written[k] = (g, v)
        out = {self._VKEY: self.OFFSET_VERSION}
        for k, v in tails.items():
            g = self._gen_seen.get(k, 0)
            b = self._baseline.get(k)
            if b is not None and b[0] == g:
                # [gen, seq, hwm]: hwm = everything planned/committed
                # before this batch was planned — the durable twin of
                # the in-memory baseline, so a replay on a cold reader
                # clamps identically after the in-memory state is lost.
                # With non-regressing ends the hwm normally EQUALS the
                # batch's start; it is kept as defense in depth for any
                # pairing where it does not (e.g. a transient tails-
                # scan regression slipping into the offset log).
                out[k] = [g, v, b[1]]
            else:
                out[k] = [g, v]
        return out

    def _bump(self, k: str, gen: int, seq: int) -> None:
        """Advance the HWM by (gen, seq) lexicographic order: a higher
        generation replaces outright; within a generation only forward.
        Values from a dead (lower) generation are ignored — that is the
        whole attribution story for late dead-generation commits."""
        b = self._baseline.get(k)
        if b is None or gen > b[0] or (gen == b[0] and seq > b[1]):
            self._baseline[k] = (gen, seq)

    _BYTES_SCAN_WINDOW = 4096  # records per driver-side planning read

    def _byte_capped(self, key: str, tail: int) -> int:
        """Largest seq e ≤ tail with metered(start_seq..e) ≤ max_bytes —
        the deterministic byte-budget cutoff (records.rs:49-65 combined
        limit). Scans forward incrementally in seq windows and stops at
        the first record that would exceed the budget, so the driver
        reads at most ~max_bytes of data over the whole session."""
        if key in self._bytes_cap:
            return min(self._bytes_cap[key], tail)
        nxt, cum = self._bytes_scan.get(key, (self.start_seq, 0))
        if tail <= nxt:
            return tail
        import pyarrow.dataset as ds

        b, s = key.split(SEP, 1)
        # explicit file list for the same reason as read(): dir-level
        # discovery walks Spark's `_temporary` staging and races its
        # removal under concurrent appends
        dataset = ds.dataset(_parquet_files(self.path, self._backend), format="parquet")
        while nxt < tail:
            hi = min(nxt + self._BYTES_SCAN_WINDOW, tail)
            flt = (
                (ds.field("basin") == b)
                & (ds.field("stream") == s)
                & (ds.field("seq_num") >= nxt)
                & (ds.field("seq_num") < hi)
            )
            table = dataset.to_table(
                filter=flt, columns=["seq_num", "headers", "body"]
            ).sort_by("seq_num")
            from s2_spark.model import metered_size_bytes

            for seq, headers, body in zip(
                table.column("seq_num").to_pylist(),
                table.column("headers").to_pylist(),
                table.column("body").to_pylist(),
            ):
                m = metered_size_bytes(headers, body)
                if cum + m > self.max_bytes:
                    self._bytes_cap[key] = seq  # budget exhausted — final
                    return seq
                cum += m
            nxt = hi
        self._bytes_scan[key] = (tail, cum)
        return tail

    def partitions(self, start: dict, end: dict):
        """Plan one slice per advanced stream, clamped by the high-water
        mark: no slice ever re-reads below ANY start/end offset this
        reader has seen within the stream's current generation. That
        makes restart rate-limiting safe — on a cold reader
        latestOffset can report an end below the checkpointed start (it
        has no baseline yet); the engine records that regressed end in
        its offset log and uses it as the next start, and without the
        clamp the batch after would re-deliver everything between the
        regressed end and the true checkpointed position.

        **Purge rebase is structural**: a batch whose end generation
        exceeds its start generation delivers the recreated stream from
        its head (``start_seq``), because the checkpointed start seq
        describes the PURGED stream's dead records. The decision is a
        pure function of (start, end), so a crash replay of the exact
        batch reproduces the rebase from the offset log alone — no
        side-channel markers — and a query restarted from a checkpoint
        written BEFORE a purge (query down the whole time) rebases the
        same way. The baseline is advanced here (not just in commit)
        because partitions() sees every PLANNED batch."""
        parts = []
        for k, e in end.items():
            if k == self._VKEY:
                continue
            eg, es = self._norm(k, e)
            # the end offset's carried high-water mark (3rd element,
            # emitted only within the end's own generation): the
            # DURABLE twin of the in-memory baseline. Rate limiting can
            # legally record a regressed end (a cold reader doesn't
            # know the checkpointed position), and the batch AFTER a
            # regression starts from the regressed value — without the
            # carried hwm, replaying that batch on a future cold reader
            # would re-deliver everything between the regressed start
            # and the true position (measured duplicate: [2,6) replayed
            # for a batch that originally delivered [4,6)).
            ehw = (
                int(e[2])
                if isinstance(e, (list, tuple)) and len(e) > 2
                else None
            )
            sv = start.get(k)
            sg, ss = (eg, self.start_seq) if sv is None else self._norm(k, sv)
            if sg < eg:
                # dead generation: the start offset (whether written by
                # a running query, a crashed one, or one stopped across
                # the purge) counts records that no longer exist —
                # deliver the new generation from its own head
                ss = self.start_seq
                self._max_seen.pop(k, None)
                if self._baseline.get(k, (eg,))[0] < eg:
                    self._baseline.pop(k, None)
            if ehw is not None:
                ss = max(ss, ehw)  # replay-durable HWM clamp
            b = self._baseline.get(k)
            if b is not None and b[0] == eg:
                ss = max(ss, b[1])  # never re-deliver below the HWM
            if es > ss:
                bn, st = k.split(SEP, 1)
                parts.append(_StreamSlice(self.path, bn, st, ss, es))
            if sv is not None:
                self._bump(k, sg, self._norm(k, sv)[1])
            self._bump(k, eg, es)
        for k, v in start.items():
            if k == self._VKEY or k in end:
                continue
            self._bump(k, *self._norm(k, v))
        # Spark requires ≥1 partition per batch; emit an empty slice as
        # the heartbeat (read.rs:383-391) when no stream advanced.
        if not parts:
            parts.append(_StreamSlice(self.path, "", "", 0, 0))
        return parts

    def commit(self, end: dict) -> None:
        # offsets live in the checkpoint; the baseline (high-water mark)
        # only ever advances within a generation — rate limiting moves
        # window-by-window. Spark delivers commit(batch N) only when
        # batch N+1 starts, so a commit arriving right after a rebase
        # usually belongs to the DEAD generation; the generation-aware
        # bump ignores it structurally (even when its seq NUMERICALLY
        # equals the new generation's tail).
        for k, v in end.items():
            if k == self._VKEY:
                continue
            self._bump(k, *self._norm(k, v))

    def read(self, partition: _StreamSlice):
        if partition.end <= partition.start:
            return
        import pyarrow.dataset as ds

        flt = (
            (ds.field("basin") == partition.basin)
            & (ds.field("stream") == partition.stream)
            & (ds.field("seq_num") >= partition.start)
            & (ds.field("seq_num") < partition.end)
        )
        cols = [f.name for f in RECORD_SCHEMA.fields]
        # EXPLICIT file list, not ds.dataset(dir): pyarrow's recursive
        # discovery walks into Spark's `_temporary` append staging and
        # races its removal (FileNotFoundError mid-listing, caught
        # live by test_source_exactly_once_under_live_concurrent_
        # compaction); _parquet_files applies the same underscore/dot
        # filter as every other listing here. A listed file can still
        # vanish before the scan opens it (vacuum deletes delisted
        # files past their grace), so a missing file re-lists and
        # retries, bounded.
        for attempt in range(80):
            try:
                files = _parquet_files(partition.path, self._backend)
                table = (
                    ds.dataset(files, format="parquet").to_table(
                        filter=flt, columns=cols
                    )
                    if files
                    else None
                )
                break
            except (FileNotFoundError, OSError):
                if attempt == 79:
                    raise
                time.sleep(0.05)  # a listed file vanished mid-scan
        if table is None:
            return
        # deliver in seq order (total order per stream); yield Arrow
        # batches so the hot path stays vectorized end-to-end — record
        # bodies never pass through Python objects
        yield from table.sort_by("seq_num").to_batches()


class S2StreamDataSource(DataSource):
    """spark.readStream.format("s2").option("path", dir).load()"""

    @classmethod
    def name(cls) -> str:
        return "s2"

    def schema(self):
        return RECORD_SCHEMA

    def streamReader(self, schema):
        return S2StreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(S2StreamDataSource)
