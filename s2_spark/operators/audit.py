"""Ops audit meta-stream — the missing input for the read-side metric
sets (A26). The reference declares ReadOps / ReadThroughput / BasinOps
alongside the append/storage sets (``api/src/v1/metrics.rs:110-130``),
which implies the serving layer records every read and control-plane
operation somewhere aggregatable. Here that record is an explicit
meta-stream owned by the store: one row per served operation.

**The audit stream IS an S2 stream (dogfooding).** Every OpsAudit is
bound to a :class:`~s2_spark.store.StreamStore`: :meth:`flush` appends
the buffered rows as ordinary records (JSON bodies) to the reserved
``s2-ops-audit/ops`` stream through ``StreamStore.append`` — so audit
rows inherit the engine's own sequencing, durability boundary,
retention/trim, and read surface, and :meth:`df` reads them back
through ``store.read``.

Design constraints:

- **Logging must not cost a Spark job.** ``log()`` is a dict append;
  appends happen only at the flush threshold (default 4096 rows, and
  ≤1000-record batches per append — the unary cap) or an explicit
  :meth:`flush` — a follow session polling at 20 ms never touches the
  cluster for audit's sake.
- **The threshold flush is ASYNC.** Crossing the threshold signals a
  lazily-started daemon flusher thread; the logging thread never pays
  the store append inline (a client op that happens to be the 4096th
  buffered row costs the same as the 1st). Back-pressure: past
  ``hard_cap`` buffered rows (default 64× the threshold), ``log()``
  blocks up to ``backpressure_s`` waiting for the flusher to drain,
  then DROPS the row and counts it in :attr:`dropped` — a wedged
  storage backend degrades accounting, never the data plane. Explicit
  :meth:`flush` stays synchronous and serializes with the flusher, so
  "flush(); df()" still observes every logged row.
- **No self-observation.** Operations performed BY the flush (the one-
  time basin/stream creation, the appends themselves) are never
  logged: a thread-local suppression flag drops audit calls while a
  flush is in flight, so the audit stream can't recurse into itself or
  inflate BasinOps with its own bookkeeping. Appends are never logged
  anyway (only read/control ops are client-shaped audit inputs).
- **Aggregation is a DataFrame.** :meth:`df` returns the full audit
  relation (stream + buffer); the metric sets in ``operators/metrics.py``
  are plain groupBys over it, sharing the bucketing machinery with the
  append sets.
"""

from __future__ import annotations

import json
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

AUDIT_SCHEMA = (
    "timestamp long, op string, basin string, stream string, "
    "records long, bytes long"
)

#: reserved audit sink (a valid basin name — 12 chars, [a-z0-9-])
AUDIT_BASIN = "s2-ops-audit"
AUDIT_STREAM = "ops"

#: data-plane read RPCs — the ReadOps set counts these
READ_OPS = ("read", "read_session")
#: control-plane basin RPCs — the BasinOps set counts these. (Internal
#: admission lookups — ensure_stream_for / resolve_config — are NOT
#: logged: only client-shaped operations count, so a hot append path
#: doesn't inflate BasinOps with its own config resolution.)
BASIN_OPS = (
    "create_stream",
    "delete_stream",
    "reconfigure_stream",
    "list_streams",
)

# JSON body layout of one audit record on the stream
_BODY_SCHEMA = (
    "ts long, op string, basin string, stream string, records long, bytes long"
)


class OpsAudit:
    """Driver-buffered operation log, flushed to the store's own
    ``s2-ops-audit/ops`` stream."""

    def __init__(
        self,
        spark: SparkSession,
        store,
        clock,
        flush_threshold: int = 4096,
        hard_cap: int | None = None,
        backpressure_s: float = 5.0,
    ):
        self.spark = spark
        self._clock = clock
        self.flush_threshold = flush_threshold
        self.hard_cap = hard_cap or flush_threshold * 64
        if self.hard_cap < flush_threshold:
            # a cap below the threshold would back-pressure on a
            # flusher whose wake condition can never become true —
            # every log() past the cap would block then drop, forever
            raise ValueError(
                f"hard_cap ({self.hard_cap}) must be >= flush_threshold "
                f"({flush_threshold})"
            )
        self.backpressure_s = backpressure_s
        #: monotonic count of rows dropped after back-pressure timed
        #: out (wedged backend). The OLDEST buffered row is evicted,
        #: not the incoming one — the freshest operations (usually the
        #: ones being debugged) survive a wedged backend.
        self.dropped = 0
        #: (ts, count) drop events, coalesced per clock tick and
        #: bounded (oldest pair folds together past the cap), so the
        #: loss is itself reportable: :meth:`df` surfaces them as
        #: ``op='audit_drop'`` rows and label-metric queries
        #: (ops_by_label et al.) report the audit stream's own loss.
        self._drop_events: list[list[int]] = []
        self._DROP_EVENTS_CAP = 4096
        # a failed flush re-buffered rows that may sit below the flush
        # threshold; the flusher must retry while ANY rows remain, not
        # wait for the threshold to be re-crossed (a transient backend
        # error on a quiescent client would stall durability forever)
        self._retry_pending = False
        #: last exception the background flusher swallowed (telemetry;
        #: an explicit flush() retries and raises for real)
        self.last_flush_error: BaseException | None = None
        self._store = store
        self._buf: list[tuple] = []
        self._mu = threading.Lock()
        self._cv = threading.Condition(self._mu)
        # serializes whole flush passes (pop→append) between the
        # background flusher and explicit flush() callers, so a
        # synchronous flush() returning means no rows are in flight
        self._flush_mu = threading.Lock()
        self._flusher: threading.Thread | None = None
        self._local = threading.local()
        self._sink_ready = False
        self._sunk_any = False

    def log(
        self,
        op: str,
        basin: str,
        stream: str | None = None,
        records: int | None = None,
        nbytes: int | None = None,
    ) -> None:
        if getattr(self._local, "suppress", False):
            return  # an op performed by the flush itself — not client-shaped
        with self._mu:
            if len(self._buf) >= self.hard_cap:
                # back-pressure: give the flusher a bounded chance to
                # drain; a still-wedged backend costs a dropped audit
                # row, never an unbounded buffer or a blocked client
                self._cv.wait_for(
                    lambda: len(self._buf) < self.hard_cap,
                    timeout=self.backpressure_s,
                )
                if len(self._buf) >= self.hard_cap:
                    # evict the OLDEST buffered row to admit the new
                    # one: last-in-loses would discard exactly the
                    # operations someone is debugging right now
                    self._buf.pop(0)
                    self._record_drop_locked()
            self._buf.append(
                (self._clock(), op, basin, stream, records, nbytes)
            )
            if len(self._buf) >= self.flush_threshold:
                self._wake_flusher_locked()

    def _record_drop_locked(self, n: int = 1) -> None:
        """Account a back-pressure drop — caller holds ``_mu``. The
        monotonic counter never loses a drop; the bounded per-tick
        event list keeps WHEN the losses happened reportable."""
        self.dropped += n
        ts = self._clock()
        ev = self._drop_events
        if ev and ev[-1][0] == ts:
            ev[-1][1] += n
        else:
            ev.append([ts, n])
            if len(ev) > self._DROP_EVENTS_CAP:
                # fold the two oldest events (older ts wins): the total
                # stays exact, only ancient timing granularity degrades
                ev[1][1] += ev[0][1]
                ev[1][0] = ev[0][0]
                del ev[0]

    def _wake_flusher_locked(self) -> None:
        """Signal (lazily starting) the daemon flusher — caller holds
        ``_mu``. The logging thread never appends to the store itself."""
        if self._flusher is None or not self._flusher.is_alive():
            self._flusher = threading.Thread(
                target=self._flusher_loop, name="s2-audit-flusher", daemon=True
            )
            self._flusher.start()
        self._cv.notify_all()

    def _flusher_loop(self) -> None:
        backoff = 0.05
        while True:
            with self._mu:
                # threshold is the NORMAL wake; a failed flush leaves
                # retry_pending set so an under-threshold re-buffered
                # remainder is retried instead of sitting in memory
                # until new traffic happens to re-cross the threshold
                self._cv.wait_for(
                    lambda: len(self._buf) >= self.flush_threshold
                    or (self._retry_pending and self._buf)
                )
            try:
                self.flush()
                backoff = 0.05
                self.last_flush_error = None
            except BaseException as e:  # rows re-buffered by flush()
                self.last_flush_error = e
                time.sleep(backoff)  # don't hot-spin a failing backend
                backoff = min(backoff * 2, 5.0)

    def drain(self, timeout: float = 30.0) -> None:
        """Block until the BACKGROUND flusher has emptied the buffer and
        committed every in-flight row — without forcing a synchronous
        flush (so a caller can observe that the threshold path alone
        moved the rows). Raises TimeoutError if the flusher can't keep
        up (or a sub-threshold remainder will never trigger it — use
        :meth:`flush` for that)."""
        deadline = time.monotonic() + timeout
        while True:
            with self._mu:
                if not self._cv.wait_for(
                    lambda: not self._buf,
                    timeout=deadline - time.monotonic(),
                ):
                    raise TimeoutError(
                        f"audit flusher did not drain in {timeout}s "
                        f"(last error: {self.last_flush_error!r})"
                    )
            with self._flush_mu:  # wait out any in-flight append
                with self._mu:
                    if not self._buf:  # nothing re-buffered by a failure
                        return

    def _ensure_sink(self) -> None:
        """One-time creation of the reserved audit basin/stream —
        performed lazily at first flush (so stores that never flush
        don't grow an extra basin) and under suppression (so the
        creation never logs itself)."""
        if self._sink_ready:
            return
        from s2_spark.model import AlreadyExists

        cat = self._store.catalog
        try:
            cat.create_basin(AUDIT_BASIN)
        except AlreadyExists:
            pass
        try:
            cat.create_stream(AUDIT_BASIN, AUDIT_STREAM)
        except AlreadyExists:
            pass
        self._sink_ready = True

    def flush(self) -> None:
        """Append buffered rows to the audit stream via the store's own
        append path (sequencing + durable parquet commit), in ≤1000-
        record batches (the unary append cap).

        Failure-safe: rows are popped from the buffer up front (so
        concurrent flushes never double-send), but on ANY error the
        not-yet-committed remainder is re-buffered before the exception
        propagates — a transient write failure loses nothing, and a
        later flush retries from the first uncommitted row.

        Serialized with the background flusher (``_flush_mu``): when an
        explicit flush() returns, no rows are in flight anywhere."""
        with self._flush_mu:
            self._flush_locked()

    def _flush_locked(self) -> None:
        with self._mu:
            rows, self._buf = self._buf, []
            # drop accounting flushes as ORDINARY rows, so a process
            # restart cannot erase the loss record while keeping the
            # under-counted ops data it annotates (the accounting is
            # as durable as the stream): drained here, re-buffered on
            # failure like any other row; df() surfaces only the
            # not-yet-flushed remainder live
            rows += [
                (ts, "audit_drop", AUDIT_BASIN, AUDIT_STREAM, n, None)
                for ts, n in self._drop_events
            ]
            self._drop_events = []
            self._cv.notify_all()  # back-pressured loggers may proceed
        if not rows:
            return
        from s2_spark.model import MAX_BATCH_RECORDS, Record

        self._local.suppress = True
        done = 0
        try:
            self._ensure_sink()
            for i in range(0, len(rows), MAX_BATCH_RECORDS):
                chunk = rows[i : i + MAX_BATCH_RECORDS]
                records = [
                    Record(
                        timestamp=ts,
                        body=json.dumps(
                            {
                                "ts": ts,
                                "op": op,
                                "basin": basin,
                                "stream": stream,
                                "records": n,
                                "bytes": b,
                            },
                            separators=(",", ":"),
                        ).encode("utf-8"),
                    )
                    for ts, op, basin, stream, n, b in chunk
                ]
                self._store.append(AUDIT_BASIN, AUDIT_STREAM, records)
                done = i + len(chunk)
                self._sunk_any = True
        except BaseException:
            with self._mu:
                self._buf = rows[done:] + self._buf
                self._retry_pending = True
                self._wake_flusher_locked()  # retry w/o new traffic
            raise
        finally:
            self._local.suppress = False
        with self._mu:
            self._retry_pending = False

    def _stream_has_history(self) -> bool:
        """True once the audit stream exists — including one created by
        a PREVIOUS store instance over the same directory: the durable
        catalog (``{base_dir}/_meta``) remembers the reserved stream
        across restarts, so flushed history stays visible to df()
        without a Spark probe. (With a purely in-memory catalog, a
        restart forgets the stream — consistent with every other stream
        in that configuration.)"""
        if self._sunk_any:
            return True
        from s2_spark.model import S2Error

        try:
            self._store.catalog.get_stream(AUDIT_BASIN, AUDIT_STREAM)
        except S2Error:
            return False
        self._sunk_any = True
        return True

    def _stream_df(self) -> DataFrame:
        """Flushed audit rows read back through the store's OWN read
        surface — the dogfooding payoff: trim/retention/seq semantics
        apply to the accounting path like any other stream. The
        authoritative event timestamp is the JSON body's ``ts`` (the
        log() clock), not the append-assigned record timestamp."""
        rec = self._store.read(AUDIT_BASIN, AUDIT_STREAM, audit=False)
        body = F.from_json(F.col("body").cast("string"), _BODY_SCHEMA)
        return rec.select(
            body["ts"].alias("timestamp"),
            body["op"].alias("op"),
            body["basin"].alias("basin"),
            body["stream"].alias("stream"),
            body["records"].alias("records"),
            body["bytes"].alias("bytes"),
        )

    def df(self) -> DataFrame:
        """The audit relation: everything flushed to the stream plus the
        current buffer (buffer rides as a small union — metric queries
        see ops immediately without forcing a write), plus one ``op='audit_drop'`` row per back-pressure drop
        tick (``records`` = rows lost) — so label-metric queries
        (ops_by_label et al.) report the accounting path's OWN loss
        instead of silently under-counting. Caveat: the audit relation
        is at-most-once under a wedged backend; ``audit_drop`` rows
        quantify exactly how far short it runs, but the dropped
        operations' identities are gone."""
        with self._mu:
            rows = list(self._buf)
            drops = [tuple(e) for e in self._drop_events]
        rows += [
            (ts, "audit_drop", AUDIT_BASIN, AUDIT_STREAM, n, None)
            for ts, n in drops
        ]
        parts = []
        if self._stream_has_history():
            parts.append(self._stream_df())
        if rows:
            parts.append(self.spark.createDataFrame(rows, AUDIT_SCHEMA))
        if not parts:
            return self.spark.createDataFrame([], AUDIT_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
