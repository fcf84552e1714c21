"""S2 append sink — foreachBatch with per-stream ordered commits.

The reference serializes appends per stream in an actor and acks in
order (``lite/src/backend/streamer.rs:306-324``, ``append.rs:96-220``).
In Structured Streaming the analogue is a ``foreachBatch`` sink: each
micro-batch is sequenced against the current tails with a per-stream
window (single shuffle on the stream key — the repartition IS the
single-writer-per-stream discipline) and committed atomically.

**Exactly-once across retries** needs sink-side idempotence —
foreachBatch alone is at-least-once (a crash after the append but
before Spark's checkpoint commit replays the epoch). The sink keeps a
tiny epoch log under ``{base_dir}/_sink_epochs/{sink_id}``:

- before appending, an ``<epoch>.intent`` marker (format ``"v": 3``)
  records, per touched stream: the pre-append tail, the batch's record
  count, a digest of the batch's FIRST record and a digest of its
  whole record range (headers+body — the sequencing-stable fields; the
  stored timestamp may differ from the input's);
- after appending, the epoch is marked done and the intent removed;
- a replayed epoch already marked done is skipped outright;
- a replayed epoch with only ``intent`` present decides per stream
  whether the crashed attempt's append committed by PROBING STORAGE,
  not by tail movement: the crashed attempt computed its seqs from the
  recorded tails, so if it landed at all, its records for stream k
  sit exactly at seqs ``[tails[k], tails[k]+counts[k])``. Digest
  matches over that whole range prove the commit; a differing record
  there is a foreign append (a second producer, or retention's in-band
  trim-command records — both advance the tail WITHOUT our records
  landing, so tail movement alone would lose data) and the replay
  proceeds. Per-stream verdicts repair even a cross-stream partial
  commit (re-append only the streams whose records never landed).
  Three states refuse to guess and raise
  :class:`ExactlyOnceUnverifiable` instead of silently choosing: the
  evidence range was compacted or trimmed away, a first-record match
  with a tail short of ``tails[k]+counts[k]`` (would contradict the
  per-stream write atomicity the sink relies on — one sequenced task
  file per stream per batch), or an intent in any format but v3,
  which carries no range evidence.

**Epoch-log compaction**: markers would otherwise accumulate forever
(a 1 s-trigger query creates ~86k files/day). The log keeps a single
``_watermark`` file — "every epoch ≤ W is done" — advanced over each
contiguous run of ``.done`` markers, which are then deleted; the
steady-state file count is O(1). Epoch ids come from Spark's
checkpoint and are monotone per query; starting a FRESH checkpoint
over an old store must use a fresh ``sink_id`` (the log is meaningless
across checkpoint resets — same rule as before compaction, when stale
``.done`` files would equally have masked re-used epoch ids).

The batch DataFrame is persisted across ``bulk_append``'s two passes
(admission aggregation, then the sequencing write): without it a
nondeterministic upstream could yield different rows to the write than
the admission pass counted, corrupting seq assignment.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2_spark.store import StreamStore

_KEY_SEP = "\x00"


def _remove_quiet(path: str) -> None:
    """Remove a marker that a concurrent/earlier cleanup (epoch-log
    compaction, the is_done orphan sweep) may already have deleted."""
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


class ExactlyOnceUnverifiable(RuntimeError):
    """Raised when a crashed epoch's commit status cannot be decided
    from storage evidence — replaying could double-append, skipping
    could lose data. Loud beats silent either-way-wrong."""


class NonUniqueOrderColumn(ValueError):
    """Raised before ANY append when a batch carries duplicate
    ``order_col`` values within one (basin, stream): on ties the commit
    sequencing across attempts is nondeterministic, so a genuinely
    committed crashed epoch could fail the replay probe and be
    re-appended as duplicates. Enforced at intent time (zero extra
    passes — the uniqueness check rides the existing intent aggregate),
    so a miswired pipeline fails loudly on its first batch instead of
    corrupting exactly-once silently."""


def _record_digest(headers, body) -> str:
    """Length-prefixed canonical digest of the sequencing-stable record
    fields. ``headers`` is an iterable of (name, value) byte pairs (or
    Rows with those fields); ``body`` bytes-like or None. MUST stay in
    lockstep with :func:`_record_digest_col`, its JVM twin."""
    h = hashlib.sha256()
    for hdr in headers or []:
        name = bytes(hdr["name"] or b"")
        val = bytes(hdr["value"] or b"")
        h.update(len(name).to_bytes(4, "big"))
        h.update(name)
        h.update(len(val).to_bytes(4, "big"))
        h.update(val)
    b = bytes(body or b"")
    h.update(len(b).to_bytes(8, "big"))
    h.update(b)
    return h.hexdigest()


def _len_prefix(col, width: int):
    """Big-endian fixed-width length prefix of a binary column —
    ``len(x).to_bytes(width, "big")`` as a Catalyst expression
    (hex → zero-pad → unhex)."""
    return F.unhex(
        F.lpad(F.hex(F.coalesce(F.length(col), F.lit(0))), width * 2, "0")
    )


def _record_digest_col():
    """Per-record canonical digest as a JVM-side column (hex sha256),
    byte-identical to :func:`_record_digest` — computed distributed at
    intent time so the whole batch never passes through the driver."""
    hdr = F.aggregate(
        F.coalesce(F.col("headers"), F.array()),
        F.lit(b""),
        lambda acc, h: F.concat(
            acc,
            _len_prefix(h["name"], 4),
            F.coalesce(h["name"], F.lit(b"")),
            _len_prefix(h["value"], 4),
            F.coalesce(h["value"], F.lit(b"")),
        ),
    )
    body = F.coalesce(F.col("body"), F.lit(b""))
    return F.sha2(F.concat(hdr, _len_prefix(body, 8), body), 256)


def _range_digest(rows) -> str:
    """Digest of a whole per-stream record range: sha256 over the
    concatenated per-record digest hexes in seq order. The probe-side
    twin of the intent's ``range_digests`` aggregate."""
    return hashlib.sha256(
        "".join(_record_digest(r["headers"], r["body"]) for r in rows).encode()
    ).hexdigest()


class EpochLog:
    """Bounded exactly-once marker log: ``_watermark`` (all epochs ≤ W
    done) + ``.done`` markers only for epochs past the contiguous
    prefix. All writes are tmp+rename (atomic on one filesystem)."""

    def __init__(self, dir_: str):
        self.dir = dir_

    # -- paths ---------------------------------------------------------
    def done_path(self, epoch_id: int) -> str:
        return os.path.join(self.dir, f"{epoch_id}.done")

    def intent_path(self, epoch_id: int) -> str:
        return os.path.join(self.dir, f"{epoch_id}.intent")

    def _wm_path(self) -> str:
        return os.path.join(self.dir, "_watermark")

    # -- reads ---------------------------------------------------------
    def watermark(self) -> int:
        try:
            with open(self._wm_path()) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    def is_done(self, epoch_id: int) -> bool:
        return epoch_id <= self.watermark() or os.path.exists(
            self.done_path(epoch_id)
        )

    def marker_count(self) -> int:
        """Diagnostic: live ``.done`` files (bounded by compaction)."""
        try:
            return sum(1 for f in os.listdir(self.dir) if f.endswith(".done"))
        except OSError:
            return 0

    # -- writes --------------------------------------------------------
    def _write_atomic(self, path: str, text: str) -> None:
        os.makedirs(self.dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            f.write(text)
        os.rename(path + ".tmp", path)

    def write_intent(self, epoch_id: int, payload: dict) -> None:
        self._write_atomic(self.intent_path(epoch_id), json.dumps(payload))

    def mark_done(self, epoch_id: int) -> None:
        self._write_atomic(self.done_path(epoch_id), "")
        self._compact()

    def _compact(self) -> None:
        """Fold the contiguous done prefix into the watermark, then
        drop every marker at/below it. Crash-safe at any point: a crash
        after the marker write keeps the marker; after the watermark
        write but before the deletes, the stale markers are ≤ W and the
        next compaction removes them."""
        wm = self.watermark()
        new = wm
        while os.path.exists(self.done_path(new + 1)):
            new += 1
        if new > wm:
            self._write_atomic(self._wm_path(), str(new))
        if new >= 0:
            try:
                entries = os.listdir(self.dir)
            except OSError:
                return
            for f in entries:
                # .done markers fold into the watermark; an .intent at
                # or below it is an orphan from a crash between
                # mark_done and the intent removal — both are garbage
                for suffix in (".done", ".intent"):
                    if f.endswith(suffix):
                        break
                else:
                    continue
                try:
                    e = int(f[: -len(suffix)])
                except ValueError:
                    continue
                if e <= new:
                    try:
                        os.remove(os.path.join(self.dir, f))
                    except OSError:
                        pass


def append_sink(
    store: StreamStore, order_col: str = "ingest_order", sink_id: str = "default"
):
    """Build a foreachBatch function appending into ``store``.

    Input batches need columns: basin, stream, timestamp (nullable ms),
    headers, body, and ``order_col`` (per-stream arrival order within
    the batch — e.g. the source offset). ``sink_id`` namespaces the
    epoch log when several queries write into one store.

    **``order_col`` MUST be unique per (basin, stream) within a
    batch** — the source's offset satisfies this. On ties both the
    sequencing window and the intent's first-record pick are
    nondeterministic across attempts, so a genuinely committed crashed
    epoch could fail the replay probe and be re-appended (duplicates).
    ENFORCED at intent time: a violating batch raises
    :class:`NonUniqueOrderColumn` before any record is appended (the
    check rides the existing intent aggregate — zero extra passes).
    NULL order values count as violations (they cannot order anything).

    **Residual replay alias (documented):** the probe proves a crashed
    attempt committed by matching digests of the WHOLE recorded range
    ``[tail, tail+count)`` per stream. A false positive therefore
    requires a foreign producer to have landed the entire batch
    byte-identically at exactly those seqs — e.g. a mirrored
    at-least-once upstream racing the same payload into the same
    stream. In that corner the epoch is skipped as already-committed
    (the bytes ARE present once; a second copy would itself be the
    duplicate)."""
    log = EpochLog(os.path.join(store.base_dir, "_sink_epochs", sink_id))

    def _committed_streams(before: dict) -> dict[str, bool]:
        """Per-stream verdict for a crashed attempt: did its append
        land? Decided by the storage probe described in the module
        docstring, never by tail movement alone. The probe covers the
        ENTIRE recorded range, so a false "committed" requires a
        foreign writer to have landed every record of the batch
        byte-identically at exactly the recorded seqs — the documented
        residual alias."""
        tails, counts = before["tails"], before["counts"]
        digests, range_digests = before["digests"], before["range_digests"]
        verdicts: dict[str, bool] = {}
        keys = [tuple(k.split(_KEY_SEP, 1)) for k in tails]
        store._ensure_states(keys)
        for b, s in keys:
            k = f"{b}{_KEY_SEP}{s}"
            t0, n = tails[k], counts[k]
            tail_now = store._st(b, s).tail_seq
            if tail_now <= t0:
                verdicts[k] = False  # nothing landed past the recorded tail
                continue
            rows = (
                store.records_df()
                .filter(
                    (F.col("basin") == b)
                    & (F.col("stream") == s)
                    & (F.col("seq_num") >= t0)
                    & (F.col("seq_num") < t0 + n)
                )
                .select("seq_num", "headers", "body")
                .collect()
            )
            rows.sort(key=lambda r: r["seq_num"])
            if not rows or rows[0]["seq_num"] != t0:
                raise ExactlyOnceUnverifiable(
                    f"epoch replay: record at seq {t0} of {b}/{s} was "
                    "compacted/trimmed away before the crashed attempt "
                    "could be verified — cannot decide committed vs not"
                )
            if _record_digest(rows[0]["headers"], rows[0]["body"]) != digests[k]:
                # a foreign record (second producer, or retention's
                # in-band trim commands) consumed seq t0: the crashed
                # attempt never committed for this stream
                verdicts[k] = False
                continue
            if tail_now < t0 + n:
                raise ExactlyOnceUnverifiable(
                    f"epoch replay: {b}/{s} shows the crashed "
                    f"attempt's first record at seq {t0} but only "
                    f"{tail_now - t0} of its {n} records — "
                    "partial within-stream commit contradicts the "
                    "sink's per-stream write atomicity"
                )
            if len(rows) != n or rows[-1]["seq_num"] != t0 + n - 1:
                raise ExactlyOnceUnverifiable(
                    f"epoch replay: seqs [{t0}, {t0 + n}) of {b}/{s} are "
                    f"no longer fully present ({len(rows)} of {n} "
                    "records) — the evidence range was trimmed away "
                    "before the crashed attempt could be verified"
                )
            # whole-range check: first record matched but the rest must
            # too, else the range is a foreign writer's (first-record
            # byte-alias) and our records never landed
            verdicts[k] = _range_digest(rows) == range_digests[k]
        return verdicts

    def _intent_payload(batch_df: DataFrame) -> dict:
        """One distributed pass discovers the touched keys AND every
        piece of evidence replay needs: per-stream count, first-record
        digest (min_by on the order column), and the whole-range chain
        digest (per-record digests concatenated in (order, digest)
        order — the digest tiebreak makes the INTENT deterministic even
        on order ties; the COMMIT sequence on ties is not, which is why
        ``order_col`` must be unique per stream, see append_sink)."""
        d = _record_digest_col().alias("d")
        agg = (
            batch_df.select("basin", "stream", F.col(order_col).alias("o"), d)
            .groupBy("basin", "stream")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("o").alias("n_order"),
                F.count("o").alias("n_nonnull"),
                F.min_by("d", F.struct("o", "d")).alias("first"),
                F.sha2(
                    F.concat_ws(
                        "",
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("o", "d"))),
                            lambda s: s["d"],
                        ),
                    ),
                    256,
                ).alias("range"),
            )
            .collect()
        )
        # countDistinct skips NULLs, so distinguish NULL order values
        # from genuine duplicates in the violation message — they call
        # for different fixes in the producing pipeline
        dupes = []
        for r in agg:
            if r["n_order"] == r["n"]:
                continue
            parts = []
            n_null = r["n"] - r["n_nonnull"]
            n_dup = r["n_nonnull"] - r["n_order"]
            if n_null:
                parts.append(f"{n_null} NULL {order_col!r} values")
            if n_dup:
                parts.append(f"{n_dup} duplicate {order_col!r} values")
            dupes.append(
                f"{r['basin']}/{r['stream']} ({' and '.join(parts)} over "
                f"{r['n']} rows)"
            )
        if dupes:
            raise NonUniqueOrderColumn(
                f"append sink requires {order_col!r} to be unique per "
                "(basin, stream) within a batch — exactly-once replay "
                "verification is nondeterministic on ties. Violations: "
                + "; ".join(dupes)
            )
        keys = [(r["basin"], r["stream"]) for r in agg]
        store._ensure_states(keys)
        before = {"v": 3, "tails": {}, "counts": {}, "digests": {}, "range_digests": {}}
        for r in agg:
            k = f"{r['basin']}{_KEY_SEP}{r['stream']}"
            before["tails"][k] = store._st(r["basin"], r["stream"]).tail_seq
            before["counts"][k] = r["n"]
            before["digests"][k] = r["first"]
            before["range_digests"][k] = r["range"]
        return before

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        if log.is_done(epoch_id):
            # replay of a fully committed epoch; a crash between
            # mark_done and the intent removal can orphan the intent
            # file — clean it here so such markers never accumulate
            try:
                os.remove(log.intent_path(epoch_id))
            except FileNotFoundError:
                pass
            return
        intent = log.intent_path(epoch_id)
        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():
                log.mark_done(epoch_id)
                return
            replay_only: list[str] | None = None
            if os.path.exists(intent):
                # crashed attempt: decide per stream from storage
                with open(intent) as f:
                    before = json.load(f)
                if before.get("v") != 3:
                    # no range evidence: a moved tail cannot be
                    # attributed, so neither replaying nor skipping is
                    # provably exactly-once
                    raise ExactlyOnceUnverifiable(
                        f"epoch replay: intent {intent!r} is not a v3 "
                        "intent (no record-range digests); cannot decide "
                        "whether the crashed attempt committed"
                    )
                verdicts = _committed_streams(before)
                if all(verdicts.values()):
                    log.mark_done(epoch_id)
                    _remove_quiet(intent)
                    return
                replay_only = [k for k, ok in verdicts.items() if not ok]
                if len(replay_only) == len(verdicts):
                    replay_only = None  # nothing landed: full replay
            else:
                log.write_intent(epoch_id, _intent_payload(batch_df))
            to_append = batch_df
            if replay_only is not None:
                # cross-stream partial commit: re-append only the
                # streams whose records never landed
                to_append = batch_df.filter(
                    F.concat_ws(_KEY_SEP, "basin", "stream").isin(replay_only)
                )
            store.bulk_append(to_append, order_col=order_col)
            log.mark_done(epoch_id)
            _remove_quiet(intent)
        finally:
            batch_df.unpersist()

    return commit


def write_stream_to_store(
    df: DataFrame,
    store: StreamStore,
    checkpoint_dir: str,
    order_col: str = "ingest_order",
    trigger: dict | None = None,
    sink_id: str = "default",
):
    """Wire a streaming DataFrame into the store (A2 append session)."""
    writer = (
        df.writeStream.foreachBatch(append_sink(store, order_col, sink_id))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
