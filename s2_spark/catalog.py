"""Catalog — basins/streams metadata with three-layer config resolution
(stream → basin default → system default), mirroring the reference's
``Maybe<>``-merge semantics (``common/src/config.rs:150-165``) as
``coalesce`` over config fields.

Metadata is tiny (like the reference's KV meta tables) and lives
driver-side; ``*_df()`` materializes DataFrame views for relational use
(listing joins, reconciliation jobs). At 100 TB the data plane scales
with executors; the catalog stays a small control-plane table exactly
as in the reference.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, replace
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from s2_spark.model import (
    AlreadyExists,
    BasinNotFound,
    DeletionPending,
    S2Error,
    StreamNotFound,
    UnsupportedCipher,
)

# name validation (common/src/basin.rs:23-79, common/src/stream.rs:28-47)
_BASIN_RE = re.compile(r"^[a-z0-9]([a-z0-9-]{6,46})[a-z0-9]$")

DEFAULT_RETENTION_AGE_SECS = 7 * 24 * 3600  # common/src/config.rs:79-84


@dataclass(frozen=True)
class StreamConfig:
    """Per-stream config (common/src/config.rs:108-114). ``None`` means
    "unset — inherit from the next layer"."""

    storage_class: Optional[str] = None  # standard | express
    retention_age_secs: Optional[int] = None  # None=inherit; 0=infinite
    timestamping_mode: Optional[str] = None  # client-prefer|client-require|arrival
    timestamping_uncapped: Optional[bool] = None
    delete_on_empty_min_age_secs: Optional[int] = None

    def merge_over(self, base: "StreamConfig") -> "StreamConfig":
        """coalesce(self, base) per field — the Maybe<> merge."""
        return StreamConfig(
            *(
                getattr(self, f) if getattr(self, f) is not None else getattr(base, f)
                for f in (
                    "storage_class",
                    "retention_age_secs",
                    "timestamping_mode",
                    "timestamping_uncapped",
                    "delete_on_empty_min_age_secs",
                )
            )
        )


SYSTEM_DEFAULT = StreamConfig(
    storage_class="standard",
    retention_age_secs=DEFAULT_RETENTION_AGE_SECS,
    timestamping_mode="client-prefer",
    timestamping_uncapped=False,
    delete_on_empty_min_age_secs=0,
)


SUPPORTED_CIPHERS = ("aes-256-gcm", "aegis-256")


@dataclass(frozen=True)
class BasinConfig:
    """Basin config + stream defaults (common/src/config.rs:1-25).
    ``stream_cipher`` selects the CSEK AEAD for new streams
    (docs/adr/csek.md): AES-256-GCM (JVM-side codegen, the fast
    default) or AEGIS-256 (lane-parallel numpy over mapInPandas,
    spec-test-vector pinned — operators/crypto.py); anything else is
    rejected loudly at config time."""

    default_stream_config: StreamConfig = StreamConfig()
    create_stream_on_append: bool = False
    create_stream_on_read: bool = False
    stream_cipher: Optional[str] = None  # None | "aes-256-gcm" | "aegis-256"


def validate_cipher(config: "BasinConfig") -> None:
    c = config.stream_cipher
    if c is not None and c.lower() not in SUPPORTED_CIPHERS:
        raise UnsupportedCipher(
            f"cipher {c!r} is not a csek AEAD this engine implements "
            "(docs/adr/csek.md): use 'aes-256-gcm' or 'aegis-256'"
        )


@dataclass
class BasinMeta:
    name: str
    config: BasinConfig
    created_at: int  # ms
    deleted_at: Optional[int] = None
    idempotency_key: Optional[str] = None


@dataclass
class StreamMeta:
    basin: str
    name: str
    config: StreamConfig
    created_at: int
    deleted_at: Optional[int] = None
    idempotency_key: Optional[str] = None
    # CSEK cipher snapshotted from the basin at creation: later basin
    # reconfigures never change an existing stream's encryption
    # (control_plane/stream.rs:104-192)
    cipher: Optional[str] = None


def _creation_idempotency_key(request_token: str, config) -> str:
    """Hash of (request token, requested config) — a retried create is a
    no-op only when both match (lite/src/backend/streams.rs:399-407)."""
    import hashlib

    return hashlib.sha256(
        f"{request_token}\x00{config!r}".encode()
    ).hexdigest()


def validate_basin_name(name: str) -> None:
    if not (8 <= len(name) <= 48) or not _BASIN_RE.match(name):
        raise S2Error(f"invalid basin name {name!r}")


def validate_stream_name(name: str) -> None:
    if not (1 <= len(name.encode()) <= 512) or name in (".", ".."):
        raise S2Error(f"invalid stream name {name!r}")


class Catalog:
    def __init__(
        self,
        spark: SparkSession,
        clock=None,
        meta_dir: str | None = None,
        backend=None,
    ):
        """``meta_dir`` makes the catalog durable: every mutation saves
        the full (tiny) metadata table as the next version
        ``meta_dir/catalog-%012d.parquet`` with a conditional PUT, and a
        new session pointed at the same dir loads the newest version —
        the Spark analogue of the reference's BasinMeta/StreamMeta
        keyspaces (lite/src/backend/kv/mod.rs:55-95). Without it the
        catalog is session-local (in-memory).

        ``backend`` routes the metadata object through an
        :mod:`s2_spark.manifest` backend (an unconditional atomic
        ``put`` + ``read``), so a store whose records live in an
        object store keeps its control plane there too — a cold open
        against the bucket alone recovers basins/streams/configs.
        Default: the local filesystem (unchanged layout)."""
        import threading
        import time

        self.spark = spark
        self._clock = clock or (lambda: int(time.time() * 1000))
        self.basins: dict[str, BasinMeta] = {}
        self.streams: dict[tuple[str, str], StreamMeta] = {}
        # One reentrant lock serializes metadata mutations with _save's
        # snapshot iteration: concurrent auto-creates during a save must
        # not mutate basins/streams mid-iteration, and two savers must
        # not interleave writes to the same file.
        self._mu = threading.RLock()
        self.meta_dir = meta_dir
        if backend is None:
            from s2_spark import manifest as _mf

            backend = _mf.LOCAL
        self._backend = backend
        # optional OpsAudit sink (wired by the owning StreamStore): the
        # BasinOps metric set (api/src/v1/metrics.rs:110-130) counts
        # control-plane RPCs, which live here
        self.audit = None
        if meta_dir:
            from s2_spark.manifest import VersionedBlob

            #: shared versioned-CAS persistence (head-verified saves,
            #: age-gated GC, no-op skip)
            self._blob = VersionedBlob(
                meta_dir, "catalog", ".parquet", backend=self._backend
            )
            self._load()

    def _audit_op(self, op: str, basin: str) -> None:
        if self.audit is not None:
            self.audit.log(op, basin)

    # --- durability -----------------------------------------------------

    _CFG_FIELDS = (
        "storage_class",
        "retention_age_secs",
        "timestamping_mode",
        "timestamping_uncapped",
        "delete_on_empty_min_age_secs",
    )

    def _commit(self, fn):
        """Run one idempotent metadata mutation and persist it with a
        versioned conditional PUT — the control-plane analogue of the
        manifest publish CAS, shared machinery in
        :class:`s2_spark.manifest.VersionedBlob` (head-verified saves,
        age-gated version GC over the listed set, byte-identical
        no-op skip). On losing the race to another
        store's save, the freshest table is reloaded and ``fn``
        re-applies on top of the winner (every mutator is a pure
        function of the current table: a concurrent same-name create
        correctly surfaces as AlreadyExists on the re-apply instead
        of silently clobbering the other writer's row).
        In-memory-only catalogs (no ``meta_dir``) just run ``fn``."""
        with self._mu:
            if not self.meta_dir:
                return fn()
            for _ in range(32):
                out = fn()
                if self._blob.save_cas(self._serialize_locked()):
                    return out
                self._reload()  # lost the CAS: absorb winner, re-apply
            raise S2Error(
                "catalog CAS contention: 32 save attempts lost — "
                "pathologically many concurrent control-plane writers"
            )

    def _reload(self) -> None:
        """Re-read the freshest persisted version into FRESH dicts and
        swap the references atomically — lock-free readers
        (get_basin's fast path, maintenance sweeps iterating
        ``streams``) see either the old or the new table, never a
        mid-repopulation window (code-review r15: an in-place
        clear+refill made an existing basin transiently NotFound and
        could crash a concurrent iteration)."""
        with self._mu:
            self._load()

    def _serialize_locked(self) -> bytes:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = []
        for m in self.basins.values():
            c = m.config
            d = c.default_stream_config
            rows.append(
                {
                    "kind": "basin",
                    "basin": m.name,
                    "name": None,
                    "created_at": m.created_at,
                    "deleted_at": m.deleted_at,
                    "idempotency_key": m.idempotency_key,
                    "create_stream_on_append": c.create_stream_on_append,
                    "create_stream_on_read": c.create_stream_on_read,
                    "stream_cipher": c.stream_cipher,
                    **{f: getattr(d, f) for f in self._CFG_FIELDS},
                }
            )
        for m in self.streams.values():
            rows.append(
                {
                    "kind": "stream",
                    "basin": m.basin,
                    "name": m.name,
                    "created_at": m.created_at,
                    "deleted_at": m.deleted_at,
                    "idempotency_key": m.idempotency_key,
                    "create_stream_on_append": None,
                    "create_stream_on_read": None,
                    "stream_cipher": m.cipher,
                    **{f: getattr(m.config, f) for f in self._CFG_FIELDS},
                }
            )
        schema = pa.schema(
            [
                ("kind", pa.string()),
                ("basin", pa.string()),
                ("name", pa.string()),
                ("created_at", pa.int64()),
                ("deleted_at", pa.int64()),
                ("idempotency_key", pa.string()),
                ("create_stream_on_append", pa.bool_()),
                ("create_stream_on_read", pa.bool_()),
                ("stream_cipher", pa.string()),
                ("storage_class", pa.string()),
                ("retention_age_secs", pa.int64()),
                ("timestamping_mode", pa.string()),
                ("timestamping_uncapped", pa.bool_()),
                ("delete_on_empty_min_age_secs", pa.int64()),
            ]
        )
        table = pa.Table.from_pylist(rows, schema=schema)
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        return buf.getvalue().to_pybytes()

    def _load(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        data = self._blob.load()
        if data is None:
            return
        # FRESH dicts, atomic reference swap: lock-free readers see
        # the old or the new table, never a half-built one
        basins: dict[str, BasinMeta] = {}
        streams: dict[tuple[str, str], StreamMeta] = {}
        for row in pq.read_table(pa.BufferReader(data)).to_pylist():
            cfg = StreamConfig(**{f: row[f] for f in self._CFG_FIELDS})
            if row["kind"] == "basin":
                basins[row["basin"]] = BasinMeta(
                    name=row["basin"],
                    config=BasinConfig(
                        default_stream_config=cfg,
                        create_stream_on_append=bool(row["create_stream_on_append"]),
                        create_stream_on_read=bool(row["create_stream_on_read"]),
                        stream_cipher=row.get("stream_cipher"),
                    ),
                    created_at=row["created_at"],
                    deleted_at=row["deleted_at"],
                    idempotency_key=row["idempotency_key"],
                )
            else:
                streams[(row["basin"], row["name"])] = StreamMeta(
                    basin=row["basin"],
                    name=row["name"],
                    config=cfg,
                    created_at=row["created_at"],
                    deleted_at=row["deleted_at"],
                    idempotency_key=row["idempotency_key"],
                    cipher=row.get("stream_cipher"),
                )
        self.basins, self.streams = basins, streams

    # --- basins (A20) --------------------------------------------------

    def create_basin(
        self,
        name: str,
        config: BasinConfig | None = None,
        request_token: str | None = None,
    ) -> BasinMeta:
        validate_basin_name(name)
        if config is not None:
            validate_cipher(config)
        key_hash = (
            _creation_idempotency_key(request_token, config) if request_token else None
        )
        def _fn():
            existing = self.basins.get(name)
            if existing is not None:
                if existing.deleted_at is not None:
                    # recreation is blocked until the async deletion purges
                    # the metadata (basin.rs deletion-pending semantics)
                    raise DeletionPending(name)
                if key_hash is not None and existing.idempotency_key == key_hash:
                    return existing  # retried create: no-op
                raise AlreadyExists(name)
            meta = BasinMeta(
                name, config or BasinConfig(), self._clock(), idempotency_key=key_hash
            )
            self.basins[name] = meta
            return meta

        return self._commit(_fn)

    def provision_basin(
        self,
        name: str,
        config: BasinConfig | None = None,
        mode: str = "create",
        request_token: str | None = None,
    ) -> tuple[BasinMeta, str]:
        """Basin provisioning with an outcome, mirroring ProvisionMode
        (lite/tests/backend/control_plane/basin.rs:95-293): ``create``
        is create-only (idempotent via ``request_token``); ``ensure``
        creates if absent, else REPLACES the stored config with the
        request — unspecified fields reset to defaults — preserving
        created_at and the creation idempotency key, and no-ops when
        the stored config already equals the request (explicit-zero
        fields compare as set, not as absent).
        Returns (meta, "created" | "updated" | "noop")."""
        if mode == "create":
            before = self.basins.get(name)
            meta = self.create_basin(name, config, request_token)
            return meta, ("noop" if meta is before else "created")
        if mode != "ensure":
            raise S2Error(f"unknown provision mode {mode!r}")
        validate_basin_name(name)
        desired = config or BasinConfig()
        validate_cipher(desired)
        def _fn():
            existing = self.basins.get(name)
            if existing is not None and existing.deleted_at is not None:
                raise DeletionPending(name)
            if existing is None:
                meta = BasinMeta(name, desired, self._clock())
                self.basins[name] = meta
                return meta, "created"
            if existing.config == desired:
                return existing, "noop"
            existing.config = desired
            return existing, "updated"

        return self._commit(_fn)

    def _refresh_if_stale(self) -> bool:
        """One LIST: if a NEWER catalog version exists (another store
        mutated the shared control plane since this snapshot), reload
        it. Called on read MISSES only — a hit never pays the LIST, a
        miss is rare (first touch of a name), and without this a
        catalog opened before another host's create would
        NotFound forever (the stale-read face of the shared-bucket
        topology; the CAS loop covers the write face)."""
        if not self.meta_dir:
            return False
        with self._mu:
            if self._blob.head_version() > self._blob.version:
                self._reload()
                return True
        return False

    def get_basin(self, name: str) -> BasinMeta:
        """Missing → NotFound; present but deletion-pending →
        DeletionPending, so data/control ops against a deleting basin
        report the pending state, not absence (basin.rs:371-430)."""
        meta = self.basins.get(name)
        if meta is None:
            # re-read regardless of the refresh outcome: the miss may
            # have raced another thread's in-flight reload (by the
            # time the refresh holds the lock the table is current
            # and it returns False — but the dict has repopulated)
            self._refresh_if_stale()
            meta = self.basins.get(name)
        if meta is None:
            raise BasinNotFound(name)
        if meta.deleted_at is not None:
            raise DeletionPending(name)
        return meta

    def delete_basin(self, name: str) -> None:
        def _fn():
            self.get_basin(name).deleted_at = self._clock()

        self._commit(_fn)

    def reconfigure_basin(self, name: str, config: BasinConfig) -> BasinMeta:
        validate_cipher(config)

        def _fn():
            meta = self.get_basin(name)
            meta.config = config
            return meta

        return self._commit(_fn)

    # --- streams (A22/A23) ----------------------------------------------

    def create_stream(
        self,
        basin: str,
        name: str,
        config: StreamConfig | None = None,
        request_token: str | None = None,
    ) -> StreamMeta:
        """Create-only provisioning. A retried create carrying the same
        ``request_token`` AND the same requested config is a no-op
        returning the live stream; any other create on a live stream
        raises (lite/src/backend/streams.rs:115-175)."""
        validate_stream_name(name)
        key = (basin, name)
        key_hash = (
            _creation_idempotency_key(request_token, config) if request_token else None
        )

        def _fn():
            # basin resolved INSIDE the CAS closure: a re-apply after
            # losing a save race must see the freshest basin config
            basin_cfg = self.get_basin(basin).config
            existing = self.streams.get(key)
            if existing is not None:
                if existing.deleted_at is not None:
                    # blocked until the deletion sweep purges the meta
                    # (streams.rs:115-121 StreamDeletionPendingError)
                    raise DeletionPending(f"{basin}/{name}")
                if key_hash is not None and existing.idempotency_key == key_hash:
                    return existing  # retried create: no-op
                raise AlreadyExists(f"{basin}/{name}")
            meta = StreamMeta(
                basin,
                name,
                config or StreamConfig(),
                self._clock(),
                idempotency_key=key_hash,
                cipher=basin_cfg.stream_cipher,
            )
            self.streams[key] = meta
            return meta

        meta = self._commit(_fn)
        self._audit_op("create_stream", basin)
        return meta

    def provision_stream(
        self,
        basin: str,
        name: str,
        config: StreamConfig | None = None,
        mode: str = "create",
        request_token: str | None = None,
    ) -> tuple[StreamMeta, str]:
        """Provision with an outcome, mirroring ProvisionMode
        (streams.rs:124-175): ``create`` is create-only (idempotent via
        ``request_token``); ``ensure`` creates if absent, else updates
        the stored config to the request merged over the basin's stream
        defaults — a no-op when the effective config already matches.
        Ensure preserves created_at and the creation idempotency key.
        Returns (meta, "created" | "updated" | "noop")."""
        if mode == "create":
            before = self.streams.get((basin, name))
            meta = self.create_stream(basin, name, config, request_token)
            return meta, ("noop" if meta is before else "created")
        if mode != "ensure":
            raise S2Error(f"unknown provision mode {mode!r}")
        validate_stream_name(name)
        def _fn():
            basin_meta = self.get_basin(basin)
            existing = self.streams.get((basin, name))
            if existing is not None and existing.deleted_at is not None:
                raise DeletionPending(f"{basin}/{name}")
            desired = (config or StreamConfig()).merge_over(
                basin_meta.config.default_stream_config
            )
            if existing is None:
                meta = StreamMeta(
                    basin,
                    name,
                    desired,
                    self._clock(),
                    cipher=basin_meta.config.stream_cipher,
                )
                self.streams[(basin, name)] = meta
                return meta, "created"
            if existing.config == desired:
                return existing, "noop"
            existing.config = desired
            return existing, "updated"

        return self._commit(_fn)

    def purge_deleted(self) -> list[str]:
        """Complete async deletions: physically drop metadata rows whose
        deleted_at is set (the reference's deletion task removing the
        meta key), after which the names become creatable again."""
        def _fn():
            purged = []
            for key, m in list(self.streams.items()):
                if m.deleted_at is not None:
                    del self.streams[key]
                    purged.append(f"{m.basin}/{m.name}")
            for bname, m in list(self.basins.items()):
                if m.deleted_at is not None and not any(
                    b == bname for (b, _s) in self.streams
                ):
                    del self.basins[bname]
                    purged.append(bname)
            return purged

        return self._commit(_fn)

    def get_stream(self, basin: str, name: str) -> StreamMeta:
        """Missing → NotFound; present but deletion-pending →
        DeletionPending — data operations on a deleted stream report
        the pending deletion, not absence (stream.rs:889-967
        test_delete_stream_blocks_data_operations,
        test_get_stream_config_for_deleting_stream_returns_pending)."""
        meta = self.streams.get((basin, name))
        if meta is None:
            self._refresh_if_stale()  # see get_basin: re-read either way
            meta = self.streams.get((basin, name))
        if meta is None:
            raise StreamNotFound(f"{basin}/{name}")
        if meta.deleted_at is not None:
            raise DeletionPending(f"{basin}/{name}")
        return meta

    def delete_stream(self, basin: str, name: str) -> None:
        def _fn():
            self.get_stream(basin, name).deleted_at = self._clock()

        self._commit(_fn)
        self._audit_op("delete_stream", basin)

    def reconfigure_stream(
        self, basin: str, name: str, config: StreamConfig, merge: bool = False
    ) -> StreamMeta:
        """Replace the stream's config, or with ``merge`` update only
        the fields set in ``config`` (None = keep current — the
        field-mask semantics of stream.rs:515-586). A replace with None
        fields clears them back to basin/system defaults at resolve
        time (stream.rs:587-673)."""
        def _fn():
            meta = self.get_stream(basin, name)
            meta.config = config.merge_over(meta.config) if merge else config
            return meta

        meta = self._commit(_fn)
        self._audit_op("reconfigure_stream", basin)
        return meta

    def resolve_config(self, basin: str, name: str) -> StreamConfig:
        """stream → basin default → system default (config.rs:150-165)."""
        stream_cfg = self.get_stream(basin, name).config
        basin_cfg = self.get_basin(basin).config.default_stream_config
        return stream_cfg.merge_over(basin_cfg.merge_over(SYSTEM_DEFAULT))

    def ensure_stream_for(self, basin: str, name: str, op: str) -> StreamMeta:
        """Auto-create on append/read when the basin allows it
        (lite/src/backend/core.rs:326-405)."""
        try:
            return self.get_stream(basin, name)
        except StreamNotFound:
            bc = self.get_basin(basin).config
            allowed = (op == "append" and bc.create_stream_on_append) or (
                op == "read" and bc.create_stream_on_read
            )
            if not allowed:
                raise
            try:
                return self.create_stream(basin, name)
            except AlreadyExists:
                # Lost the auto-create race: another concurrent first
                # append/read created the stream between our lookup and
                # create. The reference swallows StreamAlreadyExists on
                # this path (lite/src/backend/core.rs:372) and proceeds
                # with the winner's stream. DeletionPending propagates.
                return self.get_stream(basin, name)

    # --- listing (A21): prefix + start_after + limit ---------------------

    def list_streams(
        self, basin: str, prefix: str = "", start_after: str = "", limit: int = 1000
    ) -> tuple[list[str], bool]:
        limit = min(limit, 1000)
        with self._mu:
            self.get_basin(basin)  # basin-scoped: 404 on unknown basin
            names = sorted(
                n
                for (b, n), m in self.streams.items()
                if b == basin
                and m.deleted_at is None
                and n.startswith(prefix)
                and n > start_after
            )
        self._audit_op("list_streams", basin)
        return names[:limit], len(names) > limit

    def list_basins(
        self, prefix: str = "", start_after: str = "", limit: int = 1000
    ) -> tuple[list[str], bool]:
        limit = min(limit, 1000)
        with self._mu:
            names = sorted(
                n
                for n, m in self.basins.items()
                if m.deleted_at is None and n.startswith(prefix) and n > start_after
            )
        return names[:limit], len(names) > limit

    # --- DataFrame views -------------------------------------------------

    def streams_df(self) -> DataFrame:
        with self._mu:
            rows = [
                (m.basin, m.name, m.created_at, m.deleted_at)
                for m in self.streams.values()
            ]
        return self.spark.createDataFrame(
            rows or [(None, None, None, None)],
            "basin string, stream string, created_at long, deleted_at long",
        ).filter("basin is not null")

    def basins_df(self) -> DataFrame:
        with self._mu:
            rows = [(m.name, m.created_at, m.deleted_at) for m in self.basins.values()]
        return self.spark.createDataFrame(
            rows or [(None, None, None)],
            "basin string, created_at long, deleted_at long",
        ).filter("basin is not null")
