"""Canonical record model — Spark re-expression of the reference's
record types (``common/src/record/mod.rs``, ``common/src/stream.rs``).

A record is either an envelope (headers + body) or a command (fence /
trim), discriminated by "exactly one header with an empty name"
(``common/src/record/mod.rs:74-103``). Headers are an order- and
duplicate-preserving list of (name, value) byte pairs — never a map
(``common/src/record/envelope.rs``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- schema -----------------------------------------------------------

HEADER_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("name", T.BinaryType(), False),
            T.StructField("value", T.BinaryType(), False),
        ]
    )
)

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("basin", T.StringType(), False),
        T.StructField("stream", T.StringType(), False),
        T.StructField("seq_num", T.LongType(), False),
        T.StructField("timestamp", T.LongType(), False),  # ms since epoch
        T.StructField("headers", HEADER_TYPE, False),
        T.StructField("body", T.BinaryType(), True),
    ]
)


@lru_cache(maxsize=None)
def arrow_record_schema(nullable: bool = False):
    """``RECORD_SCHEMA`` as a ``pyarrow.Schema`` with the same
    nullability and the ``list<element: struct<name, value>>`` header
    layout Spark's parquet writer produces, so a record file written on
    the driver is indistinguishable from one a Spark job wrote (the
    Spark row metadata rides along for schema-less Spark readers).

    ``nullable=True`` makes every field nullable, nested ones included:
    the schema of a file Spark rewrote from a scan (a file source reads
    every column as nullable), and the one schema that every record
    file in the store casts to."""
    import pyarrow as pa

    header = pa.struct(
        [pa.field("name", pa.binary(), nullable), pa.field("value", pa.binary(), nullable)]
    )
    return pa.schema(
        [
            pa.field("basin", pa.string(), nullable),
            pa.field("stream", pa.string(), nullable),
            pa.field("seq_num", pa.int64(), nullable),
            pa.field("timestamp", pa.int64(), nullable),
            pa.field("headers", pa.list_(pa.field("element", header, True)), nullable),
            pa.field("body", pa.binary(), True),
        ],
        metadata={"org.apache.spark.sql.parquet.row.metadata": RECORD_SCHEMA.json()},
    )


# hard caps (common/src/caps.rs:8-16, common/src/stream.rs:213-268)
MAX_BATCH_RECORDS = 1000
MAX_BATCH_METERED_BYTES = 1024 * 1024
MAX_RECORD_METERED_BYTES = 1024 * 1024
MAX_FENCING_TOKEN_BYTES = 36

# --- python-side record (API input unit) ------------------------------


@dataclass
class Record:
    """One append input record (pre-sequencing)."""

    body: bytes = b""
    headers: list[tuple[bytes, bytes]] = field(default_factory=list)
    timestamp: int | None = None  # client-assigned ms, or None

    def metered_size(self) -> int:
        # 8 + 2·H + Σ(name+value) + body  (common/src/record/mod.rs:204-212)
        return (
            8
            + 2 * len(self.headers)
            + sum(len(n) + len(v) for n, v in self.headers)
            + len(self.body)
        )

    def command(self) -> str | None:
        """'fence' / 'trim' if this is a command record, else None
        (exactly one header, with empty name — record/mod.rs:90-103)."""
        if len(self.headers) == 1 and self.headers[0][0] == b"":
            op = self.headers[0][1]
            if op == b"fence":
                return "fence"
            if op == b"trim":
                return "trim"
        return None

    def validate(self) -> None:
        if self.metered_size() > MAX_RECORD_METERED_BYTES:
            raise RecordTooLarge(self.metered_size())
        cmd = self.command()
        if cmd is None:
            # envelope: header names must be non-empty
            for n, _ in self.headers:
                if n == b"":
                    raise InvalidRecord("envelope header with empty name")
        elif cmd == "fence":
            if len(self.body) > MAX_FENCING_TOKEN_BYTES:
                raise InvalidRecord("fencing token > 36 bytes")
            try:
                self.body.decode("utf-8")
            except UnicodeDecodeError as e:
                raise InvalidRecord("fencing token not UTF-8") from e
        elif cmd == "trim":
            if len(self.body) != 8:
                raise InvalidRecord("trim payload must be u64 BE")


def fence_record(token: str | bytes) -> Record:
    """In-band fence command (common/src/record/command.rs:80-91)."""
    tok = token.encode() if isinstance(token, str) else token
    return Record(body=tok, headers=[(b"", b"fence")])


def trim_record(seq_num: int) -> Record:
    """In-band trim command (common/src/record/command.rs:92-97)."""
    return Record(body=seq_num.to_bytes(8, "big"), headers=[(b"", b"trim")])


def metered_size_bytes(headers, body) -> int:
    """Metered size of one ALREADY-SEQUENCED record given its headers
    as mappings with ``name``/``value`` (Spark Rows or plain dicts) and
    a nullable body — the single Python-side definition of the billing
    formula (common/src/record/mod.rs:204-212) for driver code that
    accounts served/planned bytes (session delivery accounting, the
    streaming source's byte-budget planner). :class:`Record` instances
    use :meth:`Record.metered_size`; column expressions use
    :func:`metered_size_col` — all three must stay in lockstep."""
    hs = headers or ()
    return (
        8
        + 2 * len(hs)
        + sum(len(h["name"] or b"") + len(h["value"] or b"") for h in hs)
        + len(body or b"")
    )


# --- column expressions (JVM-side equivalents) -------------------------


def metered_size_col(headers: Column | str = "headers", body: Column | str = "body") -> Column:
    """Metered size as a codegen'd column expression — used by the
    bytes-limit read path and metrics throughput rollups."""
    h = F.col(headers) if isinstance(headers, str) else headers
    b = F.col(body) if isinstance(body, str) else body
    hdr_bytes = F.aggregate(
        h,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.length(x["name"]) + F.length(x["value"]),
    )
    return (
        F.lit(8)
        + F.lit(2) * F.size(h)
        + hdr_bytes
        + F.coalesce(F.length(b), F.lit(0))
    ).cast("long")


def is_command_col(headers: Column | str = "headers") -> Column:
    h = F.col(headers) if isinstance(headers, str) else headers
    return (F.size(h) == 1) & (F.length(h[0]["name"]) == 0)


def command_col() -> Column:
    """:meth:`Record.command` as a column over a records frame:
    ``'fence'`` / ``'trim'`` for a command record (:meth:`Record.validate`
    admits no other op), NULL otherwise. Every Spark-side derivation of
    stream state decodes command records through this and
    :func:`trim_point_col` only."""
    return F.when(is_command_col(), F.col("headers")[0]["value"].cast("string"))


def trim_point_col() -> Column:
    """Effective point of a trim row: ``min(payload, seq_num + 1)``, the
    payload being the body as a u64 big-endian seq_num
    (command.rs:92-97; a trim may cover its own record,
    streamer.rs:369-389). Exact over all of u64: the comparison runs in
    ``decimal(20,0)`` (a BIGINT cast rejects payloads >= 2^63), and the
    result, at most ``seq_num + 1``, fits a long."""
    u64 = F.conv(F.hex("body"), 16, 10).cast("decimal(20,0)")
    return F.least(u64, (F.col("seq_num") + 1).cast("decimal(20,0)")).cast("long")


# --- errors (HTTP-mapped in the reference) ------------------------------


class S2Error(Exception):
    pass


class InvalidRecord(S2Error):
    pass


class RecordTooLarge(S2Error):
    pass


class BatchTooLarge(S2Error):
    pass


class SeqNumMismatch(S2Error):
    """412: match_seq_num precondition failed (streamer.rs:350-359)."""

    def __init__(self, expected: int):
        self.expected = expected
        super().__init__(f"expected seq_num {expected}")


class FencingTokenMismatch(S2Error):
    """412: fencing token precondition failed (streamer.rs:341-349)."""

    def __init__(self, expected: str):
        self.expected = expected
        super().__init__(f"expected fencing token {expected!r}")


class RangeNotSatisfiable(S2Error):
    """416: read start past tail without clamp (read.rs:260-269)."""

    def __init__(self, tail: int):
        self.tail = tail
        super().__init__(f"start past tail {tail}")


class ClientTimestampRequired(S2Error):
    """client-require timestamping mode, record without timestamp."""


class StreamNotFound(S2Error):
    pass


class BasinNotFound(S2Error):
    pass


class AlreadyExists(S2Error):
    pass


class DeletionPending(S2Error):
    """The name refers to a basin/stream whose async deletion hasn't
    completed; recreation is blocked until the metadata is purged
    (lite/src/backend/streams.rs:115-121 StreamDeletionPendingError)."""


class UnsupportedCipher(S2Error):
    """CSEK cipher not implemented by this engine. The reference
    supports AEGIS-256 and AES-256-GCM (docs/adr/csek.md,
    storage/src/record/encryption.rs) and so does this engine
    (operators/crypto.py: AES-GCM JVM-side, AEGIS-256 as a
    lane-parallel numpy kernel); any other name is rejected loudly
    instead of accepted and silently downgraded."""
