"""Access-token scopes (A24 — ``common/src/access.rs:163-245``) modeled
the way SURVEY.md §1.1 prescribes: a token is a set of resource
matchers (exact / prefix, for basins and streams) × an operation group
set, evaluated either as a driver-side check (API admission) or as a
Column predicate (filtering listings/scans to what the token can see).

Lifecycle (issue / list / revoke / expiry sweep) follows the API
surface the lite server declares but stubs
(``lite/src/handlers/v1/access_tokens.rs``,
``api/src/v1/access.rs:168-239,408-417``): ids unique, 1-96 bytes, not
"." / ".."; list paginates by prefix + start_after + limit (≤1000);
``auto_prefix_streams`` namespaces stream names under the token's
single stream-scope prefix. :class:`TokenStore` persists to a JSON
blob beside the catalog metadata with the same atomic-replace
discipline.

Not an auth system — the analytic-engine rendering of the reference's
scope algebra.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

from s2_spark.model import AlreadyExists, S2Error

MAX_ACCESS_TOKEN_ID_LEN = 96  # common/src/caps.rs MAX_ACCESS_TOKEN_ID_LEN
MAX_LIST_LIMIT = 1000  # api/src/v1/access.rs:415-417


class TokenNotFound(S2Error):
    pass


class TokenExpired(S2Error):
    pass


class AccessDenied(S2Error):
    pass

# op groups (access.rs op enum collapsed to the r/w groups)
READ_OPS = {"read", "check_tail", "list_streams", "list_basins"}
WRITE_OPS = {"append", "trim", "fence", "create_stream", "delete_stream"}


@dataclass(frozen=True)
class ResourceMatcher:
    """exact name or prefix match (access.rs resource sets)."""

    pattern: str
    prefix: bool = False

    def matches(self, name: str) -> bool:
        return name.startswith(self.pattern) if self.prefix else name == self.pattern

    def column(self, col: Column) -> Column:
        return col.startswith(self.pattern) if self.prefix else col == self.pattern


@dataclass(frozen=True)
class AccessToken:
    """id ≤96 bytes; basin/stream matchers × op groups with expiry."""

    token_id: str
    basins: tuple[ResourceMatcher, ...] = (ResourceMatcher("", prefix=True),)
    streams: tuple[ResourceMatcher, ...] = (ResourceMatcher("", prefix=True),)
    can_read: bool = True
    can_write: bool = False
    expires_at_ms: int | None = None

    def __post_init__(self):
        # the full id contract (non-empty, not "."/"..", ≤96 bytes —
        # access.rs:22-43), not a weaker ad-hoc subset: a directly
        # constructed token obeys the same rules issue() enforces
        _validate_token_id(self.token_id)

    def allows(self, op: str, basin: str, stream: str | None = None, now_ms: int = 0) -> bool:
        if self.expires_at_ms is not None and now_ms >= self.expires_at_ms:
            return False
        if op in READ_OPS and not self.can_read:
            return False
        if op in WRITE_OPS and not self.can_write:
            return False
        if op not in READ_OPS | WRITE_OPS:
            return False
        if not any(m.matches(basin) for m in self.basins):
            return False
        if stream is not None and not any(m.matches(stream) for m in self.streams):
            return False
        return True

    def scope_filter(
        self, basin_col: str = "basin", stream_col: str = "stream"
    ) -> Column:
        """Predicate limiting a records/streams DataFrame to the token's
        visible scope — pushed down like any other filter."""
        b = F.lit(False)
        for m in self.basins:
            b = b | m.column(F.col(basin_col))
        s = F.lit(False)
        for m in self.streams:
            s = s | m.column(F.col(stream_col))
        return b & s


def _validate_token_id(token_id: str) -> None:
    """access.rs:22-43 validate_str — non-empty, not "."/"..", ≤96 bytes."""
    if not token_id:
        raise ValueError("access token id must not be empty")
    if token_id in (".", ".."):
        raise ValueError('access token id must not be "." or ".."')
    if len(token_id.encode()) > MAX_ACCESS_TOKEN_ID_LEN:
        raise ValueError(
            f"access token id must not exceed {MAX_ACCESS_TOKEN_ID_LEN} bytes"
        )


@dataclass(frozen=True)
class IssuedToken:
    """AccessTokenInfo (api/src/v1/access.rs:168-178): the scope plus
    the lifecycle fields the issue request carries."""

    token: AccessToken
    auto_prefix_streams: bool = False

    @property
    def id(self) -> str:
        return self.token.token_id

    def stream_prefix(self) -> str:
        """The single stream-scope prefix auto_prefix_streams namespaces
        under (api/src/v1/access.rs:202-205)."""
        return self.token.streams[0].pattern


class TokenStore:
    """Issue / list / revoke / expiry-sweep over a persisted token set —
    the data-ops rendering of the declared-but-stubbed lite endpoints
    (lite/src/handlers/v1/access_tokens.rs).

    Driver-resident like the catalog's metadata dict (the declared
    bound); persisted as one JSON blob with the catalog's atomic
    tmp+replace discipline so tokens survive session restarts.
    """

    def __init__(self, meta_dir: str | None = None, backend=None):
        self.meta_dir = meta_dir
        self._tokens: dict[str, IssuedToken] = {}
        self._mu = threading.RLock()
        if backend is None:
            from s2_spark import manifest as _mf

            backend = _mf.LOCAL
        self._backend = backend
        if meta_dir:
            from s2_spark.manifest import VersionedBlob

            #: shared versioned-CAS persistence (`tokens-%012d.json`,
            #: head-verified conditional-PUT saves, age-gated version
            #: GC, byte-identical no-op skip) — the same lost-update-
            #: proof discipline as the catalog; two stores over one
            #: bucket cannot clobber each other's issues/revokes
            #: (code-review r15)
            self._blob = VersionedBlob(
                meta_dir, "tokens", ".json", backend=self._backend
            )
            self._load()

    # --- lifecycle -----------------------------------------------------

    def issue(
        self,
        token_id: str,
        basins: tuple[ResourceMatcher, ...] = (ResourceMatcher("", prefix=True),),
        streams: tuple[ResourceMatcher, ...] = (ResourceMatcher("", prefix=True),),
        can_read: bool = True,
        can_write: bool = False,
        expires_at_ms: int | None = None,
        auto_prefix_streams: bool = False,
    ) -> IssuedToken:
        """IssueAccessTokenRequest (api/src/v1/access.rs:194-208): id
        unique to the store; with auto_prefix_streams the stream scope
        must be exactly one prefix matcher."""
        _validate_token_id(token_id)
        if auto_prefix_streams and not (len(streams) == 1 and streams[0].prefix):
            raise ValueError(
                "auto_prefix_streams requires a single stream-scope prefix"
            )
        tok = IssuedToken(
            AccessToken(
                token_id=token_id,
                basins=tuple(basins),
                streams=tuple(streams),
                can_read=can_read,
                can_write=can_write,
                expires_at_ms=expires_at_ms,
            ),
            auto_prefix_streams=auto_prefix_streams,
        )
        def _fn():
            if token_id in self._tokens:
                raise AlreadyExists(f"access token {token_id!r}")  # 409
            self._tokens[token_id] = tok
            return tok

        return self._commit(_fn)

    def get(self, token_id: str) -> IssuedToken:
        with self._mu:
            tok = self._tokens.get(token_id)
        if tok is None:
            raise TokenNotFound(token_id)
        return tok

    def revoke(self, token_id: str) -> IssuedToken:
        """DELETE returning the revoked token's info."""
        def _fn():
            tok = self._tokens.pop(token_id, None)
            if tok is None:
                raise TokenNotFound(token_id)
            return tok

        return self._commit(_fn)

    def list(
        self, prefix: str = "", start_after: str = "", limit: int | None = None
    ) -> tuple[list[IssuedToken], bool]:
        """ListAccessTokensRequest pagination — identical shape to basin
        /stream listing (A21): id prefix, lexicographic start_after,
        limit capped at 1000, and a has_more flag so a paginating
        caller can tell a full page from the last page. The filter +
        slice form (the catalog's) also makes limit=0 return zero
        items, not one."""
        n = max(0, min(limit if limit is not None else MAX_LIST_LIMIT, MAX_LIST_LIMIT))
        with self._mu:
            snapshot = sorted(self._tokens.items())
        matching = [
            tok
            for i, tok in snapshot
            if i.startswith(prefix) and i > start_after
        ]
        return matching[:n], len(matching) > n

    def expiry_sweep(self, now_ms: int) -> list[str]:
        """Drop expired tokens (the maintenance-tick analogue of the
        reference enforcing expiry at auth time); returns dropped ids."""
        def _fn():
            dead = [
                i
                for i, t in self._tokens.items()
                if t.token.expires_at_ms is not None
                and now_ms >= t.token.expires_at_ms
            ]
            for i in dead:
                del self._tokens[i]
            return dead

        return self._commit(_fn)

    # --- enforcement ---------------------------------------------------

    def check(
        self, token_id: str, op: str, basin: str, stream: str | None, now_ms: int
    ) -> None:
        """API admission: raises TokenNotFound / TokenExpired /
        AccessDenied; returns normally when the op is in scope."""
        tok = self.get(token_id)
        t = tok.token
        if t.expires_at_ms is not None and now_ms >= t.expires_at_ms:
            raise TokenExpired(token_id)
        target_stream = stream
        if tok.auto_prefix_streams and stream is not None:
            target_stream = tok.stream_prefix() + stream
        if not t.allows(op, basin, target_stream, now_ms=now_ms):
            raise AccessDenied(f"{token_id}: {op} {basin}/{stream}")

    def effective_stream(self, token_id: str, stream: str) -> str:
        """Namespace a caller-supplied stream name under the token's
        prefix when auto_prefix_streams is set (api access.rs:202-205)."""
        tok = self.get(token_id)
        return tok.stream_prefix() + stream if tok.auto_prefix_streams else stream

    def strip_prefix(self, token_id: str, stream: str) -> str:
        """Inverse of :meth:`effective_stream` for listings."""
        tok = self.get(token_id)
        if tok.auto_prefix_streams and stream.startswith(tok.stream_prefix()):
            return stream[len(tok.stream_prefix()) :]
        return stream

    # --- persistence ---------------------------------------------------

    def _commit(self, fn):
        """One idempotent mutation + versioned conditional-PUT save
        through the shared :class:`s2_spark.manifest.VersionedBlob`
        machinery; on losing the save race, reload the winner and
        re-apply (the catalog's identical CAS discipline)."""
        with self._mu:
            if not self.meta_dir:
                return fn()
            for _ in range(32):
                out = fn()
                if self._blob.save_cas(self._serialize_locked()):
                    return out
                self._load()  # lost the CAS: absorb winner, re-apply
            raise S2Error("token store CAS contention: 32 saves lost")

    def _serialize_locked(self) -> bytes:
        blob = [
            {
                "id": t.id,
                "basins": [[m.pattern, m.prefix] for m in t.token.basins],
                "streams": [[m.pattern, m.prefix] for m in t.token.streams],
                "can_read": t.token.can_read,
                "can_write": t.token.can_write,
                "expires_at_ms": t.token.expires_at_ms,
                "auto_prefix_streams": t.auto_prefix_streams,
            }
            for t in self._tokens.values()
        ]
        return json.dumps(blob).encode()

    def _load(self) -> None:
        data = self._blob.load()
        if data is None:
            return
        try:
            blob = json.loads(data)
        except (ValueError, TypeError):
            return
        # fresh dict + atomic reference swap (lock-free readers see
        # old or new, never a half-built table — same discipline as
        # Catalog._load)
        tokens: dict[str, IssuedToken] = {}
        for row in blob:
            tokens[row["id"]] = IssuedToken(
                AccessToken(
                    token_id=row["id"],
                    basins=tuple(ResourceMatcher(p, x) for p, x in row["basins"]),
                    streams=tuple(ResourceMatcher(p, x) for p, x in row["streams"]),
                    can_read=row["can_read"],
                    can_write=row["can_write"],
                    expires_at_ms=row["expires_at_ms"],
                ),
                auto_prefix_streams=row["auto_prefix_streams"],
            )
        self._tokens = tokens
