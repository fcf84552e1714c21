"""Manifest-MVCC visibility log for :class:`s2_spark.store.StreamStore`.

A :class:`~s2_spark.store.StreamStore`'s record visibility is defined
by a monotonically numbered generation log under ``<base>/_manifest``,
never by the data directory's listing. Each generation file
``gen-%012d.json`` holds ``{"gen": N, "add": [relpaths], "remove":
[relpaths], "ts_ms": publish-time}`` and every
:data:`CHECKPOINT_EVERY`-th generation also embeds ``"files"`` — the
complete visible set AFTER this generation — so a cold reader folds at
most ``CHECKPOINT_EVERY`` delta files.

Publishing a generation is ONE atomic create-if-absent of the next
generation number — a hard-linked O_EXCL create locally, a
conditional PUT (``If-None-Match: *``) on an object store — which is
the whole point of the layout: an append or compaction commits by
publishing a generation, never by renaming data files out from under
readers. Consequences:

- a reader's file list is immutable once captured, and files a later
  generation delists stay on disk until :meth:`StreamStore.vacuum`
  removes them past a grace horizon, so an in-flight batch plan pinned
  to an older generation keeps executing (no
  ``FileNotFoundException`` mid-job, no pause around compaction);
- crash atomicity is free — a crash anywhere before the publish
  leaves only orphaned (invisible) data files for vacuum to sweep; a
  crash after it leaves a fully committed generation. There is no
  multi-file rename sequence to recover;
- object-store portability — nothing in the protocol needs an atomic
  rename over existing data, only "create this object if absent",
  which every major object store now offers natively. The
  :class:`PublishBackend` seam isolates exactly that operation (plus
  list/read/delete) so an object-store port swaps one small class.

**Multi-writer.** :func:`publish` is a compare-and-set retry loop: a
writer folds the current head, attempts to create generation N+1, and
on losing the race re-folds and re-publishes on top of the winner.
Plain appends commute (their ``add`` sets are disjoint UUID-named
files), so a retry is always safe; a publish that DELISTS files (a
compaction or trim rewrite) passes ``require_visible=True`` and
aborts with :class:`PublishConflict` if a racing publish already
delisted any of its consumed files — the caller must discard its
output and re-plan from the new generation. This makes one store
directory safe for many concurrent *jobs*; per-STREAM sequencing
(seq_num allocation, CAS/fencing) still requires the appends to one
stream to go through one writer, exactly as the reference routes a
stream's appends through one streamer actor (core.rs:214-298).

**Delist times ride the log.** Every generation entry carries its
publish wall-clock ``ts_ms``; a file delisted by generation G was
delisted at G's ``ts_ms``. Vacuum reads delist ages from the log
(:func:`delisted_entries`) rather than from file mtimes — object
stores cannot set mtimes, and a file's write time may be arbitrarily
older than its delist.

This is the manifest/MVCC shape SlateDB's LSM gives the reference for
free (lite/src/backend/kv/mod.rs:55-95: state is defined by manifest
+ WAL, never by bucket listings; manifest updates are conditional
PUTs), re-expressed for a parquet layout.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

#: every Nth generation embeds the full visible file set, bounding a
#: cold fold to N delta reads and letting vacuum() drop older log
#: entries. 32 ≈ one checkpoint per compaction cycle at the default
#: append cadence; the value only trades log-fold cost vs checkpoint
#: write size and may change freely (folding handles any spacing).
CHECKPOINT_EVERY = 32

#: publish CAS attempts before giving up. Contention at this depth
#: means pathologically many writers on one directory — fail loudly
#: rather than spin.
MAX_PUBLISH_ATTEMPTS = 64

_GEN_RE = re.compile(r"^gen-(\d{12})\.json$")


class PublishConflict(RuntimeError):
    """A ``require_visible`` publish lost a delist race: some file in
    its ``remove`` set was already delisted by a racing publish. The
    caller's rewrite consumed inputs that are no longer current — its
    output must be discarded and the rewrite re-planned from the new
    generation (appends never hit this; their remove set is empty)."""


class LocalBackend:
    """Filesystem :class:`PublishBackend`: the atomic create-if-absent
    is ``os.link`` from a staged temp file — link fails ``EEXIST``
    atomically (no TOCTOU window, and unlike ``os.rename`` it never
    silently overwrites a committed generation), which is the local
    equivalent of a conditional PUT.

    Since r15 the backend covers BOTH planes: the manifest-log
    protocol objects (list/read/conditional-create/delete) AND the
    record DATA files (:meth:`spark_path`, :meth:`finalize_data`,
    :meth:`walk_files`, :meth:`exists`, :meth:`remove_tree`) — the
    store performs every data-file operation through the backend, so
    an object-store port swaps one class and the data path needs no
    POSIX rename/link/walk at all (visibility is manifest-governed,
    so the data plane only needs PUT/GET/LIST/DELETE/COPY)."""

    #: local backends need no external-backend breadcrumb: a path-only
    #: reader (the streaming footer scanner) can reach this log
    is_local = True

    def spec(self) -> str:
        """Picklable string identity, reconstructable on a Spark
        executor via :func:`backend_from_spec` (live objects cannot
        ride DataSource options)."""
        return "local"

    def list_dir(self, d: str) -> list[str]:
        try:
            return os.listdir(d)
        except OSError:
            return []

    def read(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def put_if_absent(self, path: str, data: bytes) -> bool:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(data)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def delete(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def put(self, path: str, data: bytes) -> None:
        """Unconditional overwrite PUT (atomic per object, like S3):
        the control-plane write primitive (catalog metadata). Locally
        a unique-tmp + rename so readers never see a torn file."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    def mtime_ms(self, path: str) -> int | None:
        try:
            return int(os.path.getmtime(path) * 1000)
        except OSError:
            return None

    # --- data plane -----------------------------------------------------

    #: True when the DATA plane is this host's filesystem (may differ
    #: from is_local: InMemoryCASBackend keeps the log in memory but
    #: data local). Gates host-local heuristics like vacuum's stage
    #: pid-liveness check.
    data_is_local = True

    def spark_path(self, path: str) -> str:
        """The location Spark reads/writes for logical path ``path``
        (an ``s3a://…`` URL on a real object store; identity here)."""
        return path

    def list_data_dir(self, d: str) -> list[str]:
        """Immediate entries of a DATA-plane directory (vacuum's stage
        sweep). Distinct from :meth:`list_dir`, which addresses the
        MANIFEST plane — on a split backend the two planes live in
        different stores."""
        try:
            return os.listdir(d)
        except OSError:
            return []

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def finalize_data(self, src: str, dst: str) -> None:
        """Move one staged data file to its final key. Local: an
        atomic rename. Object store: server-side COPY + DELETE —
        atomicity is NOT required, because a data file is invisible
        until the manifest generation naming it publishes."""
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(src, dst)

    def walk_files(self, root: str):
        """Yield ``(relpath, mtime_ms)`` for every data file under
        ``root``, skipping hidden (``_``/``.``-prefixed) path
        components — one recursive LIST on an object store."""
        for d, dirs, fs in os.walk(root):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            for f in fs:
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(d, f)
                try:
                    mt = int(os.path.getmtime(p) * 1000)
                except OSError:
                    continue  # raced a delete
                yield os.path.relpath(p, root), mt

    def remove_tree(self, path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


class InMemoryCASBackend:
    """In-memory conditional-PUT object store — the reference
    implementation of the :class:`PublishBackend` contract an S3/GCS
    port must satisfy (create-if-absent = ``If-None-Match: *``). Used
    by tests and the concurrency soak to drive the publish CAS loop
    through object-store semantics: no rename, no link, no mtime —
    just atomic first-writer-wins puts. Manifest plane only (its
    objects are not reachable by Spark executors; use
    :class:`SandboxObjectBackend` for whole-store object semantics)."""

    is_local = False

    def __init__(self, clock=None):
        import threading

        self._mu = threading.Lock()
        self._objects: dict[str, tuple[bytes, int]] = {}
        self._clock = clock or (lambda: int(time.time() * 1000))
        self.puts = 0
        self.conflicts = 0

    def list_dir(self, d: str) -> list[str]:
        prefix = d.rstrip("/") + "/"
        with self._mu:
            return [
                k[len(prefix):]
                for k in self._objects
                if k.startswith(prefix) and "/" not in k[len(prefix):]
            ]

    def read(self, path: str) -> bytes:
        with self._mu:
            if path not in self._objects:
                raise FileNotFoundError(path)
            return self._objects[path][0]

    def put_if_absent(self, path: str, data: bytes) -> bool:
        with self._mu:
            if path in self._objects:
                self.conflicts += 1
                return False
            self._objects[path] = (data, self._clock())
            self.puts += 1
        return True

    def delete(self, path: str) -> None:
        with self._mu:
            self._objects.pop(path, None)

    def put(self, path: str, data: bytes) -> None:
        with self._mu:
            self._objects[path] = (data, self._clock())
            self.puts += 1

    def mtime_ms(self, path: str) -> int | None:
        with self._mu:
            obj = self._objects.get(path)
            return obj[1] if obj else None

    # data plane: local-filesystem delegation — this backend models the
    # r14 SPLIT deployment (protocol objects in the object store,
    # record parquet on a shared filesystem); a whole-store object
    # deployment is SandboxObjectBackend
    data_is_local = True
    spark_path = LocalBackend.spark_path
    exists = LocalBackend.exists
    finalize_data = LocalBackend.finalize_data
    walk_files = LocalBackend.walk_files
    remove_tree = LocalBackend.remove_tree
    list_data_dir = LocalBackend.list_data_dir


class SandboxObjectBackend:
    """Tmpdir-sandboxed OBJECT STORE covering both planes — the
    end-to-end test double for an S3/GCS deployment. Every logical
    store path (``<base_dir>/…``) maps to an object key under this
    backend's own ``root``; the store's base_dir POSIX tree is never
    touched, and the store reaches records and manifest objects ONLY
    through the object API surface a real bucket offers:

    - conditional PUT (``put_if_absent`` = ``If-None-Match: *``) for
      generation publishes — staged content + atomic create-if-absent
      link, because a real bucket's conditional PUT makes the object
      visible with its FULL content or not at all (the simulation must
      not expose a mid-write window the modeled store lacks);
    - PUT/GET/LIST/DELETE for leases, log reads, and vacuum;
    - server-side COPY + DELETE (``finalize_data``) to land staged
      part files on their final keys (a production port would use a
      direct-write committer or multipart upload addressed at the
      final key; COPY models the conservative fallback);
    - ``mtime_ms`` = object creation time (the bucket's
      ``LastModified``), the only timestamp object stores provide;
    - ``spark_path`` maps a logical path to the object location —
      the local-filesystem stand-in for an ``s3a://`` URL, which is
      how Spark executors read record parquet and write stage output
      directly against the bucket.

    Operation counters (``puts``/``copies``/``deletes``/``lists``)
    let tests assert the store's traffic shape. Instances are
    picklable (root path + counters) and round-trip through
    :func:`backend_from_spec` (``"sandbox:<root>"``) so Spark
    executors — the streaming source's partition readers — can
    reconstruct the backend from a plain option string."""

    is_local = False

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)
        self.puts = 0
        self.conflicts = 0
        self.copies = 0
        self.deletes = 0
        self.lists = 0

    def spec(self) -> str:
        return f"sandbox:{self.root}"

    def _key(self, path: str) -> str:
        return os.path.join(self.root, os.path.abspath(path).lstrip(os.sep))

    # --- manifest plane -------------------------------------------------

    def list_dir(self, d: str) -> list[str]:
        self.lists += 1
        try:
            # '.tmp.<uuid>' keys are the sandbox's staging device for
            # atomic conditional-PUT/COPY; a real bucket's LIST never
            # shows a staged upload, so the simulation's LIST surface
            # must hide them too — otherwise an unfiltered consumer
            # could read a torn tmp the modeled store cannot expose
            # (ADVICE r15).
            return [n for n in os.listdir(self._key(d)) if ".tmp." not in n]
        except OSError:
            return []

    def read(self, path: str) -> bytes:
        with open(self._key(path), "rb") as f:
            return f.read()

    def put_if_absent(self, path: str, data: bytes) -> bool:
        # A real bucket's conditional PUT (If-None-Match: *) is ATOMIC:
        # the object appears with its full content or not at all. The
        # former O_CREAT|O_EXCL-then-write simulation exposed a 0-byte
        # window a real store does not have (r15: a concurrent
        # VersionedBlob reader listed the new version mid-publish and
        # read 0 bytes). Stage the content, then os.link — atomic,
        # create-if-absent — so visibility and content are one event.
        key = self._key(path)
        os.makedirs(os.path.dirname(key), exist_ok=True)
        if os.path.exists(key):
            self.conflicts += 1
            return False
        tmp = key + f".tmp.{uuid.uuid4().hex}"
        try:
            with open(tmp, "wb") as f:
                f.write(data)
            try:
                os.link(tmp, key)
            except FileExistsError:
                self.conflicts += 1
                return False
        finally:
            # never leak the staging key — a crash between stage and
            # link would otherwise leave '.tmp.' debris a real bucket's
            # aborted conditional PUT does not (ADVICE r15)
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        self.puts += 1
        return True

    def delete(self, path: str) -> None:
        self.deletes += 1
        try:
            os.remove(self._key(path))
        except FileNotFoundError:
            pass

    def put(self, path: str, data: bytes) -> None:
        # unconditional overwrite PUT — atomic per object on a real
        # store; simulated with a unique tmp + rename in the sandbox
        key = self._key(path)
        os.makedirs(os.path.dirname(key), exist_ok=True)
        tmp = key + f".tmp.{uuid.uuid4().hex}"
        try:
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, key)
        except BaseException:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
            raise
        self.puts += 1

    def mtime_ms(self, path: str) -> int | None:
        try:
            return int(os.path.getmtime(self._key(path)) * 1000)
        except OSError:
            return None

    # --- data plane -----------------------------------------------------

    data_is_local = False

    def spark_path(self, path: str) -> str:
        return self._key(path)

    def list_data_dir(self, d: str) -> list[str]:
        return self.list_dir(d)  # one store: both planes in the bucket

    def exists(self, path: str) -> bool:
        return os.path.exists(self._key(path))

    def finalize_data(self, src: str, dst: str) -> None:
        # server-side CopyObject + DeleteObject — never a rename.
        # src is already an OBJECT location (Spark wrote the stage
        # through spark_path), so both ends live in the bucket.
        # CopyObject is atomic on a real store (the destination
        # appears with full content); stage + os.replace models that
        # instead of copyfile's grow-in-place tear (r15).
        import shutil

        skey, dkey = self._key(src), self._key(dst)
        os.makedirs(os.path.dirname(dkey), exist_ok=True)
        tmp = dkey + f".tmp.{uuid.uuid4().hex}"
        try:
            shutil.copyfile(skey, tmp)
            os.replace(tmp, dkey)
        except BaseException:
            # a failed COPY (ENOSPC, crash) must not leak the staging
            # key: vacuum's tmp sweep covers only the manifest dir, and
            # a '.tmp.' data key would otherwise linger until the
            # orphan-data sweep (ADVICE r15)
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
            raise
        os.remove(skey)
        self.copies += 1

    def walk_files(self, root: str):
        # one recursive LIST over the mapped prefix; the walk itself
        # delegates to LocalBackend so the hidden-path and mtime rules
        # live in exactly one place (code-review r15). Staging keys
        # ('.tmp.<uuid>') are additionally hidden — see list_dir.
        self.lists += 1
        for rel, mt in LocalBackend.walk_files(self, self._key(root)):
            if ".tmp." not in rel:
                yield rel, mt

    def remove_tree(self, path: str) -> None:
        # prefix DELETE: list the keys under the prefix, delete each
        key = self._key(path)
        for d, _dirs, fs in os.walk(key, topdown=False):
            for f in fs:
                self.deletes += 1
                try:
                    os.remove(os.path.join(d, f))
                except FileNotFoundError:
                    pass
        import shutil

        shutil.rmtree(key, ignore_errors=True)

    def __getstate__(self):
        return {"root": self.root}

    def __setstate__(self, state):
        self.__init__(state["root"])


class VersionedBlob:
    """Small control-plane blob with lost-update-proof persistence —
    the shared machinery behind the catalog's and the token store's
    versioned saves (code-review r15: two near-verbatim copies of this
    protocol had already drifted).

    One logical blob is stored as ``{stem}-%012d{ext}`` objects; a
    save is a conditional PUT of the NEXT version, attempted only
    after one LIST confirms the writer's snapshot is the current head
    (max listed version is monotone — GC deletes strictly below the
    head, age-gated, so a stale writer can never land on a recycled
    number below the head where readers would miss it). Losing the
    race returns False; the owner reloads and re-applies its mutation.
    A byte-identical save is skipped entirely (no-op mutations — an
    empty purge sweep, an idempotent create retry — must not churn
    versions). GC runs over the LISTED versions (not a fixed lookback
    window, which would leak under sustained write rates) and only
    deletes objects older than ``gc_min_age_ms``."""

    KEEP_VERSIONS = 3

    def __init__(
        self,
        meta_dir: str,
        stem: str,
        ext: str,
        backend=None,
        gc_min_age_ms: int = 600_000,
    ):
        self.meta_dir = meta_dir
        self.stem = stem
        self.ext = ext
        self.backend = backend or LOCAL
        self.gc_min_age_ms = gc_min_age_ms
        self._re = re.compile(
            rf"^{re.escape(stem)}-(\d{{12}}){re.escape(ext)}$"
        )
        self.version = 0
        #: bytes of the version this holder last observed persisted —
        #: the no-op-save comparator
        self._last_blob: bytes | None = None

    def _vpath(self, v: int) -> str:
        return os.path.join(self.meta_dir, f"{self.stem}-{v:012d}{self.ext}")

    def _versions(self) -> list[int]:
        return sorted(
            int(m.group(1))
            for f in self.backend.list_dir(self.meta_dir)
            if (m := self._re.match(f))
        )

    def head_version(self) -> int:
        vs = self._versions()
        return vs[-1] if vs else 0

    def load(self) -> bytes | None:
        """Freshest persisted bytes, or None if nothing persisted. A
        read can race version GC; a missing max-version re-lists."""
        for _ in range(8):
            vs = self._versions()
            if not vs:
                self.version = 0
                self._last_blob = None
                return None
            try:
                self._last_blob = self.backend.read(self._vpath(vs[-1]))
            except FileNotFoundError:
                continue  # raced GC: re-list
            self.version = vs[-1]
            return self._last_blob
        return self._last_blob  # pragma: no cover - sustained GC race

    def save_cas(self, data: bytes) -> bool:
        """True = persisted (or byte-identical, skipped); False = the
        head moved (stale snapshot or lost PUT) — reload + re-apply."""
        vs = self._versions()
        if (vs[-1] if vs else 0) != self.version:
            return False  # stale snapshot: never PUT below the head
        if data == self._last_blob:
            return True  # no-op mutation at the head: nothing to persist
        nxt = self.version + 1
        if not self.backend.put_if_absent(self._vpath(nxt), data):
            return False
        self.version = nxt
        self._last_blob = data
        wall = int(time.time() * 1000)
        for v in vs:
            if v <= nxt - self.KEEP_VERSIONS:
                p = self._vpath(v)
                mt = self.backend.mtime_ms(p)
                if mt is not None and wall - mt >= self.gc_min_age_ms:
                    self.backend.delete(p)
        return True


def backend_from_spec(spec: str):
    """Reconstruct a backend from its :meth:`~LocalBackend.spec`
    string — the serialization seam for Spark executors (DataSource
    options are plain strings; live backend objects cannot ride
    them). ``"local"`` → the shared :data:`LOCAL`;
    ``"sandbox:<root>"`` → a :class:`SandboxObjectBackend`. An s3/gcs
    port registers its scheme here."""
    if spec == "local":
        return LOCAL
    if spec.startswith("sandbox:"):
        return SandboxObjectBackend(spec.split(":", 1)[1])
    raise ValueError(f"unknown manifest backend spec: {spec!r}")


LOCAL = LocalBackend()


def manifest_dir(base_dir: str) -> str:
    return os.path.join(base_dir, "_manifest")


def is_manifest_store(base_dir: str, backend: LocalBackend = LOCAL) -> bool:
    """True if ``base_dir`` carries a generation log (opening a store
    writes generation 0 before any record file)."""
    return any(_GEN_RE.match(f) for f in backend.list_dir(manifest_dir(base_dir)))


def _gen_numbers(d: str, backend: LocalBackend = LOCAL) -> list[int]:
    return sorted(
        int(m.group(1)) for f in backend.list_dir(d) if (m := _GEN_RE.match(f))
    )


def _gen_path(d: str, gen: int) -> str:
    return os.path.join(d, f"gen-{gen:012d}.json")


def _read_gen(d: str, gen: int, backend: LocalBackend = LOCAL) -> dict:
    return json.loads(backend.read(_gen_path(d, gen)))


def fold(
    base_dir: str, backend: LocalBackend = LOCAL, _relist_retries: int = 5
) -> tuple[int, set[str]]:
    """Current ``(generation, visible relpath set)``.

    Reads backward from the head to the nearest checkpoint, then folds
    the deltas forward — at most :data:`CHECKPOINT_EVERY` + 1 small
    JSON reads regardless of log length. Generation files are
    immutable once published, so no locking is needed; a concurrently
    publishing writer's new generation is either visible (and
    complete) or not yet listed — both are consistent snapshots.

    A lock-free fold can race vacuum's log prune: it lists head H, a
    writer publishes a checkpoint C > H, and vacuum prunes entries
    below C — the walk from the stale head now hits a pruned
    generation before reaching any checkpoint. That is a HEALTHY log
    seen through a stale listing, so the fold re-lists and retries
    from the fresh head (which reaches C immediately); only a gap
    that persists across re-lists is real corruption (loud)."""
    d = manifest_dir(base_dir)
    for _ in range(_relist_retries + 1):
        gens = _gen_numbers(d, backend)
        if not gens:
            return 0, set()
        head = gens[-1]
        # walk back from the head collecting deltas until a checkpoint
        chain: list[dict] = []
        files: set[str] = set()
        gap = False
        for g in range(head, 0, -1):
            try:
                entry = _read_gen(d, g, backend)
            except FileNotFoundError:
                gap = True  # stale head raced a prune — re-list
                break
            chain.append(entry)
            if entry.get("files") is not None:
                files = set(entry["files"])
                # the checkpoint already includes its own add/remove
                chain.pop()
                break
        if gap:
            continue
        for entry in reversed(chain):
            files -= set(entry.get("remove", ()))
            files |= set(entry.get("add", ()))
        return head, files
    raise RuntimeError(
        f"manifest gap: a generation below head is missing with no "
        f"checkpoint in between, persisting across {_relist_retries + 1} "
        f"list-and-walk attempts — the log is corrupt"
    )


def write_gen(
    base_dir: str,
    gen: int,
    add: list[str],
    remove: list[str],
    files: list[str] | None,
    ts_ms: int | None = None,
    backend: LocalBackend = LOCAL,
) -> bool:
    """Attempt to atomically create generation ``gen``; returns False
    if it already exists (a racing writer won — callers CAS-retry via
    :func:`publish`). ``ts_ms`` is the publish timestamp recorded in
    the entry; files in ``remove`` are delisted AS OF this time, which
    is the clock vacuum's grace window runs on."""
    entry: dict = {
        "gen": gen,
        "add": sorted(add),
        "remove": sorted(remove),
        "ts_ms": int(time.time() * 1000) if ts_ms is None else int(ts_ms),
    }
    if files is not None:
        entry["files"] = sorted(files)
    final = _gen_path(manifest_dir(base_dir), gen)
    return backend.put_if_absent(final, json.dumps(entry).encode())


def publish(
    base_dir: str,
    add=(),
    remove=(),
    *,
    require_visible: bool = False,
    known: tuple[int, set[str]] | None = None,
    ts_ms: int | None = None,
    backend: LocalBackend = LOCAL,
    max_attempts: int = MAX_PUBLISH_ATTEMPTS,
) -> tuple[int, set[str]]:
    """Publish one generation via the CAS loop; returns the committed
    ``(generation, visible file set)``.

    ``known`` seeds the loop with a cached ``(gen, files)`` snapshot
    (saving a fold when the caller is the only writer — the common
    case); on a create collision the loop re-folds from the backend
    and retries on top of the winner. ``require_visible=True`` (set
    by delisting publishes: compaction/trim rewrites) re-validates on
    every attempt that the full ``remove`` set is still visible and
    raises :class:`PublishConflict` otherwise — the rewrite's inputs
    were consumed by a racing publish and its output is stale.

    **Pruned-number resurrection is prevented, not detected.** A
    writer with a very stale ``known`` snapshot could otherwise win
    the create for a generation number the log already PASSED and
    pruned (head advanced beyond a checkpoint; :func:`prune_log`
    deleted the old delta entries; the number is free again) — such
    an entry is unreachable from every fold and its acked data would
    be silently lost. Round 14 detected the zombie after the fact by
    checking the publish's content against a fresh fold, but that
    check false-positives on a COMMITTED generation whose adds a
    racing compaction already consumed — deleting it breaks the fold
    chain, and retrying duplicates acked records (ADVICE r14). The
    guard is now structural, in two parts:

    1. **Head verification.** A caller-supplied ``known`` is used
       only after one LIST confirms its generation is still the
       listed head. The max listed generation number is MONOTONE
       non-decreasing (``prune_log`` deletes strictly below the
       newest checkpoint, so the checkpoint — numbered above every
       entry it prunes — always remains listed); therefore a head
       verified as ``N-1`` proves no generation ``N`` has EVER
       existed, and winning the create of ``N`` commits it.
    2. **Prune entry-age gate.** The residual window — another
       writer creates ``N``, 32+ more generations and a checkpoint
       land, and a prune frees ``N`` again, all between this
       writer's LIST and its create — is closed by
       :func:`prune_log`'s ``entry_grace_ms``: an entry is never
       pruned until it is at least that old (default 1 h), so a
       number freed by prune was committed far outside any live
       publish's list→create window. (Cross-writer clock skew
       approaching ``entry_grace_ms`` would re-open the window —
       the same skew bound vacuum's grace documents.)

    Consequently a successful create is committed by construction:
    if the listing has already moved past it, racing writers folded
    THROUGH it (or a checkpoint absorbed it) and the loop simply
    returns the fresh fold — there is no delete branch, so no
    false-positive can lose a committed generation."""
    add, remove = sorted(set(add)), sorted(set(remove))
    d = manifest_dir(base_dir)
    for attempt in range(max_attempts):
        if known is not None:
            # head verification: the snapshot seeds the CAS only while
            # it is provably current — one LIST, no entry reads
            gens = _gen_numbers(d, backend)
            if (gens[-1] if gens else 0) != known[0]:
                known = None
        if known is None:
            known = fold(base_dir, backend)
        gen, files = known
        if require_visible:
            missing = [r for r in remove if r not in files]
            if missing:
                raise PublishConflict(
                    f"publish delists files no longer visible at generation "
                    f"{gen} (a racing publish consumed them): {missing[:3]} — "
                    f"discard this rewrite's output and re-plan"
                )
        new_gen = gen + 1
        new_files = (set(files) - set(remove)) | set(add)
        ckpt = sorted(new_files) if new_gen % CHECKPOINT_EVERY == 0 else None
        if write_gen(base_dir, new_gen, add, remove, ckpt, ts_ms, backend):
            # committed — and the returned generation must be THE ONE
            # THIS CALL CREATED, even if racing writers have already
            # built past it. (The r14 guard re-listed here and, when
            # the head had moved, returned the fresh fold instead —
            # misattributing the commit: two writers could then both
            # report the same generation number, observed live as a
            # 1-in-~100 'gens not contiguous' soak failure. The
            # returned file set is the visible set AS OF this
            # generation; a caller caching it re-verifies against the
            # listed head on its next publish anyway.)
            return new_gen, new_files
        known = None  # lost the CAS — re-fold on top of the winner
        if attempt >= 8:
            time.sleep(0.001 * (attempt - 7))  # contention backoff
    raise RuntimeError(
        f"manifest publish contention: {max_attempts} CAS attempts lost on "
        f"{base_dir!r} — pathologically many concurrent writers"
    )


def delisted_entries(
    base_dir: str, backend: LocalBackend = LOCAL
) -> list[tuple[int, str, int]]:
    """Every ``(generation, relpath, delisted_at_ms)`` still recorded
    in the log — vacuum's worklist. The delist clock is the publishing
    generation's ``ts_ms`` (object stores cannot stamp file mtimes).
    Entries pruned from the log are gone precisely because a prior
    vacuum confirmed their removed files deleted (:func:`prune_log`
    ``keep_gens``)."""
    d = manifest_dir(base_dir)
    out: list[tuple[int, str, int]] = []
    for g in _gen_numbers(d, backend):
        try:
            entry = _read_gen(d, g, backend)
        except FileNotFoundError:  # pragma: no cover - raced a prune
            continue
        for rel in entry.get("remove", ()):
            out.append((g, rel, entry["ts_ms"]))
    return out


def prune_log(
    base_dir: str,
    backend: LocalBackend = LOCAL,
    keep_gens: frozenset[int] | set[int] = frozenset(),
    tmp_grace_ms: int = 3_600_000,
    now_ms: int | None = None,
    entry_grace_ms: int = 3_600_000,
) -> int:
    """Drop log entries strictly below the newest checkpoint (the fold
    never reads past one), EXCEPT generations in ``keep_gens`` — vacuum
    passes the generations whose delisted files still await their
    grace window, so the delist record (the only copy of the delist
    time) outlives the file it names — and EXCEPT entries younger
    than ``entry_grace_ms``: freeing a recently-committed generation
    NUMBER is what would let a concurrent publish's list→create race
    resurrect it (see :func:`publish`'s guard), so a number is only
    recycled long after every live publish attempt against it has
    resolved. Entry ages run on the publisher-stamped ``ts_ms``
    against the caller's ``now_ms`` — cross-writer clock skew
    approaching ``entry_grace_ms`` would defeat the gate, the same
    skew bound vacuum's grace window documents. Also sweeps ``.tmp.``
    staging files, age-gated by ``tmp_grace_ms``: a fresh tmp may
    belong to a publish IN FLIGHT on another thread (staged but not
    yet linked), so only tmps old enough to be crash debris are
    removed. Returns entries removed. Part of vacuum, split out for
    testing."""
    d = manifest_dir(base_dir)
    now = int(time.time() * 1000) if now_ms is None else now_ms
    gens = _gen_numbers(d, backend)
    newest_ckpt = None
    for g in reversed(gens):
        try:
            if _read_gen(d, g, backend).get("files") is not None:
                newest_ckpt = g
                break
        except FileNotFoundError:  # pragma: no cover - raced prune
            continue
    n = 0
    if newest_ckpt is not None:
        for g in gens:
            if g >= newest_ckpt or g in keep_gens:
                continue
            if entry_grace_ms:
                try:
                    entry = _read_gen(d, g, backend)
                except FileNotFoundError:  # pragma: no cover - raced
                    continue
                if now - entry["ts_ms"] < entry_grace_ms:
                    continue  # too young: its number must not recycle yet
            backend.delete(_gen_path(d, g))
            n += 1
    # tmp debris ages on WALL clock unconditionally: mtime_ms is a
    # filesystem/object timestamp, and mixing it with a caller-supplied
    # logical now_ms (vacuum passes the store clock for ENTRY aging)
    # would delete another thread's in-flight staging tmp when the
    # logical clock runs ahead of wall time (code-review r15)
    wall = int(time.time() * 1000)
    for f in backend.list_dir(d):
        if ".tmp." in f:
            p = os.path.join(d, f)
            age_ref = backend.mtime_ms(p)
            if age_ref is not None and wall - age_ref >= tmp_grace_ms:
                backend.delete(p)
    return n


# --- reader leases ------------------------------------------------------
#
# The grace window is a TIME answer to reader pinning: vacuum must not
# delete a delisted file while a plan that captured it may still run,
# so grace_ms must exceed the longest plan. At 1000-executor scale a
# fixed horizon is either wastefully long or silently short; the
# structural answer is a lease REGISTRY: a reader declares "I am
# pinned to generation G until T", and vacuum keeps every file whose
# delisting generation is NEWER than any active lease's pinned
# generation (such a file was visible at G). Leases are advisory
# crash-safe objects — an expired lease is garbage-collected by
# vacuum, so a crashed reader delays GC by at most its TTL. This is
# the same shape as SlateDB's checkpoint-pinned reads
# (lite/src/backend/kv/mod.rs:55-95: readers operate against a pinned
# manifest state).

_LEASE_RE = re.compile(r"^lease-([0-9a-f]{32})\.json$")


def acquire_lease(
    base_dir: str,
    gen: int,
    ttl_ms: int,
    now_ms: int | None = None,
    backend: LocalBackend = LOCAL,
) -> str:
    """Register a reader lease pinning generation ``gen`` until
    ``now + ttl_ms``. Returns the lease id (pass to
    :func:`release_lease`). One small object create; no CAS needed —
    lease ids are unique."""
    lease_id = uuid.uuid4().hex
    now = int(time.time() * 1000) if now_ms is None else int(now_ms)
    path = os.path.join(manifest_dir(base_dir), f"lease-{lease_id}.json")
    data = json.dumps(
        {"gen": int(gen), "expires_at_ms": now + int(ttl_ms)}
    ).encode()
    if not backend.put_if_absent(path, data):  # pragma: no cover - uuid
        raise RuntimeError(f"lease id collision: {lease_id}")
    return lease_id


def release_lease(
    base_dir: str, lease_id: str, backend: LocalBackend = LOCAL
) -> None:
    backend.delete(os.path.join(manifest_dir(base_dir), f"lease-{lease_id}.json"))


def active_lease_floor(
    base_dir: str,
    now_ms: int | None = None,
    backend: LocalBackend = LOCAL,
) -> int | None:
    """The oldest generation any ACTIVE lease pins, or None when no
    active lease exists. Expired leases are deleted as they are seen
    (vacuum calls this, making it the lease GC too)."""
    d = manifest_dir(base_dir)
    now = int(time.time() * 1000) if now_ms is None else int(now_ms)
    floor: int | None = None
    for f in backend.list_dir(d):
        if not _LEASE_RE.match(f):
            continue
        path = os.path.join(d, f)
        try:
            entry = json.loads(backend.read(path))
        except (FileNotFoundError, ValueError):  # pragma: no cover - raced
            continue
        if entry.get("expires_at_ms", 0) <= now:
            backend.delete(path)  # expired: crashed reader, GC it
            continue
        g = int(entry.get("gen", 0))
        if floor is None or g < floor:
            floor = g
    return floor


#: local breadcrumb dropped by a store whose manifest log lives in a
#: NON-local backend (object store): path-only readers (the streaming
#: source's footer scanner) and backend-less reopens cannot see that
#: log — without the marker they would silently fall back to directory
#: listings and double-count every compaction's delisted originals.
EXTERNAL_BACKEND_MARKER = ".external-backend"


def mark_external_backend(base_dir: str) -> None:
    d = manifest_dir(base_dir)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, EXTERNAL_BACKEND_MARKER), "w") as f:
        f.write("manifest log lives in a non-local PublishBackend\n")


def has_external_backend_marker(base_dir: str) -> bool:
    return os.path.exists(
        os.path.join(manifest_dir(base_dir), EXTERNAL_BACKEND_MARKER)
    )
