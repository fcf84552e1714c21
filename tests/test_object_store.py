"""Whole-store object-backend tests (VERDICT r14 task 1): the data
plane — record parquet writes and reads, compaction staging, vacuum
deletes, the orphan sweep — goes through the same backend seam as the
manifest log, so a StreamStore runs END-TO-END against an object
store. SandboxObjectBackend is the test double: every logical store
path maps into its own sandbox root, reachable only through the
object API a real bucket offers (conditional PUT, PUT/GET/LIST/
DELETE, server-side COPY); the store's local base_dir never holds a
record file, and the protocol uses no os.link / os.rename / os.walk
on the data path (the reference is S3-over-SlateDB-over-object-
storage by construction: README.md:53-60,
lite/src/backend/kv/mod.rs:55-95)."""

from __future__ import annotations

import glob
import os

import pytest

from s2_spark import manifest as mf
from s2_spark.catalog import BasinConfig, Catalog
from s2_spark.model import Record
from s2_spark.store import StreamStore
from s2_spark.streaming import register

B = "obj-basin"


def _mkstore(spark, tmp_path, **kw):
    backend = mf.SandboxObjectBackend(str(tmp_path / "bucket"))
    cat = Catalog(spark)
    cat.create_basin(B, BasinConfig(create_stream_on_append=True))
    cat.create_stream(B, "s1")
    store = StreamStore(
        spark,
        str(tmp_path / "records"),
        catalog=cat,
        manifest_backend=backend,
        **kw,
    )
    return store, backend


def _rows(store, stream="s1"):
    return [
        (r.seq_num, bytes(r.body))
        for r in store.read(B, stream).select("seq_num", "body").collect()
    ]


def _local_parquet(base):
    """Record parquet files physically present under the LOCAL
    base_dir tree — must stay empty for an object-backend store."""
    return [
        p
        for p in glob.glob(os.path.join(base, "**", "*.parquet"), recursive=True)
    ]


def test_sandbox_full_lifecycle_no_local_data(spark, tmp_path):
    """append → read → compact → vacuum → lease, entirely against the
    sandbox bucket: results exact, zero parquet under the local
    base_dir at every step, and the bucket served real COPY/DELETE
    traffic (the finalize + vacuum paths went through the object
    API, not POSIX renames)."""
    store, backend = _mkstore(spark, tmp_path)
    for i in range(5):
        store.append(B, "s1", [Record(body=f"r{i}".encode())])
    want = [(i, f"r{i}".encode()) for i in range(5)]
    assert _rows(store) == want
    assert _local_parquet(store.base_dir) == []
    assert backend.copies >= 5  # staged part files landed via COPY
    # the bucket holds the record objects under the mapped base_dir
    bucket_parquet = [
        p
        for p in glob.glob(
            os.path.join(backend.root, "**", "*.parquet"), recursive=True
        )
        if "_stage" not in p
    ]
    assert len(bucket_parquet) == 5

    # compaction inside a reader lease: the lease pins the
    # pre-compaction generation, so vacuum keeps the delisted
    # originals while it is active
    n_before = len(bucket_parquet)
    with store.reader_lease(ttl_ms=3_600_000):
        store.compact()
        assert _rows(store) == want
        assert _local_parquet(store.base_dir) == []
        assert store.vacuum(grace_ms=0) == 0  # originals pinned
    deletes_before = backend.deletes
    assert store.vacuum(grace_ms=0) == n_before  # lease released
    assert backend.deletes > deletes_before  # object DELETEs, not unlink
    assert _rows(store) == want

    # cold reopen over the same bucket sees everything
    cold = StreamStore(
        spark,
        store.base_dir,
        catalog=store.catalog,
        manifest_backend=mf.SandboxObjectBackend(backend.root),
    )
    assert _rows(cold) == want


def test_sandbox_catalog_control_plane_in_bucket(spark, tmp_path):
    """The control plane rides the backend too (r15): a store built
    with the DEFAULT catalog persists basins/streams/configs as an
    object in the bucket, so a cold open against the bucket ALONE — a
    fresh default catalog, nothing under the local base_dir —
    recovers metadata and records both."""
    backend = mf.SandboxObjectBackend(str(tmp_path / "bucket"))
    base = str(tmp_path / "records")
    store = StreamStore(
        spark, base, manifest_backend=backend
    )
    store.catalog.create_basin(B, BasinConfig(create_stream_on_append=True))
    store.catalog.create_stream(B, "s1")
    store.append(B, "s1", [Record(body=b"c0")])
    # no catalog parquet on the local filesystem — it is in the bucket
    assert not os.path.exists(os.path.join(base, "_meta", "catalog.parquet"))
    cold = StreamStore(
        spark,
        base,
        manifest_backend=mf.SandboxObjectBackend(backend.root),
    )
    assert cold.catalog.get_stream(B, "s1").name == "s1"
    assert _rows(cold) == [(0, b"c0")]


def test_sandbox_streaming_follow(spark, tmp_path):
    """The streaming source follows an object-backend store via the
    `backend` option (spec string — reconstructed on executors),
    instead of refusing on the external-backend marker: catch-up AND
    live tail, across a compaction."""
    store, backend = _mkstore(spark, tmp_path)
    store.append(B, "s1", [Record(body=f"a{i}".encode()) for i in range(4)])
    register(spark)
    q = (
        spark.readStream.format("s2")
        .option("path", store.base_dir)
        .option("basin", B)
        .option("backend", backend.spec())
        .load()
        .writeStream.format("memory")
        .queryName("objtail")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT seq_num FROM objtail ORDER BY seq_num").collect()
        assert [r.seq_num for r in got] == list(range(4))
        # live follow across a compaction (manifest visibility: the
        # delisted originals stay readable until vacuum)
        store.compact()
        store.append(B, "s1", [Record(body=b"a4")])
        q.processAllAvailable()
        got = spark.sql("SELECT seq_num FROM objtail ORDER BY seq_num").collect()
        assert [r.seq_num for r in got] == list(range(5))
    finally:
        q.stop()
    assert _local_parquet(store.base_dir) == []


def test_sandbox_purge_tombstones_ride_the_bucket(spark, tmp_path):
    """Purge tombstones (the generation bump a streaming reader needs
    to rebase a deleted+recreated stream to seq 0) are written through
    the backend, so on a bucket store a reader on ANOTHER host — here:
    a fresh backend object, nothing on the local base_dir — observes
    the purge."""
    from s2_spark.operators.maintenance import deletion_purge_sweep
    from s2_spark.streaming.source import SEP, _purge_gens

    store, backend = _mkstore(spark, tmp_path)
    store.append(B, "s1", [Record(body=b"old0"), Record(body=b"old1")])
    store.catalog.delete_stream(B, "s1")
    deletion_purge_sweep(store)
    store.catalog.create_stream(B, "s1")
    ack = store.append(B, "s1", [Record(body=b"new0")])
    assert ack.start_seq == 0  # recreated stream restarts at 0
    # nothing under the local _purges dir — the tombstone is an object
    assert not os.path.isdir(os.path.join(store.base_dir, "_purges"))
    other_host = mf.SandboxObjectBackend(backend.root)
    gens = _purge_gens(store.base_dir, None, other_host)
    assert gens.get(f"{B}{SEP}s1") == 1


def test_source_requires_backend_spec_for_external_store(spark, tmp_path):
    """Without the backend option the footer scanner must refuse an
    external-backend store loudly (a listing fallback would silently
    read nothing / double-count)."""
    store, _ = _mkstore(spark, tmp_path)
    store.append(B, "s1", [Record(body=b"x")])
    from s2_spark.streaming.source import _parquet_files

    with pytest.raises(RuntimeError, match="external manifest backend"):
        _parquet_files(store.base_dir)


def test_local_backend_never_marks_external(spark, tmp_path):
    """ADVICE r14 (low): an explicitly passed LocalBackend must NOT
    drop the external-backend marker — the log is reachable by path,
    and the marker would permanently lock out backend-less reopens
    and the streaming footer scanner."""
    cat = Catalog(spark)
    cat.create_basin(B, BasinConfig(create_stream_on_append=True))
    cat.create_stream(B, "s1")
    base = str(tmp_path / "records")
    store = StreamStore(
        spark,
        base,
        catalog=cat,
        manifest_backend=mf.LocalBackend(),
    )
    store.append(B, "s1", [Record(body=b"x")])
    assert not mf.has_external_backend_marker(base)
    # backend-less reopen works
    again = StreamStore(spark, base, catalog=cat)
    assert _rows(again) == [(0, b"x")]


def test_backend_spec_roundtrip(tmp_path):
    assert mf.backend_from_spec("local") is mf.LOCAL
    bk = mf.backend_from_spec(f"sandbox:{tmp_path}")
    assert isinstance(bk, mf.SandboxObjectBackend)
    assert bk.root == str(tmp_path)
    import pickle

    bk2 = pickle.loads(pickle.dumps(bk))
    assert bk2.root == bk.root
    with pytest.raises(ValueError):
        mf.backend_from_spec("s3://not-wired-yet")


def _child_spark_appender(args):
    """Child PROCESS with its OWN SparkSession (own JVM) appending to a
    shared store directory — the real two-jobs-one-store topology the
    CAS publish loop exists for (each job's in-process locks protect
    nothing against the other)."""
    import os as _os
    import traceback as _tb

    base, bucket_root, stream, n, err_path = args
    try:
        from s2_spark import manifest as _mf
        from s2_spark.model import Record as _Record
        from s2_spark.session import get_spark as _get_spark
        from s2_spark.store import StreamStore as _StreamStore

        spark = _get_spark("child-writer", cpus=2, shuffle_partitions=2)
        backend = _mf.SandboxObjectBackend(bucket_root)
        st = _StreamStore(
            spark, base, manifest_backend=backend
        )
        for i in range(n):
            st.append(B, stream, [_Record(body=f"child-{i}".encode())])
        # cross-process compaction: the child's rewrite CAS-publishes
        # (require_visible) against whatever the parent has committed
        # meanwhile; a PublishConflict would re-plan inside compact()
        st.manifest_refresh()
        st.compact()
        spark.stop()
        _os._exit(0)
    except Exception:
        with open(err_path, "w") as f:
            f.write(_tb.format_exc())
        _os._exit(1)


def test_two_spark_processes_one_bucket_store(spark, tmp_path):
    """TWO OS processes, each with its OWN SparkSession/JVM, append to
    one bucket-backed store concurrently (different streams — the
    reference's per-stream single-writer discipline; the DIRECTORY is
    multi-writer via CAS publishes). Both sides' acked records are
    visible after a manifest_refresh, and a cold reader over the
    bucket alone sees a consistent store."""
    import multiprocessing as mp
    import os

    backend = mf.SandboxObjectBackend(str(tmp_path / "bucket"))
    base = str(tmp_path / "records")
    store = StreamStore(spark, base, manifest_backend=backend)
    store.catalog.create_basin(B, BasinConfig(create_stream_on_append=True))
    store.catalog.create_stream(B, "parent-s")
    store.catalog.create_stream(B, "child-s")

    err = str(tmp_path / "child.err")
    ctx = mp.get_context("spawn")
    child = ctx.Process(
        target=_child_spark_appender,
        args=((base, backend.root, "child-s", 4, err),),
    )
    child.start()
    # parent appends concurrently with the child's JVM
    for i in range(4):
        store.append(B, "parent-s", [Record(body=f"parent-{i}".encode())])
    child.join(timeout=300)
    assert child.exitcode == 0, (
        open(err).read() if os.path.exists(err) else "child died silently"
    )
    # absorb the child's generations (publishes went through CAS; the
    # parent's cache is refreshed, not trusted)
    store.manifest_refresh()
    assert _rows(store, "parent-s") == [
        (i, f"parent-{i}".encode()) for i in range(4)
    ]
    assert _rows(store, "child-s") == [
        (i, f"child-{i}".encode()) for i in range(4)
    ]
    # cold open over the bucket alone agrees
    cold = StreamStore(
        spark,
        base,
        manifest_backend=mf.SandboxObjectBackend(backend.root),
    )
    assert _rows(cold, "child-s") == [
        (i, f"child-{i}".encode()) for i in range(4)
    ]
    assert cold.check_tail(B, "parent-s")[0] == 4


def test_catalog_cas_concurrent_mutators_lose_nothing(spark, tmp_path):
    """Code-review r15: catalog persistence was a read-modify-write
    full-table overwrite, so two stores sharing one bucket could lose
    each other's control-plane mutations (last PUT wins). Saves are
    now versioned conditional PUTs with reload-and-reapply: interleaved
    creates from two catalog objects both survive, and a racing
    same-name create surfaces as AlreadyExists instead of clobbering."""
    root = str(tmp_path / "bucket")
    meta = str(tmp_path / "records/_meta")
    a = Catalog(spark, meta_dir=meta, backend=mf.SandboxObjectBackend(root))
    b = Catalog(spark, meta_dir=meta, backend=mf.SandboxObjectBackend(root))
    a.create_basin(B, BasinConfig(create_stream_on_append=True))
    # b's snapshot predates the basin — its create must CAS-retry on
    # top of a's save, not overwrite it
    b.create_basin("other-basin-x")
    # interleave stream creates without either reloading explicitly
    a.create_stream(B, "from-a")
    b.create_stream("other-basin-x", "from-b")
    a.create_stream(B, "from-a2")
    fresh = Catalog(
        spark, meta_dir=meta, backend=mf.SandboxObjectBackend(root)
    )
    assert fresh.get_stream(B, "from-a").name == "from-a"
    assert fresh.get_stream(B, "from-a2").name == "from-a2"
    assert fresh.get_stream("other-basin-x", "from-b").name == "from-b"
    # racing same-name create is a loud conflict, not a silent clobber
    with pytest.raises(Exception):
        b.create_stream(B, "from-a")


def test_tails_scan_works_without_local_base_dir(spark, tmp_path):
    """Code-review r15: _tails gated on LOCAL filesystem state
    (os.path.isdir) even with a non-local backend, so a reader host without the local base_dir silently
    planned an empty stream forever. With the backend passed, the scan
    must come from the bucket alone."""
    import shutil

    from s2_spark.streaming.source import SEP, _tails

    store, backend = _mkstore(spark, tmp_path)
    store.append(B, "s1", [Record(body=f"t{i}".encode()) for i in range(3)])
    shutil.rmtree(store.base_dir)  # the "other host" has no local dir
    tails = _tails(store.base_dir, None, None, backend)
    assert tails == {f"{B}{SEP}s1": 3}


def test_catalog_cas_hammer_two_threads(spark, tmp_path):
    """Two Catalog objects (distinct in-memory snapshots, shared
    bucket) hammer interleaved creates from two threads: every create
    must survive — the CAS loop absorbs the races that the old
    read-modify-write overwrite silently lost."""
    import threading

    root = str(tmp_path / "bucket")
    meta = str(tmp_path / "records/_meta")
    a = Catalog(spark, meta_dir=meta, backend=mf.SandboxObjectBackend(root))
    b = Catalog(spark, meta_dir=meta, backend=mf.SandboxObjectBackend(root))
    a.create_basin(B, BasinConfig(create_stream_on_append=True))
    errs = []

    def writer(cat, tag):
        try:
            for i in range(20):
                cat.create_stream(B, f"{tag}-{i}")
        except Exception as e:  # pragma: no cover
            errs.append((tag, repr(e)))

    ts = [
        threading.Thread(target=writer, args=(a, "ta")),
        threading.Thread(target=writer, args=(b, "tb")),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    fresh = Catalog(
        spark, meta_dir=meta, backend=mf.SandboxObjectBackend(root)
    )
    names = {s.name for s in fresh.streams.values()}
    want = {f"ta-{i}" for i in range(20)} | {f"tb-{i}" for i in range(20)}
    assert names == want, want - names


def test_put_if_absent_never_exposes_partial_content(tmp_path):
    """The conditional-PUT simulation must be ATOMIC like a real
    bucket's If-None-Match PUT: a concurrent reader that sees the key
    listed must read the FULL content, never 0 bytes or a prefix (the
    r15 torn-read: O_CREAT|O_EXCL-then-write let a VersionedBlob
    reader load a 0-byte parquet object mid-publish)."""
    import threading

    be = mf.SandboxObjectBackend(str(tmp_path / "bucket"))
    payload = b"x" * 65536
    stop = threading.Event()
    torn = []

    def reader():
        while not stop.is_set():
            # NOTE: no '.tmp.' skip here — LIST itself must hide the
            # staging keys (a real bucket never shows a staged upload),
            # so every listed name must be readable and complete
            for f in be.list_dir("/d"):
                try:
                    got = be.read(os.path.join("/d", f))
                except FileNotFoundError:
                    continue
                if got != payload:
                    torn.append((f, len(got)))
                    return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(300):
            assert be.put_if_absent(f"/d/k{i:04d}", payload)
    finally:
        stop.set()
        t.join()
    assert not torn, torn


def test_list_surface_hides_staging_keys(tmp_path):
    """A real bucket's LIST never shows a staged upload, so the
    sandbox's list_dir/list_data_dir/walk_files must hide '.tmp.'
    staging keys (and a failed stage must not leak one)."""
    be = mf.SandboxObjectBackend(str(tmp_path / "bucket"))
    be.put("/d/a.json", b"x")
    # plant debris the way a crash between stage and link would
    key = be._key("/d/a.json")
    with open(key + ".tmp.deadbeef", "wb") as f:
        f.write(b"partial")
    assert be.list_dir("/d") == ["a.json"]
    assert be.list_data_dir("/d") == ["a.json"]
    assert [rel for rel, _ in be.walk_files("/d")] == ["a.json"]
    # a failed COPY cleans its own staging key
    import pytest

    with pytest.raises(FileNotFoundError):
        be.finalize_data("/d/missing-src", "/d/b.json")
    assert be.list_dir("/d") == ["a.json"]
    leftovers = [n for n in os.listdir(be._key("/d")) if ".tmp." in n]
    assert leftovers == [key.split("/")[-1] + ".tmp.deadbeef"]
