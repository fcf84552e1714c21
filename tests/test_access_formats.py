"""Tests for access-token scopes (A24), JSON record encodings
(api/src/data.rs), and the long-poll wait read."""

from __future__ import annotations

import threading
import time

import pytest

from pyspark.sql import functions as F

from s2_spark.catalog import Catalog
from s2_spark.formats import decode_json, encode_json
from s2_spark.model import Record
from s2_spark.operators.access import AccessToken, ResourceMatcher, TokenStore
from s2_spark.store import ReadStart, StreamStore

BASIN = "test-basin"


@pytest.fixture()
def store(spark, tmp_path):
    cat = Catalog(spark)
    cat.create_basin(BASIN)
    cat.create_stream(BASIN, "s1")
    return StreamStore(spark, str(tmp_path / "records"), catalog=cat)


# --- access tokens (A24) ---------------------------------------------------


def test_token_scope_checks():
    tok = AccessToken(
        "tok-1",
        basins=(ResourceMatcher(BASIN),),
        streams=(ResourceMatcher("logs-", prefix=True),),
        can_read=True,
        can_write=False,
    )
    assert tok.allows("read", BASIN, "logs-a")
    assert not tok.allows("read", BASIN, "metrics-a")  # stream out of scope
    assert not tok.allows("read", "other-basin1", "logs-a")
    assert not tok.allows("append", BASIN, "logs-a")  # read-only
    assert not tok.allows("unknown-op", BASIN, "logs-a")


def test_token_expiry():
    tok = AccessToken("t", expires_at_ms=1000)
    assert tok.allows("read", "b", now_ms=999)
    assert not tok.allows("read", "b", now_ms=1000)


def test_token_id_cap():
    with pytest.raises(ValueError):
        AccessToken("x" * 97)
    # the FULL id contract applies to direct construction too, not just
    # TokenStore.issue (access.rs:22-43 validate_str)
    for bad in ("", ".", ".."):
        with pytest.raises(ValueError):
            AccessToken(bad)


def test_token_list_zero_limit_and_has_more(tmp_path):
    from s2_spark.operators.access import TokenStore

    ts = TokenStore()
    for i in range(3):
        ts.issue(f"t-{i}")
    assert ts.list(limit=0) == ([], True)
    page, more = ts.list(limit=2)
    assert [t.id for t in page] == ["t-0", "t-1"] and more
    page, more = ts.list(limit=3)
    assert len(page) == 3 and not more


def test_token_lifecycle_issue_list_revoke(tmp_path):
    """lite/src/handlers/v1/access_tokens.rs surface: issue (unique id,
    409 on dup), list (prefix + start_after + limit, cap 1000), revoke
    (returns info, 404 after), persisted across a store reopen."""
    from s2_spark.model import AlreadyExists
    from s2_spark.operators.access import TokenNotFound, TokenStore

    ts = TokenStore(meta_dir=str(tmp_path / "meta"))
    for i in range(5):
        ts.issue(f"tok-{i}", can_write=(i % 2 == 0))
    ts.issue("other-1")
    with pytest.raises(AlreadyExists):
        ts.issue("tok-3")
    with pytest.raises(ValueError):
        ts.issue("")
    with pytest.raises(ValueError):
        ts.issue("..")
    with pytest.raises(ValueError):
        ts.issue("x" * 97)
    toks, more = ts.list(prefix="tok-")
    assert [t.id for t in toks] == [f"tok-{i}" for i in range(5)] and not more
    page, more = ts.list(prefix="tok-", start_after="tok-1", limit=2)
    assert more  # tok-4 remains past this page
    assert [t.id for t in page] == [
        "tok-2",
        "tok-3",
    ]
    got = ts.revoke("tok-4")
    assert got.id == "tok-4" and got.token.can_write
    with pytest.raises(TokenNotFound):
        ts.revoke("tok-4")
    # reopen from disk: remaining tokens survive
    ts2 = TokenStore(meta_dir=str(tmp_path / "meta"))
    assert [t.id for t in ts2.list()[0]] == ["other-1"] + [f"tok-{i}" for i in (0, 1, 2, 3)]


def test_token_expiry_sweep_and_check(tmp_path):
    from s2_spark.operators.access import (
        AccessDenied,
        TokenExpired,
        TokenStore,
    )

    ts = TokenStore()
    ts.issue("short", expires_at_ms=1000)
    ts.issue("long", expires_at_ms=5000)
    ts.issue("forever")
    # expiry enforced at check time before the sweep runs
    with pytest.raises(TokenExpired):
        ts.check("short", "read", "b", None, now_ms=1500)
    assert sorted(ts.expiry_sweep(now_ms=1500)) == ["short"]
    assert [t.id for t in ts.list()[0]] == ["forever", "long"]
    assert ts.expiry_sweep(now_ms=1500) == []
    # scope enforcement routes through AccessToken.allows
    ts.issue(
        "scoped",
        basins=(ResourceMatcher(BASIN),),
        streams=(ResourceMatcher("logs-", prefix=True),),
    )
    ts.check("scoped", "read", BASIN, "logs-a", now_ms=0)
    with pytest.raises(AccessDenied):
        ts.check("scoped", "read", BASIN, "metrics-a", now_ms=0)
    with pytest.raises(AccessDenied):
        ts.check("scoped", "append", BASIN, "logs-a", now_ms=0)


def test_token_auto_prefix_streams(tmp_path):
    """api/src/v1/access.rs:202-205: stream names namespace under the
    token's stream-scope prefix; listings strip it back off."""
    from s2_spark.operators.access import TokenStore

    ts = TokenStore()
    with pytest.raises(ValueError):  # scope must be a single prefix
        ts.issue("bad", streams=(ResourceMatcher("exact"),), auto_prefix_streams=True)
    ts.issue(
        "ns",
        streams=(ResourceMatcher("tenant1-", prefix=True),),
        auto_prefix_streams=True,
        can_write=True,
    )
    assert ts.effective_stream("ns", "orders") == "tenant1-orders"
    assert ts.strip_prefix("ns", "tenant1-orders") == "orders"
    # the caller's un-prefixed name is checked against the scope AFTER
    # namespacing, so it lands inside the prefix by construction
    ts.check("ns", "append", "any-basin", "orders", now_ms=0)


def test_scope_filter_prunes_records(store):
    store.catalog.create_stream(BASIN, "logs-a")
    store.catalog.create_stream(BASIN, "metrics-a")
    store.append(BASIN, "logs-a", [Record(body=b"l")])
    store.append(BASIN, "metrics-a", [Record(body=b"m")])
    tok = AccessToken(
        "t", basins=(ResourceMatcher(BASIN),), streams=(ResourceMatcher("logs-", prefix=True),)
    )
    visible = store.records_df().filter(tok.scope_filter())
    assert [r.stream for r in visible.collect()] == ["logs-a"]


# --- JSON encodings -----------------------------------------------------------


def _sample(store):
    store.append(
        BASIN,
        "s1",
        [
            Record(body=b"\x00\xffbinary", headers=[(b"k", b"\x01\x02"), (b"k", b"v2")]),
            Record(body=b"plain text", headers=[]),
        ],
    )
    return store.records_df()


def test_json_base64_roundtrip(store):
    recs = _sample(store)
    encoded = encode_json(recs, base64_encoding=True)
    j = encoded.orderBy("seq_num").first()["json"]
    assert '"seq_num":0' in j and '"body":"' in j
    back = decode_json(encoded, base64_encoding=True).orderBy("seq_num").collect()
    orig = recs.orderBy("seq_num").collect()
    for b, o in zip(back, orig):
        assert bytes(b.body) == bytes(o.body)
        assert [(bytes(h.name), bytes(h.value)) for h in b.headers] == [
            (bytes(h.name), bytes(h.value)) for h in o.headers
        ]
        assert (b.seq_num, b.timestamp) == (o.seq_num, o.timestamp)


def test_json_raw_roundtrip_utf8(store):
    store.append(BASIN, "s1", [Record(body="utf-8 text ok".encode(), headers=[(b"h", b"v")])])
    recs = store.records_df()
    back = decode_json(encode_json(recs, base64_encoding=False), base64_encoding=False)
    row = back.orderBy("seq_num").first()
    assert bytes(row.body) == b"utf-8 text ok"
    assert [(bytes(h.name), bytes(h.value)) for h in row.headers] == [(b"h", b"v")]


def test_json_raw_rejects_non_utf8(store):
    """Raw mode errors on non-UTF-8 payloads like the reference
    (api/src/v1/stream/json.rs) — never a silent U+FFFD-lossy
    roundtrip."""
    store.append(BASIN, "s1", [Record(body=b"\x00\xff\xfe")])
    recs = store.records_df()
    with pytest.raises(Exception, match="UTF-8"):
        encode_json(recs, base64_encoding=False).collect()
    # base64 mode carries the same bytes losslessly
    back = decode_json(encode_json(recs, base64_encoding=True), base64_encoding=True)
    assert bytes(back.orderBy("seq_num").first().body) == b"\x00\xff\xfe"


# --- long-poll wait (A7) --------------------------------------------------------


def test_read_wait_returns_immediately_when_data_exists(store):
    store.append(BASIN, "s1", [Record(body=b"x")])
    t0 = time.monotonic()
    rows = store.read_wait(BASIN, "s1", ReadStart(seq_num=0), wait_s=30).collect()
    assert len(rows) == 1
    # proves the 30 s wait was not burned while leaving headroom for
    # first-Spark-job cold start on a loaded runner (this bound tripped
    # the r15 driver verify at 5.45 s against a < 4 s budget)
    assert time.monotonic() - t0 < 25


def test_read_wait_times_out_empty(store):
    t0 = time.monotonic()
    rows = store.read_wait(BASIN, "s1", ReadStart(seq_num=0), wait_s=0.3).collect()
    assert rows == []
    # lower bound is the semantic assertion (the wait actually blocked);
    # the upper bound only guards against an unbounded hang, so it must
    # tolerate Spark cold-start + co-tenant load (r15: 5.45 s vs < 5)
    assert 0.25 <= time.monotonic() - t0 < 30


def test_read_wait_wakes_on_append(store):
    def later_append():
        time.sleep(0.4)
        store.append(BASIN, "s1", [Record(body=b"late")])

    th = threading.Thread(target=later_append)
    th.start()
    rows = store.read_wait(BASIN, "s1", ReadStart(seq_num=0), wait_s=10).collect()
    th.join()
    assert [bytes(r.body) for r in rows] == [b"late"]


def test_token_store_cas_two_writers_lose_nothing(tmp_path):
    """r15: like the catalog, token persistence is a versioned
    conditional PUT with reload-and-reapply — two stores over one
    meta location cannot clobber each other's issues/revokes."""
    a = TokenStore(meta_dir=str(tmp_path))
    b = TokenStore(meta_dir=str(tmp_path))
    a.issue("tok-from-a")
    b.issue("tok-from-b")  # stale snapshot: must CAS-retry, not clobber
    a.issue("tok-from-a2")
    fresh = TokenStore(meta_dir=str(tmp_path))
    ids = {t.id for t in fresh.list()[0]}
    assert ids == {"tok-from-a", "tok-from-b", "tok-from-a2"}


def test_token_store_cas_hammer_two_threads(tmp_path):
    """Two TokenStore objects hammer interleaved issues from two
    threads; every issue must survive (head-verified versioned saves —
    a stale writer must never land on a GC'd version number below the
    head, where readers would never see it)."""
    a = TokenStore(meta_dir=str(tmp_path))
    b = TokenStore(meta_dir=str(tmp_path))
    errs = []

    def writer(ts, tag):
        try:
            for i in range(15):
                ts.issue(f"tok-{tag}-{i}")
        except Exception as e:  # pragma: no cover
            errs.append((tag, repr(e)))

    ths = [
        threading.Thread(target=writer, args=(a, "a")),
        threading.Thread(target=writer, args=(b, "b")),
    ]
    for t in ths:
        t.start()
    for t in ths:
        t.join()
    assert not errs, errs
    fresh = TokenStore(meta_dir=str(tmp_path))
    ids = {t.id for t in fresh.list()[0]}
    want = {f"tok-a-{i}" for i in range(15)} | {f"tok-b-{i}" for i in range(15)}
    assert ids == want, want - ids
