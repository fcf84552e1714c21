"""API-semantics tests for StreamStore, porting the reference's
data-plane scenarios (lite/tests/backend/data_plane/{append,read}.rs,
streamer.rs timestamping matrix)."""

from __future__ import annotations

import pytest

from s2_spark.catalog import BasinConfig, Catalog, StreamConfig
from s2_spark.model import (
    BatchTooLarge,
    ClientTimestampRequired,
    DeletionPending,
    FencingTokenMismatch,
    RangeNotSatisfiable,
    Record,
    RecordTooLarge,
    SeqNumMismatch,
    StreamNotFound,
    fence_record,
    trim_record,
)
from s2_spark.store import ReadLimit, ReadStart, StreamStore

BASIN = "test-basin"
STREAM = "s1"


class FakeClock:
    def __init__(self, ms: int = 1_000_000):
        self.ms = ms

    def __call__(self) -> int:
        return self.ms


@pytest.fixture()
def store(spark, tmp_path):
    clock = FakeClock()
    cat = Catalog(spark, clock=clock)
    cat.create_basin(BASIN)
    cat.create_stream(BASIN, STREAM)
    s = StreamStore(spark, str(tmp_path / "records"), catalog=cat, clock=clock)
    s.clock = clock
    return s


def recs(n, ts=None, start=0):
    return [Record(body=f"rec-{start + i}".encode(), timestamp=ts) for i in range(n)]


# --- append sequencing (append.rs basics) -------------------------------


def test_append_assigns_contiguous_seq_and_ack(store):
    ack = store.append(BASIN, STREAM, recs(10))
    assert (ack.start_seq, ack.end_seq, ack.tail_seq) == (0, 10, 10)
    ack2 = store.append(BASIN, STREAM, recs(5, start=10))
    assert (ack2.start_seq, ack2.end_seq, ack2.tail_seq) == (10, 15, 15)
    rows = store.read(BASIN, STREAM).collect()
    assert [r.seq_num for r in rows] == list(range(15))
    assert rows[0].body == b"rec-0" and rows[14].body == b"rec-14"


def test_check_tail(store):
    assert store.check_tail(BASIN, STREAM) == (0, 0)
    store.append(BASIN, STREAM, recs(3, ts=500_000))
    tail, last_ts = store.check_tail(BASIN, STREAM)
    assert tail == 3 and last_ts == 500_000


def test_match_seq_num(store):
    store.append(BASIN, STREAM, recs(5))
    ack = store.append(BASIN, STREAM, recs(1), match_seq_num=5)
    assert ack.start_seq == 5
    with pytest.raises(SeqNumMismatch) as ei:
        store.append(BASIN, STREAM, recs(1), match_seq_num=3)
    assert ei.value.expected == 6


# --- fencing (append.rs:91-265) -----------------------------------------


def test_fencing_token_lifecycle(store):
    # default token is "": any other supplied token mismatches
    with pytest.raises(FencingTokenMismatch):
        store.append(BASIN, STREAM, recs(1), fencing_token="tok")
    store.append(BASIN, STREAM, recs(1), fencing_token="")
    store.fence(BASIN, STREAM, "tok-1")
    with pytest.raises(FencingTokenMismatch) as ei:
        store.append(BASIN, STREAM, recs(1), fencing_token="")
    assert ei.value.expected == "tok-1"
    ack = store.append(BASIN, STREAM, recs(1), fencing_token="tok-1")
    assert ack.start_seq == 2
    # appends without a token are not fenced out
    store.append(BASIN, STREAM, recs(1))


def test_fence_token_validation(store):
    with pytest.raises(Exception):
        store.fence(BASIN, STREAM, "x" * 37)  # > 36 bytes


# --- trim (streamer.rs:377-389, bgtasks/stream_trim.rs) ------------------


def test_trim_hides_records_and_is_monotone(store):
    store.append(BASIN, STREAM, recs(20))
    store.trim(BASIN, STREAM, 10)  # trim command gets seq 20
    rows = store.read(BASIN, STREAM).collect()
    assert rows[0].seq_num == 10
    # regression ignored
    store.trim(BASIN, STREAM, 5)
    assert store.read(BASIN, STREAM).collect()[0].seq_num == 10


def test_trim_clamped_to_own_position(store):
    store.append(BASIN, STREAM, recs(5))
    store.trim(BASIN, STREAM, 1_000_000)  # command at seq 5 → clamp to 6
    rows = store.read(BASIN, STREAM).collect()
    # clamp is seq+1 (streamer.rs:369-380): the trim may trim its own
    # record, so nothing is visible
    assert [r.seq_num for r in rows] == []
    # but the log's tail still advanced past the command
    assert store.check_tail(BASIN, STREAM)[0] == 6


def test_physical_trim_compaction(store):
    store.append(BASIN, STREAM, recs(10))
    store.trim(BASIN, STREAM, 5)
    store.apply_trim_and_retention()
    raw = store.records_df().collect()
    assert min(r.seq_num for r in raw) == 5
    # logical view unchanged
    assert [r.seq_num for r in store.read(BASIN, STREAM).collect()][0] == 5


# --- read semantics (read.rs:159-800) -------------------------------------


def test_read_count_limit(store):
    store.append(BASIN, STREAM, recs(50))
    rows = store.read(BASIN, STREAM, ReadStart(seq_num=10), ReadLimit(count=5)).collect()
    assert [r.seq_num for r in rows] == [10, 11, 12, 13, 14]


def test_read_huge_count_limit_plans_no_topk_queue(store):
    """An ordered ``limit(k)`` planned as TakeOrderedAndProject
    allocates 2k queue slots per task up front, so a count of 10**9
    must plan a sort and a collect limit instead. Counts up to the
    unary read cap keep the top-k plan."""
    store.append(BASIN, STREAM, recs(2))

    def plan(count):
        df = store.read(BASIN, STREAM, limit=ReadLimit(count=count))
        return df, df._jdf.queryExecution().executedPlan().toString()

    assert "TakeOrderedAndProject" in plan(1000)[1]
    df, huge = plan(10**9)
    assert "TakeOrderedAndProject" not in huge
    assert [r.seq_num for r in df.collect()] == [0, 1]


def test_read_bytes_limit_exact_and_overflow(store):
    store.append(BASIN, STREAM, recs(10))  # each body "rec-N" = 5 bytes → metered 13
    per = 8 + len(b"rec-0")
    rows = store.read(BASIN, STREAM, limit=ReadLimit(bytes=3 * per)).collect()
    assert len(rows) == 3  # exact boundary includes the 3rd record
    rows = store.read(BASIN, STREAM, limit=ReadLimit(bytes=3 * per - 1)).collect()
    assert len(rows) == 2
    # first record already exceeds → empty (read.rs:530)
    rows = store.read(BASIN, STREAM, limit=ReadLimit(bytes=per - 1)).collect()
    assert rows == []


def test_read_count_and_bytes_combined(store):
    store.append(BASIN, STREAM, recs(10))
    per = 8 + 5
    rows = store.read(
        BASIN, STREAM, limit=ReadLimit(count=2, bytes=5 * per)
    ).collect()
    assert len(rows) == 2


def test_read_until_exclusive(store):
    for i in range(5):
        store.append(BASIN, STREAM, [Record(body=b"x", timestamp=1000 + i)])
    rows = store.read(BASIN, STREAM, limit=ReadLimit(until=1003)).collect()
    assert [r.timestamp for r in rows] == [1000, 1001, 1002]


def test_read_from_timestamp_includes_duplicates(store):
    # several records share one timestamp (read.rs:359)
    store.append(BASIN, STREAM, [Record(body=b"a", timestamp=1000)])
    store.append(BASIN, STREAM, [Record(body=b"b", timestamp=2000)])
    store.append(BASIN, STREAM, [Record(body=b"c", timestamp=2000)])
    store.append(BASIN, STREAM, [Record(body=b"d", timestamp=3000)])
    rows = store.read(BASIN, STREAM, ReadStart(timestamp=2000)).collect()
    assert [r.body for r in rows] == [b"b", b"c", b"d"]


def test_read_tail_offset(store):
    store.append(BASIN, STREAM, recs(30))
    rows = store.read(BASIN, STREAM, ReadStart(tail_offset=5)).collect()
    assert [r.seq_num for r in rows] == [25, 26, 27, 28, 29]
    # offset beyond start saturates to 0
    rows = store.read(BASIN, STREAM, ReadStart(tail_offset=1000)).collect()
    assert len(rows) == 30


def test_read_clamp_vs_range_error(store):
    store.append(BASIN, STREAM, recs(5))
    with pytest.raises(RangeNotSatisfiable) as ei:
        store.read(BASIN, STREAM, ReadStart(seq_num=100))
    assert ei.value.tail == 5
    rows = store.read(BASIN, STREAM, ReadStart(seq_num=100, clamp=True)).collect()
    assert rows == []  # clamped to tail → empty


# --- timestamping matrix (streamer.rs:1121-1149, config.rs:88-100) --------


def test_client_prefer_caps_future_ts(store):
    store.clock.ms = 5000
    ack = store.append(BASIN, STREAM, [Record(body=b"x", timestamp=999_999)])
    assert ack.start_ts == 5000  # capped at arrival


def test_uncapped_allows_future_ts(store):
    store.catalog.reconfigure_stream(
        BASIN, STREAM, StreamConfig(timestamping_uncapped=True)
    )
    store.clock.ms = 5000
    ack = store.append(BASIN, STREAM, [Record(body=b"x", timestamp=999_999)])
    assert ack.start_ts == 999_999


def test_client_require_rejects_missing_ts(store):
    store.catalog.reconfigure_stream(
        BASIN, STREAM, StreamConfig(timestamping_mode="client-require")
    )
    with pytest.raises(ClientTimestampRequired):
        store.append(BASIN, STREAM, [Record(body=b"x")])


def test_arrival_mode_ignores_client_ts(store):
    store.catalog.reconfigure_stream(
        BASIN, STREAM, StreamConfig(timestamping_mode="arrival")
    )
    store.clock.ms = 7777
    ack = store.append(BASIN, STREAM, [Record(body=b"x", timestamp=123)])
    assert ack.start_ts == 7777


def test_monotone_adjustment_across_appends(store):
    store.append(BASIN, STREAM, [Record(body=b"a", timestamp=900_000)])
    ack = store.append(BASIN, STREAM, [Record(body=b"b", timestamp=100)])
    assert ack.start_ts == 900_000  # raised to running max
    rows = store.read(BASIN, STREAM).collect()
    assert rows[0].timestamp <= rows[1].timestamp


def test_default_is_client_prefer_missing_ts_gets_arrival(store):
    store.clock.ms = 4242
    ack = store.append(BASIN, STREAM, [Record(body=b"x")])
    assert ack.start_ts == 4242


# --- caps (common/src/stream.rs:213-268) -----------------------------------


def test_batch_record_count_cap(store):
    with pytest.raises(BatchTooLarge):
        store.append(BASIN, STREAM, recs(1001))


def test_record_size_cap(store):
    big = Record(body=b"x" * (1024 * 1024))  # metered = 8 + 1MiB > 1MiB
    with pytest.raises(RecordTooLarge):
        store.append(BASIN, STREAM, [big])
    ok = Record(body=b"x" * (1024 * 1024 - 8))  # exactly 1 MiB metered
    ack = store.append(BASIN, STREAM, [ok])
    assert ack.end_seq == 1


def test_batch_metered_cap(store):
    half = Record(body=b"x" * (512 * 1024))
    with pytest.raises(BatchTooLarge):
        store.append(BASIN, STREAM, [half, half, half])


# --- headers fidelity (§1.2: order & duplicates preserved) ------------------


def test_headers_order_and_duplicates_preserved(store):
    hs = [(b"k", b"v1"), (b"k", b"v2"), (b"a", b"b")]
    store.append(BASIN, STREAM, [Record(body=b"x", headers=hs)])
    row = store.read(BASIN, STREAM).collect()[0]
    got = [(bytes(h.name), bytes(h.value)) for h in row.headers]
    assert got == hs


# --- commands are visible in reads -----------------------------------------


def test_command_records_ride_the_log(store):
    store.append(BASIN, STREAM, recs(2))
    store.fence(BASIN, STREAM, "tok")
    rows = store.read(BASIN, STREAM).collect()
    assert len(rows) == 3
    assert bytes(rows[2].headers[0].value) == b"fence"


# --- recovery (core.rs:101-161) ---------------------------------------------


def test_recover_state_matches_live(store):
    store.append(BASIN, STREAM, recs(10, ts=123_456))
    store.fence(BASIN, STREAM, "tok-9")
    store.trim(BASIN, STREAM, 4)
    live = dict(store._state)
    store._state = {}
    store.recover_state()
    st = store._state[(BASIN, STREAM)]
    assert st.tail_seq == live[(BASIN, STREAM)].tail_seq == 12
    assert st.fencing_token == "tok-9"
    assert st.trim_point == 4
    assert st.last_ts == live[(BASIN, STREAM)].last_ts


# --- bulk (distributed) sequencing -------------------------------------------


def test_bulk_append_dense_per_stream(store, spark):
    store.catalog.create_stream(BASIN, "s2")
    store.append(BASIN, STREAM, recs(3))  # pre-existing tail = 3
    rows = [
        (BASIN, STREAM if i % 2 == 0 else "s2", None, [], f"b-{i}".encode(), i)
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows,
        "basin string, stream string, timestamp long, "
        "headers array<struct<name binary, value binary>>, body binary, "
        "ingest_order long",
    )
    store.bulk_append(df)
    got1 = [r.seq_num for r in store.read(BASIN, STREAM).collect()]
    got2 = [r.seq_num for r in store.read(BASIN, "s2").collect()]
    assert got1 == list(range(13))  # 3 + 10
    assert got2 == list(range(10))
    assert store.check_tail(BASIN, STREAM) == (13, store._st(BASIN, STREAM).last_ts)


_BULK_SCHEMA = (
    "basin string, stream string, timestamp long, "
    "headers array<struct<name binary, value binary>>, body binary, "
    "ingest_order long"
)


def test_bulk_append_many_chunks_offset_relation(store, spark):
    """>256 sequencing chunks: the offset relation takes the
    Arrow-local-relation branch of _lit_rows_df (the literal-plan
    branch handles small row sets). Sequencing must stay contiguous
    across all chunk boundaries."""
    rows = [(BASIN, STREAM, None, [], f"r-{i}".encode(), i) for i in range(600)]
    df = spark.createDataFrame(rows, _BULK_SCHEMA)
    store.bulk_append(df, chunk_width=2)  # 300 chunks of 2 records
    got = [r.seq_num for r in store.read(BASIN, STREAM).collect()]
    assert got == list(range(600))
    assert store.check_tail(BASIN, STREAM)[0] == 600


def test_bulk_append_chunked_matches_single_chunk(spark, tmp_path):
    """The correctness half of bench.py's skew_probe: the chunked
    sequencing plan (default) and the one-chunk-per-stream plan
    (chunk_width wider than the batch) assign IDENTICAL (seq_num, body)
    sequences on a 90%-hot-key batch — the chunked re-plan is purely a
    physical-parallelism change."""
    from pyspark.sql import functions as F

    from s2_spark.catalog import Catalog
    from s2_spark.store import StreamStore

    def run(width):
        cat = Catalog(spark)
        cat.create_basin("skew-eq-basin")
        for s in range(4):
            cat.create_stream("skew-eq-basin", f"s{s}")
        store = StreamStore(
            spark, str(tmp_path / f"records_{width or 'chunked'}"), catalog=cat
        )
        stream = F.when(F.col("id") % 10 != 0, F.lit("s0")).otherwise(
            F.concat(F.lit("s"), (F.col("id") % 3 + 1).cast("string"))
        )
        src = spark.range(500).select(
            F.lit("skew-eq-basin").alias("basin"),
            stream.alias("stream"),
            F.lit(None).cast("long").alias("timestamp"),
            F.array().cast("array<struct<name binary, value binary>>").alias("headers"),
            F.encode(F.col("id").cast("string"), "utf-8").alias("body"),
            F.col("id").alias("ingest_order"),
        )
        # chunk width 64 << hot-stream count (450): many chunks per
        # stream, exercising the offset fold across chunk boundaries
        store.bulk_append(src, chunk_width=width)
        return {
            s: [
                (r["seq_num"], bytes(r["body"]))
                for r in store.read("skew-eq-basin", f"s{s}").collect()
            ]
            for s in range(4)
        }

    chunked = run(64)
    single = run(1 << 62)
    assert chunked == single
    assert [seq for seq, _ in chunked[0]] == list(range(450))


def test_bulk_append_honors_timestamping_config(store, spark):
    """bulk_append applies the same per-stream timestamping matrix as
    the unary path (streamer.rs:1121-1149): arrival override, uncapped
    client-prefer, capped default."""
    store.catalog.create_stream(
        BASIN, "arr", StreamConfig(timestamping_mode="arrival")
    )
    store.catalog.create_stream(
        BASIN, "unc", StreamConfig(timestamping_uncapped=True)
    )
    store.clock.ms = 5000
    rows = [
        (BASIN, "arr", 123, [], b"a", 0),
        (BASIN, "unc", 999_999, [], b"b", 0),
        (BASIN, STREAM, 999_999, [], b"c", 0),  # default client-prefer
    ]
    store.bulk_append(spark.createDataFrame(rows, _BULK_SCHEMA))
    ts_of = lambda s: store.read(BASIN, s).collect()[0].timestamp  # noqa: E731
    assert ts_of("arr") == 5000  # arrival overrides client ts
    assert ts_of("unc") == 999_999  # uncapped keeps the future ts
    assert ts_of(STREAM) == 5000  # capped at arrival
    assert store._st(BASIN, "unc").last_ts == 999_999
    # a later bulk takes the NEW arrival: arrival is data of each call,
    # never a value kept from the first call's plan or broadcast
    store.clock.ms = 9000
    rows = [
        (BASIN, "arr", 456, [], b"d", 0),
        (BASIN, "unc", 1_000_500, [], b"e", 0),
        (BASIN, STREAM, 999_999, [], b"f", 0),
        (BASIN, STREAM, None, [], b"g", 1),
    ]
    store.bulk_append(spark.createDataFrame(rows, _BULK_SCHEMA))
    ts_all = lambda s: [r.timestamp for r in store.read(BASIN, s).collect()]  # noqa: E731
    assert ts_all("arr") == [5000, 9000]
    assert ts_all("unc") == [999_999, 1_000_500]
    assert ts_all(STREAM) == [5000, 9000, 9000]


def test_bulk_append_client_require_rejects_missing_ts(store, spark):
    store.catalog.create_stream(
        BASIN, "req", StreamConfig(timestamping_mode="client-require")
    )
    rows = [(BASIN, "req", None, [], b"x", 0)]
    with pytest.raises(Exception, match="client timestamp required"):
        store.bulk_append(spark.createDataFrame(rows, _BULK_SCHEMA))


def test_bulk_append_validates_records(store, spark):
    # envelope record with an empty header name is invalid
    # (record/mod.rs:90-103) — rejected in the distributed pass too
    bad = [(BASIN, STREAM, None, [(b"", b"not-a-command")], b"x", 0)]
    with pytest.raises(Exception, match="invalid record"):
        store.bulk_append(spark.createDataFrame(bad, _BULK_SCHEMA))
    # a fence with an oversized token is invalid
    bad2 = [(BASIN, STREAM, None, [(b"", b"fence")], b"t" * 37, 0)]
    with pytest.raises(Exception, match="invalid record"):
        store.bulk_append(spark.createDataFrame(bad2, _BULK_SCHEMA))
    # tail unchanged by the failed writes
    assert store.check_tail(BASIN, STREAM)[0] == 0


# --- retention (A17) -----------------------------------------------------------


def test_retention_read_filter(store):
    store.catalog.reconfigure_stream(
        BASIN, STREAM, StreamConfig(retention_age_secs=60)
    )
    store.clock.ms = 1_000_000
    store.append(BASIN, STREAM, [Record(body=b"old", timestamp=900_000)])
    store.append(BASIN, STREAM, [Record(body=b"new", timestamp=990_000)])
    rows = store.read(BASIN, STREAM, apply_retention=True).collect()
    assert [bytes(r.body) for r in rows] == [b"new"]


# --- catalog / listing (A20-A23) ------------------------------------------------


def test_auto_create_flags(store):
    with pytest.raises(StreamNotFound):
        store.append(BASIN, "nope", recs(1))
    store.catalog.reconfigure_basin(
        BASIN, BasinConfig(create_stream_on_append=True)
    )
    ack = store.append(BASIN, "auto-1", recs(1))
    assert ack.end_seq == 1
    assert store.catalog.get_stream(BASIN, "auto-1")


def test_read_auto_create_flag(store):
    """auto_create.rs:150-205: read auto-creates (empty stream, tail 0)
    under create_stream_on_read, and raises NotFound without it — the
    append flag alone does not authorize read-side creation."""
    store.catalog.reconfigure_basin(BASIN, BasinConfig(create_stream_on_append=True))
    with pytest.raises(StreamNotFound):
        store.read(BASIN, "ghost-r").collect()
    store.catalog.reconfigure_basin(BASIN, BasinConfig(create_stream_on_read=True))
    assert store.read(BASIN, "ghost-r").count() == 0
    assert store.catalog.get_stream(BASIN, "ghost-r")
    assert store.check_tail(BASIN, "ghost-r") == (0, 0)


def test_auto_created_stream_snapshots_basin_cipher(spark, tmp_path):
    """auto_create.rs:80-126,225-248: a stream created implicitly by
    append/check_tail snapshots the basin's CSEK cipher exactly like an
    explicit create."""
    cat = Catalog(spark)
    cat.create_basin(
        "cipher-basin",
        BasinConfig(create_stream_on_append=True, stream_cipher="aes-256-gcm"),
    )
    store = StreamStore(spark, str(tmp_path / "cb_records"), catalog=cat)
    store.append("cipher-basin", "auto-enc", recs(1))
    assert cat.get_stream("cipher-basin", "auto-enc").cipher == "aes-256-gcm"


def test_nonexistent_lookups_raise(store):
    """control_plane/{basin,stream}.rs NotFound paths: config get and
    delete on names that were never created raise the typed errors (not
    silent no-ops), and empty listings return empty, not errors."""
    from s2_spark.model import BasinNotFound

    with pytest.raises(BasinNotFound):
        store.catalog.get_basin("never-created-basin")
    with pytest.raises(BasinNotFound):
        store.catalog.delete_basin("never-created-basin")
    with pytest.raises(StreamNotFound):
        store.catalog.get_stream(BASIN, "never-created")
    with pytest.raises(StreamNotFound):
        store.catalog.delete_stream(BASIN, "never-created")
    with pytest.raises(BasinNotFound):
        store.catalog.list_streams("never-created-basin")
    names, has_more = store.catalog.list_streams(BASIN, prefix="zz-no-match-")
    assert names == [] and not has_more


def test_list_streams_pagination(store):
    for i in range(25):
        store.catalog.create_stream(BASIN, f"pfx-{i:03d}")
    names, has_more = store.catalog.list_streams(BASIN, prefix="pfx-", limit=10)
    assert len(names) == 10 and has_more
    assert names == sorted(names)
    names2, has_more2 = store.catalog.list_streams(
        BASIN, prefix="pfx-", start_after=names[-1], limit=20
    )
    assert names2[0] > names[-1] and len(names2) == 15 and not has_more2


def test_attach_views_sql_surface(store, spark):
    store.append(BASIN, STREAM, recs(5))
    store.trim(BASIN, STREAM, 2)
    store.attach_views()
    # visible view hides trimmed rows AND command records
    rows = spark.sql(
        "SELECT seq_num FROM s2_visible WHERE stream = 's1' ORDER BY seq_num"
    ).collect()
    assert [r.seq_num for r in rows] == [2, 3, 4]
    tail = spark.sql(
        "SELECT next_seq_num FROM s2_tails WHERE stream = 's1'"
    ).first()
    assert tail.next_seq_num == 6  # 5 records + trim command
    assert spark.sql("SELECT count(*) AS n FROM s2_records").first().n == 6
    assert spark.sql(
        "SELECT count(*) AS n FROM s2_streams WHERE basin = 'test-basin'"
    ).first().n >= 1


def test_config_three_layer_resolution(store):
    cfg = store.catalog.resolve_config(BASIN, STREAM)
    assert cfg.timestamping_mode == "client-prefer"  # system default
    assert cfg.retention_age_secs == 7 * 24 * 3600
    store.catalog.reconfigure_basin(
        BASIN,
        BasinConfig(default_stream_config=StreamConfig(timestamping_mode="arrival")),
    )
    assert store.catalog.resolve_config(BASIN, STREAM).timestamping_mode == "arrival"
    store.catalog.reconfigure_stream(
        BASIN, STREAM, StreamConfig(timestamping_mode="client-require")
    )
    assert (
        store.catalog.resolve_config(BASIN, STREAM).timestamping_mode
        == "client-require"
    )


# --- durable catalog + idempotent provisioning -------------------------------


def test_catalog_persists_across_sessions(spark, tmp_path):
    """Default catalog writes BasinMeta/StreamMeta to <store>/_meta
    (kv/mod.rs:55-95): a new session over the same directory sees the
    same basins, streams, and configs, and the metadata file never
    pollutes the data plane."""
    base = str(tmp_path / "store")
    s1 = StreamStore(spark, base)
    s1.catalog.create_basin(BASIN)
    s1.catalog.create_stream(
        BASIN, STREAM, StreamConfig(timestamping_mode="arrival")
    )
    s1.append(BASIN, STREAM, recs(3))
    s1.trim(BASIN, STREAM, 2)

    s2 = StreamStore(spark, base)  # fresh instance, fresh catalog
    s2.recover_state()
    assert s2.catalog.resolve_config(BASIN, STREAM).timestamping_mode == "arrival"
    assert s2._st(BASIN, STREAM).trim_point == 2
    assert [r.seq_num for r in s2.read(BASIN, STREAM).collect()] == [2, 3]
    assert {r.seq_num for r in s2.records_df().collect()} == {0, 1, 2, 3}
    # deletions survive too
    s2.catalog.delete_stream(BASIN, STREAM)
    s3 = StreamStore(spark, base)
    with pytest.raises(DeletionPending):  # pending, not absent (stream.rs:944)
        s3.catalog.get_stream(BASIN, STREAM)


def test_idempotent_create_via_request_token(spark):
    """streams.rs:115-175: a retried create with the same request token
    and config is a no-op; same token with different config, or no
    token, raises AlreadyExists."""
    from s2_spark.model import AlreadyExists

    cat = Catalog(spark)
    cat.create_basin(BASIN)
    cfg = StreamConfig(timestamping_mode="arrival")
    m1 = cat.create_stream(BASIN, STREAM, cfg, request_token="tok-1")
    m2 = cat.create_stream(BASIN, STREAM, cfg, request_token="tok-1")
    assert m2 is m1  # retry: no-op, same meta
    with pytest.raises(AlreadyExists):
        cat.create_stream(BASIN, STREAM, cfg, request_token="tok-2")
    with pytest.raises(AlreadyExists):
        cat.create_stream(BASIN, STREAM, StreamConfig(), request_token="tok-1")
    with pytest.raises(AlreadyExists):
        cat.create_stream(BASIN, STREAM, cfg)
    # basins get the same treatment
    b1 = cat.create_basin("other-basin", request_token="b-tok")
    assert cat.create_basin("other-basin", request_token="b-tok") is b1
    with pytest.raises(AlreadyExists):
        cat.create_basin("other-basin", request_token="b-tok2")


def test_attach_views_are_live(store, spark):
    """Views attached over a non-empty store re-resolve per query:
    appends and trims AFTER attach_views() are visible without
    re-attaching."""
    store.append(BASIN, STREAM, recs(3))
    store.attach_views()
    assert spark.sql("SELECT count(*) n FROM s2_records").first().n == 3
    store.append(BASIN, STREAM, recs(3, start=3))  # no re-attach
    assert spark.sql("SELECT count(*) n FROM s2_records").first().n == 6
    store.trim(BASIN, STREAM, 4)
    rows = spark.sql(
        "SELECT seq_num FROM s2_visible WHERE stream = 's1' ORDER BY seq_num"
    ).collect()
    assert [r.seq_num for r in rows] == [4, 5]
    assert spark.sql("SELECT next_seq_num FROM s2_tails").first().next_seq_num == 7


def test_deletion_pending_blocks_recreation(spark, store):
    """stream.rs:783-845: a deleted name cannot be recreated until the
    async deletion purges the metadata; the purge sweep completes it."""
    from s2_spark.model import DeletionPending
    from s2_spark.operators.maintenance import deletion_purge_sweep

    store.append(BASIN, STREAM, recs(3))
    store.catalog.delete_stream(BASIN, STREAM)
    with pytest.raises(DeletionPending):
        store.catalog.create_stream(BASIN, STREAM)
    with pytest.raises(DeletionPending):
        store.catalog.get_stream(BASIN, STREAM)  # data ops report pending
    purged = deletion_purge_sweep(store)
    assert f"{BASIN}/{STREAM}" in purged
    meta = store.catalog.create_stream(BASIN, STREAM)  # now allowed
    assert meta.deleted_at is None
    # basins get the same treatment
    store.catalog.delete_basin(BASIN)
    with pytest.raises(DeletionPending):
        store.catalog.create_basin(BASIN)


def test_provision_stream_ensure_semantics(spark, store):
    """stream.rs:290-463: ensure creates if absent, updates the stored
    config to request⊕basin-defaults, and no-ops when the effective
    config already matches; created_at is preserved across updates."""
    from s2_spark.catalog import BasinConfig, StreamConfig

    store.catalog.reconfigure_basin(
        BASIN,
        BasinConfig(default_stream_config=StreamConfig(retention_age_secs=3600)),
    )
    meta, outcome = store.catalog.provision_stream(
        BASIN, "ens", StreamConfig(timestamping_mode="arrival"), mode="ensure"
    )
    assert outcome == "created"
    assert meta.config.timestamping_mode == "arrival"
    assert meta.config.retention_age_secs == 3600  # basin default merged in
    created_at = meta.created_at
    # same request again → noop
    _, outcome2 = store.catalog.provision_stream(
        BASIN, "ens", StreamConfig(timestamping_mode="arrival"), mode="ensure"
    )
    assert outcome2 == "noop"
    # different config → updated, created_at preserved
    m3, outcome3 = store.catalog.provision_stream(
        BASIN, "ens", StreamConfig(timestamping_mode="client-require"), mode="ensure"
    )
    assert outcome3 == "updated"
    assert m3.config.timestamping_mode == "client-require"
    assert m3.created_at == created_at


def test_reconfigure_stream_merge_vs_replace(spark, store):
    """stream.rs:515-673: merge updates only the provided fields;
    replace clears unset fields back to basin/system defaults."""
    from s2_spark.catalog import StreamConfig

    store.catalog.reconfigure_stream(
        BASIN, STREAM,
        StreamConfig(timestamping_mode="arrival", retention_age_secs=60),
    )
    store.catalog.reconfigure_stream(
        BASIN, STREAM, StreamConfig(retention_age_secs=120), merge=True
    )
    cfg = store.catalog.resolve_config(BASIN, STREAM)
    assert cfg.timestamping_mode == "arrival"  # untouched by merge
    assert cfg.retention_age_secs == 120
    # replace: timestamping falls back to the system default
    store.catalog.reconfigure_stream(
        BASIN, STREAM, StreamConfig(retention_age_secs=180)
    )
    cfg = store.catalog.resolve_config(BASIN, STREAM)
    assert cfg.timestamping_mode == "client-prefer"
    assert cfg.retention_age_secs == 180


# --- lazy recovery + dormancy (core.rs:101-161, streamer.rs:55) --------------


def test_fresh_store_over_existing_data_continues_sequencing(spark, tmp_path):
    """A restarted store over existing data must not silently restart a
    stream at seq 0: the first touch lazily recovers the tail from
    storage (no explicit recover_state call needed)."""
    base = str(tmp_path / "store")
    s1 = StreamStore(spark, base)
    s1.catalog.create_basin(BASIN)
    s1.catalog.create_stream(BASIN, STREAM)
    s1.append(BASIN, STREAM, recs(5))

    s2 = StreamStore(spark, base)  # fresh session, durable catalog reloads
    ack = s2.append(BASIN, STREAM, recs(3, start=5))
    assert (ack.start_seq, ack.end_seq) == (5, 8)
    rows = s2.read(BASIN, STREAM).collect()
    assert [r.seq_num for r in rows] == list(range(8))


def test_lazy_recovery_touches_only_used_streams(spark, tmp_path):
    """Driver-side hot state is bounded by streams actually touched, not
    all streams in storage (the reference's actor cache shape)."""
    from s2_spark.catalog import BasinConfig

    base = str(tmp_path / "store")
    s1 = StreamStore(spark, base)
    s1.catalog.create_basin(BASIN, BasinConfig(create_stream_on_append=True))
    n = 25
    rows = [(BASIN, f"lazy-{i}", None, [], f"b{i}".encode(), i) for i in range(n)]
    df = spark.createDataFrame(
        rows,
        "basin string, stream string, timestamp long, "
        "headers array<struct<name binary, value binary>>, body binary, "
        "ingest_order long",
    )
    s1.bulk_append(df)

    s2 = StreamStore(spark, base)
    assert s2._state == {}
    tail, _ = s2.check_tail(BASIN, "lazy-7")
    assert tail == 1
    assert set(s2._state) == {(BASIN, "lazy-7")}
    s2.read(BASIN, "lazy-3").collect()
    assert set(s2._state) == {(BASIN, "lazy-7"), (BASIN, "lazy-3")}


def test_lazy_recovery_restores_fence_and_trim(spark, tmp_path):
    base = str(tmp_path / "store")
    s1 = StreamStore(spark, base)
    s1.catalog.create_basin(BASIN)
    s1.catalog.create_stream(BASIN, STREAM)
    s1.append(BASIN, STREAM, recs(6))
    s1.fence(BASIN, STREAM, "tok")
    s1.trim(BASIN, STREAM, 3)

    s2 = StreamStore(spark, base)
    rows = s2.read(BASIN, STREAM).collect()
    assert rows[0].seq_num == 3  # trim point recovered lazily
    with pytest.raises(FencingTokenMismatch):
        s2.append(BASIN, STREAM, recs(1), fencing_token="wrong")
    ack = s2.append(BASIN, STREAM, recs(1), fencing_token="tok")
    assert ack.start_seq == 8


def test_dormant_stream_eviction_and_reprobe(store):
    """Streams untouched past the dormancy window are evicted from hot
    state (streamer.rs:55) and lazily re-derived on the next touch."""
    store.append(BASIN, STREAM, recs(4))
    assert (BASIN, STREAM) in store._state
    store.clock.ms += StreamStore.DORMANT_STREAM_MS + 1
    assert store.evict_dormant() == 1
    assert store._state == {}
    # next touch re-probes storage
    assert store.check_tail(BASIN, STREAM)[0] == 4
    assert (BASIN, STREAM) in store._state


def test_eviction_sweep_runs_on_touch(store):
    store.catalog.create_stream(BASIN, "other")
    store.append(BASIN, STREAM, recs(2))
    store.clock.ms += StreamStore.DORMANT_STREAM_MS + 1
    # touching another stream sweeps the dormant one automatically
    store.check_tail(BASIN, "other")
    assert (BASIN, STREAM) not in store._state
    assert store.check_tail(BASIN, STREAM)[0] == 2


# --- attach_views liveness --------------------------------------------------


def test_attach_views_empty_store_upgrades_on_first_append(store, spark):
    store.attach_views("av_")
    assert spark.sql("SELECT count(*) AS c FROM av_records").first().c == 0
    store.append(BASIN, STREAM, recs(3))
    assert spark.sql("SELECT count(*) AS c FROM av_records").first().c == 3
    # live thereafter: further appends show up without re-attaching
    store.append(BASIN, STREAM, recs(2, start=3))
    assert spark.sql("SELECT count(*) AS c FROM av_records").first().c == 5
    assert spark.sql("SELECT max(next_seq_num) AS t FROM av_tails").first().t == 5
    # a u64::MAX trim (the terminal trim of the empty-stream sweep)
    # clamps to its own seq + 1 and hides the whole stream
    store.trim(BASIN, STREAM, 2**64 - 1)
    assert spark.sql("SELECT count(*) AS c FROM av_visible").first().c == 0
    assert spark.sql("SELECT max(next_seq_num) AS t FROM av_tails").first().t == 6


# --- append-session scenarios (lite/tests/backend/data_plane/append.rs) -----


def _session_inputs(*batches):
    from s2_spark.store import AppendInput

    return [AppendInput(records=b) if isinstance(b, list) else b for b in batches]


def test_append_session_empty(store):
    """append.rs:471-500 test_append_session_empty: no inputs, no acks,
    tail stays 0."""
    acks = list(store.append_session(BASIN, STREAM, []))
    assert acks == []
    assert store.check_tail(BASIN, STREAM)[0] == 0


def test_append_session_multiple_records_per_batch(store):
    """append.rs:502-577 test_append_session_multiple_records_per_batch."""
    b1 = [Record(body=b"record 1"), Record(body=b"record 2")]
    b2 = [Record(body=b"record 3"), Record(body=b"record 4"), Record(body=b"record 5")]
    acks = list(store.append_session(BASIN, STREAM, _session_inputs(b1, b2)))
    assert [(a.start_seq, a.end_seq) for a in acks] == [(0, 2), (2, 5)]
    assert store.check_tail(BASIN, STREAM)[0] == 5
    bodies = [bytes(r.body) for r in store.read(BASIN, STREAM).collect()]
    assert bodies == [b"record 1", b"record 2", b"record 3", b"record 4", b"record 5"]


def test_append_session_seq_num_mismatch(store):
    """append.rs:626-650 test_append_session_seq_num_mismatch."""
    from s2_spark.store import AppendInput

    store.append(BASIN, STREAM, [Record(body=b"existing data")])
    gen = store.append_session(
        BASIN, STREAM,
        [AppendInput(records=[Record(body=b"batch 1")], match_seq_num=0)],
    )
    with pytest.raises(SeqNumMismatch):
        next(gen)


def test_append_session_stops_after_condition_failure(store):
    """append.rs:652-719: the failed input's batch and everything after
    it are never applied; the log keeps only the pre-failure records."""
    from s2_spark.store import AppendInput

    inputs = [
        AppendInput(records=[Record(body=b"first")], match_seq_num=0),
        AppendInput(records=[Record(body=b"bad")], match_seq_num=0),
        AppendInput(records=[Record(body=b"after-error")], match_seq_num=1),
    ]
    gen = store.append_session(BASIN, STREAM, inputs)
    ack = next(gen)
    assert (ack.start_seq, ack.end_seq) == (0, 1)
    with pytest.raises(SeqNumMismatch):
        next(gen)
    assert next(gen, None) is None  # session closed; third input unapplied
    assert store.check_tail(BASIN, STREAM)[0] == 1
    assert [bytes(r.body) for r in store.read(BASIN, STREAM).collect()] == [b"first"]


def test_append_session_with_fencing_token(store):
    """append.rs:720-763: a session carrying the stream's current token
    on every input keeps appending."""
    from s2_spark.store import AppendInput

    store.fence(BASIN, STREAM, "tok")
    inputs = [
        AppendInput(records=[Record(body=b"batch 1")], fencing_token="tok"),
        AppendInput(records=[Record(body=b"batch 2")], fencing_token="tok"),
    ]
    acks = list(store.append_session(BASIN, STREAM, inputs))
    assert [a.start_seq for a in acks] == [1, 2]


def test_append_session_large_batches(store):
    """append.rs:764-808 test_append_session_large_batches: 20 batches
    of one 100 KB record each, all acked, tail = batch count."""
    from s2_spark.store import AppendInput

    n = 20  # reference uses 50; 20 keeps the local run quick
    large = b"\x00" * 100_000
    inputs = (AppendInput(records=[Record(body=large)]) for _ in range(n))
    acks = list(store.append_session(BASIN, STREAM, inputs))
    assert len(acks) == n
    assert store.check_tail(BASIN, STREAM)[0] == n


def test_append_session_pipeline_preserves_ack_tail_and_read_order(store):
    """append.rs:810-872: per-input acks are dense and in order, ack
    tails are monotone and cover the acked range, and the read returns
    bodies in submission order."""
    from s2_spark.store import AppendInput

    bodies = [f"msg-{i:02}".encode() for i in range(32)]
    inputs = [AppendInput(records=[Record(body=b)]) for b in bodies]
    acks = list(store.append_session(BASIN, STREAM, inputs))
    assert len(acks) == 32
    for i, ack in enumerate(acks):
        assert (ack.start_seq, ack.end_seq) == (i, i + 1)
        assert ack.tail_seq >= ack.end_seq
        if i:
            assert ack.tail_seq >= acks[i - 1].tail_seq
    assert store.check_tail(BASIN, STREAM)[0] == 32
    got = [bytes(r.body) for r in store.read(BASIN, STREAM).collect()]
    assert got == bodies


def test_append_session_survives_streamer_dormancy_between_inputs(spark, tmp_path):
    """append.rs:415-470 (paused-clock scenario): dormancy eviction
    between two session inputs must not break sequencing — the second
    input lazily re-derives the tail from storage."""
    from s2_spark.store import AppendInput

    clock = FakeClock()
    cat = Catalog(spark, clock=clock)
    cat.create_basin(BASIN)
    cat.create_stream(BASIN, STREAM)
    s = StreamStore(spark, str(tmp_path / "records"), catalog=cat, clock=clock)

    def inputs():
        yield AppendInput(records=[Record(body=b"before-dormancy")])
        # idle past the dormancy window between inputs (streamer.rs:55)
        clock.ms += StreamStore.DORMANT_STREAM_MS + 1
        assert s.evict_dormant() == 1
        yield AppendInput(records=[Record(body=b"after-dormancy")])

    acks = list(s.append_session(BASIN, STREAM, inputs()))
    assert [(a.start_seq, a.end_seq) for a in acks] == [(0, 1), (1, 2)]
    assert s.check_tail(BASIN, STREAM)[0] == 2
    got = [bytes(r.body) for r in s.read(BASIN, STREAM).collect()]
    assert got == [b"before-dormancy", b"after-dormancy"]


# --- batch cap boundaries (common/src/stream.rs:251-268) --------------------


def test_batch_exactly_at_metered_boundary(store):
    """A batch metering exactly 1 MiB is accepted; one more byte is
    rejected (append.rs metered-batch boundary)."""
    from s2_spark.model import MAX_BATCH_METERED_BYTES

    half = MAX_BATCH_METERED_BYTES // 2
    exact = [
        Record(body=b"x" * (half - 8)),  # metered: half
        Record(body=b"x" * (half - 8)),  # metered: half → total exactly 1 MiB
    ]
    ack = store.append(BASIN, STREAM, exact)
    assert ack.end_seq == 2
    over = [
        Record(body=b"x" * (half - 8)),
        Record(body=b"x" * (half - 7)),  # total 1 MiB + 1
    ]
    with pytest.raises(BatchTooLarge):
        store.append(BASIN, STREAM, over)


def test_batch_exactly_at_record_count_boundary(store):
    """Exactly MAX_BATCH_RECORDS (1000) is accepted; 1001 is rejected
    (count cap in test_batch_record_count_cap)."""
    from s2_spark.model import MAX_BATCH_RECORDS

    ack = store.append(BASIN, STREAM, [Record(body=b"r") for _ in range(MAX_BATCH_RECORDS)])
    assert ack.end_seq == MAX_BATCH_RECORDS


def test_command_batch_mixed_with_conditions(store):
    """append.rs: command records (fence/trim) ride ordinary appends and
    respect match_seq_num / fencing_token conditions like data batches."""
    from s2_spark.model import fence_record, trim_record

    store.append(BASIN, STREAM, recs(4))
    # a conditioned command batch: fence applies only if the tail matches
    ack = store.append(BASIN, STREAM, [fence_record("tk-1")], match_seq_num=4)
    assert ack.start_seq == 4
    with pytest.raises(SeqNumMismatch):
        store.append(BASIN, STREAM, [trim_record(2)], match_seq_num=4)
    # once fenced, commands must carry the token too
    with pytest.raises(FencingTokenMismatch):
        store.append(BASIN, STREAM, [trim_record(2)], fencing_token="wrong")
    ack = store.append(
        BASIN, STREAM, [trim_record(2)], fencing_token="tk-1", match_seq_num=5
    )
    assert ack.start_seq == 5
    rows = store.read(BASIN, STREAM).collect()
    assert rows[0].seq_num == 2  # trim applied at its assigned position


# --- basin provisioning (control_plane/basin.rs:95-293) ---------------------


def test_provision_basin_ensure_updates_config(spark):
    """basin.rs:147-204: ensure replaces the stored config; a later
    create-only without a token is NOT idempotent."""
    from s2_spark.model import AlreadyExists

    cat = Catalog(spark)
    initial = BasinConfig()
    cat.provision_basin("prov-basin-upd", initial, mode="create")
    updated = BasinConfig(
        create_stream_on_append=True,
        create_stream_on_read=True,
        default_stream_config=StreamConfig(storage_class="standard"),
    )
    meta, outcome = cat.provision_basin("prov-basin-upd", updated, mode="ensure")
    assert outcome == "updated"
    stored = cat.get_basin("prov-basin-upd").config
    assert stored.create_stream_on_append and stored.create_stream_on_read
    assert stored.default_stream_config.storage_class == "standard"
    with pytest.raises(AlreadyExists):
        cat.provision_basin("prov-basin-upd", updated, mode="create")


def test_provision_basin_ensure_resets_unspecified_config(spark):
    """basin.rs:205-252: fields absent from the ensure request reset to
    defaults — ensure is replacement, not merge."""
    cat = Catalog(spark)
    cat.provision_basin(
        "prov-basin-reset",
        BasinConfig(
            create_stream_on_append=True,
            default_stream_config=StreamConfig(
                storage_class="standard", retention_age_secs=0
            ),
        ),
        mode="create",
    )
    meta, outcome = cat.provision_basin(
        "prov-basin-reset", BasinConfig(create_stream_on_read=True), mode="ensure"
    )
    assert outcome == "updated"
    stored = cat.get_basin("prov-basin-reset").config
    assert not stored.create_stream_on_append
    assert stored.create_stream_on_read
    assert stored.default_stream_config.storage_class is None
    assert stored.default_stream_config.retention_age_secs is None


def test_provision_basin_ensure_noops_with_explicit_zero_delete_on_empty(spark):
    """basin.rs:253-293: an explicit zero compares as set, so re-ensuring
    the identical config is a noop and the zero survives."""
    cat = Catalog(spark)
    cfg = BasinConfig(
        default_stream_config=StreamConfig(delete_on_empty_min_age_secs=0)
    )
    cat.provision_basin("prov-basin-zero", cfg, mode="create")
    meta, outcome = cat.provision_basin("prov-basin-zero", cfg, mode="ensure")
    assert outcome == "noop"
    assert (
        cat.get_basin("prov-basin-zero").config.default_stream_config
        .delete_on_empty_min_age_secs == 0
    )


def test_basin_ensure_preserves_idempotency_key(spark):
    """basin.rs:95-143: a create-only retry with the original token still
    no-ops after an ensure changed the config."""
    cat = Catalog(spark)
    cfg = BasinConfig(create_stream_on_append=True)
    cat.provision_basin("prov-basin-key", cfg, mode="create", request_token="tok-1")
    m2, outcome = cat.provision_basin(
        "prov-basin-key", cfg, mode="create", request_token="tok-1"
    )
    assert outcome == "noop"
    cat.provision_basin(
        "prov-basin-key",
        BasinConfig(create_stream_on_append=True, create_stream_on_read=True),
        mode="ensure",
    )
    m3, outcome = cat.provision_basin(
        "prov-basin-key", cfg, mode="create", request_token="tok-1"
    )
    assert outcome == "noop"  # original creation key preserved through ensure


def test_delete_stream_blocks_data_operations(store):
    """stream.rs:889-943: append/read/check_tail on a deleted stream
    fail; the deletion-pending name cannot be auto-recreated."""
    from s2_spark.model import DeletionPending

    store.append(BASIN, STREAM, recs(3))
    store.catalog.delete_stream(BASIN, STREAM)
    with pytest.raises(DeletionPending):
        store.append(BASIN, STREAM, recs(1))
    with pytest.raises(DeletionPending):
        store.read(BASIN, STREAM).collect()
    with pytest.raises(DeletionPending):
        store.check_tail(BASIN, STREAM)
    # even with auto-create enabled, a deletion-pending name is blocked
    store.catalog.reconfigure_basin(BASIN, BasinConfig(create_stream_on_append=True))
    with pytest.raises(DeletionPending):
        store.append(BASIN, STREAM, recs(1))


# --- per-stream cipher binding (control_plane/stream.rs:79-192) -------------


def test_create_stream_defaults_to_no_cipher(spark):
    cat = Catalog(spark)
    cat.create_basin(BASIN)
    meta = cat.create_stream(BASIN, "plain")
    assert meta.cipher is None


def test_create_stream_uses_basin_cipher(spark):
    """stream.rs:104-134: new streams snapshot the basin's CSEK cipher."""
    cat = Catalog(spark)
    cat.create_basin(BASIN, BasinConfig(stream_cipher="aes-256-gcm"))
    meta = cat.create_stream(BASIN, "enc")
    assert meta.cipher == "aes-256-gcm"


def test_existing_stream_keeps_cipher_after_basin_reconfigure(spark):
    """stream.rs:136-192: reconfiguring the basin's cipher changes only
    streams created afterwards; existing streams keep the cipher they
    were created with."""
    cat = Catalog(spark)
    cat.create_basin(BASIN, BasinConfig(stream_cipher="aes-256-gcm"))
    before = cat.create_stream(BASIN, "enc-before")
    cat.reconfigure_basin(BASIN, BasinConfig(stream_cipher=None))
    after = cat.create_stream(BASIN, "plain-after")
    assert cat.get_stream(BASIN, "enc-before").cipher == "aes-256-gcm"
    assert after.cipher is None


def test_stream_cipher_survives_catalog_restart(spark, tmp_path):
    meta_dir = str(tmp_path / "meta")
    cat = Catalog(spark, meta_dir=meta_dir)
    cat.create_basin(BASIN, BasinConfig(stream_cipher="aes-256-gcm"))
    cat.create_stream(BASIN, "enc")
    cat2 = Catalog(spark, meta_dir=meta_dir)
    assert cat2.get_stream(BASIN, "enc").cipher == "aes-256-gcm"


def test_check_tail_survives_streamer_dormancy_before_call(store):
    """read.rs:134-158: a check_tail issued after the stream went
    dormant (hot state evicted) still reports the appended tail."""
    ack = store.append(BASIN, STREAM, recs(1))
    store.clock.ms += StreamStore.DORMANT_STREAM_MS + 1_000
    store.evict_dormant()
    assert store.check_tail(BASIN, STREAM)[0] == ack.end_seq


def test_read_encrypted_roundtrip_through_store(spark, tmp_path):
    """read.rs:176-205 (AES-GCM in place of AEGIS — documented
    deviation): bodies encrypted before append, stored as ciphertext,
    decrypted on read; plaintext round-trips in order."""
    from s2_spark.operators import crypto

    clock = FakeClock()
    cat = Catalog(spark, clock=clock)
    cat.create_basin(BASIN, BasinConfig(stream_cipher="aes-256-gcm"))
    cat.create_stream(BASIN, STREAM)
    store = StreamStore(spark, str(tmp_path / "records"), catalog=cat, clock=clock)
    assert cat.get_stream(BASIN, STREAM).cipher == "aes-256-gcm"

    key = b"k" * 32
    src = spark.createDataFrame(
        [(BASIN, STREAM, None, [], b"secret-1", 0), (BASIN, STREAM, None, [], b"secret-2", 1)],
        "basin string, stream string, timestamp long, "
        "headers array<struct<name binary, value binary>>, body binary, "
        "ingest_order long",
    )
    store.bulk_append(crypto.encrypt_bodies(src, key))

    stored = [bytes(r.body) for r in store.read(BASIN, STREAM).collect()]
    assert stored and all(b not in (b"secret-1", b"secret-2") for b in stored)

    dec = crypto.decrypt_bodies(store.read(BASIN, STREAM), key)
    got = [bytes(r.body) for r in dec.orderBy("seq_num").collect()]
    assert got == [b"secret-1", b"secret-2"]


def test_list_basins_pagination_and_prefix(spark):
    """basin.rs:491-633: lexicographic ordering, start_after exclusive,
    limit with has_more, prefix filter composition."""
    cat = Catalog(spark)
    for i in range(5):
        cat.create_basin(f"page-basin-{i}")
    cat.create_basin("other-basin1")
    names, more = cat.list_basins(prefix="page-basin-", limit=3)
    assert names == ["page-basin-0", "page-basin-1", "page-basin-2"] and more
    names, more = cat.list_basins(prefix="page-basin-", start_after="page-basin-2")
    assert names == ["page-basin-3", "page-basin-4"] and not more
    # deleted basins disappear from listings
    cat.delete_basin("page-basin-1")
    names, _ = cat.list_basins(prefix="page-basin-")
    assert "page-basin-1" not in names and len(names) == 4
    all_names, _ = cat.list_basins()
    assert all_names == sorted(all_names)
