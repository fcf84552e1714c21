"""Run every registered declared query against the DuckDB oracle at
sf0.001 — the local mirror of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from s2_spark.registry import all_queries
from tests.oracle import compare, duck_connect

QUERIES = all_queries()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    q = QUERIES[name]
    df = q.spark(spark, sf_dir)
    if q.oracle is None:
        assert df.count() >= 0  # rows-only smoke for non-SQL-expressible ops
    else:
        compare(df, duck, q.oracle)


def test_x60_pre_epoch_hour_buckets_agree_with_oracle(spark, tmp_path):
    """Pre-1970 timestamps have NEGATIVE epochs, where floor division
    and truncating division land in different hour buckets (-1800 s is
    hour -1 under floor, hour 0 under truncation). Both the Spark side
    (F.floor(unix_timestamp/3600)) and the DuckDB oracle
    (floor(epoch(ts)/3600)) must use TRUE FLOOR — this synthetic
    fixture pins the agreement the 2024-only driver fixture can't
    exercise (ADVICE r11)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        # (event_id, ts, value) — hours -2, -1, -1, 0, 1 under floor;
        # truncation would collapse -1 and 0 into one bucket
        (1, dt.datetime(1969, 12, 31, 22, 15), 1.0),
        (2, dt.datetime(1969, 12, 31, 23, 30), 2.0),
        (3, dt.datetime(1969, 12, 31, 23, 59, 59), 3.0),
        (4, dt.datetime(1970, 1, 1, 0, 30), 4.0),
        (5, dt.datetime(1970, 1, 1, 1, 1), 5.0),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([7] * len(rows), pa.int64()),
            "event_type": pa.array(["click"] * len(rows)),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))

    q = QUERIES["x60_gapfill_locf"]
    df = q.spark(spark, str(tmp_path))
    got = {r["hour_epoch"] for r in df.collect()}
    assert got == {-2, -1, 0, 1}, f"floor bucketing broken: {sorted(got)}"
    con = duck_connect(str(tmp_path))
    try:
        compare(df, con, q.oracle)
    finally:
        con.close()


def test_x79_catches_reformatted_leakage_x68_misses(spark, tmp_path):
    """A test-split document that is a re-cased / re-punctuated /
    re-spaced copy of a train document is invisible to x68's verbatim
    8-gram digests but MUST be flagged by x79's normalized grams —
    the whole point of canonicalizing before shingling. Synthetic
    fixture because the driver corpus has no planted reformatting."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = (
        "the quick brown fox jumps over the lazy dog near the riverbank "
        "while seven wizards watch quietly"
    )
    reformatted = (
        "The  QUICK brown fox, jumps over the lazy dog; near the "
        "riverbank -- while seven WIZARDS watch quietly!!"
    )
    rows = [
        # doc_id 1 -> train, doc_id 3 -> test under the x56 md5 rule
        (1, base, "a"),
        (3, reformatted, "b"),
        # unrelated filler so both splits have >=8-token members
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "a"),
        (44, "one two three four five six seven eight nine ten eleven", "b"),
    ]
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array(["en"] * len(rows)),
            "source": pa.array([r[2] for r in rows]),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))

    verbatim = {
        r["split"]: r["n_contaminated"]
        for r in QUERIES["x68_decontamination_overlap"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    normalized = {
        r["split"]: r["n_contaminated"]
        for r in QUERIES["x79_normalized_contamination"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    assert verbatim.get("test", 0) == 0, verbatim
    assert normalized.get("test", 0) == 1, normalized


def test_f13_keeps_a_flag_whose_prices_are_all_null(spark, tmp_path):
    """``quantile_cont`` and ``F.percentile`` keep a group whose values
    are all NULL, with NULL results; the rank plan of f13 must not drop
    it by filtering NULL prices before grouping. Synthetic fixture
    because the driver's lineitem has no NULL price."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        ("A", 1.0), ("A", 2.0), ("A", 4.0), ("A", None),
        ("N", None), ("N", None),
        ("R", 7.5),
    ]
    table = pa.table(
        {
            "l_returnflag": pa.array([r[0] for r in rows]),
            "l_extendedprice": pa.array([r[1] for r in rows], pa.float64()),
        }
    )
    pq.write_table(table, str(tmp_path / "lineitem.parquet"))

    q = QUERIES["f13_percentiles"]
    df = q.spark(spark, str(tmp_path))
    got = {r["l_returnflag"]: r for r in df.collect()}
    assert sorted(got) == ["A", "N", "R"]
    assert all(got["N"][c] is None for c in ("p50", "p90", "mn", "mx"))
    con = duck_connect(str(tmp_path))
    try:
        compare(df, con, q.oracle)
    finally:
        con.close()
