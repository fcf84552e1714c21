"""Property-based tests (hypothesis) mirroring the reference's proptest
layer (SURVEY.md §5.2): metering arithmetic, command-record roundtrips,
read-limit math, name validation, header fidelity, and the timestamping
fold invariants. Pure-Python model properties — no Spark session needed,
so they run in milliseconds like the reference's codec proptests."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from s2_spark.catalog import validate_basin_name, validate_stream_name
from s2_spark.model import (
    InvalidRecord,
    Record,
    S2Error,
    fence_record,
    trim_record,
)

headers_st = st.lists(
    st.tuples(
        st.binary(min_size=1, max_size=16), st.binary(min_size=0, max_size=32)
    ),
    max_size=8,
)


@given(headers=headers_st, body=st.binary(max_size=256))
def test_metered_size_formula(headers, body):
    """8 + 2·H + Σ(name+value) + body (common/src/record/mod.rs:204-212)."""
    r = Record(body=body, headers=headers)
    expected = 8 + 2 * len(headers) + sum(len(n) + len(v) for n, v in headers) + len(body)
    assert r.metered_size() == expected


@given(seq=st.integers(min_value=0, max_value=2**64 - 1))
def test_trim_payload_roundtrip(seq):
    """u64 BE payload roundtrip (command.rs:186-194 proptest)."""
    r = trim_record(seq)
    assert r.command() == "trim"
    assert int.from_bytes(r.body, "big") == seq
    r.validate()


@given(tok=st.text(max_size=12))
def test_fence_token_roundtrip(tok):
    r = fence_record(tok)
    assert r.command() == "fence"
    assert r.body.decode("utf-8") == tok
    if len(r.body) <= 36:
        r.validate()


@given(tok_len=st.integers(min_value=37, max_value=100))
def test_fence_token_over_36_bytes_rejected(tok_len):
    with pytest.raises(InvalidRecord):
        fence_record("x" * tok_len).validate()


@given(headers=headers_st, body=st.binary(max_size=64))
def test_envelope_never_misdetected_as_command(headers, body):
    """Envelopes have non-empty header names → command() is None; the
    discriminator is exactly 'one header with empty name'
    (record/mod.rs:74-103)."""
    r = Record(body=body, headers=headers)
    assert r.command() is None  # names are ≥1 byte by construction
    r.validate()


@given(name=st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789-", min_size=8, max_size=48))
def test_basin_name_validation_accepts_valid_shapes(name):
    if name[0] in "-" or name[-1] in "-":
        with pytest.raises(S2Error):
            validate_basin_name(name)
    else:
        validate_basin_name(name)


@given(name=st.text(min_size=0, max_size=600))
def test_stream_name_validation(name):
    nbytes = len(name.encode())
    if 1 <= nbytes <= 512 and name not in (".", ".."):
        validate_stream_name(name)
    else:
        with pytest.raises(S2Error):
            validate_stream_name(name)


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=100), min_size=1, max_size=50),
    budget=st.integers(min_value=0, max_value=2000),
)
def test_bytes_limit_prefix_math(sizes, budget):
    """The read bytes-limit keeps the longest prefix with cumulative
    metered size ≤ budget; empty when the first record exceeds it
    (read_extent.rs:18-137, tests read.rs:490-626). Model-checks the
    cumulative-sum-filter formulation used in store.read."""
    cum, keep = 0, 0
    for s in sizes:
        if cum + s > budget:
            break
        cum += s
        keep += 1
    # the window-filter formulation: rows where running total ≤ budget
    running, kept_by_filter = 0, 0
    for s in sizes:
        running += s
        if running <= budget:
            kept_by_filter += 1
    assert keep == kept_by_filter  # prefix property: both agree


@given(
    client_ts=st.lists(
        st.one_of(st.none(), st.integers(min_value=0, max_value=10_000)), min_size=1, max_size=30
    ),
    arrival=st.integers(min_value=0, max_value=10_000),
    start_last=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=200)
def test_timestamping_fold_monotone_and_capped(client_ts, arrival, start_last):
    """client-prefer + capped: the assigned sequence is non-decreasing,
    ≥ prior last_ts, and each ts ≤ max(arrival, prior running max)
    (streamer.rs:986-1008)."""
    last = start_last
    out = []
    for c in client_ts:
        ts = arrival if c is None else min(c, arrival)
        ts = max(ts, last)
        last = ts
        out.append(ts)
    assert all(a <= b for a, b in zip(out, out[1:]))
    assert all(t >= start_last for t in out)
    assert all(t <= max(arrival, start_last) for t in out)


# --- round 8: JPEG codec + sink digest properties ---------------------

_img_st = st.tuples(
    st.integers(min_value=1, max_value=3),  # height blocks-ish
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.booleans(),
    st.sampled_from([0, 2, 3]),  # restart interval
)


@settings(max_examples=30, deadline=None)
@given(p=_img_st)
def test_jpeg_decode_matches_entropy_free_oracle(p):
    """For ANY 8-bit image, decode(encode(img)) must equal the
    quant/dequant round-trip computed without the entropy layer — the
    bitstream/Huffman code adds no error of its own (the reference's
    codec-proptest discipline applied to the MJPEG path)."""
    import numpy as np

    from s2_spark.functions.jpeg import decode_jpeg, encode_jpeg, expected_decode

    hb, wb, seed, gray, rst = p
    rng = np.random.default_rng(seed)
    h = int(rng.integers(1, hb * 8 + 1))
    w = int(rng.integers(1, wb * 8 + 1))
    img = rng.integers(0, 256, (h, w) if gray else (h, w, 3)).astype("uint8")
    enc = encode_jpeg(img, gray=gray, restart_interval=rst)
    got = decode_jpeg(enc)
    want = expected_decode(img, gray=gray)
    assert got.shape == want.shape == (h, w, 3)
    assert (got == want).all()


@settings(max_examples=50, deadline=None)
@given(
    headers=st.one_of(st.none(), headers_st),
    body=st.one_of(st.none(), st.binary(max_size=128)),
)
def test_record_digest_is_injective_on_framing(headers, body):
    """The sink's canonical digest must distinguish framing: moving a
    byte between a header name/value and the body, or merging headers,
    must change the digest (length prefixes do the work). Checked by
    perturbation rather than global injectivity."""
    from s2_spark.streaming.sink import _record_digest

    hdrs = [{"name": n, "value": v} for n, v in headers] if headers else headers
    d = _record_digest(hdrs, body)
    # appending one byte to the body changes it
    assert _record_digest(hdrs, (body or b"") + b"\x00") != d
    # adding an empty header changes it
    hdrs2 = (list(hdrs) if hdrs else []) + [{"name": b"", "value": b""}]
    assert _record_digest(hdrs2, body) != d
    # stable across equivalent null/empty spellings
    assert _record_digest(hdrs, body or b"") == d
