"""Gorilla codec: lossless round-trip property (hypothesis) + edge cases."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pysatl_cpd_spark.operators.gorilla import decode_segment, encode_segment


@st.composite
def segments(draw):
    n = draw(st.integers(min_value=0, max_value=200))
    deltas = draw(
        st.lists(
            st.integers(min_value=1, max_value=10**9), min_size=n, max_size=n
        )
    )
    start = draw(st.integers(min_value=-(10**12), max_value=10**12))
    ts = np.cumsum([start] + deltas[:-1]).astype(np.int64) if n else np.empty(0, np.int64)
    values = draw(
        st.lists(
            st.floats(allow_nan=False, width=64), min_size=n, max_size=n
        )
    )
    return ts, np.asarray(values, dtype=np.float64)


@settings(max_examples=200, deadline=None)
@given(segments())
def test_roundtrip_exact(seg):
    ts, values = seg
    ts2, v2 = decode_segment(encode_segment(ts, values))
    assert np.array_equal(ts, ts2)
    assert np.array_equal(values.view(np.uint64), v2.view(np.uint64))


def test_nan_and_inf_roundtrip():
    ts = np.arange(5, dtype=np.int64)
    values = np.array([np.nan, np.inf, -np.inf, 0.0, -0.0])
    ts2, v2 = decode_segment(encode_segment(ts, values))
    assert np.array_equal(ts, ts2)
    assert np.array_equal(values.view(np.uint64), v2.view(np.uint64))


def test_constant_series_compresses(self=None):
    ts = (1_700_000_000_000_000 + np.arange(1000, dtype=np.int64) * 1_000_000)
    values = np.full(1000, 42.5)
    blob = encode_segment(ts, values)
    # regular cadence + constant value ⇒ ~2 bits/point after the header
    assert len(blob) < 300
    ts2, v2 = decode_segment(blob)
    assert np.array_equal(ts, ts2) and np.array_equal(values, v2)


def _encode_v1(ts, values):
    """Reference v1 (interleaved) writer — kept in the test to pin the legacy
    decode path now that the engine encodes v2: header [n|ts0|v0|delta0] then
    per record (dod token, value token) interleaved, '11' explicit windows."""
    from pysatl_cpd_spark.operators.gorilla import _BitWriter

    w = _BitWriter()
    n = len(ts)
    w.write(n, 32)
    if n >= 1:
        w.write(int(ts[0]), 64)
        w.write(int(np.float64(values[0]).view(np.uint64)), 64)
    if n >= 2:
        deltas = np.diff(ts)
        w.write(int(deltas[0]), 64)
    prev_bits = int(np.float64(values[0]).view(np.uint64)) if n else 0
    for i in range(1, n):
        if i >= 2:
            dod = int(deltas[i - 1] - deltas[i - 2])
            if dod == 0:
                w.write(0, 1)
            elif -64 <= dod < 64:
                w.write(0b10, 2)
                w.write(dod, 7)
            elif -256 <= dod < 256:
                w.write(0b110, 3)
                w.write(dod, 9)
            elif -2048 <= dod < 2048:
                w.write(0b1110, 4)
                w.write(dod, 12)
            else:
                w.write(0b1111, 4)
                w.write(dod, 64)
        cur = int(np.float64(values[i]).view(np.uint64))
        x = prev_bits ^ cur
        if x == 0:
            w.write(0, 1)
        else:
            lead = max(0, 63 - x.bit_length() + 1) if x else 64
            trail = (x & -x).bit_length() - 1
            mean = 64 - lead - trail
            w.write(0b11, 2)
            w.write(lead, 6)
            w.write(mean, 7)
            w.write(x >> trail, mean)
        prev_bits = cur
    return w.bytes()


def test_legacy_v1_blob_decodes():
    """Blobs written before the v2 layout (no 0x47 marker) must keep
    decoding through the sequential reader."""
    from pysatl_cpd_spark.operators.gorilla import decode_batch

    rng = np.random.default_rng(5)
    ts = np.cumsum(rng.integers(1, 500, 300)).astype(np.int64)
    values = np.round(rng.normal(size=300), 3)
    blob = _encode_v1(ts, values)
    assert blob[0] != 0x47
    t2, v2 = decode_segment(blob)
    assert np.array_equal(t2, ts) and np.array_equal(v2, values)
    # mixed batch: v1 and v2 blobs interleaved
    blob2 = encode_segment(ts + 7, values * 2)
    out = decode_batch([blob, blob2, blob])
    assert np.array_equal(out[0][0], ts) and np.array_equal(out[2][1], values)
    assert np.array_equal(out[1][0], ts + 7) and np.array_equal(out[1][1], values * 2)


def test_encode_colocated_matches_inprocess(spark):
    """encode_segments_colocated over explicitly repartitioned series must
    emit byte-identical rows (blob included) to encode_segment run
    in-process on the collected segments, and add no exchange on the series
    side beyond the caller's repartition."""
    from inprocess import local_segments, segment_rows
    from pyspark.sql import functions as F

    from pysatl_cpd_spark.operators.segments import encode_segments_colocated

    rng = np.random.default_rng(5)
    rows = []
    for s in range(7):
        ts = np.cumsum(rng.integers(1, 9, 300))
        vals = rng.normal(size=300)
        rows += [(f"s{s}", int(t), float(v)) for t, v in zip(ts, vals)]
    series = spark.createDataFrame(
        rows, "series_id string, t long, value double"
    ).repartition(4, "series_id")
    cps = series.filter(F.col("t") % 70 == 3).select(
        "series_id", F.col("t").alias("change_point")
    )

    col = encode_segments_colocated(series, cps)
    plan = col._jdf.queryExecution().executedPlan().toString()
    base = series._jdf.queryExecution().executedPlan().toString()
    # markers side aggregates (distinct on the tiny cps set) but the SERIES
    # side gains no exchange: count only grows by the marker-side distinct
    assert plan.count("Exchange hashpartitioning") <= base.count(
        "Exchange hashpartitioning"
    ) + 2, plan[:800]
    assert segment_rows(col) == local_segments(series, cps)


def test_encode_colocated_edge_shapes(spark):
    """Edge parity vs the in-process codec: no change points at all; a
    marker on a series' first row; back-to-back markers (single-point
    segments); more partitions than series (some partitions empty)."""
    from inprocess import local_segments, segment_rows
    from pyspark.sql import functions as F

    from pysatl_cpd_spark.operators.segments import encode_segments_colocated

    rows = []
    for s, ts_list in (
        ("a", [1, 2, 3, 4, 5, 6]),
        ("b", [10, 20, 30]),
        ("c", [7]),
    ):
        rows += [(s, t, float(t) * 0.5) for t in ts_list]
    series = spark.createDataFrame(
        rows, "series_id string, t long, value double"
    ).repartition(8, "series_id")  # > n_series: some partitions empty

    cases = [
        [],                                  # no markers
        [("a", 1)],                          # marker on first row of a
        [("a", 3), ("a", 4), ("b", 30)],     # adjacent markers + last row
    ]
    for markers in cases:
        cps = spark.createDataFrame(
            markers or [("zzz", -1)], "series_id string, change_point long"
        )
        if not markers:
            cps = cps.filter(F.col("change_point") > 0)  # truly empty
        got = segment_rows(encode_segments_colocated(series, cps))
        want = local_segments(series, cps)
        assert got == want, (markers, got ^ want)
