"""Streaming colocated runner (operators/colocated.py): the contract guard,
parity of the one dispatch with the in-process kernels under adversarial
batch/flush sizes (series spanning many Arrow batches; many kernel flushes
per partition), and null values passing through as NaN."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


def _series_df(spark, n_series=6, n_pts=120, parts=4):
    rng = np.random.default_rng(11)
    rows = []
    for s in range(n_series):
        ts = np.cumsum(rng.integers(1, 5, n_pts))
        vals = np.concatenate(
            [rng.normal(0, 1, n_pts // 2), rng.normal(4, 1, n_pts - n_pts // 2)]
        )
        rows += [(f"s{s}", int(t), float(v)) for t, v in zip(ts, vals)]
    return spark.createDataFrame(
        rows, "series_id string, t long, value double"
    ).repartition(parts, "series_id")


def test_assert_colocated_guard(spark):
    from pysatl_cpd_spark.operators.colocated import assert_colocated

    good = _series_df(spark)
    assert_colocated(good)  # must not raise

    bad = good.repartition(4)  # round-robin: series span partitions
    with pytest.raises(ValueError, match="co-location contract violated"):
        assert_colocated(bad)


def test_detect_colocated_multi_batch_multi_flush_parity(spark, monkeypatch):
    """Force every series across many Arrow batches (tiny
    maxRecordsPerBatch) and many kernel flushes per partition (tiny
    FLUSH_POINTS): output must equal the sequential detector run in-process
    on the collected series exactly, on contract-satisfying input."""
    from inprocess import local_cps

    from pysatl_cpd_spark.detectors import CusumDetector, LockstepCusum
    from pysatl_cpd_spark.operators import cpd
    from pysatl_cpd_spark.operators.colocated import assert_colocated

    series = _series_df(spark)
    assert_colocated(series)
    monkeypatch.setattr(cpd, "FLUSH_POINTS", 50)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "17")
        got = {
            (r.series_id, r.change_point)
            for r in cpd.detect_lockstep_colocated(
                series, lambda: LockstepCusum(k=0.05, h=2.0)
            ).collect()
        }
    finally:
        spark.conf.set(key, old)
    want = local_cps(series, lambda v: CusumDetector(k=0.05, h=2.0).localize(v))
    assert got == want and len(got) >= 1


def test_encode_colocated_multi_batch_multi_flush_parity(spark, monkeypatch):
    from inprocess import local_segments, segment_rows

    from pysatl_cpd_spark.operators import segments
    from pysatl_cpd_spark.operators.colocated import assert_colocated

    series = _series_df(spark)
    assert_colocated(series)
    cps = series.filter(F.col("t") % 37 == 3).select(
        "series_id", F.col("t").alias("change_point")
    )

    monkeypatch.setattr(segments, "FLUSH_SEGMENTS", 3)
    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf_key)
    try:
        spark.conf.set(conf_key, "13")
        got = segment_rows(segments.encode_segments_colocated(series, cps))
    finally:
        spark.conf.set(conf_key, old)
    assert got == local_segments(series, cps)


def test_null_values_reach_the_detector_as_nan(spark):
    """A null ``value`` crosses the dispatch as NaN (only the ``_cp`` marker
    is zero-filled): a series with a null through the sequential adapter
    equals the detector run in-process on the same NaN array."""
    from pysatl_cpd_spark.detectors import CusumDetector
    from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated, per_series

    rng = np.random.default_rng(5)
    vals = np.concatenate([rng.normal(0, 1, 80), rng.normal(6, 1, 80)])
    vals[100] = np.nan  # after the first change point, before the second
    df = spark.createDataFrame(
        [("s", t, None if np.isnan(v) else float(v)) for t, v in enumerate(vals)],
        "series_id string, t long, value double",
    ).repartition(2, "series_id")
    detect = lambda v: CusumDetector(k=0.5, h=5.0).localize(v)  # noqa: E731
    got = sorted(
        r.change_point
        for r in detect_lockstep_colocated(df, per_series(detect)).collect()
    )
    assert got == sorted(detect(vals))
    assert got != sorted(detect(np.nan_to_num(vals)))

    # a null element of a vector value reaches the kernel as NaN too
    from inprocess import local_cps

    vec = spark.createDataFrame(
        [("v", t, [None if t == 7 else float(t), 2.0 * t]) for t in range(20)],
        "series_id string, t long, vec array<double>",
    ).repartition(2, "series_id")
    nan_rows = lambda v: np.flatnonzero(np.isnan(v).any(axis=1)).tolist()  # noqa: E731
    got_vec = {
        (r.series_id, r.change_point)
        for r in detect_lockstep_colocated(vec, per_series(nan_rows)).collect()
    }
    assert got_vec == local_cps(vec, nan_rows, value="vec") == {("v", 7)}


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 2**32 - 1),
    n_series=st.integers(1, 6),
    int_keys=st.booleans(),
)
def test_iter_sorted_series_random_batch_splits(seed, n_series, int_keys):
    """Property: for ANY batch segmentation of a sorted (key, t) stream —
    including zero-row batches and series spanning many batches — the
    iterator yields each series exactly once, contiguous, in order, for
    both string and int64 keys."""
    import pyarrow as pa

    from pysatl_cpd_spark.operators.colocated import iter_sorted_series

    rng = np.random.default_rng(seed)
    keys = []
    ts = []
    vals = []
    want = {}
    for s in range(n_series):
        n = int(rng.integers(1, 40))
        k = s * 7 if int_keys else f"s{s:03d}"
        keys += [k] * n
        ts += list(range(n))
        vals += [float(v) for v in rng.normal(size=n)]
        want[k] = (list(range(n)), vals[-n:])
    # random segmentation incl. empty batches
    cuts = sorted(
        int(c) for c in rng.integers(0, len(keys) + 1, size=int(rng.integers(0, 6)))
    )
    bounds = [0] + cuts + [len(keys)]
    key_type = pa.int64() if int_keys else pa.string()
    batches = [
        pa.record_batch(
            [
                pa.array(keys[lo:hi], key_type),
                pa.array(ts[lo:hi], pa.int64()),
                pa.array(vals[lo:hi], pa.float64()),
            ],
            names=["series_id", "t", "value"],
        )
        for lo, hi in zip(bounds[:-1], bounds[1:])
    ]
    got = {
        sid: (cols["t"].tolist(), cols["value"].tolist())
        for sid, cols in iter_sorted_series(batches, ("t", "value"))
    }
    assert got == want
