"""LockstepBayesianOffline must be BIT-IDENTICAL to the sequential
BayesianOffline.localize — same contract and test strategy as
tests/test_lockstep.py (online) and tests/test_lockstep_cusum.py."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from pysatl_cpd_spark.detectors.bayesian_offline import (
    DEFAULT_HAZARD_RATE,
    BayesianOffline,
)
from pysatl_cpd_spark.detectors.detection import ThresholdDetector
from pysatl_cpd_spark.detectors.hazards import ConstantHazard
from pysatl_cpd_spark.detectors.likelihoods import GaussianConjugate
from pysatl_cpd_spark.detectors.lockstep_offline import LockstepBayesianOffline


def _sequential(batch, lss, rate=DEFAULT_HAZARD_RATE, thr=0.04):
    out = []
    for v in batch:
        det = BayesianOffline(
            learning_steps=lss,
            likelihood=GaussianConjugate(),
            hazard=ConstantHazard(rate),
            detector=ThresholdDetector(thr),
        )
        out.append(det.localize(v))
    return out


def _mk_series(rng: np.random.Generator, n: int, n_shifts: int) -> np.ndarray:
    parts = []
    level = 0.0
    remaining = n
    for s in range(n_shifts + 1):
        m = remaining if s == n_shifts else max(1, remaining // (n_shifts + 1 - s))
        parts.append(rng.normal(level, 1.0, size=m))
        remaining -= m
        level += rng.choice([-1.0, 1.0]) * rng.uniform(2.0, 6.0)
    return np.concatenate(parts)[:n]


class TestLockstepOfflineDifferential:
    @pytest.mark.parametrize("lss,rate,thr", [
        (20, DEFAULT_HAZARD_RATE, 0.04),
        (50, DEFAULT_HAZARD_RATE, 0.04),
        (20, 250.0, 0.1),
        (10, 50.0, 0.02),
    ])
    def test_batches_match_sequential(self, lss, rate, thr):
        rng = np.random.default_rng(4321)
        batch = [
            _mk_series(rng, n, s)
            for n, s in [(30, 0), (80, 1), (150, 2), (400, 4), (65, 1), (600, 6), (19, 0)]
        ]
        got = LockstepBayesianOffline(
            learning_steps=lss, rate=rate, threshold=thr
        ).process_many(batch)
        exp = _sequential(batch, lss, rate, thr)
        assert got == exp

    def test_nontrivial_detections_present(self):
        # the differential must not pass vacuously: this workload detects
        rng = np.random.default_rng(7)
        batch = [_mk_series(rng, 300, 3) for _ in range(6)]
        exp = _sequential(batch, 20)
        assert sum(len(c) for c in exp) >= 3
        got = LockstepBayesianOffline(learning_steps=20).process_many(batch)
        assert got == exp

    def test_empty_and_short(self):
        det = LockstepBayesianOffline(learning_steps=20)
        assert det.process_many([]) == []
        batch = [np.zeros(5), np.zeros(20), np.zeros(0)]
        assert det.process_many(batch) == _sequential(batch, 20)

    @pytest.mark.parametrize("bad", [
        np.ones(21),
        np.zeros(120),
        np.full(90, 5.0),
    ], ids=["ones", "zeros", "fives"])
    def test_degenerate_learn_window_raises_like_sequential(self, bad):
        # a zero-variance learn window with >= 1 recursion step makes the
        # SEQUENTIAL kernel raise (evidence assert on NaN); the lockstep twin
        # must mirror the failure, not silently produce rows
        with pytest.raises(AssertionError):
            _sequential([bad], 20)
        with pytest.raises(AssertionError):
            LockstepBayesianOffline(learning_steps=20).process_many([bad])

    def test_near_constant_and_extreme_scale_parity(self):
        # tiny but nonzero variance (legit learn windows) plus huge level
        # shifts — extreme predictive shapes without the degenerate
        # zero-variance crash
        rng = np.random.default_rng(13)
        batch = [
            rng.normal(0.0, 1e-8, size=120),
            np.concatenate(
                [rng.normal(0, 1e-6, 60), rng.normal(1e6, 1.0, 60)]
            ),
            rng.normal(5.0, 1e-12, size=90),
        ]
        kw = dict(learning_steps=20)
        assert LockstepBayesianOffline(**kw).process_many(batch) == _sequential(batch, 20)

    @settings(max_examples=25, deadline=None)
    @given(
        seed=st.integers(0, 2**32 - 1),
        sizes=st.lists(st.integers(5, 320), min_size=1, max_size=10),
        lss=st.sampled_from([10, 20, 35]),
        thr=st.sampled_from([0.02, 0.04, 0.1]),
    )
    def test_fuzz_parity(self, seed, sizes, lss, thr):
        rng = np.random.default_rng(seed)
        batch = [_mk_series(rng, n, int(rng.integers(0, 4))) for n in sizes]
        got = LockstepBayesianOffline(
            learning_steps=lss, threshold=thr
        ).process_many(batch)
        assert got == _sequential(batch, lss, thr=thr)

    def test_rewind_heavy_workload(self):
        # frequent large shifts force many fire->rewind->relearn cycles,
        # the phase bookkeeping the lockstep driver must replicate exactly
        rng = np.random.default_rng(99)
        wave = np.concatenate(
            [rng.normal(0 if (i % 2 == 0) else 8.0, 1.0, size=60) for i in range(8)]
        )
        batch = [wave, wave[::-1].copy(), wave + 3.0, rng.normal(size=480)]
        got = LockstepBayesianOffline(learning_steps=20).process_many(batch)
        exp = _sequential(batch, 20)
        assert got == exp and sum(len(c) for c in exp) >= 8


def _sequential_counts(batch, lss, rate=DEFAULT_HAZARD_RATE, thr=0.04):
    out = []
    for v in batch:
        det = BayesianOffline(
            learning_steps=lss,
            likelihood=GaussianConjugate(),
            hazard=ConstantHazard(rate),
            detector=ThresholdDetector(thr),
        )
        out.append(det.detect(v))
    return out


class TestLockstepOfflineDetectCounts:
    """mode="detect" must reproduce the sequential COUNTING trajectory
    (BayesianOffline.detect — no rewind): len of each emitted lane list ==
    the sequential count, on the same workloads as the localize suite."""

    @pytest.mark.parametrize("lss,rate,thr", [
        (20, DEFAULT_HAZARD_RATE, 0.04),
        (50, DEFAULT_HAZARD_RATE, 0.04),
        (20, 250.0, 0.1),
        (10, 50.0, 0.02),
    ])
    def test_counts_match_sequential(self, lss, rate, thr):
        rng = np.random.default_rng(4321)
        batch = [
            _mk_series(rng, n, s)
            for n, s in [(30, 0), (80, 1), (150, 2), (400, 4), (65, 1), (600, 6), (19, 0)]
        ]
        got = LockstepBayesianOffline(
            learning_steps=lss, rate=rate, threshold=thr, mode="detect"
        ).process_many(batch)
        assert [len(c) for c in got] == _sequential_counts(batch, lss, rate, thr)

    def test_counts_nontrivial_and_differ_from_localize(self):
        # non-vacuous: fires happen, AND the no-rewind trajectory visibly
        # diverges from localize (identical trajectories would make the mode
        # a no-op). Seeds found by probing _mk_series: detect != localize
        # count on each (rewind re-scans regions, changing the fire count).
        batch = []
        for seed in (18, 28, 30):
            rng = np.random.default_rng(seed)
            rng_shifts = int(rng.integers(2, 6))
            batch.append(_mk_series(rng, 300, rng_shifts))
        for lss in (10, 20):
            counts = _sequential_counts(batch, lss)
            loc_counts = [len(c) for c in _sequential(batch, lss)]
            assert sum(counts) >= 3
            assert counts != loc_counts  # trajectories genuinely diverge
            got = LockstepBayesianOffline(
                learning_steps=lss, mode="detect"
            ).process_many(batch)
            assert [len(c) for c in got] == counts

    def test_empty_short_and_mode_validation(self):
        det = LockstepBayesianOffline(learning_steps=20, mode="detect")
        assert det.process_many([]) == []
        batch = [np.zeros(5), np.zeros(20), np.zeros(0)]
        assert [len(c) for c in det.process_many(batch)] == _sequential_counts(batch, 20)
        with pytest.raises(ValueError):
            LockstepBayesianOffline(mode="count")

    @settings(max_examples=25, deadline=None)
    @given(
        seed=st.integers(0, 2**32 - 1),
        sizes=st.lists(st.integers(5, 320), min_size=1, max_size=10),
        lss=st.sampled_from([10, 20, 35]),
        thr=st.sampled_from([0.02, 0.04, 0.1]),
    )
    def test_fuzz_count_parity(self, seed, sizes, lss, thr):
        rng = np.random.default_rng(seed)
        batch = [_mk_series(rng, n, int(rng.integers(0, 4))) for n in sizes]
        got = LockstepBayesianOffline(
            learning_steps=lss, threshold=thr, mode="detect"
        ).process_many(batch)
        assert [len(c) for c in got] == _sequential_counts(batch, lss, thr=thr)


def test_offline_count_transcription_parity():
    """oracle/transcriptions.offline_count (the flat no-rewind scan that
    builds the cpd_bocpd_offline_counts VALUES oracle) must equal the engine
    sequential BayesianOffline.detect on workloads with nonzero counts."""
    from pysatl_cpd_spark.oracle.transcriptions import offline_count

    rng = np.random.default_rng(4321)
    batch = [
        _mk_series(rng, n, s)
        for n, s in [(30, 0), (80, 1), (150, 2), (400, 4), (600, 6), (19, 0)]
    ]
    want = _sequential_counts(batch, 20)
    assert sum(want) >= 3
    got = [offline_count(v, 20, DEFAULT_HAZARD_RATE, 0.04) for v in batch]
    assert got == want


def test_counts_mode_offline_operator(spark):
    """The one dispatch's count mode with the offline counting kernel ==
    per-series sequential BayesianOffline.detect run in-process, zero-count
    rows included."""
    from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated

    rng = np.random.default_rng(7)
    rows = []
    want = {}
    for s in range(6):
        v = _mk_series(rng, 90 + 40 * s, s % 4)
        sid = f"s{s}"
        want[sid] = _sequential_counts([v], 20)[0]
        rows += [(sid, int(t), float(x)) for t, x in enumerate(v)]
    assert sum(want.values()) >= 2 and min(want.values()) == 0
    df = spark.createDataFrame(
        rows, "series_id string, t long, value double"
    ).repartition(3, "series_id")
    got = {
        r.series_id: r.n_change_points
        for r in detect_lockstep_colocated(
            df,
            lambda: LockstepBayesianOffline(learning_steps=20, mode="detect"),
            output="counts",
        ).collect()
    }
    assert got == want


def test_detect_mode_degenerate_learn_window_raises_like_sequential():
    """Zero-variance learn windows crash the sequential detect (evidence
    assert on NaN); the counting lockstep must mirror the failure, not
    silently emit counts — same law as the localize suite."""
    bad = np.zeros(120)
    seq = BayesianOffline(
        learning_steps=20,
        likelihood=GaussianConjugate(),
        hazard=ConstantHazard(DEFAULT_HAZARD_RATE),
        detector=ThresholdDetector(0.04),
    )
    with pytest.raises(AssertionError):
        seq.detect(bad)
    with pytest.raises(AssertionError):
        LockstepBayesianOffline(learning_steps=20, mode="detect").process_many([bad])
