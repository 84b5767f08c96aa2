"""Online-solver scenario matrix (reference tests/test_online_solver.py law):
seeds 42+i, detect & localize modes, shift and null data, via the Spark path."""

import numpy as np
import pytest

from pysatl_cpd_spark.detectors import (
    ArgmaxLocalizer,
    BayesianOnlineDetector,
    ConstantHazard,
    GaussianConjugate,
    ThresholdDetector,
)
from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated, per_series

SEEDS = [42, 43, 44, 45, 46]


# lambda, not a def: cloudpickle must serialize by value (executors cannot
# import the tests module)
_factory = lambda: BayesianOnlineDetector(  # noqa: E731
    ConstantHazard(1.0 / (1.0 - 0.5 ** (1.0 / 500))),
    GaussianConjugate(),
    50,
    ThresholdDetector(0.04),
    ArgmaxLocalizer(),
)
_kernel = per_series(lambda v: _factory().process_series(v))


@pytest.fixture(scope="module")
def shift_df(spark):
    rows = []
    for seed in SEEDS:
        np.random.seed(seed)
        data = np.concatenate(
            [np.random.normal(0, 1, 250), np.random.normal(5, 2, 250)]
        )
        rows.extend((f"shift{seed}", t, float(v)) for t, v in enumerate(data))
    return spark.createDataFrame(
        rows, "series_id string, t long, value double"
    ).repartition(2, "series_id")


@pytest.fixture(scope="module")
def null_df(spark):
    rows = []
    for seed in SEEDS:
        np.random.seed(seed)
        data = np.random.normal(0, 1, 500)
        rows.extend((f"null{seed}", t, float(v)) for t, v in enumerate(data))
    return spark.createDataFrame(
        rows, "series_id string, t long, value double"
    ).repartition(2, "series_id")


def test_localize_mode_all_seeds(spark, shift_df):
    got = detect_lockstep_colocated(shift_df, _kernel).toPandas()
    by_series = got.groupby("series_id")["change_point"].apply(list).to_dict()
    for seed in SEEDS:
        cps = by_series.get(f"shift{seed}", [])
        assert cps, f"seed {seed}: nothing found"
        assert any(225 <= c <= 275 for c in cps), f"seed {seed}: {cps}"


def test_detect_mode_all_seeds(spark, shift_df):
    got = {
        r["series_id"]: r["n_change_points"]
        for r in detect_lockstep_colocated(shift_df, _kernel, output="counts").collect()
    }
    assert all(got[f"shift{seed}"] >= 1 for seed in SEEDS)


def test_null_data_quiet(spark, null_df):
    got = {
        r["series_id"]: r["n_change_points"]
        for r in detect_lockstep_colocated(null_df, _kernel, output="counts").collect()
    }
    # reference budget: no more than a couple of false alarms on 500 points
    assert all(got.get(f"null{seed}", 0) <= 2 for seed in SEEDS)


def test_no_premature_detection(spark, shift_df):
    """Reference 'CP cannot be detected beforehand' law: nothing before the
    true change point minus tolerance."""
    got = detect_lockstep_colocated(shift_df, _kernel).toPandas()
    assert (got["change_point"] >= 225).all()
