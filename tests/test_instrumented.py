"""Per-series metrics instrumentation: the one dispatch's ``output="metrics"``
mode."""

import numpy as np
from inprocess import collect_series, local_cps

from pysatl_cpd_spark.detectors import (
    ArgmaxLocalizer,
    BayesianOnlineDetector,
    ConstantHazard,
    GaussianConjugate,
    ThresholdDetector,
)
from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated, per_series


def test_metrics_mode_matches_inprocess(spark):
    rows = []
    for seed in (1, 2):
        np.random.seed(seed)
        data = np.concatenate(
            [np.random.normal(0, 1, 250), np.random.normal(5, 2, 250)]
        )
        rows.extend((f"s{seed}", t, float(v)) for t, v in enumerate(data))
    df = spark.createDataFrame(
        rows, "series_id string, t long, value double"
    ).repartition(2, "series_id")
    factory = lambda: BayesianOnlineDetector(  # noqa: E731
        ConstantHazard(1.0 / (1.0 - 0.5 ** (1.0 / 500))),
        GaussianConjugate(),
        50,
        ThresholdDetector(0.04),
        ArgmaxLocalizer(),
    )
    detect = lambda v: factory().process_series(v)  # noqa: E731
    plain = local_cps(df, detect)
    inst = detect_lockstep_colocated(
        df, per_series(detect), output="metrics"
    ).collect()
    from_inst = {
        (r["series_id"], cp) for r in inst for cp in r["change_points"]
    }
    assert plain == from_inst
    assert all(r["n_points"] == 500 for r in inst)
    assert all(r["kernel_ms"] > 0 for r in inst)
    assert all(r["n_change_points"] == len(r["change_points"]) for r in inst)


def test_metrics_mode_partitioning_parity(spark):
    """Metrics rows do not depend on how series are spread over partitions —
    every column except the dispatch-dependent kernel_ms timing and
    partition_id — across partition counts from one partition holding every
    series to more partitions than series, and equal the in-process kernel."""
    rows = []
    for seed in range(6):
        np.random.seed(seed)
        data = np.concatenate(
            [np.random.normal(0, 1, 80), np.random.normal(6, 1, 80)]
        )
        rows.extend((f"s{seed}", t, float(v)) for t, v in enumerate(data))
    df = spark.createDataFrame(rows, "series_id string, t long, value double")
    factory = lambda: BayesianOnlineDetector(  # noqa: E731
        ConstantHazard(1.0 / (1.0 - 0.5 ** (1.0 / 500))),
        GaussianConjugate(),
        20,
        ThresholdDetector(0.04),
        ArgmaxLocalizer(),
    )
    detect = lambda v: factory().process_series(v)  # noqa: E731

    def key_rows(collected):
        return {
            (
                r["series_id"], r["n_points"], r["n_change_points"],
                tuple(r["change_points"]),
            )
            for r in collected
        }

    want = {
        (sid, len(t), len(cps), tuple(int(t[c]) for c in cps))
        for sid, (t, v) in collect_series(df).items()
        for cps in [[c for c in detect(v) if c < len(t)]]
    }
    for n_parts in (1, 2, 13):
        got = detect_lockstep_colocated(
            df.repartition(n_parts, "series_id"), per_series(detect), output="metrics"
        ).collect()
        assert key_rows(got) == want and len(got) == 6
        assert all(r["kernel_ms"] > 0 for r in got)


def test_metrics_mode_matches_cps_and_reports_lineage(spark):
    """Metrics mode of the zero-exchange dispatch: detections equal the
    ``output="cps"`` rows; every series reports the partition that processed
    it (consistent with its co-located placement), its n_points, and a
    kernel_ms. Plan stays exchange-free after the caller repartition."""
    from pysatl_cpd_spark.detectors.cusum import LockstepCusum

    rows = []
    rng = np.random.default_rng(3)
    for s in range(10):
        data = np.concatenate(
            [rng.normal(0, 1, 150), rng.normal(6, 1, 150)]
        )
        rows.extend((f"s{s}", t, float(v)) for t, v in enumerate(data))
    df = (
        spark.createDataFrame(rows, "series_id string, t long, value double")
        .repartition(4, "series_id")
        .cache()
    )
    fac = lambda: LockstepCusum(k=0.05, h=2.0)  # noqa: E731

    inst_df = detect_lockstep_colocated(df, fac, output="metrics")
    plan = inst_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan.split("InMemoryRelation")[0]

    inst = inst_df.collect()
    plain = {
        (r.series_id, r.change_point)
        for r in detect_lockstep_colocated(df, fac).collect()
    }
    from_inst = {
        (r.series_id, cp) for r in inst for cp in r.change_points
    }
    assert from_inst == plain and plain
    assert {r.series_id for r in inst} == {f"s{s}" for s in range(10)}
    assert all(r.n_points == 300 for r in inst)
    assert all(r.n_change_points == len(r.change_points) for r in inst)
    assert all(r.kernel_ms >= 0.0 for r in inst)
    # lineage: one partition per series, within the caller's 4 partitions
    assert all(0 <= r.partition_id < 4 for r in inst)


def test_metrics_mode_long_keys(spark):
    """A bigint series_id (the compacted path) comes back as int64 series ids
    with the same per-series metrics."""
    from pysatl_cpd_spark.detectors.cusum import LockstepCusum

    rows = []
    rng = np.random.default_rng(5)
    for code in (3, 7):
        data = np.concatenate([rng.normal(0, 1, 80), rng.normal(6, 1, 80)])
        rows.extend((code, t, float(v)) for t, v in enumerate(data))
    df = spark.createDataFrame(
        rows, "series_id long, t long, value double"
    ).repartition(2, "series_id")
    fac = lambda: LockstepCusum(k=0.05, h=2.0)  # noqa: E731
    inst = detect_lockstep_colocated(df, fac, output="metrics").collect()
    assert {r.series_id for r in inst} == {3, 7}
    assert all(r.n_points == 160 for r in inst)
    assert sum(r.n_change_points for r in inst) > 0
