"""JVM-side CUSUM scoring — no Python in the hot path.

The one-sided CUSUM recursion S_t = max(0, S_{t-1} + (x_t - mu0 - k))
(Page 1954) unrolls to the closed form

    S_t = C_t - min(0, min_{j<=t} C_j),   C_t = cumsum(x - mu0 - k),

so the statistic is two window functions (running sum + running min) that
whole-stage codegen executes entirely in the JVM. At 100 TB this is the
detector you run first: a full-scan, shuffle-once-per-key, no-UDF scan that
flags which series need the heavier Bayesian treatment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def cusum_scores(
    series_df: DataFrame,
    k: float,
    mu0: float | None = None,
    two_sided: bool = True,
) -> DataFrame:
    """Append reset-free CUSUM statistics to a (series_id, t, value) frame.

    mu0=None estimates the in-control mean per series (global mean — a single
    extra aggregation, still JVM-side). Output adds ``cusum_pos`` and (if
    two_sided) ``cusum_neg``.
    """
    df = series_df
    if mu0 is None:
        mu = W.partitionBy("series_id")
        df = df.withColumn("_mu0", F.avg("value").over(mu))
    else:
        df = df.withColumn("_mu0", F.lit(float(mu0)))

    run = W.partitionBy("series_id").orderBy("t").rowsBetween(W.unboundedPreceding, 0)

    c_pos = F.sum(F.col("value") - F.col("_mu0") - F.lit(k)).over(run)
    df = df.withColumn("_c_pos", c_pos).withColumn(
        "cusum_pos", F.col("_c_pos") - F.least(F.min("_c_pos").over(run), F.lit(0.0))
    )
    if two_sided:
        c_neg = F.sum(F.col("_mu0") - F.col("value") - F.lit(k)).over(run)
        df = df.withColumn("_c_neg", c_neg).withColumn(
            "cusum_neg",
            F.col("_c_neg") - F.least(F.min("_c_neg").over(run), F.lit(0.0)),
        )
    return df.drop("_mu0", "_c_pos", "_c_neg")


def cusum_alarms(
    series_df: DataFrame,
    k: float,
    h: float,
    mu0: float | None = None,
) -> DataFrame:
    """First alarm per series per direction: (series_id, direction, t, stat)."""
    scored = cusum_scores(series_df, k=k, mu0=mu0, two_sided=True)
    alarms = []
    for direction, col in (("up", "cusum_pos"), ("down", "cusum_neg")):
        hits = scored.filter(F.col(col) > h).groupBy("series_id").agg(
            F.min("t").alias("t")
        )
        alarms.append(hits.select("series_id", F.lit(direction).alias("direction"), "t"))
    return alarms[0].unionByName(alarms[1])


def cusum_prefilter(
    series_df: DataFrame,
    k: float,
    h: float,
    learning_steps: int = 50,
) -> DataFrame:
    """Exact JVM gate for CusumDetector(k, h, mu0=None, learning_steps):
    one distinct ``series_id`` row per series that would alarm at least once.

    Exactness: the detector's FIRST pass learns mu from the first
    ``learning_steps`` points and alarms iff the reset-free two-sided
    statistic on the remaining points crosses h (detectors/cusum.py
    _first_alarm). This filter computes that identical statistic with window
    functions — a series it does not flag provably yields zero change points,
    so gating detect_lockstep_colocated through a semi-join on this output
    leaves results unchanged while the Python detect pass runs only on
    flagged series. At 100 TB this is the difference between scanning every
    conversation in Python and scanning the (usually small) alarmed subset.
    """
    w = W.partitionBy("series_id").orderBy("t")
    pos = F.row_number().over(w) - F.lit(1)
    df = series_df.select("series_id", "t", "value").withColumn("_pos", pos)
    mu = F.avg(F.when(F.col("_pos") < learning_steps, F.col("value"))).over(
        W.partitionBy("series_id")
    )
    tail = df.withColumn("_mu", mu).filter(F.col("_pos") >= learning_steps)
    run = W.partitionBy("series_id").orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    c_pos = F.sum(F.col("value") - F.col("_mu") - F.lit(k)).over(run)
    c_neg = F.sum(F.col("_mu") - F.col("value") - F.lit(k)).over(run)
    scored = (
        tail.withColumn("_cp", c_pos)
        .withColumn("s_pos", F.col("_cp") - F.least(F.min("_cp").over(run), F.lit(0.0)))
        .withColumn("_cn", c_neg)
        .withColumn("s_neg", F.col("_cn") - F.least(F.min("_cn").over(run), F.lit(0.0)))
    )
    return (
        scored.filter((F.col("s_pos") > h) | (F.col("s_neg") > h))
        .select("series_id")
        .distinct()
    )
