"""The benchmark's workloads: what one job runs, and how its output is
checked against goldens computed without Spark.

A job is one closed-loop request: the benchmark waits for it to finish
before sending the next. ``job`` is the timed part; ``fetch`` (load file
outputs), ``check`` and ``cleanup`` run outside the timed region.

With a recording tracer (``tracer.spark`` set) every layer's output is
materialized at its boundary inside its own span, so each Spark stage is
charged to exactly one layer; without one the job runs the plain pipeline.
"""

from __future__ import annotations

import functools
import os
import shutil

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.trace import dir_bytes, plan_metrics, plan_seconds

RATE = 1.0 / (1.0 - 0.5 ** (1.0 / 500))


def flagship_factory():
    """The flagship detector; a ``partial`` of the engine's class, so Spark's
    Python workers unpickle it without importing the benchmark."""
    from pysatl_cpd_spark.detectors.lockstep import LockstepLinearBOCPD

    return functools.partial(
        LockstepLinearBOCPD,
        rate=RATE, learning_sample_size=20, threshold=0.04, start_after=500, prep=250,
    )


def sequential_linear_bocpd(values: np.ndarray) -> list[int]:
    """The sequential detector stack the lockstep kernel must match."""
    from pysatl_cpd_spark.detectors import (
        ArgmaxLocalizer,
        BayesianLinearHeuristic,
        BayesianOnlineDetector,
        ConstantHazard,
        HeuristicGaussianVsExponential,
        ThresholdDetector,
    )

    inner = lambda: BayesianOnlineDetector(  # noqa: E731
        ConstantHazard(RATE),
        HeuristicGaussianVsExponential(),
        20,
        ThresholdDetector(0.04),
        ArgmaxLocalizer(),
    )
    return BayesianLinearHeuristic(inner, 500, 250).process_series(values)


def _run(tracer, df, action: str, layer=None):
    """Call the DataFrame method ``action``; when tracing, planning is timed
    first in its own span and the node metrics of ``df`` are charged to the
    open span. ``layer`` is the layer's own output when ``df`` adds the
    benchmark's aggregate on top of it: exchanges are counted in its plan."""
    if tracer.spark is None:
        return getattr(df, action)()
    with tracer.span("driver.plan"):
        plan_seconds(df)
    result = getattr(df, action)()
    counters = plan_metrics(df, tracer.counted)
    if layer is not None:
        counters["exchanges"] = plan_metrics(layer, tracer.counted)["exchanges"]
    tracer.current.counters.update(counters)
    return result


class TranscriptsRollup:
    """synth -> turn_rate_series -> detect_lockstep_colocated ->
    encode_segments_colocated -> rollup_all_tiers, the 1m tier written to
    parquet and read back for the 1h/1d tiers."""

    name = "transcripts_rollup"

    def __init__(self, work: str, seed: int, tiny: bool) -> None:
        self.work = work
        self.spec = inputs.TranscriptSpec(
            n_conversations=16 if tiny else 200,
            avg_turns=120 if tiny else 400,
            seed=seed,
        )
        self.golden = inputs.transcript_golden(self.spec)
        self.points_per_job = self.golden.raw_points
        rng = np.random.default_rng([seed, 11])
        ids = sorted(self.golden.series)
        self.sampled = {
            sid: self._expected_cps(sid)
            for sid in rng.choice(ids, size=min(4, len(ids)), replace=False)
        }
        self.input_size = (
            f"{self.spec.n_conversations} conversations x ~{self.spec.avg_turns} "
            f"turns = {self.golden.raw_points} points"
        )
        self._cached = []

    def _expected_cps(self, sid: str) -> list[int]:
        t, v = self.golden.series[sid]
        return sorted({int(t[c]) for c in sequential_linear_bocpd(v) if c < t.shape[0]})

    def _path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def job(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F

        from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated
        from pysatl_cpd_spark.operators.rollup import rollup_all_tiers
        from pysatl_cpd_spark.operators.segments import encode_segments_colocated
        from pysatl_cpd_spark.operators.series import turn_rate_series
        from pysatl_cpd_spark.sources.transcripts import transcripts_table

        traced = tracer.spark is not None
        partitions = 2 * spark.sparkContext.defaultParallelism
        with tracer.span("sources.transcripts"):
            tr = (
                transcripts_table(spark, **self.spec.kwargs())
                .select("conv_id", "turn_idx", "ts")
                .repartition(partitions, "conv_id")
                .cache()
            )
            self._cached.append(tr)
            if traced:
                _run(tracer, tr, "count")
        with tracer.span("operators.series"):
            series = turn_rate_series(tr).cache()
            self._cached.append(series)
            if traced:
                _run(tracer, series, "count")
        with tracer.span("operators.cpd"):
            cps = detect_lockstep_colocated(series, flagship_factory())
            if traced:
                cps = cps.cache()
                self._cached.append(cps)
                _run(tracer, cps, "count")
        with tracer.span("operators.segments") as span:
            segments = encode_segments_colocated(series, cps)
            segments.write.mode("overwrite").parquet(self._path("segments.parquet"))
        if traced:
            # the write plans and runs its own copy of ``segments``' plan, so
            # this walk, outside the span, only counts its exchanges
            span.counters["exchanges"] = plan_metrics(segments, tracer.counted)["exchanges"]
        tiers_out = {}
        with tracer.span("operators.rollup.tier_1m"):
            tiers = rollup_all_tiers(
                tr.select("conv_id", "ts", F.lit(1.0).alias("value")),
                ["conv_id"],
                base_table_path=self._path("rollup_1m.parquet"),
            )
            tiers_out["1m"] = self._tier_totals(tracer, tiers["1m"])
        for name in ("1h", "1d"):
            with tracer.span(f"operators.rollup.tier_{name}"):
                tiers_out[name] = self._tier_totals(tracer, tiers[name])
        with tracer.span("driver.cleanup"):
            self._unpersist()
        return {"tiers": tiers_out}

    @staticmethod
    def _tier_totals(tracer, tier_df) -> tuple[int, int]:
        from pyspark.sql import functions as F

        totals = tier_df.agg(F.count(F.lit(1)), F.sum("n_points"))
        rows = _run(tracer, totals, "collect", layer=tier_df)
        return int(rows[0][0]), int(rows[0][1] or 0)

    def _unpersist(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def fetch(self, out: dict) -> dict:
        import pyarrow.parquet as pq

        out["segments"] = pq.read_table(self._path("segments.parquet")).to_pandas()
        out["bytes_written"] = dir_bytes(self._path("rollup_1m.parquet"))
        return out

    def check(self, out: dict) -> list[str]:
        from pysatl_cpd_spark.operators.gorilla import decode_batch

        errors = []
        tiers = out["tiers"]
        if tiers["1m"][1] != self.golden.raw_points:
            errors.append(f"1m n_points {tiers['1m'][1]} != raw {self.golden.raw_points}")
        for name in ("1h", "1d"):
            if tiers[name][1] != tiers["1m"][1] or tiers[name][0] < 1:
                errors.append(f"{name} tier totals {tiers[name]} vs 1m {tiers['1m']}")
        seg = out["segments"].sort_values(["series_id", "segment_id"], kind="stable")
        if set(seg["series_id"]) != set(self.golden.series):
            return errors + ["encoded series ids differ from the synthesized ones"]
        decoded = decode_batch(list(seg["blob"]))
        pos = 0
        for sid, n_segs in seg.groupby("series_id", sort=True).size().items():
            parts = decoded[pos : pos + n_segs]
            pos += n_segs
            t = np.concatenate([p[0] for p in parts])
            v = np.concatenate([p[1] for p in parts])
            want_t, want_v = self.golden.series[sid]
            if not (
                np.array_equal(t, want_t)
                and np.array_equal(v.view(np.int64), want_v.view(np.int64))
            ):
                errors.append(f"series {sid}: decoded blobs differ from the series")
                break
        starts = seg[seg["segment_id"] >= 1].groupby("series_id")["t_min"]
        got = {sid: sorted(int(x) for x in ts) for sid, ts in starts}
        for sid, want in self.sampled.items():
            if got.get(sid, []) != want:
                errors.append(f"series {sid}: change points {got.get(sid, [])} != {want}")
        return errors

    def exact_counts(self, out: dict) -> dict[str, int]:
        seg = out["segments"]
        return {
            "points": out["tiers"]["1m"][1],
            "segments": len(seg),
            "change_points": int((seg["segment_id"] >= 1).sum()),
            "series_with_cp": int(seg.loc[seg["segment_id"] >= 1, "series_id"].nunique()),
            "blob_bytes": int(seg["blob"].map(len).sum()),
            "rows_1m": out["tiers"]["1m"][0],
            "rows_1h": out["tiers"]["1h"][0],
            "rows_1d": out["tiers"]["1d"][0],
        }

    def layer_counts(self, out: dict) -> dict[str, float]:
        c = self.exact_counts(out)
        n_series = len(self.golden.series)
        return {
            "sources.transcripts.rows": c["points"],
            "operators.series.rows": int(out["segments"]["n_points"].sum()),
            "operators.cpd.series": n_series,
            "operators.cpd.change_points": c["change_points"],
            "operators.cpd.series_with_cp_share": c["series_with_cp"] / n_series,
            "operators.segments.segments": c["segments"],
            "operators.segments.blob_bytes": c["blob_bytes"],
            "operators.rollup.rows_1m": c["rows_1m"],
            "operators.rollup.rows_1h": c["rows_1h"],
            "operators.rollup.rows_1d": c["rows_1d"],
            "operators.rollup.bytes_written": out["bytes_written"],
            "encoded_bytes_per_point": c["blob_bytes"] / c["points"],
        }

    def layer_inputs(self) -> list[np.ndarray]:
        return [v for _, v in self.golden.series.values()]

    def kernels(self) -> list:
        return [flagship_factory()]

    def cleanup(self) -> None:
        self._unpersist()
        for name in ("segments.parquet", "rollup_1m.parquet"):
            shutil.rmtree(self._path(name), ignore_errors=True)


# ---------------------------------------------------------------------------
# JVM-only query mix over the seeded parquet tables
# ---------------------------------------------------------------------------

# input tables each query scans (a table read twice counts twice)
QUERY_TABLES = {
    "q1_pricing_summary": ["lineitem"],
    "q3_shipping_priority": ["lineitem", "orders", "customer"],
    "events_rollup_tiers": ["events", "events", "events"],
    "events_sessionize": ["events"],
    "events_gapfill": ["events"],
    "cusum_scores": ["events"],
    "rollup_retention": ["events"],
}


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form shared by the Spark and DuckDB
    results (the same rules as scripts/check_oracle.py)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None if ``got`` equals the normalized ``want``, else the first
    difference."""
    got = normalize(got)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f" and b.dtype.kind == "f":
            same = np.isclose(a, b, rtol=0.0, atol=1e-9, equal_nan=True)
        else:
            same = a == b
        if not np.all(same):
            i = int(np.flatnonzero(~np.asarray(same))[0])
            return f"column {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None


class EventsSql:
    """One job = one pass over seven JVM-only queries, in a seed-permuted
    order, each result fetched to the driver with ``toPandas`` and checked
    against its DuckDB twin from ``__spark_entry__``."""

    name = "events_sql"

    def __init__(self, work: str, seed: int, tiny: bool) -> None:
        import duckdb

        import __spark_entry__ as entry

        self.data = os.path.join(work, "data")
        sf = 0.002 if tiny else 0.05
        rows = inputs.write_tables(self.data, seed, sf)
        rng = np.random.default_rng([seed, 13])
        self.order = [list(QUERY_TABLES)[i] for i in rng.permutation(len(QUERY_TABLES))]
        self.points_per_job = sum(rows[t] for ts in QUERY_TABLES.values() for t in ts)
        self.input_size = (
            f"sf{sf}: {rows['lineitem']} lineitem, {rows['orders']} orders, "
            f"{rows['customer']} customer, {rows['events']} events"
        )
        self.queries = {q: entry.queries()[q] for q in QUERY_TABLES}
        # private on purpose: oracle_sql() also builds entries that read
        # files outside the benchmark's inputs; this mix needs the static part
        sql = entry._oracle_sql_static()
        con = duckdb.connect()
        for t in rows:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )
        self.golden = {q: normalize(con.execute(sql[q]).df()) for q in QUERY_TABLES}
        con.close()

    def job(self, spark, tracer) -> dict:
        results = {}
        for q in self.order:
            with tracer.span(f"query.{q}"):
                results[q] = _run(tracer, self.queries[q](spark, self.data), "toPandas")
        return {"results": results}

    def fetch(self, out: dict) -> dict:
        return out

    def check(self, out: dict) -> list[str]:
        errors = []
        for q, got in out["results"].items():
            err = compare(got, self.golden[q])
            if err:
                errors.append(f"{q}: {err}")
        return errors

    def exact_counts(self, out: dict) -> dict[str, int]:
        return {f"rows.{q}": len(df) for q, df in out["results"].items()}

    def layer_counts(self, out: dict) -> dict[str, float]:
        return {}

    def layer_inputs(self) -> list[np.ndarray]:
        return []

    def kernels(self) -> list:
        return []

    def cleanup(self) -> None:
        pass


WORKLOADS = {"transcripts_rollup": TranscriptsRollup, "events_sql": EventsSql}
