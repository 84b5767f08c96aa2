"""Distributed change-point detection over keyed series — ONE dispatch.

``detect_lockstep_colocated`` is the engine's only detect path (SURVEY.md
§3.1, collapsed): the input holds COMPLETE series per partition, each
partition is sorted locally in the JVM and streamed through one
``mapInArrow`` call one series at a time (operators/colocated.py), and the
series go to a batch kernel with the lockstep contract
``process_many(list[np.ndarray]) -> list[list[int]]``. Kernel positions are
remapped to the carried global ``t`` (the reference's index-remap law,
cpd_core.py:41).

Every detector shape maps onto that one contract:
  - lockstep kernels (detectors/lockstep*.py, ``LockstepCusum``) directly —
    one numpy call covers a whole batch of series;
  - sequential detectors through ``per_series`` (a fresh detector per
    series);
  - scrubber windows through ``windowed`` (LinearScrubber slicing in numpy,
    sorted distinct positions out);
  - vector series: a ``vec array<double>`` column reaches the kernel as
    ``(n, dim)`` arrays;
  - hot keys: ``chunk_series`` folds the chunk id into the key so one giant
    series fans out over tasks, and ``unchunk`` stitches the detections.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, Window as W, functions as F

# points per batched kernel call: keeps the cross-series amortization while
# bounding peak worker memory by the flush, not the partition
FLUSH_POINTS = 4_000_000
# output rows per emitted Arrow batch
FLUSH_ROWS = 8192


def series_key_type(series_df: DataFrame) -> str:
    """Spark type name of the ``series_id`` column — the dispatch contract
    accepts a string id or the dense int64 code of operators/keycompact.py,
    and emits the same type back."""
    dt = series_df.schema["series_id"].dataType.simpleString()
    if dt not in ("string", "bigint"):
        raise ValueError(
            "co-located dispatch contract: series_id must be string or bigint "
            f"(operators/keycompact.py dense codes), got {dt}"
        )
    return dt


def _arrow_schema(key_type: str, output: str):
    import pyarrow as pa

    cols = {
        "cps": [("change_point", pa.int64())],
        "counts": [("n_change_points", pa.int64())],
        "metrics": [
            ("partition_id", pa.int32()),
            ("n_points", pa.int64()),
            ("n_change_points", pa.int64()),
            ("kernel_ms", pa.float64()),
            ("change_points", pa.list_(pa.int64())),
        ],
    }[output]
    key_pa = pa.string() if key_type == "string" else pa.int64()
    return pa.schema([("series_id", key_pa), *cols])


def detect_lockstep_colocated(
    series_df: DataFrame,
    lockstep_factory: "Callable[[], object]",
    output: str = "cps",
) -> DataFrame:
    """ZERO-EXCHANGE detection over co-located ``(series_id, t, value)``
    input. The caller guarantees every partition holds only COMPLETE series:
    true downstream of ``events_series(colocate=n)``, of an explicit
    ``repartition(n, "series_id")`` and of a table bucketed by the key
    (sources/catalog.py). A violated contract silently detects on partial
    series — ``colocated.assert_colocated`` is the debug guard. An explicit
    repartition also keeps AQE's byte-based coalescing from merging the
    small-but-Python-heavy partitions into a handful.

    The per-partition sort runs in the JVM (``sortWithinPartitions`` — a
    local Tungsten sort, no exchange) and series accumulate into lockstep
    calls of ~``FLUSH_POINTS`` points. Kernel lanes are independent, so
    batch composition never changes a series' result. A ``vec`` column in
    place of ``value`` reaches the kernel as ``(n, dim)`` arrays.

    ``output`` selects the rows:
      - ``"cps"``: ``(series_id, change_point)``, one row per localized
        change point, positions past the series end dropped;
      - ``"counts"``: ``(series_id, n_change_points)`` for EVERY series,
        zero counts included, as raw fire counts — the reference's count
        mode sums every ``detect()`` fire, so no ``c < len`` guard applies;
      - ``"metrics"``: ``(series_id, partition_id, n_points,
        n_change_points, kernel_ms, change_points)`` — one kernel call per
        series so ``kernel_ms`` is attributable, plus the task partition for
        per-partition lineage.
    """
    from pyspark.sql.pandas.types import from_arrow_schema

    from pysatl_cpd_spark.operators.colocated import iter_sorted_series

    if output not in ("cps", "counts", "metrics"):
        raise ValueError(f"output must be cps|counts|metrics, got {output!r}")
    key_type = series_key_type(series_df)
    val = "value" if "value" in series_df.columns else "vec"
    pruned = series_df.select("series_id", "t", val).sortWithinPartitions(
        "series_id", "t"
    )
    flush_points = FLUSH_POINTS

    def run(batches):
        import time

        import pyarrow as pa
        from pyspark import TaskContext

        schema = _arrow_schema(key_type, output)
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        out: "dict[str, list]" = {k: [] for k in schema.names}
        buf: "list[tuple[object, np.ndarray, np.ndarray]]" = []
        buf_pts = 0

        def run_kernel():
            all_cps = lockstep_factory().process_many([v for _, _, v in buf])
            for (sid, t_np, _), cps in zip(buf, all_cps):
                if output == "counts":
                    out["series_id"].append(sid)
                    out["n_change_points"].append(len(cps))
                    continue
                for c in cps:
                    if c < t_np.shape[0]:
                        out["series_id"].append(sid)
                        out["change_point"].append(int(t_np[c]))

        for sid, cols in iter_sorted_series(batches, ("t", val)):
            t_np = cols["t"]
            v = cols[val].astype(np.float64, copy=False)
            if output == "metrics":
                t0 = time.perf_counter()
                cps = lockstep_factory().process_many([v])[0]
                kernel_ms = (time.perf_counter() - t0) * 1000.0
                remapped = [int(t_np[c]) for c in cps if c < t_np.shape[0]]
                for k, x in (
                    ("series_id", sid), ("partition_id", pid),
                    ("n_points", int(v.shape[0])),
                    ("n_change_points", len(remapped)),
                    ("kernel_ms", kernel_ms), ("change_points", remapped),
                ):
                    out[k].append(x)
            else:
                buf.append((sid, t_np, v))
                buf_pts += v.shape[0]
                if buf_pts >= flush_points:
                    run_kernel()
                    buf, buf_pts = [], 0
            if len(out["series_id"]) >= FLUSH_ROWS:
                yield pa.RecordBatch.from_pydict(out, schema=schema)
                out = {k: [] for k in schema.names}
        if buf:
            run_kernel()
        if out["series_id"]:
            yield pa.RecordBatch.from_pydict(out, schema=schema)

    return pruned.mapInArrow(run, from_arrow_schema(_arrow_schema(key_type, output)))


# -- adapters: every detector shape as a lockstep kernel ---------------------


class _PerSeries:
    def __init__(self, detect: "Callable[[np.ndarray], list[int]]"):
        self.detect = detect

    def process_many(self, values: "list[np.ndarray]") -> "list[list[int]]":
        return [list(self.detect(v)) for v in values]


def per_series(detect: "Callable[[np.ndarray], list[int]]") -> "Callable[[], _PerSeries]":
    """Sequential detector -> lockstep factory for the one dispatch.
    ``detect`` maps one series' values to positions and builds a fresh
    detector per call, e.g. ``per_series(lambda v: CusumDetector().localize(v))``
    or ``per_series(lambda v: make_online().process_series(v))``."""
    return partial(_PerSeries, detect)


def windowed(
    algorithm_factory: "Callable[[], object]",
    window_length: int = 100,
    shift_factor: float = 1.0 / 3.0,
) -> "Callable[[], _PerSeries]":
    """Offline detector over scrubber windows (the reference CpdCore.localize
    composition) as a kernel: each series is sliced in numpy by the
    LinearScrubber law of ``assign_windows`` — window k covers positions
    [k*shift, k*shift + window_length), trailing partial windows included —
    a fresh detector localizes each window, and the window-local detections
    come back as sorted DISTINCT series positions (overlapping windows
    re-detect the same point)."""
    shift = max(1, int(window_length * shift_factor))

    def detect(values: np.ndarray) -> "list[int]":
        found: "set[int]" = set()
        for start in range(0, values.shape[0], shift):
            window = values[start:start + window_length]
            found.update(start + int(c) for c in algorithm_factory().localize(window))
        return sorted(found)

    return per_series(detect)


# -- scrubber: overlapping sliding windows as a relational transform ---------


def assign_windows(
    series_df: DataFrame,
    window_length: int = 100,
    shift_factor: float = 1.0 / 3.0,
) -> DataFrame:
    """LinearScrubber law as arithmetic (reference linear.py:37-53): hop
    ``shift = max(1, int(window_length*shift_factor))``; window k covers
    per-series positions [k*shift, k*shift + window_length). A row whose dense
    position is p lands in every k in [ceil((p-window_length+1)/shift),
    floor(p/shift)] — produced with sequence+explode, no UDF.

    Returns (series_id, window_id, pos, t, value); ``pos`` is the dense
    per-series position, carried so downstream can remap window-local indices.
    """
    shift = max(1, int(window_length * shift_factor))
    w = W.partitionBy("series_id").orderBy("t")
    with_pos = series_df.select("series_id", "t", "value").withColumn(
        "pos", F.row_number().over(w) - F.lit(1)
    )
    k_min = F.greatest(
        F.lit(0),
        F.ceil((F.col("pos") - F.lit(window_length - 1)) / F.lit(shift)).cast("long"),
    )
    k_max = F.floor(F.col("pos") / F.lit(shift)).cast("long")
    return with_pos.withColumn(
        "window_id", F.explode(F.sequence(k_min, k_max))
    ).select("series_id", "window_id", "pos", "t", "value")


# -- skew: chunk + overlap + stitch ------------------------------------------


def chunk_series(
    series_df: DataFrame,
    chunk_size: int,
    overlap: int,
) -> DataFrame:
    """Split each series into overlapping chunks for hot-key (skew) handling:
    chunk c covers dense positions [c*(chunk_size-overlap), ... + chunk_size).
    The chunk id is folded into the key (``series_id = "<id>#<chunk_id>"``)
    and the result is repartitioned by it, so it is co-located input for
    ``detect_lockstep_colocated`` and a 10^6-turn conversation fans out over
    many tasks instead of pinning one. ``unchunk`` maps the detections back;
    ``pos`` and ``chunk_id`` stay as columns.

    WHEN TO CHUNK (measured crossover, BENCH.md round-9 table, local[32],
    chunk_size=200k/overlap=2k, rare-alarm CUSUM):
    the single colocated lane wins below ~250k points (0.36 s vs 0.48 s —
    the explode+shuffle overhead exceeds the fan-out gain), the arms cross
    between 250k and 500k (0.94 vs 0.78 at 500k), and past ~1M the chunked
    path wins outright and increasingly (3.1 vs 1.4 s at 1M; 54.8 vs 4.1 s
    at 4M — restart-style detectors like CUSUM rescan the remaining tail on
    every alarm, so an unchunked lane goes superlinear while chunking also
    BOUNDS each rescan to one chunk). Rule of thumb: chunk any series
    longer than ~2x chunk_size when idle cores exist. CAVEAT: the overlap
    must cover the detector's horizon (CUSUM learning window, BOCPD
    learn+prep) or seam detections diverge from the unchunked run —
    correctness at seams is pinned in tests/test_skew.py."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    step = chunk_size - overlap
    w = W.partitionBy("series_id").orderBy("t")
    with_pos = series_df.select("series_id", "t", "value").withColumn(
        "pos", F.row_number().over(w) - F.lit(1)
    )
    c_min = F.greatest(
        F.lit(0),
        F.ceil((F.col("pos") - F.lit(chunk_size - 1)) / F.lit(step)).cast("long"),
    )
    c_max = F.floor(F.col("pos") / F.lit(step)).cast("long")
    return (
        with_pos.withColumn("chunk_id", F.explode(F.sequence(c_min, c_max)))
        .withColumn("series_id", F.concat_ws("#", "series_id", "chunk_id"))
        .repartition(series_df.sparkSession.sparkContext.defaultParallelism, "series_id")
    )


def unchunk(cps_df: DataFrame) -> DataFrame:
    """Stitch chunked detections: strip the ``#<chunk_id>`` key suffix and
    keep one row per (series_id, change_point) — detections are absolute
    (remapped through the carried t), so overlap re-detections coincide."""
    return cps_df.withColumn(
        "series_id", F.regexp_extract("series_id", r"^(.*)#\d+$", 1)
    ).distinct()
