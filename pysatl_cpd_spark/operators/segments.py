"""CPD-adaptive segmentation + Gorilla materialization on the co-located runner.

Segments are the half-open stretches between detected change points. Encode
and the fused codec round-trip run on the same dispatch as detection
(operators/cpd.py): co-located input, a local JVM sort, one ``mapInArrow``
pass that streams each partition ONE SERIES AT A TIME
(operators/colocated.py). ``assign_segments`` is the relational segment-id
law (marker join + running sum, no UDF) and ``decode_segments`` reverses the
codec for verification, proving the per-row invariant decode(encode(s)) == s.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window as W, functions as F

from pysatl_cpd_spark.operators.cpd import series_key_type
from pysatl_cpd_spark.operators.gorilla import encode_segment

SUMMARY_COLS = (
    "series_id", "segment_id", "n_points", "t_min", "t_max",
    "min_value", "max_value", "first_value", "last_value",
)
# segments buffered per emitted Arrow batch (and per batched decode)
FLUSH_SEGMENTS = 8192


def _markers(cps_df: DataFrame) -> DataFrame:
    return cps_df.select(
        "series_id", F.col("change_point").alias("t"), F.lit(1).alias("_cp")
    ).distinct()


def assign_segments(series_df: DataFrame, cps_df: DataFrame) -> DataFrame:
    """series (series_id, t, value) × change points (series_id, change_point)
    → + segment_id: number of change points at or before t."""
    joined = series_df.join(_markers(cps_df), on=["series_id", "t"], how="left")
    run = W.partitionBy("series_id").orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    return joined.withColumn(
        "segment_id", F.coalesce(F.sum("_cp").over(run), F.lit(0)).cast("long")
    ).drop("_cp")


def _summarize(out: "dict[str, list]", sid, seg_id: int, ts, vals) -> None:
    for k, x in zip(SUMMARY_COLS, (
        sid, seg_id, int(ts.shape[0]), int(ts[0]), int(ts[-1]),
        float(np.min(vals)), float(np.max(vals)), float(vals[0]), float(vals[-1]),
    )):
        out[k].append(x)


def _schema(key_type: str, blob: bool):
    import pyarrow as pa

    types = [pa.string() if key_type == "string" else pa.int64()]
    types += [pa.int64()] * 4 + [pa.float64()] * 4
    fields = list(zip(SUMMARY_COLS, types))
    return pa.schema(fields + [("blob", pa.binary())] if blob else fields)


def encode_segments_colocated(series_df: DataFrame, cps_df: DataFrame) -> DataFrame:
    """ZERO-EXCHANGE segment encode over CO-LOCATED series (the contract of
    ``cpd.detect_lockstep_colocated``): one Gorilla blob + summary row per
    segment, ``SUMMARY_COLS`` + ``blob`` (``_schema``) with the input's
    ``series_id`` type. ``t`` doubles as the int64 timestamp stream.

    The change-point markers arrive by broadcast join (no shuffle — the
    streamed side of a BroadcastHashJoin keeps its partitioning and row
    order), the JVM sorts each partition locally, and the Python side
    streams one series at a time: peak memory is one series plus
    ``FLUSH_SEGMENTS`` output rows. Segment id = running count of markers
    at or before the row, as ``assign_segments`` (a marker on a series'
    first row labels it segment 1)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from pysatl_cpd_spark.operators.colocated import iter_sorted_series

    key_type = series_key_type(series_df)
    joined = (
        series_df.select("series_id", "t", "value")
        .join(F.broadcast(_markers(cps_df)), on=["series_id", "t"], how="left")
        .sortWithinPartitions("series_id", "t")
    )

    def run(batches):
        import pyarrow as pa

        schema = _schema(key_type, blob=True)
        out: "dict[str, list]" = {k: [] for k in schema.names}
        for sid, cols in iter_sorted_series(batches, ("t", "value", "_cp")):
            ts = cols["t"]
            values = cols["value"].astype(np.float64, copy=False)
            cp = cols["_cp"]
            bounds = np.flatnonzero(cp[1:] == 1) + 1
            cum = np.cumsum(cp, dtype=np.int64)
            for lo, hi in zip(
                np.concatenate([[0], bounds]), np.concatenate([bounds, [ts.shape[0]]])
            ):
                _summarize(out, sid, int(cum[lo]), ts[lo:hi], values[lo:hi])
                out["blob"].append(encode_segment(ts[lo:hi], values[lo:hi]))
            if len(out["blob"]) >= FLUSH_SEGMENTS:
                yield pa.RecordBatch.from_pydict(out, schema=schema)
                out = {k: [] for k in schema.names}
        if out["blob"]:
            yield pa.RecordBatch.from_pydict(out, schema=schema)

    return joined.mapInArrow(run, from_arrow_schema(_schema(key_type, blob=True)))


def roundtrip_summaries(segmented: DataFrame) -> DataFrame:
    """Fused encode -> decode -> per-segment summary for codec-verification
    queries (gorilla_roundtrip) over CO-LOCATED ``(series_id, segment_id, t,
    value)`` input: each segment is Gorilla-encoded and the BLOB is decoded
    back, with the summary computed from the DECODED arrays — the same
    encode_segment/decode_batch calls the two-stage operator chain makes,
    minus the Arrow round-trip of every raw point back to the JVM between
    the stages. Blobs are decoded ``FLUSH_SEGMENTS`` at a time: one
    vectorized ``decode_batch`` pass amortizes the per-blob anchor setup
    (~2.8 ms per decode_segment vs ~0.05 ms/blob batched, measured).
    Output: one row per segment (series_id, segment_id, n_points, t_min,
    t_max, min/max/first/last of the decoded values); callers combine per
    series with sum/min/max + struct-extreme semantics."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from pysatl_cpd_spark.operators.colocated import iter_sorted_series

    key_type = series_key_type(segmented)
    pruned = segmented.select("series_id", "segment_id", "t", "value").sortWithinPartitions(
        "series_id", "segment_id", "t"
    )

    def run(batches):
        import pyarrow as pa

        from pysatl_cpd_spark.operators.gorilla import decode_batch

        schema = _schema(key_type, blob=False)
        pending: "list[tuple[object, int, bytes]]" = []

        def flush():
            out: "dict[str, list]" = {k: [] for k in schema.names}
            decoded = decode_batch([blob for _, _, blob in pending])
            for (sid, seg_id, _), (dts, dvals) in zip(pending, decoded):
                _summarize(out, sid, seg_id, dts, dvals)
            pending.clear()
            return pa.RecordBatch.from_pydict(out, schema=schema)

        for sid, cols in iter_sorted_series(batches, ("segment_id", "t", "value")):
            segs, ts = cols["segment_id"], cols["t"]
            values = cols["value"].astype(np.float64, copy=False)
            bounds = np.flatnonzero(np.diff(segs)) + 1
            for lo, hi in zip(
                np.concatenate([[0], bounds]), np.concatenate([bounds, [ts.shape[0]]])
            ):
                pending.append((sid, int(segs[lo]), encode_segment(ts[lo:hi], values[lo:hi])))
            if len(pending) >= FLUSH_SEGMENTS:
                yield flush()
        if pending:
            yield flush()

    return pruned.mapInArrow(run, from_arrow_schema(_schema(key_type, blob=False)))


def decode_segments(encoded: DataFrame) -> DataFrame:
    """Inverse: explode blobs back to (series_id, segment_id, t, value)."""
    key_type = series_key_type(encoded)

    def run(batches):
        import pyarrow as pa

        from pysatl_cpd_spark.operators.gorilla import decode_batch

        for batch in batches:
            decoded = decode_batch(batch.column("blob").to_pylist())
            counts = [ts.shape[0] for ts, _ in decoded]
            rows = pa.array(np.repeat(np.arange(batch.num_rows), counts))
            yield pa.record_batch(
                [
                    batch.column("series_id").take(rows),
                    batch.column("segment_id").take(rows),
                    pa.array(np.concatenate([ts for ts, _ in decoded] or [np.empty(0, np.int64)])),
                    pa.array(np.concatenate([v for _, v in decoded] or [np.empty(0)])),
                ],
                names=["series_id", "segment_id", "t", "value"],
            )

    return encoded.select("series_id", "segment_id", "blob").mapInArrow(
        run, f"series_id {key_type}, segment_id long, t long, value double"
    )
