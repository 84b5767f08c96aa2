"""Streaming per-series iteration over SORTED co-located Arrow batch streams.

The sort runs in the JVM (``df.sortWithinPartitions`` — a LOCAL Tungsten
sort, no exchange, overlapped with the scan) and this module walks the
already-sorted batch stream, assembling ONE SERIES AT A TIME:

  - each batch column is read as a numpy view (zero-copy for the numeric
    columns), sliced at series boundaries found via a per-batch
    dictionary-encode of the key;
  - a series spanning batches is stitched with one ``np.concatenate`` of
    its views — the only copy, and the copy the kernel needs anyway;
  - peak Python-side extra memory is O(one series) plus whatever the caller
    buffers deliberately, never a materialized and re-sorted partition (the
    bus-bound serde share of the round-6 dispatch, BENCH.md).

This is the engine's one runner: ``operators.cpd.detect_lockstep_colocated``
and ``operators.segments.encode_segments_colocated`` /
``roundtrip_summaries`` all stream through ``iter_sorted_series``.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
from pyspark.sql import DataFrame, functions as F


def _cat(parts: "list[np.ndarray]") -> np.ndarray:
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def iter_sorted_series(
    batches: "Iterable[object]",
    numeric_cols: "tuple[str, ...]",
    key: str = "series_id",
) -> "Iterator[tuple[str, dict[str, np.ndarray]]]":
    """Yield ``(series_id, {col: contiguous numpy array})`` per COMPLETE
    series from a pyarrow RecordBatch stream sorted by ``(key, t)``.

    Contract: the stream is partition-local and ALREADY SORTED by the key
    (``sortWithinPartitions`` upstream), so each series is one contiguous
    run across the batch sequence. Nulls in the change-point marker column
    ``_cp`` (absent marker) become 0; nulls in any other column pass through
    as NaN, the value every detector and the codec receive for a missing
    observation. A list column (``vec array<double>``) arrives as an
    ``(n, dim)`` array.

    Key column may be a string OR an integer (the compacted dense-code path,
    operators/keycompact.py): integer keys skip the per-batch dictionary
    hash — boundaries come straight from ``np.diff`` on the zero-copy numpy
    view, and the yielded series id is the python int.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    pending_sid: "object | None" = None
    pending: "dict[str, list[np.ndarray]]" = {}
    for batch in batches:
        if batch.num_rows == 0:  # zero-row batches still carry schema
            continue
        schema = batch.schema
        sid_arr = batch.column(schema.get_field_index(key))
        if pa.types.is_integer(sid_arr.type):
            keys_np = sid_arr.to_numpy()
            codes = keys_np  # diff on the raw keys finds the same bounds
            vocab = None
        else:
            enc = pc.dictionary_encode(sid_arr)
            codes = enc.indices.to_numpy()
            vocab = enc.dictionary.to_pylist()
        cols_np: "dict[str, np.ndarray]" = {}
        for c in numeric_cols:
            arr = batch.column(schema.get_field_index(c))
            if c == "_cp" and arr.null_count:
                arr = pc.fill_null(arr, 0)
            if pa.types.is_list(arr.type):
                cols_np[c] = (
                    arr.flatten().to_numpy(zero_copy_only=False).reshape(len(arr), -1)
                )
            else:
                cols_np[c] = arr.to_numpy(zero_copy_only=False)
        bounds = np.flatnonzero(np.diff(codes)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [codes.shape[0]]))
        for s, e in zip(starts, ends):
            name = int(codes[s]) if vocab is None else vocab[codes[s]]
            if name != pending_sid:
                if pending_sid is not None:
                    yield pending_sid, {c: _cat(v) for c, v in pending.items()}
                pending_sid = name
                pending = {c: [] for c in numeric_cols}
            for c in numeric_cols:
                pending[c].append(cols_np[c][s:e])
    if pending_sid is not None:
        yield pending_sid, {c: _cat(v) for c, v in pending.items()}


def assert_colocated(series_df: DataFrame, key: str = "series_id") -> None:
    """DEBUG guard for the co-location contract: raise if any series spans
    more than one partition (the silent-wrong-results hazard of the
    zero-exchange dispatches). Costs one Spark job with a shuffle over the
    distinct ``(key, partition_id)`` pairs — cheap next to a corrupted
    result, expensive next to the zero-exchange detection itself, so callers
    run it explicitly rather than on every dispatch."""
    bad = (
        series_df.select(key)
        .withColumn("_pid", F.spark_partition_id())
        .groupBy(key)
        .agg(F.countDistinct("_pid").alias("n_parts"))
        .filter(F.col("n_parts") > 1)
    )
    row = bad.first()
    if row is not None:
        raise ValueError(
            f"co-location contract violated: {key}={row[0]!r} spans "
            f"{row[1]} partitions — repartition(n, {key!r}) the input "
            "before the co-located dispatch"
        )
