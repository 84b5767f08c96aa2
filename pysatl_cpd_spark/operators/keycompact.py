"""Collision-FREE dense-int64 compaction of the series key.

The colocated detect/encode dispatches stream (series_id, t, value) rows
through the Arrow socket into Python workers. The kernel only needs the key
for grouping — yet the string id is the fat repeated column in the socket
bytes (a ~12-char conv id outnumbers the 8-byte value payload), and the
round-7 kernel-only decomposition put ~20% of the 32-core detect stage in
Arrow socket + scheduling (BENCH.md). A HASH remap was rejected (collision
inside hash-exact driver queries would silently merge series); this module
does the lossless version:

  - factorize ``series_id`` ONCE into a dense ``code:int64`` via a sorted
    ``zipWithIndex`` over the distinct keys — code = rank of the key in
    sorted order, so the mapping is DETERMINISTIC across re-evaluations
    (``monotonically_increasing_id`` is not: a cache eviction could
    recompute a permuted mapping while downstream frames retain old codes —
    silent corruption);
  - stream only ``(code, t, value)`` through the UDF boundary — the
    co-located ``detect_lockstep_colocated`` / ``encode_segments_colocated``
    read the bigint key type from the schema and emit it back; the int key
    also skips the per-batch dictionary hash in ``iter_sorted_series``;
  - re-attach the string id afterwards via a broadcast join of the dim
    table — zero collision probability, output rows identical.

Scale notes (100 TB): the dim table is one row per SERIES (conversation),
orders of magnitude smaller than the point stream; at true ingest scale the
code column is assigned once at the bucketed-table write (pay the
factorization with the ingest shuffle, store the code —
``sources/catalog.py::write_bucketed_series_coded`` implements exactly
this, persisting the dim table alongside so codes are stable across
sessions) and these helpers also serve in-memory pipelines directly. The ``zipWithIndex`` path is distributed
(sort + per-partition offsets; one extra count job over the tiny dim); the
broadcast re-attach rides the tiny output side, never the point stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def series_key_dim(series_df: DataFrame, key: str = "series_id") -> DataFrame:
    """(series_id, code:int64) dim table: code = rank of the key in sorted
    order — dense, deterministic, collision-free. Cached (tiny; pins the
    one factorization job)."""
    spark = series_df.sparkSession
    rdd = (
        series_df.select(key)
        .distinct()
        .rdd.map(lambda r: r[0])
        .sortBy(lambda x: x)
        .zipWithIndex()
    )
    dim = spark.createDataFrame(rdd, schema=f"{key} string, code long")
    return dim.cache()


def compact_series_key(
    series_df: DataFrame,
    n_partitions: int | None = None,
    dim: DataFrame | None = None,
) -> "tuple[DataFrame, DataFrame]":
    """Replace the string ``series_id`` with its dense int64 code and pay the
    ONE co-location shuffle on the (cheaper-to-hash) int key. Returns
    ``(coded, dim)``: coded is (series_id:int64, t, value) repartitioned by
    the code — ready for the zero-exchange colocated dispatches, which take
    the bigint key as is — and dim maps the codes back.

    The broadcast dim join runs BEFORE the repartition, so the coded frame's
    partitioning is on the int code itself (a join after the repartition
    would also preserve co-location — code is 1:1 with the key — but
    hashing the int at the exchange is cheaper than hashing the string)."""
    if n_partitions is None:
        n_partitions = series_df.sparkSession.sparkContext.defaultParallelism
    if dim is None:
        dim = series_key_dim(series_df)
    coded = (
        series_df.join(F.broadcast(dim), "series_id")
        .select(F.col("code").alias("series_id"), "t", "value")
        .repartition(n_partitions, "series_id")
    )
    return coded, dim


def attach_series_id(df: DataFrame, dim: DataFrame) -> DataFrame:
    """Swap a coded ``series_id:int64`` column back to the original string id
    via a broadcast join of the dim table, preserving column order. Runs on
    the small OUTPUT side (change points / segment summaries), never the
    point stream."""
    cols = df.columns
    return (
        df.withColumnRenamed("series_id", "_code")
        .join(F.broadcast(dim), F.col("_code") == F.col("code"), "inner")
        .select(*cols)
    )
