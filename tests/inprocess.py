"""In-process references for the Spark dispatch tests: collect a series frame
into the test process and run the sequential detector / codec on each series,
so a Spark result is compared with the kernel itself, not with another Spark
path."""

import numpy as np

from pysatl_cpd_spark.operators.gorilla import encode_segment


def collect_series(df, value: str = "value") -> "dict[object, tuple[np.ndarray, np.ndarray]]":
    """{series_id: (t, values)} sorted by t, from a (series_id, t, value) frame."""
    pdf = df.select("series_id", "t", value).toPandas().sort_values(["series_id", "t"])
    out = {}
    for sid, g in pdf.groupby("series_id", sort=False):
        vals = g[value].to_numpy()
        vals = np.stack(vals) if vals.dtype == object else vals.astype(np.float64)
        out[sid] = (g["t"].to_numpy(), vals)
    return out


def local_cps(df, detect, value: str = "value") -> "set[tuple[object, int]]":
    """{(series_id, change_point)}: ``detect(values) -> positions`` per series,
    remapped through t; positions past the end dropped, as the dispatch does."""
    return {
        (sid, int(t[c]))
        for sid, (t, v) in collect_series(df, value).items()
        for c in detect(v)
        if c < len(t)
    }


def local_counts(df, detect) -> "dict[object, int]":
    """{series_id: len(detect(values))} for every series, zero counts included."""
    return {sid: len(detect(v)) for sid, (_, v) in collect_series(df).items()}


def segment_rows(encoded) -> "set[tuple]":
    """The local_segments tuple of every row of an encoded segments frame."""
    return {
        (
            r["series_id"], r["segment_id"], r["n_points"], r["t_min"],
            r["t_max"], r["first_value"], r["last_value"], bytes(r["blob"]),
        )
        for r in encoded.collect()
    }


def local_segments(df, cps_df) -> "set[tuple]":
    """(series_id, segment_id, n_points, t_min, t_max, first, last, blob) per
    segment: segment id = number of change points at or before t."""
    marks: "dict[object, set[int]]" = {}
    for r in cps_df.collect():
        marks.setdefault(r["series_id"], set()).add(int(r["change_point"]))
    rows = set()
    for sid, (t, v) in collect_series(df).items():
        seg = np.cumsum(np.isin(t, list(marks.get(sid, ()))))
        for s in np.unique(seg):
            m = seg == s
            ts, vs = t[m].astype(np.int64), v[m]
            rows.add((
                sid, int(s), int(m.sum()), int(ts[0]), int(ts[-1]),
                float(vs[0]), float(vs[-1]), encode_segment(ts, vs),
            ))
    return rows
