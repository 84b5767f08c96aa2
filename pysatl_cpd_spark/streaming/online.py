"""Streaming online CPD: applyInPandasWithState keyed by series.

The batch engine runs online detectors as an ordered scan per series inside
its one co-located dispatch (operators/cpd.detect_lockstep_colocated, with
``per_series`` for a sequential detector). For unbounded streams the same kernel runs
under ``applyInPandasWithState``: state = the detector's pickled internals
(training buffer, run-length posterior, likelihood posterior-parameter
arrays, current time), one state row per series key.

Reference semantics assume strictly ordered input
(core/online_cpd_core.py:24-38); late/out-of-order rows are therefore
buffered per key and released in order up to the watermark — here we sort
each micro-batch group and carry ``last_t`` in state, dropping regressions
(exactly the reference's in-order contract, enforced at the boundary).
"""

from __future__ import annotations

import pickle
from typing import Any, Callable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "series_id string, change_point long"
STATE_SCHEMA = "detector binary, last_t long"


def make_streaming_detect(
    algorithm_factory: Callable[[], Any],
) -> Callable[..., Iterator[pd.DataFrame]]:
    """Build the applyInPandasWithState function for an online detector.

    The detector object must expose ``localize(value) -> Optional[int]`` and
    be picklable (all kernels in detectors/ are plain-attribute objects).
    Positions are per-series observation counts; callers remap to global
    indices by joining back on (series_id, t) when needed.
    """

    def fn(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            blob, last_t = state.get
            detector = pickle.loads(bytes(blob))
        else:
            detector, last_t = algorithm_factory(), -1

        out: list[int] = []
        for pdf in pdfs:
            pdf = pdf.sort_values("t")
            pdf = pdf[pdf["t"] > last_t]  # enforce in-order contract
            for t, v in zip(pdf["t"].tolist(), pdf["value"].tolist()):
                cp = detector.localize(float(v))
                if cp is not None:
                    out.append(int(cp))
                last_t = t

        state.update((pickle.dumps(detector), int(last_t)))
        if out:
            yield pd.DataFrame({"series_id": key[0], "change_point": out})

    return fn


def streaming_change_points(
    stream_df: DataFrame,
    algorithm_factory: Callable[[], Any],
    timeout: str = "NoTimeout",
) -> DataFrame:
    """stream_df: streaming (series_id, t, value). Returns append-mode stream
    of (series_id, change_point)."""
    return stream_df.groupBy("series_id").applyInPandasWithState(
        make_streaming_detect(algorithm_factory),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )
