"""Seeded benchmark inputs and the goldens derived from them.

Everything here is a pure function of ``seed``: the relational tables
(customer, orders, lineitem, events) are written as parquet for the
``events_*`` workloads, and the transcript goldens replay the synthesis law
of ``sources.transcripts`` on the driver, so no Spark output is needed to
know what a correct transcripts job returns.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# TPC-H-ish row counts per unit of scale factor (sf0.1 = 600k lineitems)
_ROWS_PER_SF = {"customer": 150_000, "orders": 1_500_000, "events": 1_000_000}
_USERS_PER_SF = 15_000
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "view", "purchase", "error", "signup"])
_DAY_US = 86_400 * 1_000_000


def _days(first: str, last: str) -> tuple[int, int]:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    return int(lo.astype(np.int64)), int(hi.astype(np.int64))


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the tables customer, orders, lineitem and events as parquet
    for ``sf``; returns the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(_ROWS_PER_SF["customer"] * sf), 10)
    n_orders = max(int(_ROWS_PER_SF["orders"] * sf), 40)

    rng = np.random.default_rng([seed, 1])
    _write(
        pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
            }
        ),
        out_dir,
        "customer",
    )

    lo, hi = _days("1995-01-01", "2001-08-01")
    order_day = np.random.default_rng([seed, 2]).integers(lo, hi + 1, n_orders)
    rng = np.random.default_rng([seed, 3])
    _write(
        pa.table(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
                "o_totalprice": np.round(rng.uniform(900.0, 450_000.0, n_orders), 2),
                "o_orderdate": _ts_us(order_day),
                "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
            }
        ),
        out_dir,
        "orders",
    )

    rng = np.random.default_rng([seed, 4])
    lines = rng.integers(1, 8, n_orders)
    n_lines = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    _write(
        pa.table(
            {
                "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), lines),
                "l_partkey": rng.integers(0, max(n_orders // 8, 1), n_lines).astype(np.int64),
                "l_suppkey": rng.integers(0, max(n_cust // 15, 1), n_lines).astype(np.int64),
                "l_linenumber": (np.arange(n_lines) - starts + 1).astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lines), 2),
                "l_discount": rng.integers(0, 11, n_lines) / 100.0,
                "l_tax": rng.integers(0, 9, n_lines) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
                "l_shipdate": _ts_us(
                    np.repeat(order_day, lines) + rng.integers(1, 122, n_lines)
                ),
            }
        ),
        out_dir,
        "lineitem",
    )

    n_events = max(int(_ROWS_PER_SF["events"] * sf), 200)
    n_users = max(int(_USERS_PER_SF * sf), 3)
    write_events(out_dir, *_events(np.random.default_rng([seed, 5]), n_events, n_users))
    return {"customer": n_cust, "orders": n_orders, "lineitem": n_lines, "events": n_events}


def _events(rng: np.random.Generator, n_events: int, n_users: int):
    """30 days of events from 2024-01-01; each user's value level shifts
    once at a user-specific time, so the detectors have something to find."""
    start_us = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    ts = np.sort(start_us + rng.integers(0, 30 * _DAY_US, n_events))
    user = rng.integers(0, n_users, n_events).astype(np.int64)
    base = rng.uniform(10.0, 90.0, n_users)
    shifted = base * rng.choice([0.4, 1.0, 2.5], n_users)
    switch_us = start_us + rng.uniform(0.2, 0.8, n_users) * 30 * _DAY_US
    level = np.where(ts >= switch_us[user], shifted[user], base[user])
    value = np.round(rng.gamma(4.0, level / 4.0), 2)
    props = np.array([f'{{"k": {k}}}' for k in range(100)])[rng.integers(0, 100, n_events)]
    return ts, user, value, props


def write_events(out_dir: str, ts, user, value, props) -> None:
    event_id = np.arange(ts.shape[0], dtype=np.int64)
    _write(
        pa.table(
            {
                "event_id": event_id,
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": user,
                "event_type": _EVENT_TYPES[event_id % 5],
                "value": value,
                "props": props,
            }
        ),
        out_dir,
        "events",
    )


# ---------------------------------------------------------------------------
# transcripts: the synthesis law replayed on the driver
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TranscriptSpec:
    n_conversations: int
    avg_turns: int
    seed: int

    def kwargs(self) -> dict:
        return {
            "n_conversations": self.n_conversations,
            "avg_turns": self.avg_turns,
            "seed": self.seed,
            "with_text": False,
        }


@dataclass
class TranscriptGolden:
    raw_points: int
    # conv_id -> (t, value) of its turn-rate series, as turn_rate_series
    # derives it from the synthesized timestamps
    series: dict[str, tuple[np.ndarray, np.ndarray]]


def transcript_golden(spec: TranscriptSpec) -> TranscriptGolden:
    """Replay the per-conversation generator of ``sources.transcripts`` (a
    pure function of seed and conversation index) on the driver and derive
    each turn-rate series the way ``operators.series`` does."""
    from pysatl_cpd_spark.sources.transcripts import _gen_conversation

    raw = 0
    series = {}
    for i in range(spec.n_conversations):
        conv = _gen_conversation(i, spec.avg_turns, spec.seed, None, with_text=False)
        raw += len(conv)
        # Spark's timestamp -> double cast is microseconds / 1e6
        secs = conv["ts"].to_numpy().astype("datetime64[us]").astype(np.int64) / 1e6
        gap = secs[1:] - secs[:-1]
        t = conv["turn_idx"].to_numpy()[1:].astype(np.int64)
        keep = gap > 0
        if keep.any():  # a series with no points has no rows downstream
            series[conv["conv_id"].iloc[0]] = (t[keep], 1.0 / gap[keep])
    return TranscriptGolden(raw, series)
