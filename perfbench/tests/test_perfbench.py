"""Self-tests of the benchmark: tiny inputs, one shared Spark session.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, run, workloads  # noqa: E402

SEED = 5


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    run.configure_env(work, 2)
    spark, setup = run.set_up(2)
    yield spark, setup, work
    run.shut_down(spark)


def _run(session, name, trace=False, tamper=None, seed=SEED):
    spark, setup, work = session
    sub = os.path.join(work, f"{name}-{seed}-{trace}-{tamper is not None}")
    return run.run_workload(
        spark, setup, name, seed, seconds=0, trace=trace, tiny=True, work=sub,
        tamper=tamper,
    )


@pytest.fixture(scope="module")
def tiny_runs(session):
    """Every workload, twice on the same seed."""
    return {name: (_run(session, name), _run(session, name)) for name in workloads.WORKLOADS}


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_workload_runs_end_to_end_and_is_correct(tiny_runs):
    assert set(tiny_runs) == {w["name"] for w in _spec()["workloads"]}
    for name, (first, _) in tiny_runs.items():
        res = first["result"]
        assert res["correct"], (name, first["jobs"])
        assert res["failed"] == 0 and res["attempted"] >= 2


def test_every_end_to_end_metric_printed_with_its_unit(tiny_runs):
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    for name, (first, _) in tiny_runs.items():
        got = first["result"]["metrics"]
        assert {k: v["unit"] for k, v in got.items()} == want, name
        assert all(v["value"] > 0 for v in got.values()), (name, got)


@pytest.fixture(scope="module")
def traced_run(session):
    return _run(session, "transcripts_rollup", trace=True)


def test_traced_run_reports_every_layer_metric(traced_run):
    rec = traced_run
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    got = rec["result"]["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == want
    assert rec["result"]["correct"]
    assert got["trace.coverage"]["value"] >= 0.9
    assert got["operators.cpd.python_bytes_sent"]["value"] > 0
    assert got["tasks.count"]["value"] > 0
    assert got["scan.tasks"]["value"] > 0
    names = {s["name"] for s in rec["spans"]}
    assert {"job", "sources.transcripts", "operators.cpd", "operators.segments"} <= names


def test_cpd_boundary_counts_only_the_detector(session, traced_run):
    """The cpd layer's Python metrics stop at the cached series: the worker
    returns (series_id, change_point) rows, so the bytes it sends back grow
    with the change points plus a per-task Arrow stream overhead, not with
    the synthesized transcript rows below the cache."""
    got = {k: v["value"] for k, v in traced_run["result"]["metrics"].items()}
    tasks = 2 * session[0].sparkContext.defaultParallelism
    received = got["operators.cpd.python_bytes_received"]
    assert 0 < received <= 64 * got["operators.cpd.change_points"] + 1024 * tasks
    assert received < got["operators.cpd.python_bytes_sent"] / 4
    assert got["operators.cpd.exchanges"] == 0


def test_same_seed_gives_identical_exact_counts(tiny_runs):
    for name, (first, second) in tiny_runs.items():
        counts = first["counts"] + second["counts"]
        assert counts and all(c == counts[0] for c in counts), name
    tr = tiny_runs["transcripts_rollup"][0]["counts"][0]
    assert tr["change_points"] > 0 and tr["segments"] > 0 and tr["blob_bytes"] > 0


def _flip_blob(out):
    seg = out["segments"]
    blob = bytearray(seg.at[seg.index[0], "blob"])
    blob[-1] ^= 0xFF
    seg.at[seg.index[0], "blob"] = bytes(blob)


def _shift_value(out):
    df = out["results"]["q1_pricing_summary"]
    df.loc[df.index[0], "sum_qty"] += 1


@pytest.mark.parametrize(
    "name,tamper",
    [("transcripts_rollup", _flip_blob), ("events_sql", _shift_value)],
)
def test_corrupted_result_counts_as_failed(session, name, tamper):
    rec = _run(session, name, tamper=tamper)
    res = rec["result"]
    assert not res["correct"]
    assert res["failed"] == res["attempted"]
    assert res["metrics"]["ops_ok_share"]["value"] == 0.0


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = inputs.write_tables(str(tmp_path / "a"), 3, 0.001)
    b = inputs.write_tables(str(tmp_path / "b"), 3, 0.001)
    c = inputs.write_tables(str(tmp_path / "c"), 4, 0.001)
    assert a == b
    for t in a:
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
        assert not ta.equals(pq.read_table(tmp_path / "c" / f"{t}.parquet"))


def test_transcript_golden_matches_the_generator_law():
    spec = inputs.TranscriptSpec(n_conversations=5, avg_turns=50, seed=1)
    golden = inputs.transcript_golden(spec)
    assert len(golden.series) == 5
    assert sum(t.shape[0] for t, _ in golden.series.values()) <= golden.raw_points - 5
    for t, v in golden.series.values():
        assert np.all(np.diff(t) > 0) and np.all(v > 0)


def test_compare_finds_a_changed_row():
    df = workloads.normalize(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]}))
    assert workloads.compare(df.copy(), df) is None
    bad = df.copy()
    bad.loc[1, "v"] = 1.6
    assert "column v" in workloads.compare(bad, df)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".work", "__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "events_sql",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
