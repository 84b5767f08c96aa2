"""Contract-surface freezes: the driver consumes __spark_entry__.py and
deployments consume dist/pysatl_cpd_spark.zip — both must stay exactly in
step with the working tree."""

import os
import zipfile

import pytest

import __spark_entry__ as entry_mod

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The driver's correctness gate checks the FIRST 50 queries() entries. This
# ordering was curated in round 4 so the flagship and every detector sits
# inside the window; a careless insert above slot 50 silently evicts one.
# Any change to this list must be deliberate: re-pin the golden below AND
# re-check that everything evicted is genuinely subsumed by a checked entry.
DRIVER_WINDOW_GOLDEN = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "customers_without_orders",
    "events_rollup_tiers",
    "events_rollup_hierarchy",
    "events_sessionize",
    "top_events_per_user",
    "cusum_scores",
    "rollup_retention",
    "events_pivot",
    "events_gapfill",
    "asof_join",
    "lang_id_docs",
    "stopword_quality",
    # round-6 re-pin: token_jaccard (df-pruned broadcast-anti-join Jaccard,
    # the 100-TB stopword mitigation) replaced text_quality, whose
    # token_count/punct_ratio machinery is computed inside stopword_quality's
    # quality column — text_quality stays locally value-checked in the
    # demoted block
    "token_jaccard",
    "dedup_exact",
    "shingle_jaccard",
    "embeddings_cosine_topk",
    "cpd_confusion",
    "scrubber_windows",
    "gorilla_roundtrip",
    "cpd_bocpd_offline",
    "cpd_bocpd_online",
    "cpd_linear_heuristic",
    "cpd_cusum_localized",
    "cpd_classification",
    "cpd_knn",
    "cpd_knn_multivariate",
    "cpd_graph",
    "cpd_kliep",
    "cpd_rulsif",
    "cpd_detect_counts",
    "minhash_lsh_pairs",
    "ngram_contamination",
    "simhash_pairs",
    "dedup_clusters",
    "lsh_cosine_topk",
    "ivf_cosine_topk",
    "embedding_near_dups",
    "ann_recall",
    "bpe_token_counts",
    "winnow_fingerprints",
    "rollup_distinct_daily",
    "rollup_quantiles_daily",
    "theta_user_overlap",
    "multimodal_features",
    "transcripts_cpd_rollup",
    "transcripts_segment_gapfill",
    "transcripts_tool_rate",
]


def test_driver_window_frozen():
    """The first 50 queries() keys equal the checked-in golden, in order."""
    keys = list(entry_mod.queries().keys())
    assert keys[:50] == DRIVER_WINDOW_GOLDEN


def test_every_query_has_oracle_or_is_known_rows_only():
    """Every queries() entry either has an oracle_sql() twin (full
    rows+schema+hash gate) or is on the explicit rows-only list — no query
    silently loses its value check."""
    queries = set(entry_mod.queries().keys())
    oracles = set(entry_mod.oracle_sql().keys())
    assert oracles <= queries  # no orphan oracles
    rows_only = queries - oracles
    # non-SQL-expressible ops only (stateful/iterative detectors whose
    # VALUES transcription oracles degrade when sf0.01 parquet is absent)
    allowed_rows_only = {
        "cpd_classification",
        "cpd_knn",
        "cpd_knn_multivariate",
        "cpd_kliep",
        "cpd_rulsif",
    }
    assert rows_only <= allowed_rows_only, rows_only


_PLAN_PREFIX = __import__("re").compile(r"^(?::  |\+- |:- |   )*")


def _plan_lines(plan: str) -> "list[tuple[int, str]]":
    """Parse a Spark plan toString into (depth, text) — every tree level is
    one 3-char prefix unit (':  ', '+- ', ':- ', '   ')."""
    out = []
    for line in plan.splitlines():
        prefix = _PLAN_PREFIX.match(line).group(0)
        out.append((len(prefix) // 3, line[len(prefix):]))
    return out


def _streamed_side_lines(
    plan: str, op: str, allow_paid_repartition: bool = False
) -> "list[list[str]]":
    """For each occurrence of ``op``, return its subtree lines EXCLUDING
    subtrees rooted at BroadcastExchange (build sides may shuffle their tiny
    inputs) and at InMemoryRelation (the cached feed's internal plan holds
    the one deliberately-paid ingest shuffle) — i.e. the operator's streamed
    input path down to the cache/scan boundary. With
    ``allow_paid_repartition`` the walk also stops at that paid shuffle
    itself (the caller's REPARTITION_BY_NUM on series_id), for queries that
    repartition their input instead of reading a cached feed."""
    lines = _plan_lines(plan)
    subtrees = []
    for i, (d, text) in enumerate(lines):
        if op not in text:
            continue
        collected: "list[str]" = []
        skip_deeper_than: "int | None" = None
        for dd, tt in lines[i + 1:]:
            if dd <= d:
                break
            if skip_deeper_than is not None:
                if dd > skip_deeper_than:
                    continue
                skip_deeper_than = None
            if "BroadcastExchange" in tt or "InMemoryRelation" in tt:
                skip_deeper_than = dd
                continue
            if (allow_paid_repartition and "REPARTITION_BY_NUM" in tt
                    and "series_id" in tt):
                skip_deeper_than = dd
                continue
            collected.append(tt)
        subtrees.append(collected)
    return subtrees


def _assert_colocated_detect_plan(
    plan: str, n_map_in_arrow: "int | None", allow_paid_repartition: bool = False
):
    """The load-bearing zero-exchange properties (robust across Spark
    versions / AQE config, per round-7 advice — no exact exchange-count
    pins):

      - the colocated MapInArrow dispatches are used (no FlatMapGroupsIn*,
        i.e. no salted grouped-map path);
      - NO exchange anywhere partitions by the salt 'bucket' column;
      - the caller's one paid ingest shuffle is present
        (REPARTITION_BY_NUM on series_id);
      - between each MapInArrow and the cached feed / a broadcast build
        side there is NO shuffle of any kind on its streamed input — the
        property that makes detect+encode zero-exchange. With
        ``allow_paid_repartition`` the caller's series_id repartition may
        sit on that path (and nothing else may)."""
    import re

    assert "FlatMapGroupsIn" not in plan, "salted grouped-map dispatch leaked in"
    exchanges = {m.group(0) for m in re.finditer(r"Exchange \w+[^\n]*", plan)}
    assert not any(
        "bucket" in e for e in exchanges if "hashpartitioning" in e
    ), sorted(exchanges)
    assert any(
        "REPARTITION_BY_NUM" in e and "series_id" in e for e in exchanges
    ), sorted(exchanges)
    streamed = _streamed_side_lines(plan, "MapInArrow", allow_paid_repartition)
    if n_map_in_arrow is not None:
        assert len(streamed) == n_map_in_arrow, plan[:800]
    assert streamed, plan[:800]
    for sub in streamed:
        # BroadcastExchange roots were skipped above, so ANY remaining
        # Exchange/ReusedExchange here is a shuffle of the streamed input
        bad = [t for t in sub if "Exchange" in t]
        assert not bad, f"exchange on a MapInArrow streamed side: {bad}"


def test_flagship_zero_exchange_plan(spark):
    """The contract flagship (transcripts_cpd_rollup) runs the ZERO-EXCHANGE
    detect+encode path: one explicit caller repartition on series_id pays the
    only series-data shuffle, and neither MapInArrow op adds an exchange on
    its streamed side (both stream straight from the cached feed through a
    broadcast join + local sort)."""
    import __spark_entry__ as entry

    df = entry.queries()["transcripts_cpd_rollup"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    _assert_colocated_detect_plan(plan, n_map_in_arrow=2)


def _dispatching_queries() -> "list[str]":
    """Every queries() entry whose body calls a detect or encode operator."""
    import inspect
    import re

    pat = re.compile(r"\b(detect_\w+|encode_segments\w*|roundtrip_summaries)\(")
    return [
        name
        for name, fn in entry_mod.queries().items()
        if pat.search(inspect.getsource(fn))
    ]


def test_dispatching_queries_found():
    names = _dispatching_queries()
    assert {"gorilla_roundtrip", "cpd_detect_counts", "cpd_knn_multivariate",
            "cpd_graph", "transcripts_cpd_rollup"} <= set(names)
    assert len(names) >= 17, names


# Queries that stream detect/encode straight from a cached, co-located
# feed: their MapInArrow streamed sides must hold no exchange at all.
_CACHED_FEED = {
    "transcripts_cpd_rollup",
    "transcripts_cpd_rollup_coded",
    "transcripts_segment_gapfill",
    "cpd_colocated_metrics",
    "entry",
}


@pytest.mark.parametrize("name", _dispatching_queries() + ["entry"])
def test_no_salted_dispatch_plan(spark, name):
    """Every query that detects or encodes — and entry() — runs the one
    co-located dispatch: no FlatMapGroupsIn* (salted grouped-map) node and
    no exchange on a MapInArrow streamed side. A query that reads a cached
    feed (``_CACHED_FEED``) gets the strict walk; any other query may have
    exactly its own series_id repartition on that side, and nothing else.
    transcripts_segment_gapfill's gap-fill windows
    legitimately add one series_id ENSURE_REQUIREMENTS exchange over the
    cached feed (a window requirement off the detect's streamed side), and
    an initial plan may print an uncached detect subtree once per consumer;
    every occurrence must be co-located."""
    if name == "entry":
        df = entry_mod.entry(spark)
    else:
        df = entry_mod.queries()[name](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    _assert_colocated_detect_plan(
        plan, n_map_in_arrow=None,
        allow_paid_repartition=name not in _CACHED_FEED,
    )


def test_dist_zip_matches_working_tree():
    """dist/pysatl_cpd_spark.zip (the spark-submit --py-files artifact) must
    contain EVERY package .py at the working tree's exact bytes — a stale
    zip ships known-fixed bugs. Rebuild with scripts/make_pyfiles.py."""
    zip_path = os.path.join(ROOT, "dist", "pysatl_cpd_spark.zip")
    assert os.path.exists(zip_path), "run scripts/make_pyfiles.py"
    pkg = os.path.join(ROOT, "pysatl_cpd_spark")
    tree = {}
    for dirpath, _, files in os.walk(pkg):
        if "__pycache__" in dirpath:
            continue
        for name in files:
            if name.endswith(".py"):
                full = os.path.join(dirpath, name)
                tree[os.path.relpath(full, ROOT)] = full
    with zipfile.ZipFile(zip_path) as zf:
        members = {n for n in zf.namelist() if n.endswith(".py")}
        missing = set(tree) - members
        assert not missing, f"stale zip, missing: {sorted(missing)}"
        stale = [
            rel
            for rel, full in sorted(tree.items())
            if zf.read(rel) != open(full, "rb").read()
        ]
        assert not stale, f"stale zip members: {stale}"
