"""Physical-plan shape regressions — the scale claims, checked as plans
(SURVEY.md §4): pushed filters reach the scan, small dims broadcast,
top-k never materializes a global sort."""

from __future__ import annotations

import pytest

from tfidf_spark import entrypoints

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return (
        entrypoints.QUERIES[name](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "scan_filter_project")
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity,45.0)" in plan


def test_column_pruning(spark):
    plan = _plan(spark, "scan_filter_project")
    # only the 4 projected + filtered columns are read, not all 11
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1]


def test_revenue_join_broadcasts_dim(spark):
    assert "BroadcastHashJoin" in _plan(spark, "revenue_topk")


def test_semi_and_anti_joins(spark):
    assert "LeftSemi" in _plan(spark, "customers_with_orders")
    assert "LeftAnti" in _plan(spark, "customers_without_orders")


def test_topk_has_no_global_sort(spark):
    plan = _plan(spark, "bm25_topk")
    assert "TakeOrderedAndProject" in plan
    # no standalone global Sort node feeding an exchange
    assert "Sort [score_r" not in plan


def test_bm25_query_side_broadcasts(spark):
    plan = _plan(spark, "bm25_topk")
    assert "BroadcastHashJoin" in plan


def test_minhash_signatures_zero_shuffle(spark):
    """MinHash signatures (r8: one narrow kernel from the docs) must
    stay shuffle-free: no Exchange, one MapInPandas, no second UDF
    subtree."""
    plan = _plan(spark, "minhash_signature")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1
    assert plan.count("ArrowEvalPython") == 0


def test_simhash_zero_shuffle(spark):
    """SimHash from raw docs (r8, dedup.simhash_docs) = ZERO shuffle:
    tokenize + count + md5 + bit-sum all in one narrow Arrow kernel —
    never the 60x bit-row explode, no exchange at all."""
    plan = _plan(spark, "simhash")
    assert "Exchange" not in plan
    assert "MapInPandas" in plan
    assert "Generate explode" not in plan
    assert "HashAggregate" not in plan


def test_lsh_single_signature_pass_two_exchanges(spark):
    """r8 LSH pair generation: ONE signature subtree (a single narrow
    MapInPandas kernel — the r7 self-join re-ran the shingle UDF on both
    sides), one (band, bucket) exchange for the bucket groupBy, one
    (a, b) exchange for the band count — no window, no join."""
    plan = _plan(spark, "minhash_lsh_pairs")
    assert plan.count("MapInPandas") == 1
    assert plan.count("ArrowEvalPython") == 0
    assert plan.count("Exchange hashpartitioning(band") == 1
    assert "Window" not in plan
    assert "Join" not in plan
