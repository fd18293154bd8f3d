"""join_bloom_prefilter's Bloom-filter properties — the part its plain-join
oracle can't see: no false negatives, actual pruning, and the plan shape."""

from __future__ import annotations

from bigdatawork_spark.operators.joins import bloom_prefilter_pass_count
from bigdatawork_spark.registry import QUERIES


def test_bloom_prefilter_no_false_negatives_and_prunes(spark, sf_dir):
    """The Bloom pass-set must contain EVERY true-match row (no false
    negatives — the correctness half) and be smaller than the full fact
    table (actual pruning — the scale half the oracle can't observe)."""
    from bigdatawork_spark.io import load
    from pyspark.sql import functions as F

    passed = bloom_prefilter_pass_count(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    n_total = li.count()
    n_passed = passed.count()
    assert 0 < n_passed < n_total, (n_passed, n_total)

    nat = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    true_keys = {
        r["s_suppkey"]
        for r in load(spark, sf_dir, "supplier")
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
        .collect()
    }
    passed_keys = {r["l_suppkey"] for r in passed.distinct().collect()}
    true_fact_keys = {
        r["l_suppkey"]
        for r in li.select("l_suppkey").distinct().collect()
        if r["l_suppkey"] in true_keys
    }
    assert true_fact_keys <= passed_keys, true_fact_keys - passed_keys


def test_bloom_prefilter_plan_is_broadcast_semi_then_broadcast_join(
    spark, sf_dir
):
    """Plan pin: the prefilter is two broadcast LEFT SEMI hash joins and
    the exact join broadcasts the dim — no sort-merge join, no shuffle of
    the fact side before the final aggregation's exchange."""
    plan = (
        QUERIES["join_bloom_prefilter"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("LeftSemi") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
