"""Plan-shape assertions (SURVEY §4, prompt: '.explain the plan and iterate
until it's the plan you'd want').

These lock in the physical properties that matter at 100 TB: filters reach
the parquet scan, projections prune columns, small dims broadcast, the
UDF-free paths stay inside WholeStageCodegen, and top-k never global-sorts.
"""

from __future__ import annotations

from bigdatawork_spark.plans.explain import (
    count_operator,
    final_plan_string,
    formatted_plan,
    plan_string,
    read_schema_lines,
)
from bigdatawork_spark.registry import QUERIES


def _q(spark, sf_dir, key):
    return QUERIES[key](spark, sf_dir)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = formatted_plan(_q(spark, sf_dir, "filter_simple"))
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity,30.0)" in plan, plan[:2000]


def test_column_pruning(spark, sf_dir):
    read_schema = read_schema_lines(_q(spark, sf_dir, "project_select"))[0]
    # 4 of 11 lineitem columns read
    assert "l_extendedprice" in read_schema and "l_shipdate" not in read_schema
    assert "l_tax" not in read_schema


def test_broadcast_join_pinned(spark, sf_dir):
    assert count_operator(_q(spark, sf_dir, "join_inner_broadcast"), "BroadcastHashJoin") == 1


def test_q5_uses_broadcasts_for_dims(spark, sf_dir):
    # At test scale the size-threshold planner still broadcasts customer/
    # supplier/nation/region; only nation/region may carry a PINNED hint
    # (customer/supplier grow with SF — pinned broadcast OOMs at 100×).
    assert count_operator(_q(spark, sf_dir, "join_multiway_q5"), "BroadcastHashJoin") >= 3


def test_q5_pins_broadcast_only_on_constant_dims():
    import inspect

    from bigdatawork_spark.operators import joins

    src = inspect.getsource(joins.join_multiway_q5)
    # r08 single-SQL build: the pinned broadcasts ride the SQL hint
    assert "/*+ BROADCAST(n, r) */" in src
    # customer/supplier grow with SF — no pinned broadcast on them
    assert "BROADCAST(c" not in src and "BROADCAST(s" not in src


def test_semi_anti_join_operators(spark, sf_dir):
    assert "LeftSemi" in plan_string(_q(spark, sf_dir, "join_left_semi"))
    assert "LeftAnti" in plan_string(_q(spark, sf_dir, "join_left_anti"))


def test_topk_avoids_global_sort(spark, sf_dir):
    assert "TakeOrderedAndProject" in plan_string(_q(spark, sf_dir, "limit_topk_q3"))


def test_q1_whole_stage_codegen_and_partial_agg(spark, sf_dir):
    plan = final_plan_string(_q(spark, sf_dir, "agg_groupby_q1"))
    assert "isFinalPlan=true" in plan
    # "*(n)" operator prefixes mark WholeStageCodegen stages in plan strings
    assert "*(1)" in plan and "*(2)" in plan
    # partial + final HashAggregate pair → map-side combine before shuffle
    assert plan.count("HashAggregate") >= 2
    assert "BatchScan" in plan or "FileScan" in plan


def test_no_python_udf_in_builtin_paths(spark, sf_dir):
    for key in ("agg_groupby_q1", "join_multiway_q5", "wordcount", "math_funcs"):
        plan = plan_string(_q(spark, sf_dir, key))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, key


def test_events_scan_prunes_columns(spark, sf_dir):
    # even with the ns→µs ts rewrite, unused columns must not be read
    read_schema = read_schema_lines(_q(spark, sf_dir, "win_row_number"))[0]
    assert "props" not in read_schema, read_schema


def test_tfidf_has_no_token_level_shuffle(spark, sf_dir):
    # round-7 shape: the vocab df dict is sc.broadcast (capped), tf and the
    # per-doc top-3 compute inside one Arrow mapInPandas pass — the ONLY
    # exchange left is the round-robin repartition of doc ROWS (restoring
    # scan parallelism); no hash shuffle of (doc, word) pairs, no Window.
    plan = plan_string(_q(spark, sf_dir, "tfidf_keywords"))
    assert "MapInPandas" in plan
    assert "Window" not in plan
    assert "hashpartitioning" not in plan


def test_ivf_probe_side_broadcasts(spark, sf_dir):
    assert count_operator(_q(spark, sf_dir, "sim_ann_ivf"), "BroadcastNestedLoopJoin") >= 1 or \
        count_operator(_q(spark, sf_dir, "sim_ann_ivf"), "BroadcastHashJoin") >= 1


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """The SCALE.md bucketing claim, proven on the plan AND the values: a
    join of two tables bucketed by the join key needs no Exchange before
    the join, and the bucketed result must equal the parquet-direct twin
    (the compensating value check for this rows-only key — bucket files
    going stale/partial would show up here)."""
    from pyspark.sql import functions as F

    from .compare import assert_frames_match

    df = QUERIES["join_bucketed_colocated"](spark, sf_dir)
    plan = plan_string(df)
    join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
    # exchanges may exist ABOVE the join (final groupBy) but none may feed it
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty"),
        )
        .toPandas()
    )
    assert_frames_match(df.toPandas(), want, "bucketed≡parquet-direct")


def test_partitioned_sink_read_prunes_partitions(spark, sf_dir):
    """The date filter must become PartitionFilters (directory pruning),
    not a row-level PushedFilter — the 100 TB layout contract.  Since r11
    the claim is also a RUNTIME metric, symmetric with the DPP pin: the
    executed scan read 3 of the month's 30 date directories."""
    from bigdatawork_spark.plans.explain import executed_scan_metrics

    df = QUERIES["sink_partitioned_parquet"](spark, sf_dir)
    plan = formatted_plan(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "event_date" in pf[0], plan[:2000]
    # builder, not the already-used df — SQLMetrics accumulate per
    # QueryExecution (ADVICE r11)
    scan = next(
        m
        for m in executed_scan_metrics(
            lambda: QUERIES["sink_partitioned_parquet"](spark, sf_dir)
        )
        if "numPartitions" in m
    )
    assert scan["numPartitions"] == 3, scan


def test_range_partitioned_sort_has_no_global_sort(spark, sf_dir):
    """sort_range_partitioned: a RangePartitioning exchange + per-partition
    sort, NOT a single-reducer global Sort."""
    import re

    plan = plan_string(QUERIES["sort_range_partitioned"](spark, sf_dir))
    assert "rangepartitioning(o_totalprice" in plan, plan
    # SortExec.toString renders "Sort [keys], <global>, 0" — global must be false
    assert re.search(r"Sort \[o_totalprice[^\]]*\], false", plan), plan


def test_subquery_decorrelation_plan_shapes(spark, sf_dir):
    """The subquery ops must decorrelate to single-pass join plans: the
    EXISTS shape runs as one semi join (no per-row subquery), and the
    scalar-correlated shape contains exactly one aggregation over the
    threshold key (not one per outer row)."""
    from bigdatawork_spark.plans.explain import count_operator, plan_string
    from bigdatawork_spark.registry import QUERIES

    q4 = QUERIES["subquery_exists_q4"](spark, sf_dir)
    assert "SemiJoin" in plan_string(q4) or "LeftSemi" in plan_string(q4)

    q17 = QUERIES["subquery_scalar_q17"](spark, sf_dir)
    # partial+final pairs for the per-part threshold agg and the outer agg
    # — bounded, not proportional to outer rows
    assert count_operator(q17, "HashAggregate") <= 8


def test_skyline_dominance_is_broadcast_nested_loop(spark, sf_dir):
    df = _q(spark, sf_dir, "skyline_pareto")
    # O(n²) dominance runs as a broadcast nested-loop ANTI join over group
    # aggregates — never a shuffled cartesian over raw rows
    assert count_operator(df, "BroadcastNestedLoopJoin") == 1
    assert count_operator(df, "CartesianProduct") == 0


def test_bitmap_distinct_avoids_expand(spark, sf_dir):
    df = _q(spark, sf_dir, "agg_bitmap_distinct")
    # the point of bitmap partials: no count-distinct Expand; the bitmap
    # build is a SortAggregate pair (object buffer), the count sum a
    # HashAggregate pair
    assert count_operator(df, "Expand") == 0
    assert count_operator(df, "SortAggregate") == 2
    assert count_operator(df, "HashAggregate") == 2


def test_linear_regression_single_scan_pass(spark, sf_dir):
    df = _q(spark, sf_dir, "stats_linear_regression")
    # all six moments ride ONE partial+final aggregate over one scan
    assert count_operator(df, "HashAggregate") == 2
    assert count_operator(df, "Scan parquet") == 1


def test_vector_quantize_stays_in_array(spark, sf_dir):
    df = _q(spark, sf_dir, "vector_quantize")
    # element math folds inside the array column: no explode, and the
    # scalar max broadcasts (nested-loop, 1-row build side)
    assert count_operator(df, "Generate") == 0
    assert count_operator(df, "BroadcastNestedLoopJoin") == 1


def test_bm25_checkpointed_postings(spark, sf_dir):
    df = _q(spark, sf_dir, "bm25_rank")
    # the corpus explode runs ONCE, during materialization of the two
    # stats artifacts (term postings + length table); the live scoring
    # query reads only those checkpoints — zero Generate, no driver-side
    # scalar counts
    assert count_operator(df, "Generate") == 0
    assert count_operator(df, "Scan ExistingRDD") >= 2


def test_lateral_topn_decorrelates(spark, sf_dir):
    df = _q(spark, sf_dir, "join_lateral_topn")
    # the per-row LIMIT subquery must not execute as a cartesian loop
    assert count_operator(df, "CartesianProduct") == 0
    assert count_operator(df, "BroadcastNestedLoopJoin") == 0


def test_aqe_coalesces_shuffle_partitions_at_runtime(spark, sf_dir):
    """AQE evidence: the static plan asks for the configured shuffle
    partition count; at runtime AQE folds the small shuffle into fewer
    coalesced reads (AQEShuffleRead) — the mechanism that makes one
    shuffle-partition setting safe across 9 orders of magnitude of data."""
    from pyspark.sql import functions as F

    from bigdatawork_spark.io import load

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    agg = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.sum("value").alias("s"))
    )
    assert "AQEShuffleRead" in final_plan_string(agg)


def test_winnow_fingerprint_single_fanout_exchange(spark, sf_dir):
    """SCALE.md §10e plan claim, regression-locked (VERDICT r08 item 6):
    winnowing runs in ONE window pass over grams exploded AFTER the
    compact doc rows were repartitioned — exactly one hash-partitioned
    Exchange in the whole plan (the doc_id REPARTITION_BY_COL below the
    explode; the only other exchange is the presentation-sort range
    partitioning), one Generate, one Window (reach arithmetic instead of
    per-window expansion)."""
    plan = plan_string(QUERIES["winnow_fingerprint"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "REPARTITION_BY_COL" in plan, plan
    assert plan.count("Generate") == 1, plan
    assert plan.count("Window") == 1, plan


def test_repeated_spans_cached_grams_and_hash_keyed_mark_join(spark, sf_dir):
    """dedup_repeated_spans: the exploded gram table is cached (feeds the
    repeat agg AND the mark join — two InMemoryTableScans; dropping the
    cache reruns the 27M-row explode+md5 twice), the mark join is keyed
    on the 32-byte hash (never on a text column), and the explode sits
    above the compact-row doc_id repartition."""
    plan = plan_string(QUERIES["dedup_repeated_spans"](spark, sf_dir))
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "hashpartitioning(text" not in plan, plan
    assert "hashpartitioning(lt" not in plan, plan
    # the REPARTITION_BY_COL + single Generate live inside the cached gram
    # relation; pin the repartition-below-explode shape on an equivalent
    # uncacheable projection (the exact builder lineage may already be
    # cached by an earlier test, which would swap the whole subtree for an
    # InMemoryTableScan and hide the nodes)
    gram_plan = plan_string(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("text is not null and length(text) >= 20")
        .repartition("doc_id")
        .selectExpr(
            "doc_id", "explode(sequence(1, length(text) - 19)) as pos"
        )
    )
    assert "REPARTITION_BY_COL" in gram_plan, gram_plan
    assert gram_plan.count("Generate") == 1, gram_plan
    assert "InMemoryTableScan" not in gram_plan, gram_plan  # really rebuilt


def test_topk_heavy_hitters_pass1_is_map_only(spark, sf_dir):
    """topk_heavy_hitters: pass 1 must stay map-only — the Misra-Gries
    sketch runs as MapInPandas directly over the exploded token rows with
    NO token-row exchange feeding it; the only word-keyed exchanges are
    the candidate distinct (<= m rows/partition) and the pass-2 exact
    count, and the candidate set reaches the semi join as a
    BroadcastExchange (token rows never shuffle for the semi join)."""
    plan = plan_string(QUERIES["topk_heavy_hitters"](spark, sf_dir))
    assert "MapInPandas" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert plan.count("Exchange hashpartitioning(word") <= 2, plan
    # the MapInPandas subtree (text below the node, up to the next
    # same-or-shallower sibling) must contain no word-keyed exchange:
    # pass 1's input partitioning is whatever the doc_id repartition left
    lines = plan.splitlines()
    idx = next(i for i, l in enumerate(lines) if "MapInPandas" in l)
    depth = len(lines[idx]) - len(lines[idx].lstrip(" +-:"))
    for l in lines[idx + 1:]:
        d = len(l) - len(l.lstrip(" +-:"))
        if d <= depth:
            break
        assert "hashpartitioning(word" not in l, plan


def test_url_normalize_is_map_only(spark, sf_dir):
    """dedup_url_normalize's docstring claim: pure narrow projection —
    no hash-partitioned Exchange anywhere (the only exchange is the
    presentation sort's range partitioning); only doc_id+source read."""
    df = QUERIES["dedup_url_normalize"](spark, sf_dir)
    plan = plan_string(df)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Generate" not in plan, plan  # no explode — per-row expressions
    rs = read_schema_lines(df)[0]
    assert "text" not in rs, rs  # canonicalizer never reads document text


def test_url_blocklist_is_broadcast_anti(spark, sf_dir):
    """url_filter_blocklist: the blocklist side must be a BroadcastHashJoin
    LeftAnti (UT1-scale lists broadcast; the fact side never shuffles)."""
    plan = plan_string(QUERIES["url_filter_blocklist"](spark, sf_dir))
    # simple-string rendering puts the join keys between the operator name
    # and the join type: "BroadcastHashJoin [host#a], [host#b], LeftAnti"
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_decontaminate_ngram_shape(spark, sf_dir):
    """decontaminate_ngram: gram explode sits above the compact-row
    doc_id repartition (the §10e lesson), bench grams meet train grams
    in a LeftSemi, and no exchange is keyed on a text/gram STRING —
    gram shuffles carry the 60-bit hash column gh."""
    plan = plan_string(QUERIES["decontaminate_ngram"](spark, sf_dir))
    assert "REPARTITION_BY_COL" in plan, plan
    assert "LeftSemi" in plan, plan
    assert "hashpartitioning(text" not in plan, plan
    assert "hashpartitioning(ws" not in plan, plan


def test_sorted_cluster_cache_releases_window_sort(spark, sf_dir, monkeypatch):
    """r10 sorted-cache layout: with bench-mode caching on, the events
    cache is clustered by user_id AND sorted within partitions on
    (user_id, ts, event_id) — InMemoryTableScan propagates that
    outputOrdering, so win_row_number's Window must read the cache with
    NO Sort node between them (the in-memory analog of a bucketed+sortBy
    table layout)."""
    from bigdatawork_spark import io

    monkeypatch.setenv("SPARK_GRAFT_CACHE", "1")
    try:
        io.load(spark, sf_dir, "events").count()  # fill the cache
        plan = plan_string(QUERIES["win_row_number"](spark, sf_dir))
        lines = plan.splitlines()
        w = next(i for i, l in enumerate(lines) if "Window" in l)
        m = next(i for i, l in enumerate(lines) if "InMemoryTableScan" in l)
        assert w < m, plan
        between = "\n".join(lines[w:m])
        assert "Sort [" not in between, plan
        assert "Exchange" not in between, plan
    finally:
        io.drop_tables(spark, sf_dir)


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """VERDICT r10 Missing #1: the central 100 TB scan claim — a
    date-partitioned fact joined through a filtered, MATERIALIZED dim gets
    dynamic partition pruning — pinned as a plan property AND a runtime
    metric, not prose.  Three assertions: (1) the fact scan's
    PartitionFilters carry a dynamicpruningexpression; (2) no static date
    predicate was propagated instead (the demo would be vacuous — a
    key-derivable dim predicate gets pushed statically, which is why the
    dim attribute comes from a materialized parquet file); (3) the
    executed scan read exactly the 4 Saturday partitions of the 30-day
    month (numPartitions metric vs staticFilesNum)."""
    from bigdatawork_spark.plans.explain import executed_scan_metrics

    df = _q(spark, sf_dir, "join_dpp_partitioned")
    plan = formatted_plan(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, plan[:2000]
    fact_pf = next(l for l in pf if "dynamicpruningexpression" in l)
    assert "date_format" not in fact_pf and "2024-01" not in fact_pf, fact_pf

    metrics = executed_scan_metrics(lambda: _q(spark, sf_dir, "join_dpp_partitioned"))
    fact = next(m for m in metrics if "staticFilesNum" in m and m["staticFilesNum"] > 1)
    assert fact["staticFilesNum"] == 30, fact
    assert fact["numPartitions"] == 4, fact


def test_aqe_splits_skewed_join(spark, sf_dir, monkeypatch):
    """SCALE.md §2's 'skewed keys → AQE skew split' as a RUNTIME property:
    on join_skew_aqe's 70%-hot-key join, with the skew thresholds scaled
    down to the test corpus (defaults are sized for 256 MB cluster
    partitions) and the SMJ form pinned (at test scale AQE would
    broadcast the small dim — nothing to split), the AQE-final plan must
    mark the join skew=true: the hot partition was split into parallel
    subtasks instead of straggling on one core."""
    from bigdatawork_spark.plans.explain import final_plan_string

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    monkeypatch.setenv("SPARK_GRAFT_SKEW_FORCE_SMJ", "1")
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = final_plan_string(QUERIES["join_skew_aqe"](spark, sf_dir))
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tumbling_hour_projection_is_exchange_free(spark, sf_dir, monkeypatch):
    """r16 adoption (VERDICT r15 item 3): in bench/cache mode
    win_time_tumbling reads the events `hour` PROJECTION (io._PROJECTIONS
    — a secondary cached layout clustered by __hour).  Because
    HashPartitioning(__hour) satisfies ClusteredDistribution(__hour,
    event_type), the TIMED plan must carry no Exchange at all: scan →
    partial agg → final agg in one stage (the only Exchange lives inside
    the untimed InMemoryRelation fill).  Values must be identical to the
    non-cache path row-for-row."""
    from bigdatawork_spark.io import drop_tables
    from bigdatawork_spark.session import session_memo

    # non-cache reference rows (the driver-correctness path)
    ref = sorted(
        map(tuple, QUERIES["win_time_tumbling"](spark, sf_dir).collect())
    )

    monkeypatch.setenv("SPARK_GRAFT_CACHE", "1")
    try:
        df = QUERIES["win_time_tumbling"](spark, sf_dir)
        plan = plan_string(df)
        timed_region = plan.split("InMemoryRelation", 1)[0]
        assert "InMemoryTableScan" in timed_region or "InMemoryTableScan" in plan
        assert "Exchange" not in timed_region, timed_region
        got = sorted(map(tuple, df.collect()))
        assert got == ref
        # the projection is a SECOND cache entry, keyed separately from the
        # primary layout — both must be resident and sf-scoped for eviction
        store = session_memo(spark, "table_cache")
        assert any(len(k) == 3 and k[2] == "hour" for k in store), list(store)
    finally:
        drop_tables(spark, sf_dir)
