"""Streaming correctness (SURVEY §5.2): final streaming state must equal the
hash-verified batch twin; late data must be dropped; LSH must recall its
exact twin's pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatawork_spark.registry import QUERIES

from .compare import assert_frames_match


def test_stream_tumbling_equals_batch_twin(spark, sf_dir):
    stream_pd = QUERIES["stream_tumbling"](spark, sf_dir).toPandas()
    batch_pd = QUERIES["win_time_tumbling"](spark, sf_dir).toPandas()
    assert_frames_match(stream_pd, batch_pd, "stream_tumbling≡batch")


def test_stream_dedup_removes_cross_batch_duplicates(spark, sf_dir):
    deduped = QUERIES["stream_dedup"](spark, sf_dir)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert deduped.count() == n_events  # 2× input files → exactly 1 copy each


def test_stream_watermark_drops_late_rows(spark, sf_dir):
    out = QUERIES["stream_watermark_late"](spark, sf_dir).toPandas()
    # batch 2 (ts < 2024-01-15) arrived past the watermark: no window from
    # the first half of the month may appear
    assert (out["window_start"] >= "2024-01-15").all(), out.head()
    # and the on-time half must be materialized
    assert len(out) > 100


def test_stream_stateful_count_matches_batch_groupby(spark, sf_dir):
    stateful = QUERIES["stream_stateful_count"](spark, sf_dir).toPandas()
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
    )
    assert_frames_match(stateful, batch, "stream_stateful≡batch")


def test_stream_stateful_tws_matches_batch_groupby(spark, sf_dir):
    """Compensating equivalence for the rows-only driver row (VERDICT r08
    item 4): stream_stateful_tws — transformWithStateInPandas, or its
    documented applyInPandasWithState fallback on builds where the new
    API's driver worker dies — must equal the batch groupBy count either
    way (identical semantics is the builder's stated contract)."""
    tws = QUERIES["stream_stateful_tws"](spark, sf_dir).toPandas()
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
    )
    assert_frames_match(tws, batch, "stream_stateful_tws≡batch")


def test_stream_stateful_tws_does_not_leak_state_store_provider(spark, sf_dir):
    """Guard for the r16 provider-leak fix (OPTIMIZATION_r16.md §11): the
    tws primary path must set its required RocksDB providerClass for ITS
    query only.  Before the fix the doomed transformWithState attempt set
    it session-wide and crashed, so every later streaming key's state op
    silently ran under RocksDB — measured 3.6× slower for the
    stream-stream join state op locally.  Whichever path runs (probe
    short-circuit here; real transformWithState on a build with working
    protobuf), the session conf must be unchanged afterwards."""
    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key)
    QUERIES["stream_stateful_tws"](spark, sf_dir).count()
    assert spark.conf.get(key) == before, (
        f"stream_stateful_tws leaked providerClass: {spark.conf.get(key)}"
    )


def test_minhash_recalls_exact_jaccard_pairs(spark, sf_dir):
    """dedup_near_minhash (approx) must recover ≥80% of the exact twin's
    high-similarity pairs (SURVEY §5.2 LSH recall contract)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_near_exactjacc"](spark, sf_dir)
        .filter(F.col("jaccard") >= 0.8)
        .collect()
    }
    if not exact:  # sf0.001 has no dups — self-union would be needed
        return
    approx = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_near_minhash"](spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"recall={recall} exact={exact} approx={approx}"


def test_minhash_banding_parameterized_recall_vs_threshold(spark, sf_dir):
    """r10 banding parameterization (VERDICT r08 item 8): with banding
    fixed, the pair set is MONOTONE in the distance threshold (LSH
    candidates are filtered by the exact distance, so a looser threshold
    can only add pairs); and the recall floor vs the exact-Jaccard twin
    holds across band widths (3 and 7 tables), not just the registry
    default of 5 — the knob trades work for recall without breaking the
    contract."""
    from bigdatawork_spark.io import load
    from bigdatawork_spark.operators.llm_ops import minhash_pairs

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    tight = {
        (r.doc_a, r.doc_b)
        for r in minhash_pairs(d, num_hash_tables=5, threshold=0.1).collect()
    }
    loose = {
        (r.doc_a, r.doc_b)
        for r in minhash_pairs(d, num_hash_tables=5, threshold=0.3).collect()
    }
    assert tight <= loose, "threshold monotonicity violated"

    exact = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_near_exactjacc"](spark, sf_dir)
        .filter(F.col("jaccard") >= 0.8)
        .collect()
    }
    if not exact:
        return
    for tables in (3, 7):
        approx = {
            (r.doc_a, r.doc_b)
            for r in minhash_pairs(
                d, num_hash_tables=tables, threshold=0.2
            ).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.8, f"tables={tables} recall={recall}"


def test_pipeline_near_dedup_minhash_stage_keeps_lower_ids(spark, sf_dir):
    """The pipeline stage drops exactly the doc_b side of the pair table
    (keep-first policy) and nothing else."""
    from bigdatawork_spark.io import load
    from bigdatawork_spark.operators.llm_ops import minhash_pairs
    from bigdatawork_spark.pipeline_api import CurationPipeline

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = (
        CurationPipeline()
        .near_dedup_minhash(num_hash_tables=5, threshold=0.2)
        .apply(d)
    )
    kept = {r.doc_id for r in out.collect()}
    dropped = {r.doc_b for r in minhash_pairs(d).collect()}
    all_ids = {r.doc_id for r in d.collect()}
    assert kept == all_ids - dropped


def test_ann_ivf_overlaps_brute_force(spark, sf_dir):
    """IVF top-5 must overlap brute-force top-5 (same probes) on ≥40% of
    neighbor slots — sanity for the bucketed candidate generator."""
    bf = QUERIES["sim_cosine_topk"](spark, sf_dir).collect()
    ivf = QUERIES["sim_ann_ivf"](spark, sf_dir).collect()
    bf_set = {(r.probe_id, r.neighbor_id) for r in bf}
    ivf_set = {(r.probe_id, r.neighbor_id) for r in ivf}
    overlap = len(bf_set & ivf_set) / len(bf_set)
    assert overlap >= 0.4, f"overlap={overlap}"


def test_stream_sliding_equals_batch_twin(spark, sf_dir):
    stream_pd = QUERIES["stream_sliding"](spark, sf_dir).toPandas()
    batch_pd = QUERIES["win_time_sliding"](spark, sf_dir).toPandas()
    assert_frames_match(stream_pd, batch_pd, "stream_sliding≡batch")


def test_stream_session_equals_batch_twin(spark, sf_dir):
    """Append-mode session windows (sentinel-advanced watermark) must agree
    with the gaps-and-islands batch twin on (user, start, count)."""
    cols = ["user_id", "session_start", "n_events"]
    stream_pd = QUERIES["stream_session"](spark, sf_dir).toPandas()[cols]
    batch_pd = QUERIES["win_time_session"](spark, sf_dir).toPandas()[cols]
    assert_frames_match(stream_pd, batch_pd, "stream_session≡batch")


def test_stream_stream_join_equals_batch_interval_join(spark, sf_dir):
    """Stream-stream join state must carry pairs across the two replayed
    microbatches — result equals the (DuckDB-verified) batch interval
    self-join row-for-row."""
    stream_pd = QUERIES["stream_stream_join"](spark, sf_dir).toPandas()
    batch_pd = QUERIES["join_interval"](spark, sf_dir).toPandas()
    assert_frames_match(stream_pd, batch_pd, "stream_stream_join≡batch")


def test_stream_stream_left_join_equals_batch(spark, sf_dir):
    """Left-outer stream-stream join: NULL-extended rows only emit once
    the (sentinel-advanced) watermark proves no future match — result
    must equal the DuckDB-verified batch left interval join."""
    stream_pd = QUERIES["stream_stream_left_join"](spark, sf_dir).toPandas()
    batch_pd = QUERIES["join_interval_left"](spark, sf_dir).toPandas()
    assert_frames_match(stream_pd, batch_pd, "stream_stream_left_join≡batch")


def test_sim_cosine_vectorized_equals_expr_twin(spark, sf_dir):
    """The BLAS mapInPandas scorer must return the IDENTICAL frame to the
    pure-expr zip_with formulation it replaced (r05 weak-item fix) — same
    neighbors, same ranks, same rounded similarities."""
    from bigdatawork_spark.operators.llm_ops import _sim_cosine_topk_expr

    fast = QUERIES["sim_cosine_topk"](spark, sf_dir).toPandas()
    twin = _sim_cosine_topk_expr(spark, sf_dir).toPandas()
    assert_frames_match(fast, twin, "sim_cosine_topk≡expr-twin")


def test_knn_classify_vectorized_equals_expr_twin(spark, sf_dir):
    """The r16 fold-order mapInPandas scorer must return the IDENTICAL
    frame to the crossJoin + zip_with formulation it replaced.  Unlike
    sim_cosine_topk this key ranks on the UN-ROUNDED cos_raw, so the
    scorer replicates the fold's exact IEEE-754 add order (dim-at-a-time
    accumulation) rather than a BLAS matmul — bit-equal cosines, not
    merely close ones."""
    from bigdatawork_spark.operators.llm_ops import _knn_classify_expr

    fast = QUERIES["knn_classify"](spark, sf_dir).toPandas()
    twin = _knn_classify_expr(spark, sf_dir).toPandas()
    assert_frames_match(fast, twin, "knn_classify≡expr-twin")


def test_dedup_embedding_cosine_vectorized_equals_expr_twin(spark, sf_dir):
    """The r16 fold-order mapInPandas scorer must return the IDENTICAL
    frame to the crossJoin + zip_with formulation it replaced: bit-equal
    cos_raw (dim-at-a-time accumulation), identical >= 0.45 decisions
    (NULL drops, NaN keeps), Spark-side half-up rounding."""
    from bigdatawork_spark.operators.pipeline_ops import (
        _dedup_embedding_cosine_expr,
    )

    fast = QUERIES["dedup_embedding_cosine"](spark, sf_dir).toPandas()
    twin = _dedup_embedding_cosine_expr(spark, sf_dir).toPandas()
    assert_frames_match(fast, twin, "dedup_embedding_cosine≡expr-twin")


def test_stream_curate_cross_batch_dedup_is_nonvacuous(spark, sf_dir):
    """The replay injection makes the cross-batch anti-join load-bearing:
    arrivals (gated) strictly exceed the landed count at EVERY SF, and
    the landed table equals the batch-world curation (keep first
    arrival), so removing the anti-join could not stay hash-green."""
    from pyspark.sql import functions as F

    from bigdatawork_spark.io import load
    from bigdatawork_spark.registry import QUERIES

    landed = QUERIES["stream_curate_to_table"](spark, sf_dir)
    n_landed = landed.agg(F.sum("n_docs")).first()[0]
    d = load(spark, sf_dir, "documents").filter("n_chars >= 100")
    n_batch1 = d.filter("doc_id % 2 = 0").count()
    n_batch2 = d.filter("doc_id % 2 = 1 or doc_id % 10 = 0").count()
    n_kept_batch_world = d.select("text").distinct().count()
    assert n_batch1 + n_batch2 > n_landed  # replay arrived and was dropped
    assert n_landed == n_kept_batch_world


def test_drain_to_parquet_modes_and_no_temp_views(spark):
    """The one availableNow drain, at sf0.001: an update-mode aggregate
    equals its batch twin; a complete-mode aggregate over two triggers
    holds only the final state (each trigger re-emits the whole result,
    so appending would duplicate every group); an append stream that
    emits nothing still returns its typed schema; and neither the drains
    nor a registered streaming key leave a view in the catalog."""
    from .conftest import SF_SMALL

    from bigdatawork_spark.io import load
    from bigdatawork_spark.streaming.stream_ops import (
        _drain_to_parquet,
        _events_source_dir,
        _read_stream,
    )

    n_tables = len(spark.catalog.listTables())
    batch = sorted(
        load(spark, SF_SMALL, "events").groupBy("event_type").count().collect()
    )

    src = _events_source_dir(spark, SF_SMALL)
    upd = _read_stream(spark, src).groupBy("event_type").count()
    got = sorted(_drain_to_parquet(upd, "t-update", output_mode="update").collect())
    assert got == batch

    mid = F.lit("2024-01-15").cast("timestamp")
    src2 = _events_source_dir(
        spark, SF_SMALL, chunks=[F.col("ts") < mid, F.col("ts") >= mid]
    )
    comp = _read_stream(spark, src2, max_files=1).groupBy("event_type").count()
    progress: list = []
    got = _drain_to_parquet(
        comp, "t-complete", output_mode="complete", progress=progress
    )
    assert len(progress) == 2, "the complete-mode case must span two triggers"
    assert sorted(got.collect()) == batch

    empty = _read_stream(spark, src).filter(F.lit(False)).select("event_id", "ts")
    got = _drain_to_parquet(empty, "t-empty")
    assert got.count() == 0
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in empty.schema.fields
    ]

    assert QUERIES["stream_tumbling"](spark, SF_SMALL).count() > 0
    assert len(spark.catalog.listTables()) == n_tables


def test_stage_orders_triggers_by_frame(spark):
    """``_stage`` owns trigger order: frames of 5, 1 and 3 rows, replayed
    one file per trigger, arrive as micro-batches in frame order — not in
    size or file-name order."""
    from bigdatawork_spark.streaming.stream_ops import (
        _drain_to_parquet,
        _read_stream,
        _stage,
    )

    sizes = [5, 1, 3]
    src = _stage([spark.range(n).coalesce(1) for n in sizes], "t-stage")
    progress: list = []
    got = _drain_to_parquet(
        _read_stream(spark, src, max_files=1), "t-stage", progress=progress
    )
    assert got.count() == sum(sizes)
    assert [p["numInputRows"] for p in progress if p["numInputRows"]] == sizes
