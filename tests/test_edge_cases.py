"""Operator unit tests on tiny inline frames (SURVEY §5.2): null/empty/edge
semantics that the corpus-backed differential tests can't reach."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from .compare import oracle_con


@pytest.fixture(scope="module")
def empty_df(spark):
    return spark.createDataFrame([], "k int, v double")


def test_agg_on_empty_input(empty_df):
    row = empty_df.agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"), F.avg("v").alias("a")
    ).first()
    assert row["n"] == 0 and row["s"] is None and row["a"] is None


def test_groupby_on_empty_input_yields_no_groups(empty_df):
    assert empty_df.groupBy("k").count().count() == 0


def test_join_with_empty_side(spark, empty_df):
    left = spark.createDataFrame([(1, "a")], "k int, tag string")
    assert left.join(empty_df, "k", "inner").count() == 0
    outer = left.join(empty_df, "k", "left").collect()
    assert len(outer) == 1 and outer[0]["v"] is None


def test_all_null_group_keys(spark):
    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), (1, 3.0)], "k int, v double"
    )
    got = {r["k"]: r["s"] for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    # SQL semantics: NULL keys form ONE group
    assert got[None] == 3.0 and got[1] == 3.0


def test_null_keys_never_join(spark):
    a = spark.createDataFrame([(None, "x"), (1, "y")], "k int, tag string")
    b = spark.createDataFrame([(None, "p"), (1, "q")], "k int, other string")
    assert a.join(b, "k", "inner").count() == 1  # NULL ≠ NULL in join keys


def test_window_frame_shorter_than_partition(spark):
    df = spark.createDataFrame([(1, 1, 10.0)], "k int, o int, v double")
    w = Window.partitionBy("k").orderBy("o").rowsBetween(-2, 0)
    assert df.select(F.avg("v").over(w).alias("m")).first()["m"] == 10.0


def test_lag_at_partition_edge_is_null(spark):
    df = spark.createDataFrame([(1, 1), (1, 2)], "k int, o int")
    w = Window.partitionBy("k").orderBy("o")
    rows = df.select("o", F.lag("o").over(w).alias("p")).orderBy("o").collect()
    assert rows[0]["p"] is None and rows[1]["p"] == 1


def test_ntile_with_fewer_rows_than_buckets(spark):
    df = spark.createDataFrame([(1,), (2,)], "o int")
    w = Window.orderBy("o")
    tiles = [r["t"] for r in df.select(F.ntile(4).over(w).alias("t")).collect()]
    assert tiles == [1, 2]  # buckets beyond row count are simply unused


def test_exceptall_multiplicity(spark):
    a = spark.createDataFrame([(1,), (1,), (2,)], "k int")
    b = spark.createDataFrame([(1,)], "k int")
    assert sorted(r["k"] for r in a.exceptAll(b).collect()) == [1, 2]


def test_explode_on_empty_array_drops_row(spark):
    df = spark.createDataFrame([(1, []), (2, ["a"])], "k int, xs array<string>")
    assert df.select("k", F.explode("xs")).count() == 1


def test_division_by_zero_semantics(spark):
    """Round 8: the engine session runs NON-ANSI (session.py — ANSI compiled
    every long add into overflow-checked addExact, +46% on Q1's scaled-long
    sums at sf1.0), so x/0 yields NULL — which is DuckDB's behavior, i.e.
    direct oracle parity without try_divide.  Engine queries still guarantee
    nonzero divisors where a NULL would propagate (Jaccard denominators ≥1,
    vector norms >0, weight sums >0).  try_divide stays the explicit form
    for code that must be ANSI-agnostic."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    # ANSI-off re-enables legacy sizeOfNull (size(NULL)=-1, diverging from
    # DuckDB len(NULL)=NULL) unless pinned — session.py pins it false.
    assert spark.conf.get("spark.sql.legacy.sizeOfNull") == "false"
    assert (
        spark.sql("select size(cast(null as array<int>)) as n").first()["n"]
        is None
    )
    df = spark.createDataFrame([(1.0, 0.0)], "a double, b double")
    assert df.select((F.col("a") / F.col("b")).alias("q")).first()["q"] is None
    assert df.select(F.try_divide("a", "b").alias("q")).first()["q"] is None


def test_dedup_exact_finds_injected_duplicates(spark, sf_dir):
    """SURVEY §7.4.6: sf0.01 documents have no natural text dups — verify
    dedup on self-unioned input where every text occurs twice."""
    from bigdatawork_spark.io import load

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    deduped = (
        doubled.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.min("doc_id").alias("keep"), F.count(F.lit(1)).alias("n"))
    )
    rows = deduped.collect()
    assert all(r["n"] >= 2 for r in rows)  # every text occurs ≥2×
    assert all(r["keep"] <= 1_000_000 for r in rows)  # keeps the original id


def test_hll_sketch_estimate_near_exact(spark, sf_dir):
    """agg_hll_sketch (hash-checked since r14 on exact counts + in-bound
    booleans): re-derive the bound independently — on THIS fixture the
    raw DataSketches estimates sit within 2% of exact (the key's own
    traveling band is the 5-sigma 8%: the r14 review measured healthy
    sketches at 2.5-3.4% error on unlucky cardinalities), the explicit
    hll_union_agg of per-group sketches equals the direct global sketch
    estimate EXACTLY (lossless register-wise-max merge — the two-level
    union contract the rollup form no longer spells in the key), and the
    key's own rows must agree."""
    from bigdatawork_spark.io import load
    from bigdatawork_spark.registry import QUERIES

    ev = load(spark, sf_dir, "events")
    exact_all = ev.select("user_id").distinct().count()
    exact_per = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    raw_per = {
        r["event_type"]: r["est"]
        for r in per.select(
            "event_type", F.hll_sketch_estimate("sk").alias("est")
        ).collect()
    }
    union_all = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0]["est"]
    raw_all = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    ).collect()[0]["est"]
    assert union_all == raw_all  # lossless merge: union ≡ direct sketch
    assert abs(raw_all - exact_all) <= max(2, 0.02 * exact_all)
    for et, n in exact_per.items():
        assert abs(raw_per[et] - n) <= max(2, 0.02 * n), (et, raw_per[et], n)
    rows = {
        r["event_type"]: r
        for r in QUERIES["agg_hll_sketch"](spark, sf_dir).collect()
    }
    assert rows["ALL"]["exact_users"] == exact_all
    assert all(r["est_ok"] for r in rows.values())
    for et, n in exact_per.items():
        assert rows[et]["exact_users"] == n


def test_deterministic_samplers_are_stable(spark, sf_dir):
    """Hash-based samplers must return the identical kept set on re-run
    (the whole point vs seeded RNG) and respect stratum proportions."""
    from bigdatawork_spark.registry import QUERIES

    a = sorted(r["doc_id"] for r in QUERIES["sample_hash_deterministic"](spark, sf_dir).collect())
    b = sorted(r["doc_id"] for r in QUERIES["sample_hash_deterministic"](spark, sf_dir).collect())
    assert a == b and len(a) > 0
    strat = QUERIES["sample_stratified"](spark, sf_dir).groupBy("lang").count().collect()
    # 10% of each stratum, ceil'd — every stratum represented
    assert all(r["count"] >= 1 for r in strat) and len(strat) == 5


def test_approx_percentile_bounds_error(spark, sf_dir):
    """agg_approx_percentile (hash-checked since r14 on its exact columns;
    VERDICT r13 item 3): the GK estimates themselves are still verified
    here by re-deriving the rank-error interval independently — with
    accuracy=1000 the rank error is ≤1/1000, so each estimate must land
    between the exact p±2% rank values, and the key's own *_in_bound
    booleans must agree (they are what the driver hash-checks)."""
    from bigdatawork_spark.io import load
    from bigdatawork_spark.registry import QUERIES

    li = load(spark, sf_dir, "lineitem")
    approx = {
        r["l_returnflag"]: r["ap"]
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice",
                F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
                F.lit(1000),
            ).alias("ap")
        )
        .collect()
    }
    exact = {
        r["l_returnflag"]: r["ex"]
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice",
                F.array(F.lit(0.48), F.lit(0.52), F.lit(0.88),
                        F.lit(0.92), F.lit(0.97), F.lit(1.0)),
            ).alias("ex")
        )
        .collect()
    }
    for flag, (p50, p90, p99) in approx.items():
        lo = exact[flag]
        assert lo[0] <= p50 <= lo[1], (flag, "p50", p50, lo[0], lo[1])
        assert lo[2] <= p90 <= lo[3], (flag, "p90", p90, lo[2], lo[3])
        assert lo[4] <= p99 <= lo[5], (flag, "p99", p99, lo[4], lo[5])
    out = QUERIES["agg_approx_percentile"](spark, sf_dir).collect()
    assert out and all(
        r["p50_in_bound"] and r["p90_in_bound"] and r["p99_in_bound"]
        for r in out
    )


def test_heavy_hitters_exactly_above_threshold(spark, sf_dir):
    """agg_heavy_hitters (hash-checked since r14; VERDICT r13 item 3):
    the two-pass sketch→exact-verify output must EQUAL the exact
    above-threshold frequency relation — the sketch's no-false-negative
    guarantee makes pass 2's candidate restriction lossless, and pass 2's
    exact filter drops the engine-specific false positives."""
    from bigdatawork_spark.io import load
    from bigdatawork_spark.registry import QUERIES

    ev = load(spark, sf_dir, "events")
    total = ev.count()
    truly_frequent = {
        r["event_type"]: r["count"]
        for r in ev.groupBy("event_type").count().collect()
        if r["count"] / total > 0.15
    }
    assert truly_frequent  # corpus has ~5 types at ~20% each
    got = {
        r["event_type"]: r["n"]
        for r in QUERIES["agg_heavy_hitters"](spark, sf_dir).collect()
    }
    assert got == truly_frequent


def test_kmeans_sse_monotone_and_covering(spark, sf_dir):
    """Lloyd's invariants for the k-means trainer (oracled as of r16, but
    the SSE trace stays engine-side): SSE is monotonically non-increasing
    across iterations (each of the two half-steps only ever lowers it;
    the 1e-12 scaled-integer centroid quantization perturbs means far
    below per-iteration improvements), every vector is assigned exactly
    once, and rerunning reproduces the identical assignment (exact
    integer sums + single IEEE ops make the loop deterministic)."""
    from bigdatawork_spark.io import load
    from bigdatawork_spark.operators.pipeline_ops import _kmeans

    assign, sse = _kmeans(spark, sf_dir, k=8, iters=4)
    assert all(b <= a * (1 + 1e-12) for a, b in zip(sse, sse[1:])), sse
    n_total = load(spark, sf_dir, "embeddings").count()
    assert assign.count() == n_total
    assert assign.select("vec_id").distinct().count() == n_total
    sizes1 = sorted(
        (r["cluster_id"], r["n"])
        for r in assign.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assign2, _ = _kmeans(spark, sf_dir, k=8, iters=4)
    sizes2 = sorted(
        (r["cluster_id"], r["n"])
        for r in assign2.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert sizes1 == sizes2


# --- ADVICE r04 hardening: loud failures and SQL-literal escaping ---


def test_sql_str_escapes_backslash_then_quote(spark):
    """BPE merge symbols are interpolated into Spark SQL string literals;
    quote-only escaping corrupted backslash-bearing tokens (ADVICE r04).
    Round-trip the nasty cases through an actual Spark literal."""
    from bigdatawork_spark.operators.corpus_ops import _sql_str

    for raw in ["a\\b", "it's", "\\'", "\\\\", "a'b\\c'd", "\\n", "tab\\there"]:
        got = spark.sql(f"select '{_sql_str(raw)}' as s").first()["s"]
        assert got == raw, (raw, got)


def test_sample_negative_pairs_rejects_gapped_ids(spark, tmp_path):
    """Gapped vec_id would silently drop negatives via the modular join;
    the operator must raise instead (ADVICE r04)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdatawork_spark.registry import QUERIES

    # vec_id 0,1,3 — gap at 2
    pq.write_table(
        pa.table({
            "vec_id": pa.array([0, 1, 3], pa.int64()),
            "embedding": pa.array([[0.1] * 4] * 3, pa.list_(pa.float32())),
            "label": pa.array([0, 1, 0], pa.int32()),
        }),
        str(tmp_path / "embeddings.parquet"),
    )
    with pytest.raises(Exception) as ei:
        QUERIES["sample_negative_pairs"](spark, str(tmp_path)).collect()
    assert "contiguous" in str(ei.value)


def test_sample_negative_pairs_rejects_duplicate_ids(spark, tmp_path):
    """Duplicate vec_ids can mask a gap from the count=max+1 check
    ([0,1,1,3]) — the distinct-count guard must catch it (r05 review)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdatawork_spark.registry import QUERIES

    pq.write_table(
        pa.table({
            "vec_id": pa.array([0, 1, 1, 3], pa.int64()),
            "embedding": pa.array([[0.1] * 4] * 4, pa.list_(pa.float32())),
            "label": pa.array([0, 1, 0, 1], pa.int32()),
        }),
        str(tmp_path / "embeddings.parquet"),
    )
    with pytest.raises(Exception) as ei:
        QUERIES["sample_negative_pairs"](spark, str(tmp_path)).collect()
    assert "contiguous" in str(ei.value)


def test_ks_test_drift_empty_side_raises(spark, tmp_path):
    """An empty doc_id-parity half must fail loudly, not emit null
    ks_stat (ADVICE r04)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdatawork_spark.registry import QUERIES

    # only even doc_ids -> side b empty
    pq.write_table(
        pa.table({
            "doc_id": pa.array([0, 2, 4], pa.int64()),
            "lang": pa.array(["en"] * 3),
            "source": pa.array(["web"] * 3),
            "n_chars": pa.array([10, 20, 30], pa.int64()),
            "text": pa.array(["aa", "bb", "cc"]),
        }),
        str(tmp_path / "documents.parquet"),
    )
    with pytest.raises(Exception) as ei:
        QUERIES["ks_test_drift"](spark, str(tmp_path)).collect()
    assert "empty sample side" in str(ei.value)


def _write_embeddings(tmp_path, ids, vecs, labels=None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels or [0] * len(ids), pa.int32()),
        }),
        str(tmp_path / "embeddings.parquet"),
    )


def test_sim_cosine_topk_empty_probe_set(spark, tmp_path):
    """No vec_id <= 5 in the corpus: the vectorized builder must return an
    empty frame (the expr form's behavior), not crash at construction
    (r05 review)."""
    from bigdatawork_spark.registry import QUERIES

    _write_embeddings(tmp_path, [10, 11, 12], [[0.1, 0.2], [0.3, 0.4], [0.5, 0.6]])
    out = QUERIES["sim_cosine_topk"](spark, str(tmp_path))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "probe_id", "neighbor_id", "cos_sim", "rn",
    ]


def test_sim_cosine_topk_zero_norm_fails_loudly_like_expr_twin(spark, tmp_path):
    """A zero-norm embedding makes cosine 0/0.  Under the r08 non-ANSI
    session 0/0 would yield a SILENT NULL (and numpy a silent NaN that
    Spark ranks GREATEST under cos DESC) — divergent, quiet corruption.
    Both implementations therefore carry explicit guards and must fail
    loudly on the degenerate input: the BLAS scorer raises ValueError,
    the expr twin folds an assert_true(norm > 0) into its denominator
    (r05 review + r08 ANSI flip; the engine invariant is norms > 0, see
    test_division_by_zero_semantics)."""
    from bigdatawork_spark.operators.llm_ops import _sim_cosine_topk_expr
    from bigdatawork_spark.registry import QUERIES

    ids = list(range(10))
    vecs = [[float(i + 1), float(2 * i + 1)] for i in range(9)]
    vecs.insert(3, [0.0, 0.0])  # vec_id 3 is the zero vector
    _write_embeddings(tmp_path, ids, vecs)
    with pytest.raises(Exception, match="zero-norm"):
        QUERIES["sim_cosine_topk"](spark, str(tmp_path)).collect()
    with pytest.raises(Exception, match="zero-norm"):
        _sim_cosine_topk_expr(spark, str(tmp_path)).collect()


def test_mixture_resample_keeps_full_smallest_source(spark, sf_dir):
    """keep_rate 1.0 must keep (essentially) ALL of the smallest source:
    the old hex threshold lpad-TRUNCATED floor(1.0*2^32)'s 9-char hex to
    '10000000', silently keeping ~6% (r05 review bug, mirrored in the
    oracle).  The fixed threshold 'g' sorts after every hex digit."""
    from bigdatawork_spark.registry import QUERIES

    rows = {r["source"]: r for r in QUERIES["mixture_resample"](spark, sf_dir).collect()}
    smallest = min(rows.values(), key=lambda r: r["n_before"])
    assert smallest["keep_rate"] == 1.0
    assert smallest["n_after"] == smallest["n_before"], (
        smallest["n_after"], smallest["n_before"]
    )


def test_cosine_probe_memo_invalidates_on_rewrite(spark, tmp_path):
    """Rewriting embeddings.parquet at the same path must refresh the
    memoized probe matrix (mtime-keyed), not serve stale probes
    (r05 review)."""
    import time as _time

    from bigdatawork_spark.registry import QUERIES

    ids = list(range(8))
    _write_embeddings(tmp_path, ids, [[float(i + 1), 1.0] for i in ids])
    first = QUERIES["sim_cosine_topk"](spark, str(tmp_path)).collect()
    assert len(first) > 0
    _time.sleep(0.05)  # distinct mtime
    # rewrite with NO probe ids: a stale memo would still return rows
    _write_embeddings(tmp_path, [10, 11], [[1.0, 2.0], [3.0, 4.0]])
    from bigdatawork_spark.io import drop_tables

    drop_tables(spark, str(tmp_path))  # drop the table-handle memo too
    second = QUERIES["sim_cosine_topk"](spark, str(tmp_path)).collect()
    assert second == []


def test_tfidf_fallback_matches_broadcast(spark, sf_dir, monkeypatch):
    """VERDICT r10 item 3: above the vocab broadcast cap, tfidf_keywords
    must auto-degrade to the distributed tf⋈df equi-join path (formerly a
    RuntimeError) — and the two paths must be result-identical: same
    rounding, same (score desc, word) tiebreak, same top-3 cut."""
    from bigdatawork_spark.registry import QUERIES

    fast = QUERIES["tfidf_keywords"](spark, sf_dir)
    fast_rows = sorted(map(tuple, fast.collect()))
    # a 1-entry cap is always exceeded → fallback path
    from bigdatawork_spark.operators import llm_ops

    monkeypatch.setattr(llm_ops, "TFIDF_VOCAB_CAP", 1)
    slow = QUERIES["tfidf_keywords"](spark, sf_dir)
    from bigdatawork_spark.plans.explain import plan_string

    plan = plan_string(slow)
    assert "MapInPandas" not in plan, "cap=1 must select the join path"
    assert "Window" in plan, plan
    slow_rows = sorted(map(tuple, slow.collect()))
    assert fast_rows == slow_rows
    assert [f.dataType for f in fast.schema.fields] == [
        f.dataType for f in slow.schema.fields
    ]


def test_heavy_hitters_null_group_kept(spark, tmp_path):
    """r14 review catch, pinned end-to-end: a NULL event_type group above
    the support threshold must survive pass 2 — `x IN (NULL, ...)`
    evaluates to NULL and used to drop the whole group; the filter now
    carries an explicit isNull() arm."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdatawork_spark.registry import ORACLES, QUERIES

    rows = [None] * 5 + ["click"] * 8 + ["view"] * 4 + ["x"] * 3
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "event_type": pa.array(rows, pa.string()),
            "user_id": pa.array([i % 7 for i in range(len(rows))], pa.int64()),
            "value": pa.array([float(i) for i in range(len(rows))]),
            "ts": pa.array(
                [pd.Timestamp("2024-01-01 00:00:00")] * len(rows),
                pa.timestamp("us"),
            ),
        }
    )
    d = tmp_path / "nullhh"
    d.mkdir()
    pq.write_table(tbl, f"{d}/events.parquet")
    got = {
        r["event_type"]: r["n"]
        for r in QUERIES["agg_heavy_hitters"](spark, str(d)).collect()
    }
    # NULL (25%), click (40%), view (20%) all exceed 15%; x (15%) does not
    assert got == {None: 5, "click": 8, "view": 4}
    # and the DuckDB oracle agrees on the same corpus
    with oracle_con(d) as con:
        oracle = {
            r[0]: r[1]
            for r in con.execute(ORACLES["agg_heavy_hitters"]).fetchall()
        }
    assert oracle == got
