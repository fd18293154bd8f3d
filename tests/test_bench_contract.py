"""bench.py module contract — no Spark session needed.

The sf1.0 interleaved phase REQUIRES every headline key to have a DuckDB
oracle (bench._sf1_interleaved returns None otherwise and the artifact
silently loses its ratio_vs_duckdb — the gate number).  Pin that, the
key registrations, and the median helper, so a key rename or an
oracle-less headline swap fails here instead of producing a
ratio-less BENCH_r{N}.json."""

from __future__ import annotations

import bench
from bigdatawork_spark.registry import ORACLES, QUERIES


def test_headline_keys_registered_and_oracled():
    for k in bench.HEADLINE:
        assert k in QUERIES, f"headline key {k} not registered"
        assert ORACLES.get(k), (
            f"headline key {k} has no oracle — the sf1.0 interleaved "
            f"phase would degrade to spark-only and drop the gate ratio"
        )


def test_extended_keys_registered():
    missing = [k for k in bench.EXTENDED if k not in QUERIES]
    assert not missing, missing


def test_headline_set_frozen():
    """BENCH_r{N}.json comparability across rounds depends on this exact
    list (bench.py comment: FROZEN)."""
    assert bench.HEADLINE == [
        "agg_groupby_q1", "limit_topk_q3", "join_multiway_q5",
        "win_row_number", "dedup_exact", "join_inner_shuffle",
        "win_time_tumbling", "wordcount", "sim_cosine_topk",
        "tfidf_keywords",
    ]


def test_median_helper():
    assert bench._median([3.0]) == 3.0
    assert bench._median([4.0, 1.0, 3.0]) == 3.0
    assert bench._median([4.0, 1.0]) == 2.5
    assert bench._median([1.0, 9.0, 2.0, 8.0]) == 5.0


def test_compact_summary_line_fits_driver_tail():
    """VERDICT r12 item 2: the driver records only the last ~2000 chars of
    bench stdout; the compact FINAL line must always fit and parse, with
    both regimes' ratios surviving even when per-query maps are dropped."""
    import json

    qmap = {f"query_{i:02d}": 0.1234 for i in range(10)}
    payload = {
        "metric": "headline_batch_wall_clock",
        "value": 2.64,
        "sf": 0.1,
        "queries": qmap,
        "sf1_0": {
            "passes": 5,
            "ratio_vs_duckdb": 1.304,
            "ratio_vs_duckdb_allruns": 1.302,
            "pass_ratios": [1.5, 1.19, 1.3, 1.32, 1.28],
            "pass_ratios_allruns": [1.52, 1.19, 1.3, 1.31, 1.29],
            "q1_layout_symmetric": True,
            "spark_sec": 3.1,
            "duckdb_sec": 2.4,
            "spark_queries": qmap,
            "duckdb_queries": qmap,
            "protocol": "x" * 3000,  # prose must never leak into the line
        },
    }
    payload["passes"] = 3
    payload["pass_totals"] = [2.64, 2.58, 2.71]
    line = bench._compact_summary_line(payload)
    assert len(line) <= 1900
    d = json.loads(line)["bench_summary"]
    assert d["headline_sec"] == 2.64 and d["sf"] == 0.1
    # VERDICT r15 item 4: the sf0.1 headline is a median of full batch
    # passes; the compact line must carry the pass evidence
    assert d["passes"] == 3
    assert d["pass_totals"] == [2.64, 2.58, 2.71]
    assert d["sf1_0"]["ratio_vs_duckdb"] == 1.304
    assert d["sf1_0"]["ratio_vs_duckdb_allruns"] == 1.302
    assert "protocol" not in d["sf1_0"]

    # pathological: enormous per-query maps still cannot sink the ratios
    big = {f"very_long_query_name_{i:04d}": 0.123456 for i in range(200)}
    payload["queries"] = big
    payload["sf1_0"]["spark_queries"] = big
    payload["sf1_0"]["duckdb_queries"] = big
    line = bench._compact_summary_line(payload)
    assert len(line) <= 1900
    d = json.loads(line)["bench_summary"]
    assert d["sf1_0"]["ratio_vs_duckdb"] == 1.304


def test_duckdb_q1_warm_layout_is_row_identical():
    """ADVICE r12: the symmetric Q1 (pre-materialized generated columns in
    a DuckDB native table) must be ROW-IDENTICAL to the contract oracle —
    the helper itself enforces this with an untimed hash-fold check and
    returns None on mismatch, so a non-None return IS the proof.  Run it
    against real sf0.01 parquet."""
    from tests.compare import oracle_con
    from tests.conftest import SF_DIR

    with oracle_con(SF_DIR) as con:
        sym, reason = bench._duckdb_q1_warm_layout(con, data_dir=SF_DIR)
        assert sym is not None, f"symmetric Q1 downgraded: {reason}"
        assert reason is None
        assert "lineitem_bench" in sym and "__q1_qty" in sym


def test_duckdb_q1_warm_layout_records_downgrade_reason():
    """ADVICE r13: a failure inside the warm-layout build must surface its
    message in the returned payload, not silently downgrade — here a
    nonexistent parquet path."""
    import duckdb

    con = duckdb.connect()
    try:
        sym, reason = bench._duckdb_q1_warm_layout(
            con, data_dir="/nonexistent/sfX"
        )
        assert sym is None
        assert reason and "Error" in reason
    finally:
        con.close()


def test_recorded_sf10_band_summary(tmp_path):
    """VERDICT r13 item 2: the sf10 decade band rides the bench JSON line
    as a RECORDED block — summarized from DECADE_SF10.json with the band
    of per-run ratios, a median, and the latest run's per-query maps."""
    import json

    band = {
        "runs": [
            {"ratio_vs_duckdb": 1.1, "ratio_vs_duckdb_allruns": 1.05,
             "spark_sec": 9.5, "duckdb_sec": 8.6,
             "spark_queries": {"q1": 0.9}, "duckdb_queries": {"q1": 0.1},
             "rows": {"lineitem": 60000000}},
            {"ratio_vs_duckdb": 1.0, "ratio_vs_duckdb_allruns": 0.99,
             "spark_sec": 9.4, "duckdb_sec": 9.4,
             "spark_queries": {"q1": 0.88}, "duckdb_queries": {"q1": 0.11},
             "rows": {"lineitem": 60000000}},
            {"ratio_vs_duckdb": 1.2, "ratio_vs_duckdb_allruns": 1.15,
             "spark_sec": 9.6, "duckdb_sec": 8.0,
             "spark_queries": {"q1": 0.91}, "duckdb_queries": {"q1": 0.09},
             "rows": {"lineitem": 60000000}},
        ]
    }
    p = tmp_path / "DECADE_SF10.json"
    p.write_text(json.dumps(band))
    out = bench._recorded_sf10(str(p))
    assert out["recorded"] is True and out["n_runs"] == 3
    assert out["ratio_vs_duckdb_band"] == [1.1, 1.0, 1.2]
    assert out["ratio_vs_duckdb"] == 1.1  # median of the band
    assert out["spark_queries"] == {"q1": 0.91}  # latest run's map
    assert out["lineitem_rows"] == 60000000
    assert "RECORDED" in out["protocol"]
    # absent file → None (bench omits the block)
    assert bench._recorded_sf10(str(tmp_path / "nope.json")) is None

    # compact line carries the scalars and drops the block only under
    # extreme pressure
    payload = {
        "metric": "headline_batch_wall_clock", "value": 2.6, "sf": 0.1,
        "queries": {}, "sf1_0": {"ratio_vs_duckdb": 1.2}, "sf10": out,
    }
    import json as _json

    line = bench._compact_summary_line(payload)
    d = _json.loads(line)["bench_summary"]
    assert d["sf10"]["ratio_vs_duckdb"] == 1.1
    assert d["sf10"]["ratio_vs_duckdb_band"] == [1.1, 1.0, 1.2]
    assert len(line) <= 1900


def test_recorded_sf10_per_query_primary_and_trimmed(tmp_path):
    """VERDICT r14 item 3: the PRIMARY sf10 statistic is per-query medians
    across ALL recorded runs (the stable structure), with the batch
    pass-ratio spread stated and >=5-pass trimmed medians surfaced."""
    import json

    band = {
        "runs": [
            {"ratio_vs_duckdb": 1.1, "pass_ratios": [0.5, 1.1, 3.0],
             "spark_sec": 9.5, "duckdb_sec": 8.6,
             "spark_queries": {"q1": 0.9, "tfidf": 2.0},
             "duckdb_queries": {"q1": 0.1, "tfidf": 5.0},
             "rows": {"lineitem": 60000000}},
            {"ratio_vs_duckdb": 0.8, "pass_ratios": [0.3, 0.8, 1.2],
             "ratio_vs_duckdb_trimmed": 0.77,
             "spark_sec": 9.4, "duckdb_sec": 11.0,
             "spark_queries": {"q1": 0.8, "tfidf": 2.4},
             "duckdb_queries": {"q1": 0.12, "tfidf": 4.8},
             "rows": {"lineitem": 60000000}},
        ]
    }
    p = tmp_path / "DECADE_SF10.json"
    p.write_text(json.dumps(band))
    out = bench._recorded_sf10(str(p))
    pq = out["per_query_median_across_runs"]
    # even-count median = mean of middle two (bench._median)
    assert pq["q1"]["spark"] == 0.85 and pq["q1"]["duckdb"] == 0.11
    assert pq["tfidf"]["ratio"] == round(2.2 / 4.9, 3)
    assert out["spark_sec_median_across_runs"] == round(0.85 + 2.2, 4)
    assert out["pass_ratio_spread"] == [0.3, 3.0]
    assert out["ratio_vs_duckdb_trimmed_band"] == [0.77]
    assert "per_query_median_across_runs" in out["protocol"]


def test_recorded_sf10_recent3_current_shape_window(tmp_path):
    """r16: the record accumulates runs across plan-shape changes, so the
    all-runs median lags an adopted layout; per_query_median_recent3 is
    the trailing-3 current-shape companion (observed motivator: tumbling's
    hour-projection reads 0.25 s in current-shape runs while the all-runs
    median still reads the pre-projection 0.42 s)."""
    import json

    def run(spark_q1):
        return {"ratio_vs_duckdb": 1.0, "pass_ratios": [1.0],
                "spark_sec": 9.0, "duckdb_sec": 9.0,
                "spark_queries": {"q1": spark_q1},
                "duckdb_queries": {"q1": 0.1},
                "rows": {"lineitem": 60000000}}

    # 4 old-shape runs at 0.42s, 3 current-shape runs at 0.25s: the
    # all-runs median still reads old (7 values, median = 0.42), while
    # the trailing-3 window reads the adopted shape.
    band = {"runs": [run(0.42)] * 4 + [run(0.25)] * 3}
    p = tmp_path / "DECADE_SF10.json"
    p.write_text(json.dumps(band))
    out = bench._recorded_sf10(str(p))
    assert out["per_query_median_across_runs"]["q1"]["spark"] == 0.42
    assert out["per_query_median_recent3"]["q1"]["spark"] == 0.25
    assert "per_query_median_recent3" in out["protocol"]
