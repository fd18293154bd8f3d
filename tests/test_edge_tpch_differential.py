"""Adversarial edge-corpus differential, relational family: negative
extended prices, a 100% discount, zero quantity/price lines, exact
duplicate line values, boundary ship dates (exactly on the Q1/Q6
cutoffs), an order with no lineitems, and a ~1e9 price — through the
lineitem/orders keys that run on those two tables alone.  These shapes
are absent from the well-formed sf0.01 TPC-H-ish fixtures, so the
driver gate never exercises them; the decimal/scaled-long sum
disciplines must hold for negative and mixed-sign values too."""

from __future__ import annotations

import pandas as pd
import pytest

from .compare import assert_key_matches, oracle_con

EDGE_KEYS = [
    "agg_groupby_q1",
    "agg_global",
    "agg_stats",
    "agg_histogram",
    "agg_median_percentile",
    "q6_forecast_revenue",
    "q12_late_lines_priority",
    "stat_crosstab",
    "sort_multi",
    "distinct_rows",
    "quantile_bin_assign",
    "incremental_join_maintenance",
    "global_row_index",
    "corr_matrix",
]

_TS = pd.Timestamp


@pytest.fixture(scope="module")
def tpch_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("edge_tpch")
    li = pd.DataFrame(
        [
            (1, 1, 1, 1, 17.0, 1000.25, 0.05, 0.02, "N", "O", _TS("1996-01-01")),
            (1, 2, 2, 2, 0.0, 0.0, 0.0, 0.0, "N", "O", _TS("1996-01-01")),
            (2, 1, 1, 1, 5.0, -500.50, 0.10, 0.08, "R", "F", _TS("1995-12-31")),
            (2, 1, 1, 2, 5.0, 999999999.99, 1.0, 0.0, "A", "F", _TS("1994-06-15")),
            (3, 3, 3, 1, 1.0, 10.10, 0.5, 0.5, "N", "O", _TS("1997-03-01")),
            (3, 3, 3, 2, 1.0, 10.10, 0.5, 0.5, "N", "O", _TS("1997-03-01")),
            (4, 2, 2, 1, 50.0, 49999.99, 0.07, 0.03, "R", "F", _TS("1993-01-01")),
        ],
        columns=[
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        ],
    )
    li["l_linenumber"] = li["l_linenumber"].astype("int32")
    # Spark cannot read pandas' default TIMESTAMP(NANOS) parquet type
    li.to_parquet(
        f"{d}/lineitem.parquet",
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    orders = pd.DataFrame(
        [
            (1, 10, "O", 1000.25, _TS("1996-01-01"), "1-URGENT", 0),
            (2, 11, "F", 499.50, _TS("1995-12-30"), "5-LOW", 0),
            (3, 10, "O", 20.20, _TS("1997-02-27"), "3-MEDIUM", 0),
            (4, 12, "F", 49999.99, _TS("1992-12-30"), "2-HIGH", 0),
            (5, 13, "O", 1.0, _TS("1998-01-01"), "4-NOT SPECIFIED", 0),
        ],
        columns=[
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority", "o_shippriority",
        ],
    )
    orders.to_parquet(
        f"{d}/orders.parquet",
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    return str(d)


@pytest.fixture(scope="module")
def tpch_duck(tpch_dir):
    with oracle_con(tpch_dir) as con:
        yield con


@pytest.mark.parametrize("key", EDGE_KEYS)
def test_edge_tpch_engines_agree(key, spark, tpch_dir, tpch_duck):
    assert_key_matches(spark, tpch_duck, key, tpch_dir, f"edge-tpch:{key}")
