"""Engine-side references for the keys registered in functions/scalar.py."""

from __future__ import annotations

from collections import Counter

import pandas as pd

from bigdatawork_spark.registry import QUERIES


def test_crosstab_vs_python_counter(spark, sf_dir):
    """df.stat.crosstab's pair counts ≡ a plain Counter over the rows."""
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    c = Counter(zip(li["l_returnflag"], li["l_linestatus"]))
    flags = sorted(set(li["l_returnflag"]))
    rows = QUERIES["stat_crosstab"](spark, sf_dir).collect()
    assert [r["flag"] for r in rows] == flags
    for r in rows:
        assert r["f_cnt"] == c.get((r["flag"], "F"), 0), r
        assert r["o_cnt"] == c.get((r["flag"], "O"), 0), r
