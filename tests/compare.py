"""The cross-engine differential step of the tests, in one place: an
oracle connection over a fixture dir, and the order-insensitive compare
mirroring the driver's row-count + schema + value-hash check
(__spark_entry__.py docstring).

Values are canonicalized to strings (floats exactly — queries are required
to round/exact-sum on both sides per SURVEY.md §5.3), rows sorted, then
compared.  On mismatch the first differing rows are shown.
"""

from __future__ import annotations

import math
import os
from contextlib import contextmanager
from datetime import date, datetime
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

from bigdatawork_spark.registry import ORACLES, QUERIES


@contextmanager
def oracle_con(d):
    """A DuckDB connection with one view per ``<t>.parquet`` in fixture dir
    ``d``, named ``<t>`` — the tables an oracle SQL reads.  Closed on exit."""
    con = duckdb.connect()
    try:
        for p in sorted(Path(d).glob("*.parquet")):
            con.execute(
                f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')"
            )
        yield con
    finally:
        con.close()


def assert_key_matches(spark, con, key: str, d, label: str | None = None):
    """Key ``key`` run by Spark over fixture dir ``d`` equals its oracle SQL
    run on ``con``; returns the Spark frame."""
    spark_pd = QUERIES[key](spark, os.fspath(d)).toPandas()
    assert_frames_match(spark_pd, con.execute(ORACLES[key]).df(), label or key)
    return spark_pd


def _canon_value(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "∅"
        if f == 0.0:
            f = 0.0  # normalize -0.0
        return repr(f)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, pd.Timestamp):
        if v is pd.NaT:
            return "∅"
        return v.isoformat()
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_value(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    if v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    return str(v)


def canon_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon_value(v) for v in row))
    out.sort()
    return out


def assert_frames_match(spark_pd: pd.DataFrame, oracle_pd: pd.DataFrame, key: str):
    assert sorted(spark_pd.columns) == sorted(oracle_pd.columns), (
        f"{key}: column mismatch spark={sorted(spark_pd.columns)} "
        f"oracle={sorted(oracle_pd.columns)}"
    )
    assert len(spark_pd) == len(oracle_pd), (
        f"{key}: row count spark={len(spark_pd)} oracle={len(oracle_pd)}"
    )
    s_rows = canon_rows(spark_pd)
    o_rows = canon_rows(oracle_pd)
    if s_rows != o_rows:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
        ][:5]
        cols = sorted(spark_pd.columns)
        msg = [f"{key}: value mismatch on {len(diffs)}+ sorted rows; cols={cols}"]
        for i, a, b in diffs:
            msg.append(f"  row {i} spark ={a}")
            msg.append(f"  row {i} oracle={b}")
        raise AssertionError("\n".join(msg))
