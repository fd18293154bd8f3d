"""Adversarial edge-corpus differential, events family: timestamp ties
on exact window boundaries, NULL values, NaN and ±inf, extreme
magnitudes, an empty event_type, a constant-valued group (the r12
z-score regression shape), and duplicated values.

Two corpora:

* the FULL adversarial corpus (NaN/±inf included) for the keys whose
  arithmetic is IEEE-double end-to-end — builder and oracle must agree
  exactly as the driver requires at sf0.01;
* a FINITE variant (same rows, the NaN/±inf/NULL values replaced by
  finite doubles; ties and boundaries preserved) for the decimal-
  exact-sum family.  Those ops cast per-row values to DECIMAL before
  summing (the repo's order-independence discipline), which ASSUMES
  FINITE INPUTS: DuckDB raises on CAST(inf AS DECIMAL) while Spark's
  non-ANSI cast nulls it — a structural engine divergence, so the
  finite-input assumption is the documented contract (screen with
  dq_rule_checks-style predicates upstream at 100 TB), and this file
  pins agreement everywhere inside it."""

from __future__ import annotations

import pandas as pd
import pytest

from bigdatawork_spark.registry import ORACLES

from .compare import assert_key_matches, oracle_con

_TS0 = pd.Timestamp("2024-03-01 00:00:00")


def _rows(finite: bool):
    nan = 7.5 if finite else float("nan")
    pinf = 9.25 if finite else float("inf")
    ninf = -9.25 if finite else float("-inf")
    nullv = 4.5 if finite else None
    big, nbig = (1e6, -1e6) if finite else (1e300, -1e300)
    rows = [
        # user 1: two events at the SAME ts, on an exact hour boundary
        (1, _TS0, 1, "click", 1.5, '{"k": 1}'),
        (2, _TS0, 1, "click", 2.5, '{"k": 2}'),
        # user 2: single event at an exact 90-min offset
        (3, _TS0 + pd.Timedelta("90min"), 2, "view", nullv, '{"k": 3}'),
        # user 3: the non-finite trio
        (4, _TS0 + pd.Timedelta("1h"), 3, "view", nan, '{"k": 4}'),
        (5, _TS0 + pd.Timedelta("2h"), 3, "view", pinf, '{"k": 5}'),
        (6, _TS0 + pd.Timedelta("3h"), 3, "view", ninf, '{"k": 6}'),
        # user 4: extreme magnitudes
        (7, _TS0 + pd.Timedelta("4h"), 4, "purchase", big, '{"k": 7}'),
        (8, _TS0 + pd.Timedelta("5h"), 4, "purchase", nbig, '{"k": 8}'),
        # user 5: empty event_type, exact 30-min boundary
        (9, _TS0 + pd.Timedelta("30min"), 5, "", 0.0, '{"k": 9}'),
        # user 7: value ties including negatives and zero
        (30, _TS0 + pd.Timedelta("10min"), 7, "error", -1.0, "{}"),
        (31, _TS0 + pd.Timedelta("20min"), 7, "error", -1.0, "{}"),
        (32, _TS0 + pd.Timedelta("40min"), 7, "error", 0.0, "{}"),
    ]
    # user 6: constant-valued group (std = 0 — the r12 z-score shape)
    rows += [
        (10 + i, _TS0 + pd.Timedelta(minutes=7 * i), 6, "signup", 3.25, '{"k": 0}')
        for i in range(8)
    ]
    return rows


# IEEE-double-end-to-end keys: agree on the FULL corpus, NaN/inf included
# (anomaly_zscore belongs to the decimal-sum finite-contract family below)
FULL_KEYS = [
    "agg_mode",
    "win_time_tumbling",
    "win_time_sliding",
    "win_time_session",
    "event_transitions",
    "session_paths",
    "dedup_latest_by_key",
    "win_gaps_islands",
    "dq_skew_profile",
    "agg_bitmap_distinct",
    "funnel_conversion",
    "retention_cohort",
    "ab_test_lift",
]

# finite-input-contract keys: the decimal-exact-sum family (DuckDB
# raises on CAST(inf AS DECIMAL)) plus the robust-stats pair whose
# engines genuinely disagree on non-finite semantics — percentile/median
# over a set containing NaN orders NaN differently (ts_outlier_mad:
# Spark med=inf/mad=NULL vs DuckDB med=-inf/mad=inf on the same group),
# and STDDEV_SAMP over ±inf raises in DuckDB while Spark yields NaN
# (win_moving_zscore).  Screen non-finite values upstream
# (dq_rule_checks-style) before these ops at 100 TB.
FINITE_KEYS = [
    "anomaly_zscore",
    "ts_seasonal_decompose",
    "ts_hypertable_rollup",
    "ts_time_weighted_avg",
    "ts_resample_ffill",
    "ts_period_over_period",
    "stats_winsorized",
    "ts_outlier_mad",
    "win_moving_zscore",
]

# the decimal subfamily's loud-failure canary targets (the robust-stats
# pair breaks differently: MAD diverges in VALUES, zscore raises)
CANARY_KEYS = ["anomaly_zscore", "ts_seasonal_decompose", "ts_hypertable_rollup"]


def _write(tmp_path_factory, finite: bool) -> str:
    d = tmp_path_factory.mktemp(f"edge_events_{'fin' if finite else 'full'}")
    # Write through pyarrow with an explicit float64 array: pandas'
    # to_parquet masks float('nan') as parquet NULL (NaN ≡ missing in
    # pandas), which made the advertised NaN coverage vacuous — the NaN
    # row and the NULL row were indistinguishable (r13 second review).
    # pa.array from python scalars keeps NaN as a VALUE and None as null.
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = _rows(finite)
    cols = list(zip(*rows))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], type=pa.int64()),
            "ts": pa.array(list(cols[1]), type=pa.timestamp("us")),
            "user_id": pa.array(cols[2], type=pa.int64()),
            "event_type": pa.array(cols[3], type=pa.string()),
            "value": pa.array(cols[4], type=pa.float64()),
            "props": pa.array(cols[5], type=pa.string()),
        }
    )
    assert finite or table["value"].null_count == 1  # only the true NULL
    pq.write_table(table, f"{d}/events.parquet")
    return str(d)


@pytest.fixture(scope="module")
def full_dir(tmp_path_factory):
    return _write(tmp_path_factory, finite=False)


@pytest.fixture(scope="module")
def finite_dir(tmp_path_factory):
    return _write(tmp_path_factory, finite=True)


@pytest.fixture(scope="module")
def full_duck(full_dir):
    with oracle_con(full_dir) as con:
        yield con


@pytest.fixture(scope="module")
def finite_duck(finite_dir):
    with oracle_con(finite_dir) as con:
        yield con


@pytest.mark.parametrize("key", FULL_KEYS)
def test_full_adversarial_agree(key, spark, full_dir, full_duck):
    assert_key_matches(spark, full_duck, key, full_dir, f"edge-events:{key}")


@pytest.mark.parametrize("key", FINITE_KEYS)
def test_finite_contract_agree(key, spark, finite_dir, finite_duck):
    assert_key_matches(spark, finite_duck, key, finite_dir, f"edge-events-finite:{key}")


@pytest.mark.parametrize("key", CANARY_KEYS)
def test_nonfinite_is_a_loud_contract_break(key, full_dir, full_duck):
    """The finite-input assumption must fail LOUDLY on the oracle side
    (DuckDB raises on CAST(inf AS DECIMAL)) rather than silently agree —
    if this starts passing, the decimal discipline changed and the
    contract note above needs revisiting."""
    with pytest.raises(Exception, match="[Cc]ast|[Cc]onversion"):
        full_duck.execute(ORACLES[key]).df()
