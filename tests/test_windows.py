"""Engine-side references for the keys registered in operators/windows.py:
period-over-period lags on gapped days and the rolling median's frame
bounds, against plain Python walks."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bigdatawork_spark.registry import QUERIES

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


_days = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),      # day offset
        st.sampled_from(["click", "view"]),
        st.integers(min_value=1, max_value=2000),   # cents (nonzero days)
    ),
    min_size=1,
    max_size=30,
)


@given(rows=_days)
@settings(**_SETTINGS)
def test_random_period_over_period_vs_walk(spark, tmp_path_factory, rows):
    """Daily lag deltas vs a walk: missing days make lag jump across
    gaps (it is a ROW lag over present days, not a calendar lag), and
    the first present day NULLs both deltas."""
    import datetime

    d = tmp_path_factory.mktemp("pp")
    base = datetime.datetime(2024, 3, 1)
    evs = [
        (i, 1, base + datetime.timedelta(days=dd, minutes=i % 60), et, c / 100.0)
        for i, (dd, et, c) in enumerate(rows)
    ]
    pq.write_table(
        pa.table({
            "event_id": pa.array([e[0] for e in evs], pa.int64()),
            "ts": pa.array([e[2] for e in evs], pa.timestamp("us")),
            "user_id": pa.array([e[1] for e in evs], pa.int64()),
            "event_type": pa.array([e[3] for e in evs], pa.string()),
            "value": pa.array([e[4] for e in evs], pa.float64()),
            "props": pa.array(["{}"] * len(evs), pa.string()),
        }),
        str(d / "events.parquet"),
    )
    got = {
        (r.event_type, r.day): (r.revenue, r.abs_change, r.pct_change)
        for r in QUERIES["ts_period_over_period"](spark, str(d)).collect()
    }
    daily: dict[tuple[str, str], int] = {}
    for _, _, ts, et, v in evs:
        k = (et, str(ts.date()))
        daily[k] = daily.get(k, 0) + round(v * 100)
    want = {}
    by_type: dict[str, list[str]] = {}
    for et, day in sorted(daily):
        by_type.setdefault(et, []).append(day)
    for et, days in by_type.items():
        prev = None
        for day in days:
            rev = daily[(et, day)] / 100.0
            if prev is None:
                want[(et, day)] = (rev, None, None)
            else:
                want[(et, day)] = (
                    rev,
                    round(rev - prev, 6),
                    round((rev - prev) / prev * 100.0, 6),
                )
            prev = rev
    assert set(got) == set(want), f"rows={rows!r}"
    for k, (rev, ac, pc) in want.items():
        grev, gac, gpc = got[k]
        assert abs(grev - rev) <= 1e-9, (k, grev, rev)
        for g, w in ((gac, ac), (gpc, pc)):
            if w is None:
                assert g is None, (k, g)
            else:
                assert g is not None and abs(g - w) <= 2.1e-6, (k, g, w)


def test_rolling_median_within_frame_bounds(spark, sf_dir):
    rows = QUERIES["win_rolling_median"](spark, sf_dir).collect()
    assert rows
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, seq in by_user.items():
        vals = [r["value"] for r in seq]
        # first row of each user: frame is just itself
        assert seq[0]["rolling_median"] == seq[0]["value"]
        for i, r in enumerate(seq):
            frame = vals[max(0, i - 4) : i + 1]
            assert min(frame) - 1e-9 <= r["rolling_median"] <= max(frame) + 1e-9
