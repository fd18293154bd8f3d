"""Engine-side references for the keys registered in operators/analytics.py:
basket co-occurrence pairs and the winsorized mean, each against a plain
Python walk on hypothesis-generated tmp corpora."""

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


_baskets = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=6),   # l_orderkey
        st.integers(min_value=1, max_value=8),   # l_partkey
    ),
    min_size=0,
    max_size=40,
)


@given(items=_baskets)
@settings(**_SETTINGS)
def test_random_basket_pairs_vs_itertools_walk(spark, tmp_path_factory, items):
    """Co-occurrence pairs vs an itertools walk: duplicate (order, part)
    lines must collapse BEFORE pairing, and the >=2 support cut and
    a<b orientation are recomputed independently."""
    import itertools

    d = tmp_path_factory.mktemp("bk")
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array([i[0] for i in items], pa.int64()),
            "l_partkey": pa.array([i[1] for i in items], pa.int64()),
        }),
        str(d / "lineitem.parquet"),
    )
    got = {
        (r.part_a, r.part_b): r.n_orders
        for r in QUERIES["basket_pairs"](spark, str(d)).collect()
    }
    orders: dict[int, set[int]] = {}
    for o, p in set(items):
        orders.setdefault(o, set()).add(p)
    counts: dict[tuple[int, int], int] = {}
    for parts in orders.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    want = {k: v for k, v in counts.items() if v >= 2}
    assert got == want, f"items={items!r}"


_win_vals = st.lists(
    st.tuples(
        st.sampled_from(["click", "view"]),
        st.integers(min_value=-500, max_value=5000),  # cents incl. outliers
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_win_vals)
@settings(**_SETTINGS)
def test_random_winsorized_mean_vs_walk(spark, tmp_path_factory, rows):
    """Winsorized mean vs a walk with explicit (n-1)q percentile
    interpolation and HALF_UP 4dp clipping (the decimal cast inside the
    sum): tiny groups make P1/P99 land BETWEEN points, exercising the
    interpolation on both sides."""
    import datetime
    from decimal import ROUND_HALF_UP, Decimal

    d = tmp_path_factory.mktemp("wz")
    base = datetime.datetime(2024, 3, 1)
    evs = [
        (i, 1, base + datetime.timedelta(minutes=i), et, c / 100.0)
        for i, (et, c) in enumerate(rows)
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
        r.event_type: (r.n_events, r.winsorized_mean)
        for r in QUERIES["stats_winsorized"](spark, str(d)).collect()
    }

    def q_cont(s, q):
        import math
        pos = (len(s) - 1) * q
        lo = int(math.floor(pos))
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (pos - lo) * (s[hi] - s[lo])

    by_type: dict[str, list[float]] = {}
    for _, _, _, et, v in evs:
        by_type.setdefault(et, []).append(v)
    want = {}
    for et, vals in by_type.items():
        s = sorted(vals)
        p1, p99 = q_cont(s, 0.01), q_cont(s, 0.99)
        total = sum(
            Decimal(repr(min(max(v, p1), p99))).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
            for v in vals
        )
        want[et] = (len(vals), round(float(total) / len(vals), 6))
    assert set(got) == set(want), f"rows={rows!r}"
    for et, (n, m) in want.items():
        gn, gm = got[et]
        assert gn == n, (et, rows)
        assert abs(gm - m) <= 2.1e-6, (et, gm, m)
