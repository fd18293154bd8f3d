"""Engine-side references for the keys registered in operators/stats_ops.py:
seasonal decomposition, LTTB downsampling, the A/B z-test, quantile bins
(exact and approx), the correlation matrix, the Pareto skyline and the KS
drift test, each recomputed in plain Python — on the sf0.01 parquet or on
hypothesis-generated tmp corpora that reach ties, empty groups and
boundary values the fixed corpus never does."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bigdatawork_spark.operators.stats_ops import (
    _LTTB_BUCKETS,
    quantile_bin_assign_approx,
)
from bigdatawork_spark.registry import QUERIES

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _read(sf_dir: str, table: str) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/{table}.parquet")


def test_seasonal_decompose_vs_python_walk(spark, sf_dir):
    """Per-(event_type, hour) seasonal mean and residual RMS recomputed
    with a two-pass Python walk over the same rows."""
    ev = _read(sf_dir, "events")
    sums: dict[tuple, list] = defaultdict(lambda: [0.0, 0])
    for t, ts, v in zip(ev["event_type"], ev["ts"], ev["value"]):
        s = sums[(t, ts.hour)]
        s[0] += v
        s[1] += 1
    means = {k: s[0] / s[1] for k, s in sums.items()}
    rss: dict[tuple, float] = defaultdict(float)
    for t, ts, v in zip(ev["event_type"], ev["ts"], ev["value"]):
        k = (t, ts.hour)
        rss[k] += (v - means[k]) ** 2
    rows = QUERIES["ts_seasonal_decompose"](spark, sf_dir).collect()
    assert len(rows) == len(means)
    for r in rows:
        k = (r["event_type"], r["hr"])
        assert r["n_events"] == sums[k][1], k
        assert abs(r["seasonal_mean"] - means[k]) < 2e-6, (k, r["seasonal_mean"], means[k])
        ref_rms = math.sqrt(rss[k] / sums[k][1])
        assert abs(r["resid_rms"] - ref_rms) < 2e-6, (k, r["resid_rms"], ref_rms)


def _lttb_reference(ev: pd.DataFrame, buckets: int = 20):
    """From-scratch LTTB-mean: per series, ntile buckets over the
    (ts, event_id) total order, neighbor-bucket mean anchors, max-area
    pick (edge buckets keep their first point)."""
    picked = {}
    for etype, g in ev.groupby("event_type"):
        pts = sorted(
            zip(g["ts"], g["event_id"], g["value"]), key=lambda p: (p[0], p[1])
        )
        n = len(pts)
        # ntile: first (n % buckets) buckets get ceil(n/buckets) rows
        base, rem = divmod(n, buckets)
        bkt_of = []
        for b in range(1, buckets + 1):
            bkt_of.extend([b] * (base + (1 if b <= rem else 0)))
        mx: dict[int, float] = {}
        my: dict[int, float] = {}
        cnt: dict[int, int] = Counter(bkt_of)
        sx: dict[int, float] = defaultdict(float)
        sy: dict[int, float] = defaultdict(float)
        for i, (b, p) in enumerate(zip(bkt_of, pts)):
            sx[b] += i + 1.0
            sy[b] += p[2]
        for b in cnt:
            mx[b], my[b] = sx[b] / cnt[b], sy[b] / cnt[b]
        per_bucket: dict[int, list] = defaultdict(list)
        for i, (b, p) in enumerate(zip(bkt_of, pts)):
            if b == 1 or b == buckets:
                area = None
            else:
                px, py, nx, ny = mx[b - 1], my[b - 1], mx[b + 1], my[b + 1]
                x = i + 1.0
                area = abs((px - nx) * (p[2] - py) - (px - x) * (ny - py)) / 2.0
            per_bucket[b].append((p, area))
        for b, cands in per_bucket.items():
            best = min(
                cands,
                key=lambda pa: (
                    -(pa[1] if pa[1] is not None else float("-inf")),
                    pa[0][0],
                    pa[0][1],
                ),
            )
            picked[(etype, b)] = best
    return picked


def test_lttb_picks_vs_python_reference(spark, sf_dir):
    """The per-bucket picked point (and its triangle area) ≡ the
    from-scratch Python LTTB-mean on the same total order."""
    ref = _lttb_reference(_read(sf_dir, "events"))
    rows = QUERIES["ts_downsample_lttb"](spark, sf_dir).collect()
    assert len(rows) == len(ref)
    for r in rows:
        (pt, area) = ref[(r["event_type"], r["bkt"])]
        assert r["event_id"] == pt[1], (r, pt)
        want = -1.0 if area is None else area
        assert abs(r["area"] - want) < 2e-6, (r, want)


def test_lttb_bucket_coverage(spark, duck, sf_dir):
    rows = QUERIES["ts_downsample_lttb"](spark, sf_dir).collect()
    series = {}
    for r in rows:
        series.setdefault(r["event_type"], []).append(r)
    n_per_type = dict(
        duck.execute(
            "SELECT event_type, COUNT(*) FROM events GROUP BY event_type"
        ).fetchall()
    )
    assert set(series) == set(n_per_type)
    for et, picked in series.items():
        expect = min(n_per_type[et], _LTTB_BUCKETS)
        assert len(picked) == expect, (et, len(picked))
        assert sorted(p["bkt"] for p in picked) == list(range(1, expect + 1))
        # edge buckets carry the -1 sentinel, interior buckets a real area
        for p in picked:
            if p["bkt"] in (1, expect):
                assert p["area"] == -1.0
            else:
                assert p["area"] >= 0.0
        # first pick is the series head (earliest ts, min event_id tiebreak)
        head = duck.execute(
            "SELECT event_id FROM events WHERE event_type = ? "
            "ORDER BY ts, event_id LIMIT 1",
            [et],
        ).fetchone()[0]
        assert picked[0]["event_id"] == head


def test_ab_test_lift_vs_python_ztest(spark, sf_dir):
    """Variant assignment, conversion counts, rates, lift, and the pooled
    two-proportion z recomputed with hashlib + math."""
    ev = _read(sf_dir, "events")
    conv = defaultdict(int)
    for u, t in zip(ev["user_id"], ev["event_type"]):
        conv[u] |= t == "purchase"
    n = {"A": 0, "B": 0}
    c = {"A": 0, "B": 0}
    for u, cv in conv.items():
        v = "A" if hashlib.md5(str(u).encode()).hexdigest()[0] <= "7" else "B"
        n[v] += 1
        c[v] += cv
    row = QUERIES["ab_test_lift"](spark, sf_dir).collect()[0]
    assert (row["n_users_a"], row["n_conv_a"]) == (n["A"], c["A"])
    assert (row["n_users_b"], row["n_conv_b"]) == (n["B"], c["B"])
    ra, rb = c["A"] / n["A"], c["B"] / n["B"]
    pool = (c["A"] + c["B"]) / (n["A"] + n["B"])
    denom = math.sqrt(pool * (1 - pool) * (1 / n["A"] + 1 / n["B"]))
    assert abs(row["rate_a"] - ra) < 1e-6 and abs(row["rate_b"] - rb) < 1e-6
    assert abs(row["abs_lift"] - (rb - ra)) < 1e-6
    if denom == 0.0:
        # degenerate split (everyone or no one converts): the op's
        # try_divide yields NULL on both engines by design
        assert row["z_score"] is None, row
    else:
        assert abs(row["z_score"] - (rb - ra) / denom) < 2e-6, row


def test_ab_test_lift_nondegenerate_z(spark, tmp_path_factory):
    """The sf0.01 corpus converts ~everyone (z degenerates to NULL), so
    the z formula itself is pinned on a synthetic partial-conversion
    corpus: 300 users, every third one converts."""
    d = tmp_path_factory.mktemp("ab_synth")
    rows = []
    for u in range(300):
        rows.append((u * 2, pd.Timestamp("2024-01-01"), u, "view", 1.0, "{}"))
        if u % 3 == 0:
            rows.append(
                (u * 2 + 1, pd.Timestamp("2024-01-02"), u, "purchase", 1.0, "{}")
            )
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(f"{d}/events.parquet")
    row = QUERIES["ab_test_lift"](spark, str(d)).collect()[0]
    n = {"A": 0, "B": 0}
    c = {"A": 0, "B": 0}
    for u in range(300):
        v = "A" if hashlib.md5(str(u).encode()).hexdigest()[0] <= "7" else "B"
        n[v] += 1
        c[v] += u % 3 == 0
    ra, rb = c["A"] / n["A"], c["B"] / n["B"]
    pool = (c["A"] + c["B"]) / (n["A"] + n["B"])
    z = (rb - ra) / math.sqrt(pool * (1 - pool) * (1 / n["A"] + 1 / n["B"]))
    assert (row["n_users_a"], row["n_conv_a"]) == (n["A"], c["A"])
    assert (row["n_users_b"], row["n_conv_b"]) == (n["B"], c["B"])
    assert abs(row["z_score"] - z) < 2e-6, (row["z_score"], z)


def test_quantile_bins_are_equal_frequency_and_ordered(spark, sf_dir):
    rows = QUERIES["quantile_bin_assign"](spark, sf_dir).collect()
    n = sum(r.n_rows for r in rows)
    assert [r.bin for r in rows] == sorted(r.bin for r in rows)
    # value ranges of consecutive bins must not interleave
    for a, b in zip(rows, rows[1:]):
        assert a.max_v <= b.min_v, (a, b)
    # equal-frequency up to the quantization of a 50-value integer domain:
    # no bin may hold more than 2.5x its fair share
    for r in rows:
        assert r.n_rows <= 0.25 * n, r


def test_quantile_bin_approx_path_matches_exact_twin(spark, sf_dir):
    """The 100 TB boundary pass (t-digest approx_percentile) must bin
    almost identically to the exact oracle-checkable twin: identical
    total, per-bin counts within 2% of the table (at high sketch
    accuracy on an integer domain they are usually exactly equal)."""
    exact = {
        r.bin: r.n_rows
        for r in QUERIES["quantile_bin_assign"](spark, sf_dir).collect()
    }
    approx = {
        r.bin: r.n_rows
        for r in quantile_bin_assign_approx(spark, sf_dir).collect()
    }
    n = sum(exact.values())
    assert sum(approx.values()) == n
    for b in set(exact) | set(approx):
        assert abs(exact.get(b, 0) - approx.get(b, 0)) <= 0.02 * n, b


_qty = st.lists(
    st.integers(min_value=1, max_value=50).map(float),
    min_size=1,
    max_size=60,
)


@given(vals=_qty)
@settings(**_SETTINGS)
def test_random_quantile_bins_vs_python(spark, tmp_path_factory, vals):
    """Exact-percentile boundaries + strict-greater assignment vs a pure
    Python (n-1)q linear interpolation walk.  Small integer domains make
    boundary TIES (value == quantile) common — the case that decides
    whether the rule is > or >=."""
    d = tmp_path_factory.mktemp("qb")
    pq.write_table(
        pa.table({"l_quantity": pa.array(vals, pa.float64())}),
        str(d / "lineitem.parquet"),
    )
    got = {
        r.bin: (r.n_rows, r.min_v, r.max_v)
        for r in QUERIES["quantile_bin_assign"](spark, str(d)).collect()
    }

    s = sorted(vals)
    n = len(s)

    def q_cont(q):
        pos = (n - 1) * q
        lo = int(math.floor(pos))
        hi = min(lo + 1, n - 1)
        return round(s[lo] + (pos - lo) * (s[hi] - s[lo]), 6)

    bounds = [q_cont(i / 10.0) for i in range(1, 10)]
    want: dict[int, list] = {}
    for v in vals:
        b = sum(1 for t in bounds if v > t)
        ent = want.setdefault(b, [0, v, v])
        ent[0] += 1
        ent[1] = min(ent[1], v)
        ent[2] = max(ent[2], v)
    assert got == {b: tuple(e) for b, e in want.items()}, f"bounds={bounds}"


_corr_rows = st.lists(
    st.tuples(
        *[
            st.integers(min_value=-8, max_value=8).map(lambda i: i * 0.25)
            for _ in range(4)
        ]
    ),
    min_size=2,
    max_size=40,
)


@given(rows=_corr_rows)
@settings(**_SETTINGS)
def test_random_corr_matrix_vs_python(spark, tmp_path_factory, rows):
    """Spark's partition-merged co-moment corr vs the direct two-pass
    Pearson formula; constant columns (zero variance) must yield NULL on
    the Spark side and None in the reference — not 0, not NaN."""
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    d = tmp_path_factory.mktemp("cm")
    pq.write_table(
        pa.table({
            c: pa.array([r[i] for r in rows], pa.float64())
            for i, c in enumerate(cols)
        }),
        str(d / "lineitem.parquet"),
    )
    got = {
        (r.var_x, r.var_y): r.corr_xy
        for r in QUERIES["corr_matrix"](spark, str(d)).collect()
    }

    def pearson(xs, ys):
        nn = len(xs)
        mx, my = sum(xs) / nn, sum(ys) / nn
        sxx = sum((x - mx) ** 2 for x in xs)
        syy = sum((y - my) ** 2 for y in ys)
        sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
        if sxx == 0 or syy == 0:
            return None
        return sxy / math.sqrt(sxx * syy)

    assert set(got) == {
        (x, y) for i, x in enumerate(cols) for y in cols[i + 1 :]
    }
    for (cx, cy), g in got.items():
        xs = [r[cols.index(cx)] for r in rows]
        ys = [r[cols.index(cy)] for r in rows]
        w = pearson(xs, ys)
        if w is None:
            assert g is None, (cx, cy, g)
        else:
            assert g is not None and abs(g - w) <= 2e-6, (cx, cy, g, w)


_parts = st.lists(
    st.tuples(
        st.sampled_from(["b1", "b2", "b3"]),          # p_brand
        st.sampled_from(["t1", "t2"]),                # p_type
        st.integers(min_value=100, max_value=500),    # price cents
        st.integers(min_value=1, max_value=10),       # size
    ),
    min_size=1,
    max_size=30,
)


@given(rows=_parts)
@settings(**_SETTINGS)
def test_random_skyline_vs_dominance_walk(spark, tmp_path_factory, rows):
    """Pareto skyline vs brute-force dominance on EXACT group averages:
    the small integer domains make equal-price / equal-size group pairs
    routine, which is where <= vs < dominance drift shows."""
    d = tmp_path_factory.mktemp("sk")
    pq.write_table(
        pa.table({
            "p_brand": pa.array([r[0] for r in rows], pa.string()),
            "p_type": pa.array([r[1] for r in rows], pa.string()),
            "p_retailprice": pa.array([r[2] / 100.0 for r in rows], pa.float64()),
            "p_size": pa.array([r[3] for r in rows], pa.int64()),
        }),
        str(d / "part.parquet"),
    )
    got = {
        (r.p_brand, r.p_type): (r.avg_price, r.avg_size, r.n_parts)
        for r in QUERIES["skyline_pareto"](spark, str(d)).collect()
    }
    agg: dict[tuple[str, str], list[int]] = {}
    for b, t, c, s in rows:
        ent = agg.setdefault((b, t), [0, 0, 0])
        ent[0] += c
        ent[1] += s
        ent[2] += 1
    stats = {
        k: ((c / 100) / n, s / n, n) for k, (c, s, n) in agg.items()
    }
    want = {}
    for k, (p, s, n) in stats.items():
        dominated = any(
            bp <= p and bs >= s and (bp < p or bs > s)
            for kk, (bp, bs, _) in stats.items()
            if kk != k
        )
        if not dominated:
            want[k] = (round(p, 6), round(s, 6), n)
    assert set(got) == set(want), f"rows={rows!r}"
    for k, (p, s, n) in want.items():
        gp, gs, gn = got[k]
        assert gn == n
        assert abs(gp - p) <= 1.1e-6 and abs(gs - s) <= 1.1e-6, (k, got[k], want[k])


_chars = st.lists(
    st.integers(min_value=1, max_value=12), min_size=2, max_size=40
)


@given(ncs=_chars)
@settings(**_SETTINGS)
def test_random_ks_drift_vs_ecdf_walk(spark, tmp_path_factory, ncs):
    """Two-sample KS vs an explicit merged-grid ECDF walk, including the
    alpha=0.05 critical value and the strict rejection rule."""
    d = tmp_path_factory.mktemp("ks")
    n = len(ncs)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(["x" * c for c in ncs], pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(["s"] * n, pa.string()),
            "n_chars": pa.array(ncs, pa.int64()),
        }),
        str(d / "documents.parquet"),
    )
    row = QUERIES["ks_test_drift"](spark, str(d)).collect()[0]
    a = sorted(ncs[0::2])
    b = sorted(ncs[1::2])
    na, nb = len(a), len(b)
    ks = 0.0
    for v in sorted(set(a) | set(b)):
        fa = sum(1 for x in a if x <= v) / na
        fb = sum(1 for x in b if x <= v) / nb
        ks = max(ks, abs(fa - fb))
    crit = 1.358 * ((na + nb) / (na * nb)) ** 0.5
    assert (row.n_a, row.n_b) == (na, nb), ncs
    assert abs(row.ks_stat - ks) <= 1.1e-6, (row.ks_stat, ks)
    assert abs(row.ks_crit - crit) <= 1.1e-6, (row.ks_crit, crit)
    assert row.drifted == (1 if ks > crit else 0), ncs
