"""Engine-side references for the keys registered in operators/platform_ops.py:
privacy (k-anonymity, the deterministic-Laplace DP counts), hypertable
rollups, incremental join and aggregate maintenance, z-order layout and
the skew profile — each recomputed from the raw parquet with plain Python
(collections / math / hashlib), no SQL engine involved."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pandas as pd

from bigdatawork_spark.registry import QUERIES


def _read(sf_dir: str, table: str) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/{table}.parquet")


def test_k_anonymity_vs_python_counter(spark, sf_dir):
    """Equivalence-class sizes and the k=5 at-risk flag ≡ a Counter over
    the quasi-identifier tuples."""
    d = _read(sf_dir, "documents")
    c = Counter(zip(d["lang"], d["source"]))
    rows = QUERIES["privacy_k_anonymity"](spark, sf_dir).collect()
    assert len(rows) == len(c)
    for r in rows:
        n = c[(r["lang"], r["source"])]
        assert r["n_rows"] == n, r
        assert r["at_risk"] == (1 if n < 5 else 0), r


def test_dp_count_vs_python_inverse_cdf(spark, sf_dir):
    """The deterministic Laplace draw (md5 inverse-CDF, ε=1) recomputed
    with hashlib + math: same uniform, same noise, same clamped release."""
    d = _read(sf_dir, "documents")
    c = Counter(zip(d["lang"], d["source"]))
    rows = QUERIES["privacy_dp_count"](spark, sf_dir).collect()
    assert len(rows) == len(c)
    for r in rows:
        true_n = c[(r["lang"], r["source"])]
        assert r["true_n"] == true_n, r
        u = (
            int(
                hashlib.md5(f"{r['lang']}|{r['source']}".encode()).hexdigest()[:6],
                16,
            )
            / 16777216.0
        )
        cc = u - 0.5
        noise = (
            -1.0 * math.copysign(1.0, cc) * math.log(max(1e-12, 1 - 2 * abs(cc)))
            if cc != 0
            else 0.0
        )
        assert abs(r["noise"] - noise) < 1.5e-6, (r, noise)
        dp_n = max(0, math.floor(true_n + noise + 0.5))
        assert r["dp_n"] == dp_n, (r, dp_n)


def test_dp_count_mechanism(spark, duck, sf_dir):
    """The release against DuckDB's group counts: one row per
    (lang, source), the true count exact, the clamped rounded release
    re-derived from the row's own noise, and the hash-uniform draw varying
    across keys (both signs)."""
    rows = QUERIES["privacy_dp_count"](spark, sf_dir).collect()
    assert rows
    true = {
        (lang, src): n
        for lang, src, n in duck.execute(
            "SELECT lang, source, COUNT(*) FROM documents GROUP BY 1, 2"
        ).fetchall()
    }
    assert {(r["lang"], r["source"]) for r in rows} == set(true)
    for r in rows:
        assert r["true_n"] == true[(r["lang"], r["source"])]
        assert r["dp_n"] >= 0  # post-processing clamp
        # released = clamp(round(true + noise)): re-derive exactly
        assert r["dp_n"] == max(0, round(r["true_n"] + r["noise"]))
    noises = [r["noise"] for r in rows]
    assert min(noises) < 0 < max(noises)


def test_hypertable_rollup_vs_python_walk(spark, sf_dir):
    """All three rollup levels (hour cell, daily, grand total) recomputed
    from one Python pass; grouping_id levels 0/1/3 must each match."""
    ev = _read(sf_dir, "events")
    cell: dict[tuple, list] = defaultdict(lambda: [0, 0.0])
    for ts, v in zip(ev["ts"], ev["value"]):
        day = str(ts.date())
        # the op casts per-row values to decimal(18,4) before summing
        v4 = round(v, 4)
        for key in ((0, day, ts.hour), (1, day, None), (3, None, None)):
            cell[key][0] += 1
            cell[key][1] += v4
    rows = QUERIES["ts_hypertable_rollup"](spark, sf_dir).collect()
    assert len(rows) == len(cell)
    for r in rows:
        n, s = cell[(r["lvl"], r["day"], r["hod"])]
        assert r["n_events"] == n, r
        assert abs(r["sum_value"] - s) < 1e-6 * max(1.0, abs(s)), (r, s)


def test_incremental_join_maintenance_vs_python_join(spark, sf_dir):
    """The three-term delta-join identity's re-aggregated union ≡ a plain
    Python hash join of the full relations (every (o, l) key pair counted
    exactly once across the four terms)."""
    o = _read(sf_dir, "orders")
    li = _read(sf_dir, "lineitem")
    price = dict(zip(o["o_orderkey"], o["o_totalprice"]))
    n_pairs, sum_o, sum_l = 0, 0.0, 0.0
    for k, ep in zip(li["l_orderkey"], li["l_extendedprice"]):
        if k in price:
            n_pairs += 1
            sum_o += round(price[k], 2)
            sum_l += round(ep, 2)
    row = QUERIES["incremental_join_maintenance"](spark, sf_dir).collect()[0]
    assert row["n_pairs"] == n_pairs
    assert abs(row["sum_o"] - sum_o) < 1e-6 * max(1.0, abs(sum_o)), (row, sum_o)
    assert abs(row["sum_l"] - sum_l) < 1e-6 * max(1.0, abs(sum_l)), (row, sum_l)


def test_incremental_agg_merge_vs_python_recompute(spark, sf_dir):
    """The merged base+delta partials ≡ a full single-pass recompute —
    the mergeable-state contract, verified by a third engine."""
    ev = _read(sf_dir, "events")
    agg: dict[str, list] = defaultdict(lambda: [0, 0.0])
    for t, v in zip(ev["event_type"], ev["value"]):
        a = agg[t]
        a[0] += 1
        a[1] += round(v, 2)  # the op sums decimal(18,2)-cast values
    rows = QUERIES["incremental_agg_merge"](spark, sf_dir).collect()
    assert len(rows) == len(agg)
    for r in rows:
        n, s = agg[r["event_type"]]
        assert r["n_events"] == n, r
        assert abs(r["sum_value"] - s) < 1e-6 * max(1.0, abs(s)), (r, s)
        assert abs(r["avg_value"] - s / n) < 2e-6, (r, s / n)


def test_zorder_vs_python_morton(spark, sf_dir):
    """Morton interleave of (custkey bucket, day-of-year) recomputed with
    plain shifts; per-bucket occupancy/min/max exact."""
    o = _read(sf_dir, "orders")
    buckets = defaultdict(list)
    for ck, od in zip(o["o_custkey"], o["o_orderdate"]):
        x = int(ck) % 1024
        y = od.dayofyear % 512
        z = 0
        for i in range(10):
            z += ((x >> i) & 1) << (2 * i)
            z += ((y >> i) & 1) << (2 * i + 1)
        buckets[z // 4096].append(z)
    rows = QUERIES["zorder_cluster"](spark, sf_dir).collect()
    assert len(rows) == len(buckets)
    for r in rows:
        zs = buckets[r["z_bucket"]]
        assert (r["n_rows"], r["z_min"], r["z_max"]) == (
            len(zs),
            min(zs),
            max(zs),
        ), r


def test_zorder_tiles_bound_both_dimensions(spark, sf_dir):
    """The quadtree property that makes z-order layout useful: a top-4-bit
    z-prefix tile fixes the top 2 bits of BOTH 12-bit dimensions, so every
    tile's per-dimension span is <= 1024 (one quadrant) — this is what
    guarantees file-stat pruning works for predicates on either column."""
    rows = QUERIES["layout_zorder_stats"](spark, sf_dir).collect()
    assert rows, "vacuous: no tiles"
    for r in rows:
        assert 0 <= r.tile <= 15
        assert r.x_max - r.x_min <= 1023, r
        assert r.y_max - r.y_min <= 1023, r
        # and the quadrant is the RIGHT one: the tile's 4 bits are
        # (y11, x11, y10, x10) — recompute from the mins
        tile_bits = (
            ((r.x_min >> 10) & 1)
            | (((r.y_min >> 10) & 1) << 1)
            | (((r.x_min >> 11) & 1) << 2)
            | (((r.y_min >> 11) & 1) << 3)
        )
        assert tile_bits == r.tile, r


def _quantile_cont(sorted_xs, q):
    h = (len(sorted_xs) - 1) * q
    lo = int(h)
    hi = min(lo + 1, len(sorted_xs) - 1)
    return sorted_xs[lo] + (h - lo) * (sorted_xs[hi] - sorted_xs[lo])


def test_dq_skew_profile_vs_python_percentiles(spark, sf_dir):
    """Key-frequency profile ≡ a Counter plus hand-rolled linear
    interpolation percentiles (the quantile_cont definition)."""
    ev = _read(sf_dir, "events")
    freq = sorted(Counter(ev["user_id"]).values())
    n_keys = len(freq)
    n_rows = sum(freq)
    avg = n_rows / n_keys
    row = QUERIES["dq_skew_profile"](spark, sf_dir).collect()[0]
    assert (row["n_keys"], row["n_rows"], row["max_freq"]) == (
        n_keys,
        n_rows,
        freq[-1],
    )
    assert abs(row["avg_freq"] - avg) < 1e-6
    assert abs(row["p50_freq"] - _quantile_cont(freq, 0.5)) < 1e-6, row
    assert abs(row["p99_freq"] - _quantile_cont(freq, 0.99)) < 1e-6, row
    assert abs(row["skew_ratio"] - freq[-1] / avg) < 1e-5, row
