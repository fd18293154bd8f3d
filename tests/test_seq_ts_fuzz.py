"""Differential fuzz of the sequence/time-series analytics keys against
pure-Python walks (the r8-r11 pattern): `win_gaps_islands`,
`event_transitions`, `ts_resample_ffill`, `ts_interpolate_linear` each
had only fixed-corpus oracle verification; randomized tiny corpora reach
what the fixed tables can't — single-event users, every-event-one-island
runs, the EXACT 30-minute transition boundary, single-observation
spines, and leading/trailing resample gaps.

Value fields compare with a ±2-3e-6 tolerance (Spark rounds HALF_UP,
Python round() half-even — a dyadic average can land exactly on a 1e-6
midpoint and round apart); structure (rows, hours, flags, counts)
compares exactly."""

from __future__ import annotations

import datetime

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

_BASE = datetime.datetime(2024, 3, 1)

# minute offsets: dense ties + the exact 30-min transition boundary +
# multi-hour gaps for the resample spine
_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),                       # user_id
        st.sampled_from([0, 1, 1, 30, 31, 59, 60, 61, 240, 241]),   # minutes
        st.sampled_from(["click", "view", "purchase"]),
        st.integers(min_value=0, max_value=2000),                   # cents
    ),
    min_size=1,
    max_size=40,
)


def _events_dir(tmp_path_factory, rows):
    d = tmp_path_factory.mktemp("seq")
    evs = [
        (i, u, _BASE + datetime.timedelta(minutes=m), et, c / 100.0)
        for i, (u, m, et, c) in enumerate(rows)
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
    return str(d), evs


def _by_user(evs):
    out: dict[int, list] = {}
    for eid, u, ts, et, v in evs:
        out.setdefault(u, []).append((ts, eid, et, v))
    for u in out:
        out[u].sort()
    return out


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_gaps_islands_vs_run_walk(spark, tmp_path_factory, rows):
    d, evs = _events_dir(tmp_path_factory, rows)
    got = {
        r.user_id: (r.longest_streak, r.n_islands)
        for r in QUERIES["win_gaps_islands"](spark, d).collect()
    }
    want = {}
    for u, seq in _by_user(evs).items():
        runs, cur = [], 0
        prev = None
        for _, _, et, _ in seq:
            if et == prev:
                cur += 1
            else:
                if cur:
                    runs.append(cur)
                cur, prev = 1, et
        runs.append(cur)
        want[u] = (max(runs), len(runs))
    assert got == want, f"rows={rows!r}"


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_event_transitions_vs_pair_walk(spark, tmp_path_factory, rows):
    """The 30-minute bound is INCLUSIVE (next_ts <= ts + 30min) — the
    offset pool makes exactly-30-minute successors common, so a < vs <=
    drift on either side fails on a concrete pair."""
    d, evs = _events_dir(tmp_path_factory, rows)
    got = {
        (r.from_type, r.to_type): r.n_transitions
        for r in QUERIES["event_transitions"](spark, d).collect()
    }
    want: dict[tuple[str, str], int] = {}
    for seq in _by_user(evs).values():
        for (ts, _, et, _), (nts, _, net, _) in zip(seq, seq[1:]):
            if nts <= ts + datetime.timedelta(minutes=30):
                want[(et, net)] = want.get((et, net), 0) + 1
    assert got == want, f"rows={rows!r}"


def _hour(ts):
    return ts.replace(minute=0, second=0, microsecond=0)


def _hourly_and_spine(evs):
    """Per user: dense hourly spine + exact hourly averages (2dp cents
    stay exact through the sum; one float division mirrors the
    decimal→double cast)."""
    spines, hourly = {}, {}
    for u, seq in _by_user(evs).items():
        agg: dict[datetime.datetime, list[int]] = {}
        for ts, _, _, v in seq:
            ent = agg.setdefault(_hour(ts), [0, 0])
            ent[0] += round(v * 100)
            ent[1] += 1
        hourly[u] = {
            h: round((c / 100.0) / n, 6) for h, (c, n) in agg.items()
        }
        t0, t1 = _hour(seq[0][0]), _hour(seq[-1][0])
        spine, h = [], t0
        while h <= t1:
            spine.append(h)
            h += datetime.timedelta(hours=1)
        spines[u] = spine
    return spines, hourly


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_resample_ffill_vs_walk(spark, tmp_path_factory, rows):
    d, evs = _events_dir(tmp_path_factory, rows)
    got = {
        (r.user_id, r.hour): (r.observed, r.value_ffill)
        for r in QUERIES["ts_resample_ffill"](spark, d).collect()
    }
    spines, hourly = _hourly_and_spine(evs)
    want = {}
    for u, spine in spines.items():
        last = None
        for h in spine:
            v = hourly[u].get(h)
            if v is not None:
                last = v
            want[(u, str(h))] = (v is not None, last)
    assert set(got) == set(want), f"rows={rows!r}"
    for k, (obs, val) in want.items():
        gobs, gval = got[k]
        assert gobs == obs, (k, rows)
        assert abs(gval - val) <= 2.1e-6, (k, gval, val)


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_interpolate_linear_vs_walk(spark, tmp_path_factory, rows):
    d, evs = _events_dir(tmp_path_factory, rows)
    got = {
        (r.user_id, r.hour): (r.observed, r.value_interp)
        for r in QUERIES["ts_interpolate_linear"](spark, d).collect()
    }
    spines, hourly = _hourly_and_spine(evs)
    want = {}
    for u, spine in spines.items():
        obs_hours = sorted(hourly[u])
        for h in spine:
            v = hourly[u].get(h)
            if v is not None:
                want[(u, str(h))] = (True, round(v, 6))
                continue
            ph = max(x for x in obs_hours if x < h)
            nxt = [x for x in obs_hours if x > h]
            pv = hourly[u][ph]
            if nxt:
                nh = nxt[0]
                nv = hourly[u][nh]
                frac = (h - ph).total_seconds() / (nh - ph).total_seconds()
                want[(u, str(h))] = (False, round(pv + (nv - pv) * frac, 6))
            else:
                want[(u, str(h))] = (False, round(pv, 6))
    assert set(got) == set(want), f"rows={rows!r}"
    for k, (obs, val) in want.items():
        gobs, gval = got[k]
        assert gobs == obs, (k, rows)
        assert abs(gval - val) <= 3.1e-6, (k, gval, val)


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_cdc_scd2_vs_change_walk(spark, tmp_path_factory, rows):
    """SCD2 build vs a per-user change walk: the subtle contract is that
    valid_to is the next RAW event's ts (lead before the change filter),
    and is_current marks ONLY a final event that itself opened a new
    state — re-assertion ties and single-event users hit both."""
    d, evs = _events_dir(tmp_path_factory, rows)
    got = [
        (r.user_id, r.state, r.valid_from, r.valid_to, r.is_current)
        for r in QUERIES["cdc_scd2"](spark, d).collect()
    ]
    want = []
    for u in sorted(_by_user(evs)):
        seq = _by_user(evs)[u]
        for i, (ts, eid, et, _) in enumerate(seq):
            nxt = seq[i + 1][0] if i + 1 < len(seq) else None
            prev = seq[i - 1][2] if i > 0 else None
            if prev is None or prev != et:
                want.append((u, et, ts, nxt, nxt is None))
    # the op orders by (user, valid_from) only — ties in valid_from may
    # interleave, so compare as multisets plus the pinned sort keys
    # (valid_to can be None: sort via a None-last key, not raw tuples)
    none_last = lambda r: (  # noqa: E731
        r[0], r[2], r[1], r[3] is None, r[3] or _BASE, r[4],
    )
    assert sorted(got, key=none_last) == sorted(want, key=none_last), (
        f"rows={rows!r}"
    )
    assert [r[0] for r in got] == [r[0] for r in sorted(want, key=none_last)]


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_funnel_vs_stage_walk(spark, tmp_path_factory, rows):
    """Strict ordering (click AFTER view, purchase AFTER click) with
    NULL-fails-comparison semantics; equal stage timestamps (common in
    the tie-heavy offset pool) must NOT count as progression."""
    d, evs = _events_dir(tmp_path_factory, rows)
    row = QUERIES["funnel_conversion"](spark, d).collect()[0]
    mins: dict[int, dict[str, datetime.datetime]] = {}
    for _, u, ts, et, _ in evs:
        cur = mins.setdefault(u, {})
        if et not in cur or ts < cur[et]:
            cur[et] = ts
    viewed = clicked = purchased = 0
    for cur in mins.values():
        v, c, p = cur.get("view"), cur.get("click"), cur.get("purchase")
        if v is not None:
            viewed += 1
            if c is not None and c > v:
                clicked += 1
                if p is not None and p > c:
                    purchased += 1
    assert (row.n_users, row.viewed, row.clicked_after_view,
            row.purchased_after_click) == (
        len(mins), viewed, clicked, purchased
    ), f"rows={rows!r}"


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_retention_cohort_vs_walk(spark, tmp_path_factory, rows):
    """Cohort week (Monday-truncated first-seen) × floor-div week offset,
    distinct per user — the walk recomputes both from raw dates."""
    d, evs = _events_dir(tmp_path_factory, rows)
    got = {
        (r.cohort_week, r.week_no): r.active_users
        for r in QUERIES["retention_cohort"](spark, d).collect()
    }
    firsts: dict[int, datetime.date] = {}
    for _, u, ts, _, _ in evs:
        day = ts.date()
        if u not in firsts or day < firsts[u]:
            firsts[u] = day
    cells = set()
    for _, u, ts, _, _ in evs:
        f = firsts[u]
        cohort = f - datetime.timedelta(days=f.weekday())
        week_no = (ts.date() - f).days // 7
        cells.add((u, str(cohort), week_no))
    want: dict[tuple[str, int], int] = {}
    for _, cw, wn in cells:
        want[(cw, wn)] = want.get((cw, wn), 0) + 1
    assert got == want, f"rows={rows!r}"


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_moving_zscore_vs_walk(spark, tmp_path_factory, rows):
    """Trailing-window z-score vs a per-row walk: the frame EXCLUDES the
    current row (10 PRECEDING..1 PRECEDING), warm-up (<3 priors) and
    zero-variance histories are skipped, stddev is the SAMPLE form —
    each of those is one off-by-one away from a wrong detector."""
    d, evs = _events_dir(tmp_path_factory, rows)
    got = {
        r.event_id: (r.n_prior if hasattr(r, "n_prior") else None,
                     r.zscore, r.is_anomaly)
        for r in QUERIES["win_moving_zscore"](spark, d).collect()
    }
    want = {}
    for seq in _by_user(evs).values():
        vals = [v for _, _, _, v in seq]
        for i, (_, eid, _, v) in enumerate(seq):
            prior = vals[max(0, i - 10):i]
            n = len(prior)
            if n < 3:
                continue
            mu = sum(prior) / n
            var = sum((x - mu) ** 2 for x in prior) / (n - 1)
            if var <= 0:
                continue
            z = (v - mu) / var**0.5
            want[eid] = (None, round(z, 6), 1 if abs(z) > 2.0 else 0)
    assert set(got) == set(want), f"rows={rows!r}"
    for eid, (_, z, flag) in want.items():
        _, gz, gflag = got[eid]
        assert abs(gz - z) <= 2.1e-6, (eid, gz, z)
        assert gflag == flag, (eid, rows)


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_outlier_mad_vs_walk(spark, tmp_path_factory, rows):
    """MAD outliers vs a sorted-median walk: even-n interpolation for
    both medians, the 1.4826 consistency constant, and the STRICT >
    threshold all recomputed independently."""
    d, evs = _events_dir(tmp_path_factory, rows)
    got = {
        r.event_type: (r.n_events, r.med, r.mad, r.n_outliers)
        for r in QUERIES["ts_outlier_mad"](spark, d).collect()
    }

    def median(xs):
        s = sorted(xs)
        n = len(s)
        mid = (n - 1) // 2
        return s[mid] if n % 2 else (s[mid] + s[mid + 1]) / 2.0

    by_type: dict[str, list[float]] = {}
    for _, _, _, et, v in [(None, *e[1:]) for e in evs]:
        by_type.setdefault(et, []).append(v)
    want = {}
    for et, vals in by_type.items():
        med = median(vals)
        adevs = [abs(v - med) for v in vals]
        mad = median(adevs)
        n_out = sum(1 for a in adevs if a > 3.0 * 1.4826 * mad)
        want[et] = (len(vals), round(med, 6), round(mad, 6), n_out)
    assert set(got) == set(want), f"rows={rows!r}"
    for et, (n, med, mad, n_out) in want.items():
        gn, gmed, gmad, gout = got[et]
        assert gn == n and gout == n_out, (et, rows)
        assert abs(gmed - med) <= 1.1e-6 and abs(gmad - mad) <= 1.1e-6, (
            et, gmed, med, gmad, mad,
        )


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_session_paths_vs_walk(spark, tmp_path_factory, rows):
    """Two-window sessionizer + ordered path build vs a single walk: the
    30-minute gap is STRICT (> 30min starts a session; exactly-30 keeps
    it), the pool makes exact-gap successors common, and the >=5 support
    cut is recomputed independently."""
    d, evs = _events_dir(tmp_path_factory, rows)
    got = {
        r.path: r.n_sessions
        for r in QUERIES["session_paths"](spark, d).collect()
    }
    paths: dict[str, int] = {}
    for seq in _by_user(evs).values():
        cur, prev_ts = [], None
        for ts, _, et, _ in seq:
            if prev_ts is not None and ts - prev_ts > datetime.timedelta(minutes=30):
                p = ">".join(cur)
                paths[p] = paths.get(p, 0) + 1
                cur = []
            cur.append(et)
            prev_ts = ts
        p = ">".join(cur)
        paths[p] = paths.get(p, 0) + 1
    want = {p: n for p, n in paths.items() if n >= 5}
    assert got == want, f"rows={rows!r}"


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_twa_vs_segment_walk(spark, tmp_path_factory, rows):
    """Step-function time-weighted average vs an integer segment walk
    (cents × µs stay exact): zero-length segments from tied timestamps
    contribute zero weight, and the final reading is droppped — both are
    the usual TWA implementation mistakes."""
    d, evs = _events_dir(tmp_path_factory, rows)
    got = {
        r.event_type: (r.n_segments, r.twa_value)
        for r in QUERIES["ts_time_weighted_avg"](spark, d).collect()
    }
    by_type: dict[str, list] = {}
    for eid, u, ts, et, v in evs:
        by_type.setdefault(et, []).append((ts, eid, v))
    want = {}
    for et, seq in by_type.items():
        seq.sort()
        num = den = 0
        segs = 0
        for (ts, _, v), (nts, _, _) in zip(seq, seq[1:]):
            dt = int((nts - ts).total_seconds() * 1_000_000)
            num += round(v * 100) * dt
            den += dt
            segs += 1
        if segs:
            want[et] = (segs, round((num / 100) / den, 6) if den else None)
    assert set(got) == set(want), f"rows={rows!r}"
    for et, (segs, twa) in want.items():
        gsegs, gtwa = got[et]
        assert gsegs == segs, (et, rows)
        if twa is None:
            assert gtwa is None, (et, gtwa)
        else:
            assert gtwa is not None and abs(gtwa - twa) <= 1.1e-6, (et, gtwa, twa)


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_agg_mode_tiebreak_vs_walk(spark, tmp_path_factory, rows):
    """Deterministic arg-max: count ties between hours are broken by the
    SMALLER hour — the dense offset pool makes count ties routine."""
    d, evs = _events_dir(tmp_path_factory, rows)
    got = {
        r.event_type: (r.modal_hour, r.n_at_mode)
        for r in QUERIES["agg_mode"](spark, d).collect()
    }
    counts: dict[str, dict[int, int]] = {}
    for _, _, ts, et, _ in evs:
        c = counts.setdefault(et, {})
        c[ts.hour] = c.get(ts.hour, 0) + 1
    want = {
        et: min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        for et, c in counts.items()
    }
    assert got == want, f"rows={rows!r}"


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_running_distinct_vs_walk(spark, tmp_path_factory, rows):
    d, evs = _events_dir(tmp_path_factory, rows)
    got = {
        (r.event_type, r.event_id): r.running_users
        for r in QUERIES["win_running_distinct"](spark, d).collect()
    }
    by_type: dict[str, list] = {}
    for eid, u, ts, et, _ in evs:
        by_type.setdefault(et, []).append((ts, eid, u))
    want = {}
    for et, seq in by_type.items():
        seq.sort()
        seen: set[int] = set()
        for ts, eid, u in seq:
            seen.add(u)
            want[(et, eid)] = len(seen)
    assert got == want, f"rows={rows!r}"


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_strict_seq_pattern_vs_walk(spark, tmp_path_factory, rows):
    """pattern_match_strict_seq vs a pure-Python strict-contiguity walk:
    immediate-next-event semantics (not any-subsequence), the EXACT
    30-minute step boundary (<=, generator plants 30/31-minute offsets),
    and the (ts, event_id) tie order that decides which event is 'next'
    when timestamps collide."""
    d, evs = _events_dir(tmp_path_factory, rows)
    got = {
        r.user_id: (r.n_view_click, r.n_view_click_purchase)
        for r in QUERIES["pattern_match_strict_seq"](spark, d).collect()
    }
    half = datetime.timedelta(minutes=30)
    want: dict[int, list[int]] = {}
    for u, seq in _by_user(evs).items():
        n1 = n2 = 0
        for i, (ts, _eid, et, _v) in enumerate(seq):
            if et != "view" or i + 1 >= len(seq):
                continue
            ts1, _, t1, _ = seq[i + 1]
            if t1 == "click" and ts1 <= ts + half:
                n1 += 1
                if i + 2 < len(seq):
                    ts2, _, t2, _ = seq[i + 2]
                    if t2 == "purchase" and ts2 <= ts1 + half:
                        n2 += 1
        if n1 > 0:
            want[u] = [n1, n2]
    assert got == {u: tuple(v) for u, v in want.items()}, f"rows={rows!r}"


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_latest_by_key_vs_walk(spark, tmp_path_factory, rows):
    """dedup_latest_by_key vs a pure-Python argmax: the (ts DESC,
    event_id DESC) tie-break decides the survivor when a user's events
    share a timestamp — the generator's dense minute ties make that the
    common case, which the fixed corpus never exercises."""
    d, evs = _events_dir(tmp_path_factory, rows)
    got = {
        r.user_id: (r.event_id, r.ts, r.event_type)
        for r in QUERIES["dedup_latest_by_key"](spark, d).collect()
    }
    want = {}
    for u, seq in _by_user(evs).items():
        ts, eid, et, _v = max(seq, key=lambda e: (e[0], e[1]))
        want[u] = (eid, ts, et)
    assert got == want, f"rows={rows!r}"


@given(rows=_events)
@settings(**_SETTINGS)
def test_random_anomaly_zscore_vs_walk(spark, tmp_path_factory, rows):
    """anomaly_zscore vs an IEEE-replicated walk (numpy float64, same op
    order: decimal-exact sums → double moments → per-value z).  Random
    tiny groups reach what the corpus can't: single-event and
    constant-valued types, where the variance term cancels to <= 0 and
    the operator must score NULL (no flag, NULL max) — the r12 fuzz
    finding: unguarded, Spark's non-IEEE NaN ordering counted every row
    of a constant-valued type as an anomaly."""
    import numpy as np

    d, evs = _events_dir(tmp_path_factory, rows)
    got = {
        r.event_type: (r.n_events, r.n_anomalies, r.max_abs_z)
        for r in QUERIES["anomaly_zscore"](spark, d).collect()
    }
    vals: dict[str, list[float]] = {}
    cents: dict[str, list[int]] = {}
    for _eid, _u, _ts, et, v in evs:
        vals.setdefault(et, []).append(np.float64(v))
        cents.setdefault(et, []).append(round(v * 100))
    assert set(got) == set(vals)
    for et, vs in vals.items():
        n = len(vs)
        # decimal-exact sums cast to double, like the builder
        s = np.float64(sum(cents[et])) / np.float64(100.0)
        sq = np.float64(sum(c * c for c in cents[et])) / np.float64(10000.0)
        mean = s / np.float64(n)
        var = sq / np.float64(n) - mean * mean
        if var > 0:
            std = np.sqrt(var)
            zs = [(v - mean) / std for v in vs]
        else:
            zs = []  # degenerate group: operator scores NULL
        n_anom = sum(1 for z in zs if abs(z) > 2.5)
        g_n, g_anom, g_max = got[et]
        assert g_n == n and g_anom == n_anom, f"rows={rows!r}"
        if not zs:
            assert g_max is None, f"rows={rows!r}"
        else:
            want_max = max(abs(z) for z in zs)
            assert abs(g_max - round(float(want_max), 6)) <= 3e-6, f"rows={rows!r}"
