"""Seeded random-corpus differential for the r14 exact-plus-bound-boolean
conversions (heavy hitters, approx percentile, approx count-distinct, HLL
sketch): the whole point of the pattern is that the oracle hard-codes the
booleans TRUE — so the ONE way it can go wrong is a sketch estimate
leaving its declared band on some corpus the fixtures never produce,
flipping a boolean and hash-mismatching a HEALTHY run.  This file rolls
those dice deliberately: random event corpora across the shapes that
stress each bound —

* heavy hitters: skew from uniform to one-hot, groups exactly AT the 15%
  support boundary, NULL-heavy corpora (the r14 isin catch), singleton
  types;
* approx percentile: heavy ties, constant columns, exponential tails
  (GK rank-error bound must hold for any value distribution);
* approx/HLL distinct: cardinalities swept across the sketch's
  sparse→dense transition (the r14 review measured 2.5-3.4% error on
  unlucky cardinalities — the 5-sigma bands must absorb ALL of them).

Each draw runs the real key against its real oracle through the same
order-insensitive comparison the driver uses."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from .compare import assert_key_matches, oracle_con

KEYS = [
    "agg_heavy_hitters",
    "agg_approx_percentile",
    "agg_approx_count_distinct",
    "agg_hll_sketch",
]

_TS0 = pd.Timestamp("2024-02-01 00:00:00")


def _random_fixture(seed: int, d) -> None:
    rng = random.Random(seed)
    n = rng.randint(40, 4000)
    shape = rng.choice(["uniform", "skewed", "one_hot", "null_heavy", "boundary"])
    types = [f"t{i}" for i in range(rng.randint(1, 8))]
    if shape == "null_heavy":
        types = types[:3] + [None] * 3
    rows = []
    for i in range(n):
        if shape == "uniform":
            et = rng.choice(types)
        elif shape == "skewed":
            et = types[min(int(rng.expovariate(1.2)), len(types) - 1)]
        elif shape == "one_hot":
            et = types[0] if rng.random() < 0.9 else rng.choice(types)
        elif shape == "null_heavy":
            et = rng.choice(types)
        else:  # boundary: first type pinned to EXACTLY 15% of rows
            et = None  # filled below
        rows.append(et)
    if shape == "boundary":
        n = (n // 20) * 20 or 20
        k = int(n * 0.15)  # exactly at the strict-> threshold: excluded
        rows = (["at_boundary"] * k
                + ["above"] * (int(n * 0.2) + 1)
                + [rng.choice(["a", "b", "c"]) for _ in range(n - k - int(n * 0.2) - 1)])
        rng.shuffle(rows)
    vshape = rng.choice(["normal", "ties", "constant", "expo"])
    vals = []
    for i in range(len(rows)):
        if vshape == "normal":
            vals.append(rng.gauss(100.0, 25.0))
        elif vshape == "ties":
            vals.append(float(rng.randint(0, 5)))
        elif vshape == "constant":
            vals.append(42.0)
        else:
            vals.append(rng.expovariate(0.001))
    # user_id cardinality sweep for the distinct sketches: from tiny to
    # ~rowcount (the sparse->dense HLL transition)
    card = rng.choice([1, 7, 97, 1009, max(1, len(rows))])
    users = [rng.randrange(card) for _ in range(len(rows))]
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [_TS0 + pd.Timedelta(minutes=i) for i in range(len(rows))],
            "user_id": users,
            "event_type": rows,
            "value": vals,
            "props": ['{"k": 1}'] * len(rows),
        }
    ).to_parquet(f"{d}/events.parquet", coerce_timestamps="us",
                 allow_truncated_timestamps=True)
    # lineitem for the percentile/distinct keys: reuse value shapes
    m = rng.randint(50, 3000)
    pd.DataFrame(
        {
            "l_orderkey": [i // 4 for i in range(m)],
            "l_partkey": [rng.randrange(max(1, card)) for _ in range(m)],
            "l_suppkey": [rng.randrange(max(1, card // 2 or 1)) for _ in range(m)],
            "l_linenumber": pd.array([i % 7 for i in range(m)], dtype="int32"),
            "l_quantity": [float(rng.randint(1, 50)) for _ in range(m)],
            "l_extendedprice": [
                round(rng.gauss(30000, 12000), 2) if vshape != "ties"
                else float(rng.randint(1, 9)) * 1000.0
                for _ in range(m)
            ],
            "l_discount": [round(rng.random() * 0.1, 2) for _ in range(m)],
            "l_tax": [round(rng.random() * 0.08, 2) for _ in range(m)],
            "l_returnflag": [rng.choice("NRA") for _ in range(m)],
            "l_linestatus": [rng.choice("OF") for _ in range(m)],
            "l_shipdate": [_TS0 + pd.Timedelta(days=i % 400) for i in range(m)],
        }
    ).to_parquet(f"{d}/lineitem.parquet", coerce_timestamps="us",
                 allow_truncated_timestamps=True)


@pytest.mark.parametrize("seed", [3, 17, 41, 59, 73, 101])
def test_random_approx_conversions_engines_agree(seed, spark, tmp_path):
    d = tmp_path / f"ax{seed}"
    d.mkdir()
    _random_fixture(seed, str(d))
    with oracle_con(d) as con:
        for key in KEYS:
            assert_key_matches(spark, con, key, d, f"rand{seed}:{key}")
