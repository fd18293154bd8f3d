"""Engine-side references for the keys registered in operators/aggregations.py:
the exact bitmap distinct count and the heavy-hitter sketch under a
vocabulary far beyond its capacity, both against Python collections."""

from __future__ import annotations

from collections import Counter, defaultdict

import pandas as pd

from bigdatawork_spark.registry import QUERIES


def test_bitmap_distinct_vs_python_sets(spark, sf_dir):
    """The RoaringBitmap-style partial-agg distinct count must be EXACT —
    ≡ per-group Python sets (it claims exactness, unlike the HLL key)."""
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    seen: dict[str, set] = defaultdict(set)
    for t, u in zip(ev["event_type"], ev["user_id"]):
        seen[t].add(u)
    rows = QUERIES["agg_bitmap_distinct"](spark, sf_dir).collect()
    assert {r["event_type"]: r["n_users"] for r in rows} == {
        t: len(s) for t, s in seen.items()
    }


def test_heavy_hitters_exact_beyond_sketch_capacity(spark):
    """The MG guarantee under adversarial load: a 500-word vocabulary
    (>> the m=64 sketch capacity) with 20 planted heavy words — the
    candidate union must still contain every true top-20, making the
    final answer EXACT vs a Python Counter.  This is the case the real
    corpus (31 words < m) never exercises."""
    import bigdatawork_spark.operators.aggregations as ops
    from bigdatawork_spark.operators.aggregations import topk_heavy_hitters

    # Guarantee precondition: every true top-20 count must exceed
    # n_tokens/m.  Here n ~ 5060, n/m ~ 79, lightest heavy = 110.
    words = []
    for h in range(20):  # heavy: 300 - 10h occurrences each (110..300)
        words += [f"heavy{h:02d}"] * (300 - 10 * h)
    for t in range(480):  # tail: 1-3 occurrences
        words += [f"tail{t:03d}"] * (t % 3 + 1)
    # deterministic interleave so heavies spread across partitions
    words = [words[i] for i in range(0, len(words), 7)] + [
        words[i] for i in range(len(words)) if i % 7 != 0
    ]
    docs = [(i, " ".join(words[i::37])) for i in range(37)]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    orig = ops.load
    try:
        ops.load = lambda sp, sf, name: sdf
        got = [
            (r.word, r.cnt) for r in topk_heavy_hitters(spark, "x").collect()
        ]
    finally:
        ops.load = orig
    exact = Counter(w for _, t in docs for w in t.split(" ") if w)
    want = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == want
