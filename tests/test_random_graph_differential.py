"""Seeded random-corpus differential, graph + clustering family (r14,
extending the r13 random-text pattern): generate random trade micro-graphs
and random near-dup document corpora, then require Spark and the DuckDB
oracle to agree on every draw — the fixed edge corpora in
test_edge_graph_differential.py pin known hazards; this file samples the
space between them (random disconnection, random self-loops, random
weight ties on the sparsification threshold, random dup-chain shapes).

Seeds are FIXED (deterministic CI) but chosen arbitrarily; bumping them
is free coverage."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from .compare import assert_key_matches, oracle_con

GRAPH_KEYS = ["graph_pagerank", "graph_triangle_count", "graph_shortest_path"]


def _random_trade_fixture(seed: int, d) -> None:
    rng = random.Random(seed)
    n_nations = rng.randint(3, 8)
    pd.DataFrame(
        [(i, f"N_{i:02d}", 0) for i in range(n_nations)],
        columns=["n_nationkey", "n_name", "n_regionkey"],
    ).to_parquet(f"{d}/nation.parquet")
    # each nation gets a supplier/customer with probability 0.7 — some
    # nations end up isolated, some export-only or import-only
    sups = [(100 + i, i) for i in range(n_nations) if rng.random() < 0.7]
    custs = [(200 + i, i) for i in range(n_nations) if rng.random() < 0.7]
    if not sups:
        sups = [(100, 0)]
    if not custs:
        custs = [(200, 0)]
    pd.DataFrame(sups, columns=["s_suppkey", "s_nationkey"]).to_parquet(
        f"{d}/supplier.parquet"
    )
    pd.DataFrame(custs, columns=["c_custkey", "c_nationkey"]).to_parquet(
        f"{d}/customer.parquet"
    )
    orders = [(300 + i, ck) for i, (ck, _) in enumerate(custs)]
    pd.DataFrame(orders, columns=["o_orderkey", "o_custkey"]).to_parquet(
        f"{d}/orders.parquet"
    )
    # random directed edges with small integer weights (1-4): ties with
    # the per-source mean are common, exercising the strict-> sparsifier
    rows, ln = [], 0
    for sk, _ in sups:
        for ok, _ in orders:
            if rng.random() < 0.5:
                for _ in range(rng.randint(1, 4)):
                    ln += 1
                    rows.append((ok, sk, ln))
    if not rows:
        rows = [(orders[0][0], sups[0][0], 1)]
    pd.DataFrame(
        rows, columns=["l_orderkey", "l_suppkey", "l_linenumber"]
    ).to_parquet(f"{d}/lineitem.parquet")


@pytest.mark.parametrize("seed", [11, 29, 47, 83])
def test_random_trade_graph_engines_agree(seed, spark, tmp_path):
    d = tmp_path / f"g{seed}"
    d.mkdir()
    _random_trade_fixture(seed, str(d))
    with oracle_con(d) as con:
        for key in GRAPH_KEYS:
            assert_key_matches(spark, con, key, d, f"rand{seed}:{key}")


_WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf"]


def _random_docs_fixture(seed: int, d) -> None:
    rng = random.Random(seed)
    rows = []
    for i in range(rng.randint(8, 20)):
        r = rng.random()
        if r < 0.15:
            text = None
        elif r < 0.3:
            text = rng.choice(["", "a", "ab", "  "])
        elif r < 0.6 and rows:
            # near-dup of an earlier doc: mutate a previous text slightly
            base = rng.choice([t for _, t in rows if t] or ["seed text here"])
            words = base.split()
            if words and rng.random() < 0.5:
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
            else:
                words.append(rng.choice(_WORDS))
            text = " ".join(words)
        else:
            text = " ".join(
                rng.choice(_WORDS) for _ in range(rng.randint(3, 12))
            )
        rows.append((i, text))
    pd.DataFrame(
        [
            (i, t, "en", "s0", len(t) if t is not None else 0)
            for i, t in rows
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(f"{d}/documents.parquet")


@pytest.mark.parametrize("seed", [5, 19, 31, 67])
def test_random_cc_corpus_engines_agree(seed, spark, tmp_path):
    d = tmp_path / f"cc{seed}"
    d.mkdir()
    _random_docs_fixture(seed, str(d))
    with oracle_con(d) as con:
        for key in ("dedup_cluster_cc", "dedup_keep_representative"):
            spark_pd = assert_key_matches(spark, con, key, d, f"rand{seed}:{key}")
            assert len(spark_pd) > 0
