"""Adversarial edge-corpus differential, graph family (VERDICT r13
item 5): PageRank / triangle count / BFS over a crafted trade micro-graph
with DISCONNECTED components, a SELF-LOOP, an ISOLATED nation, and
DANGLING nodes — and connected-components clustering over a documents
corpus with disconnected dup clusters, a transitivity chain, singletons,
and sub-3-gram/NULL texts, and over a 20-doc path whose minimum label has
to cross every hop.

The r14 catch this file pinned: a <3-char document fabricated 3-grams on
the Spark side only — Spark's sequence(1, 0) is the DESCENDING [1, 0]
while DuckDB's generate_series(1, 0) is empty — and gram-less docs were
component nodes for Spark's label propagation but absent from the
oracle's nodes CTE.  The Spark side now takes its grams from
``curation.char_trigrams``, which gives a <3-char or NULL doc none, so
only the oracle keeps its length>=3 guard; both sides share an all-docs
node set (dedup_cluster_cc / dedup_keep_representative)."""

from __future__ import annotations

import pandas as pd
import pytest

from bigdatawork_spark.registry import ORACLES, QUERIES

from .compare import assert_frames_match

GRAPH_KEYS = ["graph_pagerank", "graph_triangle_count", "graph_shortest_path"]


@pytest.fixture(scope="module")
def graph_dir(tmp_path_factory) -> str:
    """Nations A..F; supplier-nation -> customer-nation trade edges:
      A->B w=4, A->C w=1   (sparsify keeps only A->B)
      B->A w=3, B->C w=2   (keeps B->A)
      C->A w=2, C->C w=1   (SELF-LOOP; keeps C->A)
      E->F w=1             (single out-edge: w == mean, dropped by the
                            strictly-greater sparsifier — its own edge case)
      D                    (ISOLATED: no suppliers, no customers)
    Undirected: A-B, A-C, B-C (one triangle), E-F (no triangle).
    BFS from N_A over sparsified {A->B, B->A, C->A}: A:0, B:1."""
    d = tmp_path_factory.mktemp("edge_graph")
    pd.DataFrame(
        [(i, f"N_{c}", 0) for i, c in enumerate("ABCDEF")],
        columns=["n_nationkey", "n_name", "n_regionkey"],
    ).to_parquet(f"{d}/nation.parquet")
    # one supplier per nation that EXPORTS (A, B, C, E)
    pd.DataFrame(
        [(1, 0), (2, 1), (3, 2), (4, 4)],
        columns=["s_suppkey", "s_nationkey"],
    ).to_parquet(f"{d}/supplier.parquet")
    # one customer per nation that IMPORTS (A, B, C, F)
    pd.DataFrame(
        [(10, 0), (11, 1), (12, 2), (13, 5)],
        columns=["c_custkey", "c_nationkey"],
    ).to_parquet(f"{d}/customer.parquet")
    # one order per importing customer
    pd.DataFrame(
        [(100, 10), (101, 11), (102, 12), (103, 13)],
        columns=["o_orderkey", "o_custkey"],
    ).to_parquet(f"{d}/orders.parquet")
    # lineitems: (order of dst customer, supplier of src nation) x weight
    edges = [
        (1, 101, 4),  # A->B
        (1, 102, 1),  # A->C
        (2, 100, 3),  # B->A
        (2, 102, 2),  # B->C
        (3, 100, 2),  # C->A
        (3, 102, 1),  # C->C self-loop
        (4, 103, 1),  # E->F
    ]
    rows = []
    ln = 0
    for suppkey, orderkey, w in edges:
        for _ in range(w):
            ln += 1
            rows.append((orderkey, suppkey, ln))
    pd.DataFrame(
        rows, columns=["l_orderkey", "l_suppkey", "l_linenumber"]
    ).to_parquet(f"{d}/lineitem.parquet")
    return str(d)


@pytest.fixture(scope="module")
def graph_duck(graph_dir):
    import duckdb

    con = duckdb.connect()
    for t in ("nation", "supplier", "customer", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{graph_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("key", GRAPH_KEYS)
def test_edge_graph_engines_agree(key, spark, graph_dir, graph_duck):
    spark_pd = QUERIES[key](spark, graph_dir).toPandas()
    oracle_pd = graph_duck.execute(ORACLES[key]).df()
    assert len(spark_pd) > 0, f"edge:{key} returned 0 rows — vacuous"
    assert_frames_match(spark_pd, oracle_pd, f"edge:{key}")


def test_edge_graph_semantics(spark, graph_dir):
    """Pin the shapes directly: the isolated nation still gets a PageRank
    row (damping mass only), exactly {A,B,C} hold one triangle each (the
    self-loop and the E-F bridge create none), and BFS reaches only {A,B}
    after sparsification (E's single out-edge dies on the strict >)."""
    pr = {r["node"]: r["pagerank"] for r in QUERIES["graph_pagerank"](spark, graph_dir).collect()}
    assert set(pr) == {f"N_{c}" for c in "ABCDEF"}
    # D is isolated AND unreachable: five iterations leave it at the pure
    # damping floor 0.15/6; connected nodes accumulate more
    assert pr["N_D"] == round(0.15 / 6, 8)
    assert pr["N_A"] > pr["N_D"]
    tri = {r["node"]: r["n_triangles"] for r in QUERIES["graph_triangle_count"](spark, graph_dir).collect()}
    assert tri == {"N_A": 1, "N_B": 1, "N_C": 1}
    bfs = {r["node"]: r["hops"] for r in QUERIES["graph_shortest_path"](spark, graph_dir).collect()}
    assert bfs == {"N_A": 0, "N_B": 1}


# ---------------------------------------------------------------------------
# dedup_cluster_cc / dedup_keep_representative over adversarial documents

CC_ROWS = [
    # component {0,1}: identical docs
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),
    # transitivity chain {2,3,4}: 2~3 and 3~4 overlap, 2 and 4 barely do —
    # connected components must still merge all three
    (2, "aaaabbbbccccdddd"),
    (3, "bbbbccccddddeeee"),
    (4, "ccccddddeeeeffff"),
    # singletons
    (5, "completely unrelated text about astronomy and telescopes"),
    # sub-3-char texts: NO grams on either engine, still own components
    (6, "ab"),
    (7, ""),
    # NULL text: gram-less, still its own component
    (8, None),
    # doc_id >= 60: excluded from the clustering window entirely
    (61, "the quick brown fox jumps over the lazy dog"),
]


@pytest.fixture(scope="module")
def cc_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("edge_cc")
    pd.DataFrame(
        [
            (i, t, "en", "src0", len(t) if t is not None else 0)
            for i, t in CC_ROWS
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(f"{d}/documents.parquet")
    return str(d)


@pytest.fixture(scope="module")
def cc_duck(cc_dir):
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{cc_dir}/documents.parquet')"
    )
    yield con
    con.close()


@pytest.mark.parametrize("key", ["dedup_cluster_cc", "dedup_keep_representative"])
def test_edge_cc_engines_agree(key, spark, cc_dir, cc_duck):
    spark_pd = QUERIES[key](spark, cc_dir).toPandas()
    oracle_pd = cc_duck.execute(ORACLES[key]).df()
    assert len(spark_pd) > 0
    assert_frames_match(spark_pd, oracle_pd, f"edge:{key}")


def test_edge_cc_components(spark, cc_dir):
    comp = {
        r["doc_id"]: r["component"]
        for r in QUERIES["dedup_cluster_cc"](spark, cc_dir).collect()
    }
    assert comp[0] == comp[1] == 0          # identical pair merges
    assert comp[2] == comp[3] == comp[4] == 2  # chain merges transitively
    assert comp[5] == 5 and comp[6] == 6 and comp[7] == 7 and comp[8] == 8
    assert 61 not in comp                   # window filter held
    kept = {r["doc_id"] for r in QUERIES["dedup_keep_representative"](spark, cc_dir).collect()}
    assert kept == {0, 2, 5, 6, 7, 8}


# A 20-doc path in the shifted-letter pattern: doc p is four runs of four
# letters starting at letter p, so path neighbours share 7 of 13 trigrams
# (Jaccard 0.54) and docs two apart 4 of 16 (0.25, no edge).  Ids run in
# REVERSE along the path, so the minimum label starts at one end and has to
# cross all 19 hops, one round per hop, carried by moved-only messages.
CHAIN_LEN = 20
CHAIN_ROWS = [
    (40 - p, "".join(chr(ord("a") + p + j) * 4 for j in range(4)))
    for p in range(CHAIN_LEN)
] + [
    (5, "completely unrelated text about astronomy and telescopes"),  # isolated
    (7, None),  # NULL text
]


@pytest.fixture(scope="module")
def chain_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("edge_cc_chain")
    pd.DataFrame(
        [
            (i, t, "en", "src0", len(t) if t is not None else 0)
            for i, t in CHAIN_ROWS
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(f"{d}/documents.parquet")
    return str(d)


@pytest.fixture(scope="module")
def chain_duck(chain_dir):
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{chain_dir}/documents.parquet')"
    )
    yield con
    con.close()


@pytest.mark.parametrize("key", ["dedup_cluster_cc", "dedup_keep_representative"])
def test_long_chain_cc_engines_agree(key, spark, chain_dir, chain_duck):
    spark_pd = QUERIES[key](spark, chain_dir).toPandas()
    oracle_pd = chain_duck.execute(ORACLES[key]).df()
    assert len(spark_pd) > 0
    assert_frames_match(spark_pd, oracle_pd, f"chain:{key}")


def test_long_chain_cc_matches_union_find(spark, chain_dir):
    from .test_invariants import union_find_components

    comp = {
        r["doc_id"]: r["component"]
        for r in QUERIES["dedup_cluster_cc"](spark, chain_dir).collect()
    }
    assert comp == union_find_components(dict(CHAIN_ROWS))
    chain_min = 40 - (CHAIN_LEN - 1)
    assert {comp[40 - p] for p in range(CHAIN_LEN)} == {chain_min}
    assert comp[5] == 5 and comp[7] == 7
