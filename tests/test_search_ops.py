"""Engine-side references for the keys registered in operators/search_ops.py:
corpus bigram top-k, BM25 and Reciprocal Rank Fusion, each against a
from-scratch Python retriever (same formula, same tie rules, no SQL
engine involved)."""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bigdatawork_spark.operators.search_ops import (
    _B,
    _K1,
    _RRF_K,
    _RRF_LIST,
    _RRF_QVEC,
    _RRF_TERMS,
)
from bigdatawork_spark.registry import QUERIES

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def test_ngram_topk_vs_python_counter(spark, sf_dir):
    """Corpus top-20 bigrams ≡ a Counter over adjacent non-empty words,
    ties broken on the bigram text."""
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    c = Counter()
    for t in docs["text"]:
        ws = [w for w in (t or "").split(" ") if w]
        c.update(f"{a} {b}" for a, b in zip(ws[:-1], ws[1:]))
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = QUERIES["ngram_topk"](spark, sf_dir).collect()
    assert [(r["bigram"], r["n"]) for r in rows] == top


_BM_VOCAB = ["join", "merge", "scan", "the", "fast", "slow", "table"]


_bm_docs = st.lists(
    st.lists(st.sampled_from(_BM_VOCAB), min_size=1, max_size=8).map(" ".join),
    min_size=1,
    max_size=18,  # < 20 so the top-20 cut never truncates
)


@given(texts=_bm_docs)
@settings(**_SETTINGS)
def test_random_bm25_vs_formula_walk(spark, tmp_path_factory, texts):
    """BM25 scores vs a from-scratch formula walk (k1=1.2, b=0.75,
    idf=ln(1+(N-df+.5)/(df+.5)), mean-length normalization): df/avglen
    bookkeeping drifts easily.  Rank order is checked for
    self-consistency against the returned scores (ties after rounding to
    6 decimals make cross-implementation rank order legitimately
    ambiguous)."""
    import math

    d = tmp_path_factory.mktemp("bm")
    n = len(texts)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(["s"] * n, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        str(d / "documents.parquet"),
    )
    rows = QUERIES["bm25_rank"](spark, str(d)).collect()
    got = {r.doc_id: r.score for r in rows}

    toks = {i: [w for w in t.split(" ") if w] for i, t in enumerate(texts)}
    avglen = sum(len(ws) for ws in toks.values()) / n
    terms = ("join", "merge", "scan")
    df = {
        t: sum(1 for ws in toks.values() if t in ws) for t in terms
    }
    want = {}
    for i, ws in toks.items():
        score = 0.0
        for t in terms:
            tf = ws.count(t)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            score += (
                idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * len(ws) / avglen))
            )
        if score > 0:
            want[i] = round(score, 6)
    assert set(got) == set(want), f"texts={texts!r}"
    for i, sc in want.items():
        assert abs(got[i] - sc) <= 2.1e-6, (i, got[i], sc)
    # rank column must be the (score desc, doc_id) rank of the returned rows
    expect_rn = {
        r[0]: k + 1
        for k, r in enumerate(
            sorted(got.items(), key=lambda kv: (-kv[1], kv[0]))
        )
    }
    assert {r.doc_id: r.rn for r in rows} == expect_rn


def _rrf_python_reference(sf_dir: str):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    toks = {
        d: [w for w in t.split(" ") if w]
        for d, t in zip(docs["doc_id"], docs["text"])
        if t is not None
    }
    n_docs = len(docs)
    avglen = sum(len(ws) for ws in toks.values()) / n_docs
    tf = {
        d: Counter(w for w in ws if w in _RRF_TERMS) for d, ws in toks.items()
    }
    df = Counter(w for c in tf.values() for w in c)
    bm25 = {}
    for d, c in tf.items():
        if not c:
            continue
        s = 0.0
        for w, t in c.items():
            idf = math.log(1.0 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
            s += idf * (t * (_K1 + 1.0)) / (
                t + _K1 * (1.0 - _B + _B * len(toks[d]) / avglen)
            )
        bm25[d] = round(s, 6)
    lex_ranked = sorted(bm25, key=lambda d: (-bm25[d], d))[:_RRF_LIST]
    lex_rank = {d: i + 1 for i, d in enumerate(lex_ranked)}

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {
        v: [float(x) for x in e] for v, e in zip(emb["vec_id"], emb["embedding"])
    }
    qe = vecs[_RRF_QVEC]
    qn = math.sqrt(sum(x * x for x in qe))
    cos = {}
    for v, e in vecs.items():
        if v == _RRF_QVEC:
            continue
        nrm = math.sqrt(sum(x * x for x in e))
        cos[v] = round(sum(a * b for a, b in zip(e, qe)) / (nrm * qn), 6)
    sem_ranked = sorted(cos, key=lambda v: (-cos[v], v))[:_RRF_LIST]
    sem_rank = {v: i + 1 for i, v in enumerate(sem_ranked)}

    rrf = {
        d: (1.0 / (_RRF_K + lex_rank[d]) if d in lex_rank else 0.0)
        + (1.0 / (_RRF_K + sem_rank[d]) if d in sem_rank else 0.0)
        for d in set(lex_rank) | set(sem_rank)
    }
    fused = sorted(rrf, key=lambda d: (-rrf[d], d))[:20]
    return lex_rank, sem_rank, rrf, fused


def test_rrf_vs_python_reference(spark, sf_dir):
    """Top-20 fused list ≡ the from-scratch Python hybrid retriever —
    same BM25, same cosine, same rank-then-fuse arithmetic, no SQL
    engine involved."""
    lex_rank, sem_rank, rrf, fused = _rrf_python_reference(sf_dir)
    rows = QUERIES["rank_fusion_rrf"](spark, sf_dir).collect()
    assert [r["doc_id"] for r in rows] == fused
    for r in rows:
        d = r["doc_id"]
        assert r["lex_rank"] == lex_rank.get(d, 0), r
        assert r["sem_rank"] == sem_rank.get(d, 0), r
        assert abs(r["rrf_score"] - rrf[d]) < 1e-6, (r, rrf[d])


def test_rrf_fuses_both_modalities(spark, sf_dir):
    """Non-vacuousness: the fused top-20 must contain docs from BOTH
    lists and at least one doc present in only one of them — otherwise
    the key degenerates to a single ranker."""
    rows = QUERIES["rank_fusion_rrf"](spark, sf_dir).collect()
    assert len(rows) == 20
    assert any(r["lex_rank"] > 0 for r in rows)
    assert any(r["sem_rank"] > 0 for r in rows)
    assert any(
        (r["lex_rank"] == 0) != (r["sem_rank"] == 0) for r in rows
    ), "every fused doc appears in both lists — fusion untested"
