"""Engine-side references for the keys registered in operators/llm_ops.py:
unigram surprisal, per-class embedding centroids, IVF kNN classification
and SemDedup pruning, each re-derived from the raw parquet with plain
Python or numpy."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from bigdatawork_spark.registry import QUERIES

from .test_training_ops import _embeddings_matrix


def _tokens(text: str) -> list[str]:
    return [w for w in (text or "").split(" ") if w]


def test_unigram_surprisal_vs_python_counter(spark, sf_dir):
    """The 50 most-surprising docs: per-doc token counts exact, mean
    surprisal within float tolerance, and every returned doc must rank
    in the Python reference's top 52 (2 slots of rounding slack at the
    cut line)."""
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    toks = {d: _tokens(t) for d, t in zip(docs["doc_id"], docs["text"])}
    freq = Counter(w for ws in toks.values() for w in ws)
    total = sum(freq.values())
    avg = {
        d: sum(-math.log(freq[w] / total) for w in ws) / len(ws)
        for d, ws in toks.items()
        if ws
    }
    ranked = sorted(avg, key=lambda d: (-round(avg[d], 6), d))
    pos = {d: i for i, d in enumerate(ranked)}
    rows = QUERIES["text_unigram_logprob"](spark, sf_dir).collect()
    assert len(rows) == 50
    last = float("inf")
    for r in rows:
        d = r["doc_id"]
        assert r["n_tokens"] == len(toks[d]), r
        assert abs(r["avg_neg_logprob"] - avg[d]) < 2e-6, (r, avg[d])
        assert r["avg_neg_logprob"] <= last + 1e-9  # non-increasing
        last = r["avg_neg_logprob"]
        assert pos[d] < 52, (d, pos[d])


def test_embedding_centroid_vs_python_means(spark, sf_dir):
    """Per-(label, dimension) centroid ≡ plain Python means."""
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    sums: dict[tuple, list] = defaultdict(lambda: [0.0, 0])
    for lab, e in zip(emb["label"], emb["embedding"]):
        for pos, x in enumerate(e, start=1):
            s = sums[(lab, pos)]
            s[0] += float(x)
            s[1] += 1
    rows = QUERIES["embedding_centroid"](spark, sf_dir).collect()
    assert len(rows) == len(sums)
    for r in rows:
        s, n = sums[(r["label"], r["pos"])]
        assert r["n_vectors"] == n, r
        assert abs(r["centroid"] - s / n) < 1e-6, (r, s / n)


def test_knn_ivf_matches_numpy_rederivation(spark, sf_dir):
    """The hash-green oracle is co-designed SQL, so re-derive the whole
    IVF-kNN pipeline (⌈√n⌉ first-by-vec_id centroids → max-cos assignment
    → same-list top-5 → majority vote) independently in numpy and demand
    identical predictions.  A vote-agreement threshold against the exact
    twin would be meaningless: this corpus's labels carry no embedding
    structure (exact kNN accuracy ≈ chance), so candidate-set perturbations
    flip votes chaotically — only exact semantic parity is testable."""
    ids, M = _embeddings_matrix(sf_dir)
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    lab_by_id = dict(zip(t["vec_id"].to_pylist(), t["label"].to_pylist()))
    lab = np.array([lab_by_id[i] for i in ids])
    n = len(ids)
    n_cent = int(np.ceil(np.sqrt(n)))
    nrm = np.linalg.norm(M, axis=1)
    C = M[:n_cent]  # ids are sorted — first √n by vec_id
    cs = (M @ C.T) / np.outer(nrm, nrm[:n_cent])
    # max cos, tiebreak smaller cid: lexsort on (-cs, cid) per row
    own = np.array(
        [np.lexsort((ids[:n_cent], -cs[i]))[0] for i in range(n)]
    )  # index into centroid block
    preds = {}
    for c in set(own):
        members = np.where(own == c)[0]
        if len(members) < 2:
            continue
        sub = (M[members] @ M[members].T) / np.outer(nrm[members], nrm[members])
        np.fill_diagonal(sub, -np.inf)
        for j, i in enumerate(members):
            order = np.lexsort((ids[members], -sub[j]))
            top = [members[o] for o in order if members[o] != i][:5]
            votes = Counter(lab[top])
            preds[ids[i]] = sorted(
                votes.items(), key=lambda kv: (-kv[1], kv[0])
            )[0][0]

    rows = QUERIES["knn_classify_ivf"](spark, sf_dir).collect()
    got = {r["vec_id"]: r["pred_label"] for r in rows}
    assert got == preds
    exact_schema = QUERIES["knn_classify"](spark, sf_dir).schema
    assert [f.name for f in QUERIES["knn_classify_ivf"](
        spark, sf_dir
    ).schema.fields] == [f.name for f in exact_schema.fields]


def test_semdedup_survivors_are_pairwise_dissimilar(spark, sf_dir):
    """After pruning, no two SURVIVORS in the same cluster may still be
    within the similarity threshold (v survives only if it has no smaller
    near-dup, so for any surviving pair u<v, u is not near v) — and every
    pruned row must name a smaller kept_by within the threshold.  Both
    re-derived in numpy from the raw parquet + the operator's own cluster
    assignment."""
    from bigdatawork_spark.operators.llm_ops import _SEMDEDUP_TAU, _ivf_assign

    rows = QUERIES["semdedup_prune"](spark, sf_dir).collect()
    assert rows, "sf0.01 corpus has near-threshold pairs — prune must fire"
    pruned = {r["pruned_id"]: r for r in rows}
    assert len(pruned) == len(rows)  # one decision per pruned vector

    ids, M = _embeddings_matrix(sf_dir)
    nrm = np.linalg.norm(M, axis=1)
    vec = {int(i): M[j] for j, i in enumerate(ids)}
    nrm_by = {int(i): nrm[j] for j, i in enumerate(ids)}

    _, assign = _ivf_assign(spark, sf_dir)
    cid_of = {r["vec_id"]: r["cid"] for r in assign.select("vec_id", "cid").collect()}

    for r in rows:
        assert r["kept_by"] < r["pruned_id"]
        assert cid_of[r["kept_by"]] == cid_of[r["pruned_id"]] == r["cid"]
        cos = float(
            vec[r["pruned_id"]] @ vec[r["kept_by"]]
            / (nrm_by[r["pruned_id"]] * nrm_by[r["kept_by"]])
        )
        assert cos >= _SEMDEDUP_TAU - 1e-9
        assert abs(cos - r["cos_sim"]) < 1e-5

    by_cluster = {}
    for i in ids:
        if int(i) not in pruned:
            by_cluster.setdefault(cid_of[int(i)], []).append(int(i))
    for cid, members in by_cluster.items():
        if len(members) < 2:
            continue
        X = np.array([vec[i] for i in members])
        nn = np.array([nrm_by[i] for i in members])
        S = (X @ X.T) / np.outer(nn, nn)
        np.fill_diagonal(S, -np.inf)
        assert S.max() < _SEMDEDUP_TAU + 1e-9, (cid, S.max())
