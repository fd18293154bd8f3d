"""Engine-side references for the keys registered in operators/training_ops.py:
contamination screening, DSIR importance weights, the inverted index, the
global row index, k-fold assignment, sequence packing, the PCA Gramian and
k-center coreset selection — each against a from-scratch Python or numpy re-derivation, on
the sf0.01 parquet or on hypothesis-generated tmp corpora."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bigdatawork_spark.io import load
from bigdatawork_spark.operators.training_ops import _KCENTER_K, kfold_hash_assign
from bigdatawork_spark.registry import QUERIES

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _docs(sf_dir):
    return pd.read_parquet(f"{sf_dir}/documents.parquet")


def test_contamination_ngram_vs_python_sets(spark, sf_dir):
    """Distinct 5-gram overlap counts against the doc_id%97 benchmark
    split, recomputed with plain set intersections.  Tokenization
    mirrors the op exactly: split(' ') WITHOUT empty filtering."""
    docs = _docs(sf_dir)
    grams = {}
    for d, t in zip(docs["doc_id"], docs["text"]):
        ws = (t or "").split(" ")
        if len(ws) >= 5:
            grams[d] = {" ".join(ws[i : i + 5]) for i in range(len(ws) - 4)}
    bench = set().union(*(g for d, g in grams.items() if d % 97 == 0))
    ref = {
        d: len(g & bench)
        for d, g in grams.items()
        if d % 97 != 0 and g & bench
    }
    rows = QUERIES["contamination_ngram"](spark, sf_dir).collect()
    assert {r["doc_id"]: r["n_contaminated_grams"] for r in rows} == ref


def test_dsir_matches_python_rederivation(spark, duck, sf_dir):
    """Independent pure-Python re-derivation of the DSIR weights (the
    oracle is co-designed SQL): add-1-smoothed unigram models over the
    en-slice vs the full corpus, average per-token log-ratio per doc,
    top-50 by (weight desc, doc_id).  Exact-fraction arithmetic is
    avoided the same way the engines avoid it — per-token doubles — so
    agreement is asserted at the rounded 6-decimal precision the
    operator publishes."""
    docs = duck.execute(
        "SELECT doc_id, lang, text FROM documents ORDER BY doc_id"
    ).fetchall()
    src = Counter()
    tgt = Counter()
    doc_toks = {}
    for doc_id, lang, text in docs:
        toks = [w for w in text.split(" ") if w]
        doc_toks[doc_id] = toks
        src.update(toks)
        if lang == "en":
            tgt.update(toks)
    v = len(src)
    n_src = sum(src.values())
    n_tgt = sum(tgt.values())
    lr = {
        w: math.log((tgt.get(w, 0) + 1) / (n_tgt + v))
        - math.log((src[w] + 1) / (n_src + v))
        for w in src
    }
    scored = [
        (sum(lr[w] for w in toks) / len(toks), doc_id, len(toks))
        for doc_id, toks in doc_toks.items()
        if toks
    ]
    scored.sort(key=lambda t: (-t[0], t[1]))
    want = {d: (n, round(s, 6)) for s, d, n in scored[:50]}

    rows = QUERIES["dsir_importance_resample"](spark, sf_dir).collect()
    got = {r["doc_id"]: (r["n_tokens"], r["avg_log_ratio"]) for r in rows}
    assert set(got) == set(want)
    for d in got:
        assert got[d][0] == want[d][0]
        assert abs(got[d][1] - want[d][1]) < 2e-6, (d, got[d], want[d])


def test_inverted_index_vs_python_postings(spark, sf_dir):
    """doc-frequency and sorted posting strings from a dict walk."""
    docs = _docs(sf_dir)
    postings = defaultdict(list)
    for d, t in zip(docs["doc_id"], docs["text"]):
        if d >= 300:
            continue
        for tok in set((t or "").split(" ")):
            if len(tok) >= 4:
                postings[tok].append(d)
    rows = QUERIES["inverted_index"](spark, sf_dir).collect()
    assert len(rows) == len(postings)
    for r in rows:
        ids = sorted(postings[r["token"]])
        assert r["doc_freq"] == len(ids), r
        assert r["postings"] == ",".join(str(i) for i in ids), r


def test_global_row_index_is_a_total_dense_numbering(spark, sf_dir):
    """The thinned output must walk the table's total order: sampled
    indices are exactly the multiples of 97 below n, and the carried
    sort key is strictly increasing along them — a gap or swap anywhere
    in the per-partition offset arithmetic would break one of the two."""
    rows = QUERIES["global_row_index"](spark, sf_dir).collect()
    n = load(spark, sf_dir, "lineitem").count()
    assert [r.global_idx for r in rows] == list(range(0, n, 97))
    keys = [(r.l_orderkey, r.l_linenumber) for r in rows]
    assert keys == sorted(keys)
    assert len(set(keys)) == len(keys)


_li_keys = st.sets(
    st.tuples(
        st.integers(min_value=0, max_value=400),  # l_orderkey
        st.integers(min_value=1, max_value=7),    # l_linenumber
    ),
    min_size=0,
    max_size=130,  # >97 so the thinning keeps >1 sampled index sometimes
)


@given(keys=_li_keys)
@settings(**_SETTINGS)
def test_random_global_row_index_vs_enumerate(spark, tmp_path_factory, keys):
    """Range-partition → per-partition offset → local window must equal a
    single-process enumerate of the sorted key list, including partition
    boundaries that land between duplicate orderkeys (same l_orderkey
    split across ranges only by l_linenumber)."""
    rows = sorted(keys)
    d = tmp_path_factory.mktemp("gri")
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_linenumber": pa.array([r[1] for r in rows], pa.int32()),
        }),
        str(d / "lineitem.parquet"),
    )
    got = [
        (r.global_idx, r.l_orderkey, r.l_linenumber)
        for r in QUERIES["global_row_index"](spark, str(d)).collect()
    ]
    want = [
        (i, ok, ln) for i, (ok, ln) in enumerate(rows) if i % 97 == 0
    ]
    assert got == want, f"n={len(rows)}"


def test_kfold_exact_balance_within_every_stratum(spark, sf_dir):
    rows = QUERIES["kfold_stratified"](spark, sf_dir).collect()
    by_lang: dict[str, list[int]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.n_docs)
    d = load(spark, sf_dir, "documents")
    assert sum(sum(v) for v in by_lang.values()) == d.count()
    for lang, counts in by_lang.items():
        assert max(counts) - min(counts) <= 1, (lang, counts)


def test_kfold_hash_dealer_is_roughly_balanced(spark, sf_dir):
    """The skew-immune map-only dealer: per-stratum fold sizes within
    5x sqrt(n_lang) of the fair share (binomial noise bound with slack;
    the exact-balance window form stays the oracle-checkable key)."""
    rows = kfold_hash_assign(spark, sf_dir).collect()
    by_lang: dict[str, list[int]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.n_docs)
    for lang, counts in by_lang.items():
        n = sum(counts)
        fair = n / 5
        for c in counts:
            assert abs(c - fair) <= 5 * max(1.0, n**0.5), (lang, counts)


_kdocs = st.lists(
    st.tuples(
        st.sampled_from(["en", "de", "fr"]),
        st.sampled_from(["x", "y", "zz", "ww q", ""]),  # dup texts → md5 ties
        st.integers(min_value=0, max_value=500),
    ),
    min_size=0,
    max_size=45,
)


@given(rows=_kdocs)
@settings(**_SETTINGS)
def test_random_kfold_vs_python(spark, tmp_path_factory, rows):
    """Fold assignment vs a hashlib.md5 walk: duplicate texts force the
    doc_id tiebreak, tiny strata (< k docs) exercise the partial-deal
    case, and per-(lang,fold) sums must match exactly."""
    d = tmp_path_factory.mktemp("kf")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(rows)), pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[0] for r in rows], pa.string()),
            "source": pa.array(["s"] * len(rows), pa.string()),
            "n_chars": pa.array([r[2] for r in rows], pa.int64()),
        }),
        str(d / "documents.parquet"),
    )
    got = {
        (r.lang, r.fold): (r.n_docs, r.sum_chars)
        for r in QUERIES["kfold_stratified"](spark, str(d)).collect()
    }

    by_lang: dict[str, list[tuple[str, int, int]]] = {}
    for i, (lang, text, nc) in enumerate(rows):
        by_lang.setdefault(lang, []).append(
            (hashlib.md5(text.encode()).hexdigest(), i, nc)
        )
    want: dict[tuple[str, int], list[int]] = {}
    for lang, docs in by_lang.items():
        for rk, (_, _, nc) in enumerate(sorted(docs)):
            ent = want.setdefault((lang, rk % 5), [0, 0])
            ent[0] += 1
            ent[1] += nc
    assert got == {k: tuple(v) for k, v in want.items()}, f"rows={rows!r}"


_pack_docs = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        st.integers(min_value=0, max_value=1200),  # words per doc
    ),
    min_size=1,
    max_size=12,
)


def _write_pack_docs(tmp_path_factory, rows):
    d = tmp_path_factory.mktemp("pk")
    texts = [" ".join(["w"] * n) for _, n in rows]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(rows)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([r[0] for r in rows], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        str(d / "documents.parquet"),
    )
    return str(d)


@given(rows=_pack_docs)
@settings(**_SETTINGS)
def test_random_packing_vs_running_sum_walk(spark, tmp_path_factory, rows):
    """Both packing layouts vs one running-sum walk.  The two ops count
    tokens DIFFERENTLY by contract — pack_sequences counts raw split
    fields (an empty text is ONE empty token: split('') = ['']),
    pack_bins_greedy filters empties (an empty text is zero tokens) —
    and a bin is determined by tokens accumulated BEFORE the document
    (sum-minus-self), so a budget-straddling doc belongs to the bin it
    STARTED in.  Zero-length and giant (multi-bin) docs are generated
    on purpose."""
    d = _write_pack_docs(tmp_path_factory, rows)

    def walk(budget, raw):
        agg: dict[tuple[str, int], list[int]] = {}
        per_src: dict[str, int] = {}
        for src, n in rows:  # doc_id order == list order
            n_tok = max(n, 1) if raw else n  # split('') -> [''] counts 1
            before = per_src.get(src, 0)
            b = before // budget
            per_src[src] = before + n_tok
            ent = agg.setdefault((src, b), [0, 0])
            ent[0] += 1
            ent[1] += n_tok
        return agg

    got_seq = {
        (r.source, r.bin_id): (r.n_docs, r.n_tokens)
        for r in QUERIES["pack_sequences"](spark, d).collect()
    }
    assert got_seq == {
        k: tuple(v) for k, v in walk(512, raw=True).items()
    }, f"rows={rows!r}"

    got_bins = {
        (r.source, r.bin): (r.n_docs, r.n_tokens, r.fill_ratio)
        for r in QUERIES["pack_bins_greedy"](spark, d).collect()
    }
    want = {
        k: (nd, nt, round(nt / 2048, 6))
        for k, (nd, nt) in walk(2048, raw=False).items()
    }
    assert set(got_bins) == set(want), f"rows={rows!r}"
    for k, (nd, nt, fr) in want.items():
        gnd, gnt, gfr = got_bins[k]
        assert (gnd, gnt) == (nd, nt), (k, rows)
        assert abs(gfr - fr) <= 1.1e-6, (k, gfr, fr)


def _embeddings_matrix(sf_dir):
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = np.array(t["vec_id"].to_pylist(), dtype=np.int64)
    M = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], M[order]


def test_pca_gram_matches_numpy_eigh(spark, sf_dir):
    ids, M = _embeddings_matrix(sf_dir)
    mean = M.mean(axis=0)
    cov = (M - mean).T @ (M - mean) / len(M)
    w, V = np.linalg.eigh(cov)
    top = V[:, -1]
    if top[np.argmax(np.abs(top))] < 0:
        top = -top
    ref_proj = (M - mean) @ top
    ref_ratio = w[-1] / w.sum()

    rows = QUERIES["embedding_pca_gram"](spark, sf_dir).collect()
    assert len(rows) == len(ids)
    got = {r["vec_id"]: r["pc1"] for r in rows}
    got_proj = np.array([got[i] for i in ids])
    # both sides eigensolve the same 64x64 covariance; residual is float
    # accumulation order in the distributed Gramian plus the 1e-6 rounding
    assert np.allclose(got_proj, ref_proj, atol=1e-4), (
        np.abs(got_proj - ref_proj).max()
    )
    ratios = {r["explained_var_ratio"] for r in rows}
    assert len(ratios) == 1
    assert abs(next(iter(ratios)) - ref_ratio) < 1e-4


def test_kcenter_invariants(spark, sf_dir):
    rows = QUERIES["coreset_sample_kcenter"](spark, sf_dir).collect()
    assert len(rows) == _KCENTER_K
    picks = [r["vec_id"] for r in rows]
    assert len(set(picks)) == _KCENTER_K
    assert rows[0]["pick_order"] == 0
    assert rows[0]["radius_before"] == -1.0  # sentinel for the seed pick

    ids, M = _embeddings_matrix(sf_dir)
    assert picks[0] == ids.min()  # deterministic seed = min vec_id
    radii = [r["radius_before"] for r in rows[1:]]
    assert radii == sorted(radii, reverse=True), radii  # non-increasing

    # each reported radius equals the true farthest-point distance given
    # the previously selected centers (greedy re-derivation in numpy)
    by_id = {int(i): M[j] for j, i in enumerate(ids)}
    centers = [by_id[picks[0]]]
    for r in rows[1:]:
        dists = np.min(
            [np.linalg.norm(M - c, axis=1) for c in centers], axis=0
        )
        far_idx = np.lexsort((ids, -dists))[0]
        assert ids[far_idx] == r["vec_id"]
        assert abs(dists[far_idx] - r["radius_before"]) < 1e-5
        centers.append(by_id[r["vec_id"]])

    # coverage: after all k picks the farthest remaining point is no
    # farther than the last reported radius (greedy monotonicity)
    final = np.min([np.linalg.norm(M - c, axis=1) for c in centers], axis=0)
    assert final.max() <= rows[-1]["radius_before"] + 1e-9
