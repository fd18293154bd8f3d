"""Engine-side references for the keys registered in operators/pipeline_ops.py.

Winnowing is checked against the brute-force per-window rule (Schleimer
et al.), and the custom per-document keys — SimHash bits, content
fingerprints, the language-ID heuristic, repetition ratios, quality
scoring, token counting and embedding norms — are recomputed from the raw
parquet with hashlib/math only, so a defect shared by a key and its
co-designed DuckDB oracle still fails."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bigdatawork_spark.operators.pipeline_ops import (
    dedup_winnow_pairs,
    winnow_fingerprint,
)
from bigdatawork_spark.registry import QUERIES


@pytest.fixture(scope="module")
def docs(sf_dir):
    return pd.read_parquet(f"{sf_dir}/documents.parquet")


def _words(text):
    return [w for w in (text or "").split(" ") if w]


def _brute_winnow(text, k=5, w=4):
    """Literal robust-winnowing: enumerate every window, select the
    rightmost minimum (Schleimer et al. §3).  The operator computes the
    same set via reach arithmetic in ONE window pass — this is the
    ground-truth cross-check."""
    t = text.lower()
    n = len(t) - k + 1
    if n < 1:
        return set()
    h = [
        int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:8], 16)
        for i in range(n)
    ]
    if n < w:
        m = min(h)
        return {max(i for i in range(n) if h[i] == m) + 1}
    sel = set()
    for s in range(n - w + 1):
        win = h[s : s + w]
        m = min(win)
        j = max(i for i in range(w) if win[i] == m)
        sel.add(s + j + 1)  # 1-based positions
    return sel


def test_winnow_matches_bruteforce(spark, sf_dir, docs):
    got = winnow_fingerprint(spark, sf_dir).toPandas()
    by_doc = {k: set(v["fp_pos"]) for k, v in got.groupby("doc_id")}
    sample = docs[docs.text.notna()].head(100)
    for _, r in sample.iterrows():
        expect = _brute_winnow(r.text)
        assert by_doc.get(r.doc_id, set()) == expect, r.doc_id


def test_winnow_guarantee_every_window_covered(spark, sf_dir, docs):
    """The winnowing guarantee: every window of w consecutive grams
    contains at least one selected fingerprint."""
    got = winnow_fingerprint(spark, sf_dir).toPandas()
    by_doc = {k: sorted(v["fp_pos"]) for k, v in got.groupby("doc_id")}
    w = 4
    for _, r in docs[docs.text.notna()].head(100).iterrows():
        n = len(r.text) - 5 + 1
        pos = by_doc.get(r.doc_id, [])
        assert pos, r.doc_id
        if n >= w:
            # gap between consecutive fingerprints (and the edges) < w
            assert pos[0] <= w
            assert pos[-1] > n - w
            assert max(
                (b - a) for a, b in zip(pos, pos[1:])
            ) <= w if len(pos) > 1 else True


def test_winnow_density_near_theoretical(spark, sf_dir, docs):
    got = winnow_fingerprint(spark, sf_dir).toPandas()
    total_grams = (
        docs[docs.text.notna()].text.str.len().clip(lower=4) - 4
    ).sum()
    density = len(got) / total_grams
    assert 0.33 < density < 0.47  # theoretical 2/(w+1) = 0.4


def test_winnow_pairs_matches_python_reference(spark, sf_dir, docs):
    """Second MOSS stage re-derived in pure Python from the brute-force
    fingerprints: rare-fingerprint (df in [2, max(2, 4% of docs)])
    bucket join, pairs sharing >= 3."""
    got = dedup_winnow_pairs(spark, sf_dir).toPandas()

    fp_docs: dict[int, set] = {}
    for _, r in docs[docs.text.notna()].iterrows():
        if len(r.text) < 5:
            continue
        t = r.text.lower()
        hs = {
            int(
                hashlib.md5(t[p - 1 : p - 1 + 5].encode()).hexdigest()[:8], 16
            )
            for p in _brute_winnow(r.text)
        }
        for h in hs:
            fp_docs.setdefault(h, set()).add(r.doc_id)
    n_docs = len({d for s in fp_docs.values() for d in s})
    cap = min(max(2, int(0.04 * n_docs)), 64)
    from collections import Counter

    shared = Counter()
    for h, ds in fp_docs.items():
        if 2 <= len(ds) <= cap:
            ds = sorted(ds)
            for i, a in enumerate(ds):
                for b in ds[i + 1 :]:
                    shared[(a, b)] += 1
    expect = {p for p, c in shared.items() if c >= 3}
    assert {(r.doc_a, r.doc_b) for _, r in got.iterrows()} == expect
    for _, r in got.iterrows():
        assert r.n_shared == shared[(r.doc_a, r.doc_b)]
    assert len(expect) > 0


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("abcdefg h"),  # small alphabet: dense ties
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_winnow_fuzz_random_strings_vs_bruteforce(spark, texts):
    """Hypothesis fuzz of the reach-arithmetic winnowing against the
    brute-force per-window rule on RANDOM short strings over a tiny
    alphabet (maximizing hash ties and boundary cases: docs shorter than
    k, shorter than one window, exactly one window).  The operator is
    re-pointed at an inline table through a temp view of the same shape."""
    from bigdatawork_spark.operators.pipeline_ops import _winnow_selected
    import bigdatawork_spark.operators.pipeline_ops as ops

    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    orig_load = ops.load
    try:
        ops.load = lambda sp, sf, name: sdf  # inject the fuzz corpus
        got = (
            _winnow_selected(spark, "unused")
            .toPandas()
            .groupby("doc_id")["pos"]
            .apply(set)
            .to_dict()
        )
    finally:
        ops.load = orig_load
    for i, t in rows:
        assert got.get(i, set()) == _brute_winnow(t), (i, t)


def test_winnow_local_edit_perturbs_o1_fingerprints(spark, sf_dir):
    """The property winnowing exists for: a single-char edit in the middle
    of a document changes only fingerprints within k+w-1 positions of the
    edit — verified in pure Python with the same hash/rule."""
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    edited = base.replace("jumps", "jumpy", 1)  # same length: positions align
    a, b = _brute_winnow(base), _brute_winnow(edited)
    edit_at = base.index("jumps")
    assert a != b  # the edit is visible...
    for p in a.symmetric_difference(b):
        # ...but only within a k+w-1 neighborhood of the edited span
        assert edit_at - (5 + 4 - 1) <= (p - 1) <= edit_at + len("jumpy") + 4


def test_simhash_vs_python_bit_walk(spark, sf_dir, docs):
    """64-bit tf-weighted SimHash recomputed bit-by-bit from md5 nibbles
    — signature strings and collision counts must match exactly."""
    sigs = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        tf = Counter(_words((text or "").lower()))
        signal = [0] * 64
        for w, n in tf.items():
            h = hashlib.md5(w.encode()).hexdigest()
            for j in range(64):
                nib = int(h[j // 4], 16)
                bit = (nib >> (3 - j % 4)) & 1
                signal[j] += n * (2 * bit - 1)
        sigs[doc_id] = "".join("1" if s >= 0 else "0" for s in signal)
    n_same = Counter(sigs.values())
    rows = QUERIES["dedup_simhash"](spark, sf_dir).collect()
    assert len(rows) == len(sigs)
    for r in rows:
        assert r["simhash"] == sigs[r["doc_id"]], r["doc_id"]
        assert r["n_same"] == n_same[r["simhash"]], r


def test_doc_fingerprint_vs_python_md5(spark, sf_dir, docs):
    """Order-normalized word-set fingerprint ≡ hashlib.md5 over the
    sorted distinct words; collision counts exact."""
    fps = {
        d: hashlib.md5(
            " ".join(sorted(set(_words((t or "").lower())))).encode()
        ).hexdigest()
        for d, t in zip(docs["doc_id"], docs["text"])
    }
    n_same = Counter(fps.values())
    rows = QUERIES["doc_fingerprint"](spark, sf_dir).collect()
    assert len(rows) == len(fps)
    for r in rows:
        assert r["fingerprint"] == fps[r["doc_id"]], r["doc_id"]
        assert r["n_same"] == n_same[r["fingerprint"]], r


def test_langid_vs_python_heuristic(spark, sf_dir, docs):
    """Vowel-ratio / word-length bucketing recomputed with str.count."""
    rows = QUERIES["text_langid"](spark, sf_dir).collect()
    ref = {}
    for d, t in zip(docs["doc_id"], docs["text"]):
        low = (t or "").lower()
        vr = sum(low.count(v) for v in "aeiou") / len(t)
        awl = len(t) / len(_words(t))
        guess = (
            "en" if vr >= 0.32 else
            "es" if vr >= 0.28 else
            "de" if awl >= 6.5 else
            "fr" if awl >= 5.5 else "zh"
        )
        ref[d] = (guess, vr)
    assert len(rows) == len(ref)
    for r in rows:
        guess, vr = ref[r["doc_id"]]
        assert r["lang_guess"] == guess, (r, guess)
        assert abs(r["vowel_ratio"] - vr) < 1e-6, (r, vr)


def test_repetition_ratio_vs_python_sets(spark, sf_dir, docs):
    """Unigram/3-gram repeat fractions ≡ 1 - len(set)/len over the same
    sliding windows."""
    rows = QUERIES["repetition_ngram_ratio"](spark, sf_dir).collect()
    assert len(rows) == len(docs)
    ref = {}
    for d, t in zip(docs["doc_id"], docs["text"]):
        ws = _words(t)
        grams = (
            [" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)]
            if len(ws) >= 3
            else []
        )
        rep = lambda xs: 0.0 if not xs else 1.0 - len(set(xs)) / len(xs)  # noqa: E731
        ref[d] = (len(ws), rep(ws), len(grams), rep(grams))
    for r in rows:
        nw, r1, ng, r3 = ref[r["doc_id"]]
        assert (r["n_words"], r["n_grams3"]) == (nw, ng), r
        assert abs(r["rep1_ratio"] - r1) < 1e-6, (r, r1)
        assert abs(r["rep3_ratio"] - r3) < 1e-6, (r, r3)


def test_quality_score_vs_python_formula(spark, sf_dir, docs):
    """Length/word-count saturation + clean-charset bonus recomputed."""
    rows = QUERIES["text_quality_score"](spark, sf_dir).collect()
    assert len(rows) == len(docs)
    ref = {}
    for d, t, nc in zip(docs["doc_id"], docs["text"], docs["n_chars"]):
        clean = re.sub(r"[a-z ]", "", t or "") == ""
        ref[d] = (
            min(nc / 400.0, 1.0) * 0.5
            + min(len(_words(t)) / 60.0, 1.0) * 0.3
            + (0.2 if clean else 0.0)
        )
    for r in rows:
        assert abs(r["quality"] - ref[r["doc_id"]]) < 1e-6, r


def test_token_count_vs_python_splits(spark, sf_dir, docs):
    """All three token accountings exact: whitespace, the BPE-ish regex
    pieces (re.split as the third engine), and ceil(chars/4)."""
    rows = QUERIES["token_count"](spark, sf_dir).collect()
    assert len(rows) == len(docs)
    ref = {
        d: (
            len(_words(t)),
            len([p for p in re.split(r"[^a-z0-9]+", t or "") if p]),
            math.ceil(len(t or "") / 4.0),
        )
        for d, t in zip(docs["doc_id"], docs["text"])
    }
    for r in rows:
        assert (
            r["ws_tokens"],
            r["bpe_ish_tokens"],
            r["byte_est_tokens"],
        ) == ref[r["doc_id"]], r


def test_embedding_norm_stats_vs_python_math(spark, sf_dir):
    """L2 norm, max |x|, and the large-component count recomputed from
    the float32 values widened exactly to doubles."""
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    rows = QUERIES["embedding_norm_stats"](spark, sf_dir).collect()
    assert len(rows) == len(emb)
    ref = {}
    for v, e, lab in zip(emb["vec_id"], emb["embedding"], emb["label"]):
        xs = [float(x) for x in e]
        ref[v] = (
            lab,
            math.sqrt(sum(x * x for x in xs)),
            max(abs(x) for x in xs),
            sum(1 for x in xs if abs(x) > 0.2),
        )
    for r in rows:
        lab, l2, mx, nl = ref[r["vec_id"]]
        assert r["label"] == lab and r["n_large"] == nl, r
        assert abs(r["l2_norm"] - l2) < 1e-6, (r, l2)
        assert abs(r["max_abs"] - mx) < 1e-6, (r, mx)
