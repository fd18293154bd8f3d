"""Engine-side references for the keys registered in operators/curation.py.

Oracle parity is test_differential's job; these tests re-derive the
semantics in plain Python from the parquet or from planted corpora, so a
bug shared by the Spark builder and its co-designed DuckDB oracle would
still be caught."""

from __future__ import annotations

import math

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bigdatawork_spark.operators.curation import dedup_segments_crossdoc
from bigdatawork_spark.registry import QUERIES

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.fixture(scope="module")
def docs(sf_dir):
    return pd.read_parquet(f"{sf_dir}/documents.parquet")


def _words(text):
    return [w for w in text.lower().split(" ") if w != ""]


def _segments(ws, k=3):
    return [
        " ".join(ws[i : i + k]) for i in range(0, len(ws), k)
    ]  # final partial chunk included, matching ceil(len/3) segments


def test_dedup_segments_matches_python_reference(spark, sf_dir, docs):
    got = dedup_segments_crossdoc(spark, sf_dir).toPandas().set_index("doc_id")

    seg_docs: dict[str, set] = {}
    doc_segs = {}
    for _, r in docs[docs.text.notna()].iterrows():
        ws = _words(r.text)
        if not ws:
            continue
        segs = _segments(ws)
        doc_segs[r.doc_id] = segs
        for s in segs:
            seg_docs.setdefault(s, set()).add(r.doc_id)
    boiler = {s for s, d in seg_docs.items() if len(d) >= 3}
    assert boiler, "corpus must produce boilerplate for a non-vacuous test"

    removed_any = 0
    for doc_id, segs in doc_segs.items():
        kept = [s for s in segs if s not in boiler]
        row = got.loc[doc_id]
        assert row["n_seg"] == len(segs)
        assert row["n_kept"] == len(kept)
        assert row["cleaned_text"] == " ".join(kept)
        # SQL ROUND is half-away-from-zero; Python round() is half-even
        assert row["keep_ratio"] == math.floor(
            len(kept) / len(segs) * 10000 + 0.5
        ) / 10000
        removed_any += len(segs) - len(kept)
    assert removed_any > 0
    assert set(doc_segs) == set(got.index)


def test_dedup_segments_cleaned_text_is_subsequence(spark, sf_dir, docs):
    got = dedup_segments_crossdoc(spark, sf_dir).toPandas()
    full = docs.set_index("doc_id")
    sample = got.head(50)
    for _, r in sample.iterrows():
        orig = " ".join(_words(full.loc[r.doc_id, "text"]))
        # every kept segment appears verbatim in the original
        for chunk in r.cleaned_text.split(" ") if r.cleaned_text else []:
            assert chunk in orig.split(" ")


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]),  # 4-word vocab: dense collisions
            min_size=0,
            max_size=20,
        ).map(" ".join),
        min_size=1,
        max_size=10,
    )
)
@settings(**_SETTINGS)
def test_segment_dedup_fuzz_vs_python(spark, texts):
    """Hypothesis fuzz of the cross-doc segment dedup on random tiny-vocab
    corpora (maximizing boilerplate collisions and edge cases: empty
    texts, docs shorter than one segment, every-segment-boilerplate)."""
    import bigdatawork_spark.operators.curation as ops

    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    orig = ops.load
    try:
        ops.load = lambda sp, sf, name: sdf
        got = (
            dedup_segments_crossdoc(spark, "x").toPandas().set_index("doc_id")
        )
    finally:
        ops.load = orig

    seg_docs: dict[str, set] = {}
    doc_segs = {}
    for i, t in rows:
        ws = _words(t)
        if not ws:
            continue
        segs = _segments(ws)
        doc_segs[i] = segs
        for s in segs:
            seg_docs.setdefault(s, set()).add(i)
    boiler = {s for s, d in seg_docs.items() if len(d) >= 3}
    for i, segs in doc_segs.items():
        kept = [s for s in segs if s not in boiler]
        row = got.loc[i]
        assert row["n_seg"] == len(segs)
        assert row["n_kept"] == len(kept)
        assert row["cleaned_text"] == " ".join(kept)
    assert set(doc_segs) == set(got.index)


def _repeated_spans(docs, k=20, min_span=50):
    """Lowercased texts and, per doc, the 1-based inclusive spans of at
    least ``min_span`` chars covered by ``k``-grams that occur twice or
    more corpus-wide (gaps-and-islands over the marked positions)."""
    from collections import Counter

    texts = {r.doc_id: r.text.lower() for r in docs[docs.text.notna()].itertuples()}
    occ = Counter(t[i : i + k] for t in texts.values() for i in range(len(t) - k + 1))
    spans = {}
    for doc_id, t in texts.items():
        marked = [i + 1 for i in range(len(t) - k + 1) if occ[t[i : i + k]] >= 2]
        spans[doc_id] = []
        start = prev = None
        for p in marked + [None]:
            if start is None:
                start = prev = p
                continue
            if p is not None and p == prev + 1:
                prev = p
                continue
            end = prev + k - 1
            if end - start + 1 >= min_span:
                spans[doc_id].append((start, end))
            start = prev = p
    return texts, spans


def test_repeated_spans_matches_python_reference(spark, sf_dir, docs):
    from bigdatawork_spark.operators.curation import dedup_repeated_spans

    got = dedup_repeated_spans(spark, sf_dir).toPandas()
    _, spans = _repeated_spans(docs)
    expect = sorted(
        (doc_id, s, e, e - s + 1) for doc_id, ss in spans.items() for s, e in ss
    )
    assert [tuple(r) for r in got.itertuples(index=False)] == expect
    assert len(expect) > 0


def test_repeated_spans_are_actually_repeated(spark, sf_dir, docs):
    """Every reported span's text occurs at least twice in the corpus
    (the defining property), checked literally on a sample."""
    from bigdatawork_spark.operators.curation import dedup_repeated_spans

    got = dedup_repeated_spans(spark, sf_dir).toPandas().head(20)
    corpus = "\x00".join(
        t.lower() for t in docs[docs.text.notna()].text
    )
    by_id = docs.set_index("doc_id")
    for _, r in got.iterrows():
        # the span's first 20-gram must occur >= 2 times corpus-wide
        t = by_id.loc[r.doc_id, "text"].lower()
        gram = t[r.span_start - 1 : r.span_start - 1 + 20]
        assert corpus.count(gram) >= 2, (r.doc_id, gram)


def test_spans_removal_matches_python_reference(spark, sf_dir, docs):
    """Span EXCISION re-derived in pure Python: recompute the >=50-char
    repeated spans, cut them out of each doc, compare text + counts —
    including the untouched-passthrough and the fully-repeated->empty
    cases and the k-1 char smear between position-adjacent islands."""
    from bigdatawork_spark.operators.curation import dedup_spans_removal

    got = dedup_spans_removal(spark, sf_dir).toPandas().set_index("doc_id")
    texts, spans = _repeated_spans(docs)
    n_with_cuts = 0
    for doc_id, t in texts.items():
        cleaned, cursor = [], 0  # cursor = last cut END (0-based exclusive)
        for s, e in spans[doc_id]:
            cleaned.append(t[cursor : max(s - 1, cursor)])
            cursor = max(e, cursor)
        cleaned.append(t[cursor:])
        ctext = "".join(cleaned)
        row = got.loc[doc_id]
        assert row["n_cut_spans"] == len(spans[doc_id]), doc_id
        assert row["cleaned_text"] == ctext, doc_id
        assert row["cleaned_len"] == len(ctext)
        n_with_cuts += bool(spans[doc_id])
    assert n_with_cuts > 0
    assert set(texts) == set(got.index)


def test_keep_representative_vs_python_union_find(spark, sf_dir, docs):
    """The kept set ≡ min-id representatives of a from-scratch union-find
    over char-3-gram Jaccard ≥ 0.45 edges (docs < 60 slice)."""
    shingles = {}
    for d, t in zip(docs["doc_id"], docs["text"]):
        if d < 60 and t is not None and len(t) >= 3:
            shingles[d] = {t[i : i + 3] for i in range(len(t) - 2)}
    parent = {d: d for d in shingles}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = sorted(shingles)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(shingles[a] & shingles[b])
            if inter and inter / len(shingles[a] | shingles[b]) >= 0.45:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    kept = sorted(d for d in shingles if find(d) == d)
    rows = QUERIES["dedup_keep_representative"](spark, sf_dir).collect()
    assert [r["doc_id"] for r in rows] == kept


def test_dedup_ladder_structure(spark, duck, sf_dir):
    out = QUERIES["dedup_ladder"](spark, sf_dir).collect()
    assert out
    exact = [r for r in out if r["kind"] == "exact"]
    near = [r for r in out if r["kind"] == "near"]

    texts = dict(
        duck.execute("SELECT doc_id, text FROM documents").fetchall()
    )
    reps = {
        r[0]
        for r in duck.execute(
            "SELECT min(doc_id) FROM documents GROUP BY md5(text)"
        ).fetchall()
    }
    group_min = {
        t: m
        for t, m in duck.execute(
            "SELECT text, min(doc_id) FROM documents GROUP BY text"
        ).fetchall()
    }
    for r in exact:
        # exact rows: identical text, keep-side is the group minimum
        assert texts[r["doc_a"]] == texts[r["doc_b"]]
        assert r["doc_a"] == group_min[texts[r["doc_b"]]]
        assert r["doc_a"] < r["doc_b"]
        assert r["jaccard_dist"] == 0.0
    # every non-representative appears exactly once as an exact dup target
    dup_targets = sorted(r["doc_b"] for r in exact)
    expected = sorted(set(texts) - reps)
    assert dup_targets == expected
    for r in near:
        # near rows connect REPRESENTATIVES only, within the LSH threshold
        assert r["doc_a"] in reps and r["doc_b"] in reps
        assert r["doc_a"] < r["doc_b"]
        assert 0.0 <= r["jaccard_dist"] <= 0.2
    assert near, "sf0.01 corpus has near-dups (dedup_near_minhash finds 25)"


def test_dedup_ladder_exact_stage_on_replicated_corpus(spark, tmp_path):
    """sf0.01 has no hash-identical texts (verified against the corpus), so
    the exact stage's collapse logic needs its own fixture: a corpus where
    two texts carry three copies each must yield exactly the four
    (group-min → dup) rows, and the near stage must see only the three
    unique representatives."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (5, "alpha beta gamma delta epsilon zeta"),
        (3, "one two three four five six seven"),
        (4, "one two three four five six seven"),
        (9, "totally different text with unique words here"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = QUERIES["dedup_ladder"](spark, str(tmp_path)).collect()
    exact = sorted(
        (r["doc_a"], r["doc_b"]) for r in out if r["kind"] == "exact"
    )
    assert exact == [(1, 2), (1, 5), (3, 4)]
    near_ids = {
        i for r in out if r["kind"] == "near" for i in (r["doc_a"], r["doc_b"])
    }
    # representatives are 1, 3, 9 — no dup member may reach the LSH stage
    assert near_ids <= {1, 3, 9}


def _shingle_set(text):
    ws = [w for w in text.split(" ") if w]
    return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}


def test_containment_flags_subset_doc(spark, duck, sf_dir):
    rows = QUERIES["dedup_containment"](spark, sf_dir).collect()
    assert rows, "sf0.01 has 25 full-containment near-dup pairs (measured)"
    texts = dict(duck.execute("SELECT doc_id, text FROM documents").fetchall())
    for r in rows:
        assert 0.8 <= r["containment"] <= 1.0
        a, b = _shingle_set(texts[r["doc_a"]]), _shingle_set(texts[r["doc_b"]])
        # pure-python re-derivation of the asymmetric metric
        expect = len(a & b) / min(len(a), len(b))
        assert abs(expect - r["containment"]) < 1e-6
        small = r["doc_a"] if len(a) <= len(b) else r["doc_b"]
        assert r["contained_doc"] == small


def test_containment_catches_quote_inclusion(spark, tmp_path):
    """The motivating asymmetry: a short doc fully quoted inside a long one
    must be flagged (containment 1.0) even though symmetric Jaccard is far
    below any dedup threshold."""
    quote = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i} w{i} filler{i}" for i in range(30))
    rows = [
        (1, f"{filler} {quote}"),  # long doc embedding the quote
        (2, quote),  # the quote alone
        (3, "totally unrelated words here nothing shared at all"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = QUERIES["dedup_containment"](spark, str(tmp_path)).collect()
    flagged = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert (1, 2) in flagged
    assert flagged[(1, 2)]["containment"] == 1.0
    assert flagged[(1, 2)]["contained_doc"] == 2
    # symmetric jaccard for the same pair is tiny — the shape jaccard misses
    a, b = _shingle_set(rows[0][1]), _shingle_set(rows[1][1])
    assert len(a & b) / len(a | b) < 0.1
    assert not any(3 in k for k in flagged)


# fuzzy_match_levenshtein blocks on the 2nd name token.  On a single-token
# name Spark's ``split().getItem(1)`` is NULL (never joins) while DuckDB's
# ``split_part(..., 2)`` is '' (joins other one-token names), so the
# generator emits two-token names only, matching the parts corpus this
# operator is declared over.
_ADJ = ["red", "reed", "rd", "blue", "blu", "green", "grean", "pink"]
_NOUN = ["widget", "gadget", "sprocket"]

_names = st.sets(
    st.tuples(st.sampled_from(_ADJ), st.sampled_from(_NOUN)).map(
        lambda t: f"{t[0]} {t[1]}"
    ),
    min_size=0,
    max_size=20,
)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@given(names=_names)
@settings(**_SETTINGS)
def test_random_fuzzy_match_vs_dp_walk(spark, tmp_path_factory, names):
    """Blocked edit-distance matching vs a DP walk: blocking on the 2nd
    token means cross-noun near-misses must NOT pair however close, and
    the <=4 cut is checked on adjective pools built to straddle it."""
    d = tmp_path_factory.mktemp("fz")
    ns = sorted(names)
    pq.write_table(
        pa.table({"p_name": pa.array(ns, pa.string())}),
        str(d / "part.parquet"),
    )
    got = {
        (r.name_a, r.name_b): r.dist
        for r in QUERIES["fuzzy_match_levenshtein"](spark, str(d)).collect()
    }
    want = {}
    for i, a in enumerate(ns):
        for b in ns[i + 1 :]:
            if a.split(" ")[1] == b.split(" ")[1]:
                dd = _lev(a, b)
                if dd <= 4:
                    want[(a, b)] = dd
    assert got == want, f"names={ns!r}"
