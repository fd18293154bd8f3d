"""Randomized cross-engine differential over GENERATED documents —
the text-family extension of test_random_differential.py, armed by the
r13 edge-corpus campaign: hypothesis draws small corpora mixing normal
text with the degenerate shapes that campaign proved dangerous (None,
empty, whitespace-only, repeated single words, embedded tab/newline,
non-ASCII), and four cheap per-row text keys must match their DuckDB
oracles on every draw.  Catches tokenization/null-semantics drift at
shapes neither the fixed corpus nor the hand-picked edge corpus
enumerates."""

from __future__ import annotations

import os
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from .compare import assert_key_matches, oracle_con

_WORDS = ["the", "fox", "dup", "a", "é", "中文", "x1", "...", "Mixed"]

_text = st.one_of(
    st.none(),
    st.just(""),
    st.just("   "),
    st.lists(st.sampled_from(_WORDS), min_size=1, max_size=12).map(" ".join),
    # embedded tab/newline inside a "word" (split is on ' ' only)
    st.lists(st.sampled_from(_WORDS + ["a\tb", "c\nd"]), min_size=1, max_size=6).map(
        " ".join
    ),
    # pathological: many repeats of one word
    st.sampled_from(_WORDS).map(lambda w: " ".join([w] * 9)),
)

_corpus = st.lists(_text, min_size=1, max_size=10)

# cheap per-row keys — the ones a tokenization drift would hit first
_KEYS = ["doc_fingerprint", "token_count", "repetition_ngram_ratio",
         "text_quality_score"]

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(texts=_corpus)
def test_random_corpora_engines_agree(spark, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="randtext_")
    # explicit schema: an all-None draw would otherwise degrade the text
    # column to a null/int parquet type and break both engines' binders
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), type=pa.int64()),
                "text": pa.array(texts, type=pa.string()),
                "lang": pa.array(["en"] * len(texts), type=pa.string()),
                "source": pa.array(
                    [f"src{i % 3}" for i in range(len(texts))], type=pa.string()
                ),
                "n_chars": pa.array(
                    [len(t) if t is not None else 0 for t in texts],
                    type=pa.int64(),
                ),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    with oracle_con(d) as con:
        for key in _KEYS:
            assert_key_matches(spark, con, key, d, f"rand-text:{key}")
