"""Adversarial edge-corpus differential: run the text-family keys AND
their DuckDB oracles over a corpus of degenerate documents — empty
text, whitespace-only, single word, all-one-word, NULL text, embedded
tab/newline, single repeated character, non-ASCII, digits/punctuation,
exact duplicates, and a word-shuffled duplicate — and require the same
engine agreement the driver checks at sf0.01.

The sf0.01 corpus contains none of these shapes, so the per-round
driver gate can never exercise them; this is where engine-edge
divergence hides (r12's z-score NaN-ordering bug, and this file's
first catch: DuckDB's array_to_string([]) returning NULL lumped
empty-text docs with NULL-text docs in doc_fingerprint's oracle).

A second corpus is dense in supplementary-plane characters (emoji, math
letters), which no fixture scale contains: it pins the character-trigram
keys to DuckDB's one-gram-per-code-point rule (the plain regexp lookahead
once yielded an extra gram per emoji)."""

from __future__ import annotations

import pandas as pd
import pytest

from bigdatawork_spark.registry import QUERIES

from .compare import assert_key_matches, oracle_con

EDGE_ROWS = [
    (0, "the quick brown fox jumps over the lazy dog", "en", "src0"),
    (1, "", "en", "src0"),                     # empty text
    (2, "   ", "en", "src1"),                  # whitespace-only
    (3, "word", "en", "src1"),                 # single word
    (4, "dup dup dup dup dup dup", "en", "src2"),  # all-one-word
    (5, None, "en", "src2"),                   # NULL text
    (6, "a\tb\nc mixed whitespace", "en", "src3"),
    (7, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", "en", "src3"),
    (8, "café naïve 中文 слова", "zz", "src4"),  # non-ASCII
    (9, "123 456 !!! ??? ...", "en", "src4"),
    (10, "the quick brown fox jumps over the lazy dog", "en", "src5"),
    (11, "dog lazy the over jumps fox brown quick the", "en", "src5"),
    (12, "one two three four five six seven eight nine ten", "en", "src6"),
    # doc_ids 44 and 49 hash into decontaminate_exact's held-out split
    # (md5 prefix ≥ 'e666'): an EMPTY benchmark doc makes the empty
    # train docs contaminated (the branch whose oracle lumping the
    # second review caught), and a duplicate-content benchmark doc
    # contaminates the train copies
    (44, "", "en", "src7"),
    (49, "the quick brown fox jumps over the lazy dog", "en", "src7"),
]

# documents-only keys whose builders and oracles must agree on the edge
# corpus exactly as they do on sf0.01
EDGE_KEYS = [
    "text_langid",
    "text_quality_score",
    "token_count",
    "repetition_ngram_ratio",
    "doc_fingerprint",
    "dedup_simhash",
    "dedup_exact",
    "text_stats",
    "text_entropy_filter",
    "char_ngram_profile",
    "dedup_ngram_jaccard",
    "wordcount",
    "text_unigram_logprob",
    "lm_perplexity_score",
    "bm25_rank",
    "ngram_topk",
    "contamination_ngram",
    "chunk_documents",
    "text_normalize",
    "html_strip_tags",
    "quality_filter_gopher",
    "decontaminate_exact",
    "decontaminate_ngram",
    "inverted_index",
    "ngram_pmi",
]


# Supplementary-plane text: every emoji and math letter below is ONE code
# point but TWO UTF-16 units, the unit Java's regex engine walks.  A
# character-gram rule that starts a gram at each UTF-16 position yields an
# extra gram from each emoji's low surrogate; DuckDB's substr() counts code
# points and does not.  Docs 0-9 are dedup_ngram_jaccard's probes; 10-19
# are their near-duplicates and short or NULL texts.
PLANE_ROWS = [
    (0, "good morning 😀 have a nice day 🌞", "en", "src0"),
    (1, "🔥🔥🔥 fire sale 🔥🔥🔥 today only", "en", "src0"),
    (2, "𝐀𝐁𝐂 math letters 𝐀𝐁𝐂 and more", "en", "src1"),
    (3, "😀", "en", "src1"),                    # 1 code point, 2 units
    (4, "a😀", "en", "src2"),                   # 2 code points, 3 units
    (5, "中文 😀 emoji 混合 文本", "zz", "src2"),
    (6, "👍🏽 ok 👨‍👩‍👧 family photo 👍🏽", "en", "src3"),
    (7, "line one 😀\nline two 😀", "en", "src3"),
    (8, "😀😀😀😀😀😀😀😀", "zz", "src4"),
    (9, None, "en", "src4"),
    (10, "good morning 😀😀 have a nice day 🌞🌞", "en", "src5"),
    (11, "🔥🔥🔥 fire sale 🔥🔥 today only!", "en", "src5"),
    (12, "𝐀𝐁𝐂 math letters 𝐀𝐁𝐂 and less", "en", "src6"),
    (13, "ab😀", "zz", "src6"),                 # exactly one gram
    (14, "中文 😀 emoji 混合 文本 😀", "zz", "src7"),
    (15, "👍🏽 ok 👨‍👩‍👧 family photo", "en", "src7"),
    (16, "line one 😀\nline two 😀😀", "en", "src8"),
    (17, "😀😀😀😀😀😀😀", "zz", "src8"),
    (18, "", "en", "src9"),
    (19, "plain ascii text with no emoji", "en", "src9"),
]

# the character-gram keys, each against its DuckDB oracle
PLANE_KEYS = [
    "dedup_ngram_jaccard",
    "char_ngram_profile",
    "dedup_cluster_cc",
    "dedup_keep_representative",
]


def _corpus_dir(tmp_path_factory, name: str, rows) -> str:
    d = tmp_path_factory.mktemp(name)
    pd.DataFrame(
        [(i, t, l, s, len(t) if t is not None else 0) for i, t, l, s in rows],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(f"{d}/documents.parquet")
    return str(d)


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory) -> str:
    return _corpus_dir(tmp_path_factory, "edge_corpus", EDGE_ROWS)


@pytest.fixture(scope="module")
def edge_duck(edge_dir):
    with oracle_con(edge_dir) as con:
        yield con


@pytest.fixture(scope="module")
def plane_dir(tmp_path_factory) -> str:
    return _corpus_dir(tmp_path_factory, "plane_corpus", PLANE_ROWS)


@pytest.fixture(scope="module")
def plane_duck(plane_dir):
    with oracle_con(plane_dir) as con:
        yield con


@pytest.mark.parametrize("key", EDGE_KEYS)
def test_edge_corpus_engines_agree(key, spark, edge_dir, edge_duck):
    assert_key_matches(spark, edge_duck, key, edge_dir, f"edge:{key}")


@pytest.mark.parametrize("key", PLANE_KEYS)
def test_supplementary_plane_engines_agree(key, spark, plane_dir, plane_duck):
    spark_pd = assert_key_matches(spark, plane_duck, key, plane_dir, f"plane:{key}")
    assert len(spark_pd) > 0, f"plane:{key} is vacuous on this corpus"


def test_edge_corpus_fingerprint_semantics(spark, edge_dir):
    """The catch this file exists for, pinned directly: empty-word-set
    docs share md5('') and NULL text stays NULL — never lumped."""
    rows = {r["doc_id"]: r for r in QUERIES["doc_fingerprint"](spark, edge_dir).collect()}
    md5_empty = "d41d8cd98f00b204e9800998ecf8427e"
    assert rows[1]["fingerprint"] == md5_empty
    assert rows[2]["fingerprint"] == md5_empty
    assert rows[1]["n_same"] == 3  # docs 1, 2, 44 — the empty-set group
    assert rows[5]["fingerprint"] is None
    assert rows[5]["n_same"] == 1
    # the shuffled duplicate collapses with its source; exact hashing
    # (dedup_exact) would keep them apart — the reason this key exists
    assert rows[11]["fingerprint"] == rows[0]["fingerprint"]


def test_edge_corpus_decontaminate_flags_empty_and_duplicate(spark, edge_dir):
    """The second review's confirmed divergence, now pinned end-to-end:
    the empty benchmark doc (44) contaminates the empty train docs
    (md5('') identity), the duplicate-content benchmark doc (49)
    contaminates the train copies, and NULL-text train docs stay clean
    (a NULL fingerprint matches nothing on either engine)."""
    rows = QUERIES["decontaminate_exact"](spark, edge_dir).collect()
    by_src = {r["source"]: r for r in rows}
    # src0: doc 0 (dup of benchmark 49) contaminated, doc 1 (empty ≡ 44) too
    assert by_src["src0"]["n_contaminated"] == 2, by_src["src0"]
    # src1: doc 2 (whitespace-only ≡ empty set) contaminated, doc 3 clean
    assert by_src["src1"]["n_contaminated"] == 1, by_src["src1"]
    # src2: doc 5 has NULL text — must be counted CLEAN, never matched
    assert by_src["src2"]["n_contaminated"] == 0, by_src["src2"]
    assert by_src["src2"]["n_clean"] == 2, by_src["src2"]
    # src5: both the original and the shuffled variant match benchmark 49
    assert by_src["src5"]["n_contaminated"] == 2, by_src["src5"]
