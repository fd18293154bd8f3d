"""Corpus-preparation operators — the pretraining-pipeline stages between
raw scrape and tokenizer: text normalization, HTML boilerplate stripping,
context-window chunking, vocabulary building, language-ID profile training,
and distributed BPE merge learning.  REF:∅ (reference snapshot empty —
SURVEY.md §0); these extend §2-K per the north-star mandate.

Scale notes per op in the docstrings; the common shape is narrow per-row
array/string expressions (whole-stage codegen, no shuffle) feeding at most
one keyed aggregation — the wordcount pattern.  ``bpe_train_merges`` is the
iterative exception and follows the kmeans driver-state discipline: per
round one keyed aggregation and a single collected scalar (the argmax
pair), never data rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..session import session_memo, spread_if_narrow



def _sql_str(s: str) -> str:
    """Escape a Python string for interpolation into a single-quoted Spark
    SQL literal.  Backslash FIRST, then quote — Spark parses backslash
    escapes inside string literals by default, so quote-only escaping
    (the r04 bug) corrupts any corpus token containing a backslash."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


@register(
    "text_normalize",
    oracle="""
WITH n AS (
  SELECT doc_id,
         nfc_normalize(trim(lower(regexp_replace(regexp_replace(
             text, '[\\x00-\\x1f]', '', 'g'), '\\s+', ' ', 'g')))) AS norm_text
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, norm_text,
       CAST(length(norm_text) AS BIGINT) AS n_chars_norm,
       CAST(CASE WHEN norm_text = (SELECT d.text FROM documents d
                                   WHERE d.doc_id = n.doc_id) THEN 0 ELSE 1 END
            AS INTEGER) AS changed
FROM n ORDER BY doc_id
""",
)
def text_normalize(spark, sf_dir):
    """Canonical text normalization — the step every dedup/quality stage
    assumes upstream: strip control characters, collapse whitespace runs,
    trim, casefold, then Unicode NFC.  The regex/case stages are pure JVM
    codegen; NFC composition has no Spark builtin, so it runs as ONE
    Arrow-vectorized pandas UDF (`unicodedata.normalize` per batch) — the
    documented hybrid pattern: builtins where they exist, vectorized
    Python only for the single missing piece.  Zero shuffles; at 100 TB
    this is a map-only pass whose partitioning follows the scan."""
    from pyspark.sql.functions import pandas_udf

    # no parameter annotations: `from __future__ import annotations`
    # stringizes them, which the pandas_udf signature inspector rejects
    @pandas_udf("string")
    def nfc(s):
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x))

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    norm = F.trim(
        F.lower(
            F.regexp_replace(
                F.regexp_replace("text", "[\\x00-\\x1f]", ""), "\\s+", " "
            )
        )
    )
    return (
        d.select("doc_id", "text", nfc(norm).alias("norm_text"))
        .select(
            "doc_id",
            "norm_text",
            F.length("norm_text").cast("long").alias("n_chars_norm"),
            (F.col("norm_text") != F.col("text")).cast("int").alias("changed"),
        )
        .orderBy("doc_id")
    )


@register(
    "html_strip_tags",
    oracle="""
WITH h AS (
  SELECT doc_id,
         '<p>' || replace(text, ' ', ' <br/> ') || '</p>' AS html
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       trim(regexp_replace(regexp_replace(html, '<[^>]*>', '', 'g'),
                           '\\s+', ' ', 'g')) AS clean_text,
       CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags
FROM h ORDER BY doc_id
""",
)
def html_strip_tags(spark, sf_dir):
    """Markup boilerplate stripping — the CommonCrawl-style extraction
    stage: remove every ``<...>`` tag, then re-collapse the whitespace the
    tags occupied.  The markup is synthesized deterministically from the
    plain-text corpus (wrap in ``<p>``, ``<br/>`` between words) so the
    oracle can rebuild the identical input; the stripping logic is the
    real operator.  Pure per-row regex — whole-stage codegen, zero
    shuffles, map-only at any scale."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    html = F.concat(
        F.lit("<p>"), F.replace("text", F.lit(" "), F.lit(" <br/> ")), F.lit("</p>")
    )
    return (
        d.select("doc_id", html.alias("html"))
        .select(
            "doc_id",
            F.trim(
                F.regexp_replace(F.regexp_replace("html", "<[^>]*>", ""), "\\s+", " ")
            ).alias("clean_text"),
            F.regexp_count("html", F.lit("<[^>]*>")).cast("long").alias("n_tags"),
        )
        .orderBy("doc_id")
    )


@register(
    "chunk_documents",
    oracle="""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents WHERE text IS NOT NULL
),
nz AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
c AS (
  SELECT doc_id, ws, n, unnest(generate_series(0, n - 1, 24)) AS start
  FROM nz
)
SELECT doc_id,
       CAST(start // 24 AS INTEGER) AS chunk_idx,
       array_to_string(list_slice(ws, start + 1, start + 32), ' ') AS chunk_text,
       CAST(least(32, n - start) AS BIGINT) AS n_tokens
FROM c ORDER BY doc_id, chunk_idx
""",
)
def chunk_documents(spark, sf_dir):
    """Context-window chunking — split each document into 32-token windows
    with stride 24 (8-token overlap), the pretraining/RAG counterpart of
    ``pack_sequences`` (that op PACKS short docs; this one SPLITS long
    ones).  Overlap preserves cross-boundary n-grams for the model.

    Plan: one narrow projection computes the window-start array
    (``sequence(0, n-1, 24)``), one ``posexplode`` fans out windows, and
    ``slice`` + ``array_join`` materialize each chunk — no shuffle at all;
    the ORDER BY is presentation-only.  At 100 TB this is a map-only 1→N
    expansion whose output size is input×(1+overlap/stride); partition
    sizing follows bytes, not rows."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("ws"),
    ).filter(F.size("ws") > 0)
    starts = F.expr("sequence(0, size(ws) - 1, 24)")
    return (
        w.select("doc_id", "ws", F.size("ws").alias("n"), F.posexplode(starts))
        .select(
            "doc_id",
            F.col("pos").cast("int").alias("chunk_idx"),
            F.array_join(F.expr("slice(ws, col + 1, 32)"), " ").alias("chunk_text"),
            F.least(F.lit(32), F.col("n") - F.col("col")).cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "vocab_build",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
  FROM documents
),
stats AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
  FROM tok GROUP BY word
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
kept AS (
  SELECT word, df, tf FROM stats, n
  WHERE df >= 2 AND df <= n_docs * 0.9
)
SELECT CAST(row_number() OVER (ORDER BY df DESC, word) AS INTEGER) AS rank,
       word, CAST(df AS BIGINT) AS df, CAST(tf AS BIGINT) AS tf
FROM kept
QUALIFY rank <= 500
ORDER BY rank
""",
)
def vocab_build(spark, sf_dir):
    """Tokenizer-vocabulary construction with document-frequency bounds:
    drop hapax/near-hapax noise (df < 2) and stopword-like terms
    (df > 90% of docs — loose because the synthetic word-soup corpus has
    only ~31 distinct words; a web corpus would use ~50%), rank the
    survivors by df with a word tiebreak,
    keep the top 500.  The df/tf pass reuses the tfidf plan shape: ONE
    explode, tf from (doc,word) groups, df derived by counting those
    groups (no countDistinct Expand); the doc-count threshold rides in as
    a broadcast 1-row cross join rather than an eager ``count()``.  The
    final top-500 is a TakeOrderedAndProject over the (already small)
    bounded vocabulary — at 100 TB the heavy explode shuffles hashed
    words, never documents."""
    d = load(spark, sf_dir, "documents")
    n_df = d.selectExpr("cast(count(1) as double) as n_docs")
    tok = d.selectExpr("doc_id", "explode(split(text, ' ')) as word").where(
        "word != ''"
    )
    per_doc = tok.groupBy("doc_id", "word").agg(F.expr("count(1) as tf_doc"))
    stats = per_doc.groupBy("word").agg(
        F.expr("count(1) as df"), F.expr("sum(tf_doc) as tf")
    )
    kept = (
        stats.crossJoin(F.broadcast(n_df))
        .where("df >= 2 and df <= n_docs * 0.9")
        .select("word", "df", "tf")
    )
    return (
        kept.selectExpr(
            "cast(row_number() over (order by df desc, word) as int) as rank",
            "word",
            "df",
            "tf",
        )
        .where("rank <= 500")
        .orderBy("rank")
    )


@register(
    "char_ngram_profile",
    oracle="""
WITH t AS (
  SELECT lang, lower(text) AS t FROM documents
  WHERE text IS NOT NULL AND length(text) >= 3
),
g AS (
  SELECT lang,
         unnest(list_transform(generate_series(1, length(t) - 2),
                               i -> substring(t, CAST(i AS INTEGER), 3))) AS gram
  FROM t
),
c AS (SELECT lang, gram, COUNT(*) AS cnt FROM g GROUP BY lang, gram)
SELECT lang, gram, CAST(cnt AS BIGINT) AS cnt,
       CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram)
            AS INTEGER) AS rank
FROM c
QUALIFY rank <= 20
ORDER BY lang, rank
""",
)
def char_ngram_profile(spark, sf_dir):
    """Language-ID model TRAINING: per-language top-20 character trigram
    profiles from the labeled corpus — the table ``text_langid``'s
    classifier heuristic would be fit from.  One narrow projection
    generates the trigram array per document (``curation.char_trigrams``
    — no Python), one explode, one (lang, gram) keyed aggregation, then a
    per-lang top-k window.  The wordcount shape: the shuffle carries
    3-char grams + counts, never documents; partial aggregation absorbs
    the heavy duplication map-side.  Deterministic tiebreak (cnt desc,
    gram) keeps the profile stable across engines and partitionings."""
    from .curation import char_trigrams

    d = load(spark, sf_dir, "documents")
    # round-7 rewrite: the original transform() lambda recomputed
    # lower(text) for EVERY trigram index (no common-subexpression
    # elimination inside SQL lambdas — O(L²) lowercasing per document)
    # and built a per-row array of L string objects through the
    # interpreted higher-order path; hoisting lower() and substring-ing
    # post-explode got 33-40 s → 13.7 s at synthetic sf1.0.
    # Spread the slim (lang, lowered-text) relation (documents ≈ 50 MB
    # decoded at sf1.0 — one cheap exchange), then generate grams with the
    # one-pass codegen char_trigrams, which also avoids duplicating the
    # ~290-char lt across every exploded position.  Interleaved A/B at
    # sf1.0 (noop sink, 3 rounds): posexplode 13.6-14.3 s; posexplode+spread
    # 1.2-2.3 s; regex unspread 2.6-3.9 s; regex+spread 0.76-1.5 s.
    # NULL, empty and sub-3-char texts yield no grams.
    grams = spread_if_narrow(d.selectExpr("lang", "lower(text) as lt")).select(
        "lang", F.explode(char_trigrams("lt")).alias("gram")
    )
    counts = grams.groupBy("lang", "gram").agg(F.expr("count(1) as cnt"))
    return (
        counts.selectExpr(
            "lang",
            "gram",
            "cnt",
            "cast(row_number() over (partition by lang"
            " order by cnt desc, gram) as int) as rank",
        )
        .where("rank <= 20")
        .orderBy("lang", "rank")
    )


# Learned merge rules memoized per (sf_dir, n_merges) in the session memo.
# The rules are a plain list of tuples (no JVM handles), training is
# deterministic, and the corpus is immutable per sf_dir, so re-training is
# pure waste: without the memo, bpe_encode_apply re-trains from scratch
# right after bpe_train_merges already did, and the schema-only
# driver-contract sweep paid two full trainings just to inspect output
# schemas (ADVICE r04).
def _bpe_train(spark, sf_dir, n_merges: int = 4):
    memo = session_memo(spark, "bpe_merges")
    key = (sf_dir, n_merges)
    if key not in memo:
        memo[key] = _bpe_train_impl(spark, sf_dir, n_merges)
    return memo[key]


def _bpe_train_impl(spark, sf_dir, n_merges: int = 4):
    """Distributed BPE merge learning (Sennrich et al. 2016, the
    subword-tokenizer trainer) on the whitespace-tokenized corpus.

    State discipline mirrors ``_kmeans``: the distributed side holds the
    (word, freq, symbol-array) vocabulary — aggregated ONCE from the
    corpus, so iterations never rescan documents — and the driver only
    ever collects the single argmax pair per round (one row, constant
    size).  Each round: adjacent pairs via ``zip_with(slice, slice)``
    (no explode of documents, only of the distinct-word vocabulary),
    freq-weighted keyed aggregation, deterministic argmax
    (count desc, pair asc), then the merge applied as a pure
    ``aggregate`` fold over each symbol array (greedy left-to-right,
    exactly the reference algorithm).  ``localCheckpoint`` keeps the
    per-round plan flat.  At 100 TB the vocabulary table is the working
    set (distinct words, not corpus rows) — the standard trainer layout."""
    return bpe_train_on(load(spark, sf_dir, "documents"), n_merges)


def bpe_train_on(d, n_merges: int = 4):
    """Core trainer over any DataFrame with a ``text`` column — split out
    of ``_bpe_train_impl`` (r11) so the merge sequence can be
    differential-fuzzed against a pure-Python reference on seeded random
    corpora (tests/test_corpus_ops.py::test_bpe_fuzz_vs_python — the
    test_url_fuzz pattern), not just the fixed test corpus."""
    vocab = (
        d.selectExpr("explode(split(lower(text), ' ')) as w")
        .where("w != ''")
        .groupBy("w")
        .agg(F.expr("count(1) as freq"))
        .selectExpr("freq", "filter(split(w, ''), c -> c != '') as syms")
        .localCheckpoint()
    )
    merges = []
    for i in range(n_merges):
        top = (
            vocab.selectExpr(
                "freq",
                "explode(zip_with(slice(syms, 1, greatest(size(syms) - 1, 0)),"
                " slice(syms, 2, greatest(size(syms) - 1, 0)),"
                " (l, r) -> struct(l, r))) as p",
            )
            .groupBy("p.l", "p.r")
            .agg(F.expr("sum(freq) as cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
        merges.append((i, l, r, l + r, int(cnt)))
        ql, qr = _sql_str(l), _sql_str(r)
        vocab = vocab.selectExpr(
            "freq",
            "aggregate(syms, cast(array() as array<string>),"
            f" (acc, x) -> case when size(acc) > 0"
            f" and element_at(acc, -1) = '{ql}' and x = '{qr}'"
            f" then concat(slice(acc, 1, size(acc) - 1), array('{ql}{qr}'))"
            " else concat(acc, array(x)) end) as syms",
        ).localCheckpoint()
    return merges


@register("bpe_train_merges")
def bpe_train_merges(spark, sf_dir):
    """Top-4 BPE merge rules learned from the corpus (see ``_bpe_train``).
    Output: one row per learned merge — (merge_idx, left, right, merged,
    pair_count), deterministic via exact integer counts and the
    (count desc, pair asc) argmax tiebreak.

    STAYS rows-only — individually adjudicated r16 (VERDICT r15 item 5,
    after kmeans_iterative and coreset_sample_kcenter were converted by
    unrolling their loops into CTE chains): iteration per se is NOT the
    obstacle — the blocker is the within-word greedy re-tokenization
    each round (apply merge (l,r) left-to-right across every word's
    symbol list, where an l==r merge consumes overlapping candidates in
    run-parity order and the list must then be REBUILT for the next
    round).  That inner loop is a prefix-dependent rewrite, not a fold,
    and encoding it in SQL list primitives would be a from-scratch BPE
    re-implementation whose subtle divergences (overlap parity, empty-
    symbol edges) make a FLAKY oracle likelier than a wrong engine.
    Compensating evidence: round 0 is fully oracled as its own key
    (``bpe_first_merge``), and tests/test_corpus_ops.py re-learns the
    whole sequence with an independent pure-Python reference BPE
    (fuzz-covered) and asserts the identical rule list."""
    merges = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_idx int, left string, right string, merged string, pair_count long"
    ).orderBy("merge_idx")


@register(
    "bpe_first_merge",
    oracle="""
WITH w AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> ''))
    AS wd
  FROM documents WHERE text IS NOT NULL
),
v AS (SELECT wd, COUNT(*) AS freq FROM w GROUP BY wd),
s AS (SELECT freq, list_filter(string_split(wd, ''), c -> c <> '') AS syms
      FROM v),
p AS (
  SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS cnt
  FROM s, UNNEST(generate_series(1, len(syms) - 1)) AS t(i)
  GROUP BY 1, 2
)
SELECT CAST(0 AS INTEGER) AS merge_idx, l AS "left", r AS "right",
       l || r AS merged, CAST(cnt AS BIGINT) AS pair_count
FROM p ORDER BY cnt DESC, l, r LIMIT 1
""",
)
def bpe_first_merge(spark, sf_dir):
    """Round 0 of the BPE trainer — the freq-weighted adjacent-pair argmax
    with the (count desc, pair asc) tiebreak — as a DuckDB-oracled,
    driver-hash-checked key (VERDICT r10 item 6: ``bpe_train_merges`` is
    iterative and stays rows-only, so its core aggregation deserved a
    cross-engine row of its own; later rounds are covered by the seeded
    random-corpus differential fuzz in tests/test_corpus_ops.py).
    Returns the single learned rule (merge_idx, left, right, merged,
    pair_count).  Reuses the memoized trainer — no extra Spark work
    beyond what bpe_train_merges already does."""
    merges = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges[:1],
        "merge_idx int, left string, right string, merged string,"
        " pair_count long",
    )


# --- bpe_first_k_merges: the trainer's first k rounds, oracled ------------
#
# The pair-count argmax recurrence IS SQL-expressible per round (VERDICT
# r11 item 6), so the first _BPE_K rounds are unrolled into a CTE chain:
# round i aggregates adjacent pairs over vocab_i, takes the deterministic
# argmax, and produces vocab_{i+1} by applying the merge.  Merge
# application uses a separator-wrapped string form — each symbol wrapped
# as SEP||sym||SEP, the rule applied as one left-to-right non-overlapping
# replace(SEP l SEP SEP r SEP → SEP lr SEP), which is exactly BPE's greedy
# single-pass semantics (runs like [a,a,a,a] become [aa,aa] because each
# consumed occurrence keeps its own closing separator).  SEP is chr(31)
# (ASCII unit separator), assumed absent from corpus text — true of every
# fixture and of any sane text corpus; the builder side is the real
# array-fold trainer, so the assumption lives only in the oracle.  Every
# CTE is MATERIALIZED: DuckDB inlines plain CTEs, and v_{i+1} references
# v_i three times (once directly, twice via b_i's scalar subqueries), so
# un-materialized the plan tree grows 3^k — k=8 ran minutes; materialized
# it is linear (~0.3 s at sf0.01).
_BPE_K = 8
_BPE_SEP_SQL = "chr(31)"


def _bpe_first_k_oracle(k: int) -> str:
    sep = _BPE_SEP_SQL
    ctes = [
        f"""v0 AS MATERIALIZED (
  SELECT COUNT(*) AS freq,
         {sep} || array_to_string(
             list_filter(string_split(wd, ''), c -> c <> ''),
             {sep} || {sep}) || {sep} AS s
  FROM (
    SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> ''))
      AS wd
    FROM documents WHERE text IS NOT NULL
  ) GROUP BY wd)"""
    ]
    for i in range(k):
        ctes.append(
            f"""sy{i} AS MATERIALIZED (
  SELECT freq, list_filter(string_split(s, {sep}), x -> x <> '') AS sy
  FROM v{i})"""
        )
        ctes.append(
            f"""p{i} AS (
  SELECT sy[j] AS l, sy[j + 1] AS r, SUM(freq) AS cnt
  FROM sy{i}, UNNEST(generate_series(1, len(sy) - 1)) AS t(j)
  GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""b{i} AS MATERIALIZED (
  SELECT CAST({i} AS INTEGER) AS merge_idx, l, r, l || r AS merged,
         CAST(cnt AS BIGINT) AS pair_count
  FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1)"""
        )
        if i + 1 < k:
            ctes.append(
                f"""v{i + 1} AS MATERIALIZED (
  SELECT freq,
         replace(s,
           (SELECT {sep} || l || {sep} || {sep} || r || {sep} FROM b{i}),
           (SELECT {sep} || l || r || {sep} FROM b{i})) AS s
  FROM v{i})"""
            )
    union = "\nUNION ALL\n".join(
        f'SELECT merge_idx, l AS "left", r AS "right", merged, pair_count'
        f" FROM b{i}"
        for i in range(k)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union + "\nORDER BY merge_idx"


@register("bpe_first_k_merges", oracle=_bpe_first_k_oracle(_BPE_K))
def bpe_first_k_merges(spark, sf_dir):
    """The BPE trainer's first ``_BPE_K`` (= 8) merge rules, cross-engine hash-checked
    (VERDICT r11 item 6: ``bpe_first_merge`` covers round 0; this key
    extends the oracle through the recurrence — each round's argmax
    depends on the previous round's merged vocabulary — making the
    unrolled CTE chain above the trainer's strongest driver evidence;
    the full trainer additionally stays differential-fuzzed on seeded
    tie-heavy corpora).  Builder side is the production array-fold
    trainer (``bpe_train_on``), memoized per (sf_dir, k)."""
    merges = _bpe_train(spark, sf_dir, n_merges=_BPE_K)
    return spark.createDataFrame(
        merges[:_BPE_K],
        "merge_idx int, left string, right string, merged string,"
        " pair_count long",
    ).orderBy("merge_idx")


def char_entropy_sql(cs: str, n: str) -> str:
    """Character Shannon entropy in nats, unrounded: ``-Σ p·ln p`` over the
    distinct characters of the char array ``cs``, each ``p`` its count
    over the text length ``n``.  Shared by text_entropy_filter and
    CurationPipeline.entropy_gate."""
    p = f"cast(size(filter({cs}, x -> x = u)) as double) / {n}"
    return (
        f"-aggregate(transform(array_distinct({cs}), u -> ({p}) * ln({p})),"
        " cast(0.0 as double), (a, x) -> a + x)"
    )


@register(
    "text_entropy_filter",
    oracle="""
WITH c AS (
  SELECT doc_id,
         string_split_regex(lower(text), '') AS cs,
         length(text) AS n
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
e AS (
  SELECT doc_id, n,
         ROUND(-list_sum(list_transform(list_distinct(cs), u ->
             (CAST(len(list_filter(cs, x -> x = u)) AS DOUBLE) / n)
             * ln(CAST(len(list_filter(cs, x -> x = u)) AS DOUBLE) / n))), 6)
           AS char_entropy
  FROM c
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars, char_entropy,
       CAST(CASE WHEN char_entropy >= 2.0 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM e ORDER BY doc_id
""",
)
def text_entropy_filter(spark, sf_dir):
    """Character-level Shannon entropy quality signal — the cheap detector
    for degenerate documents (single-char floods, base64 blobs, binary
    spill) that length/stopword gates miss: natural text sits ~2.5-4 nats,
    repeated-char spam near 0, uniform random bytes near ln(256).

    Plan: ZERO shuffles — the whole computation is one per-row array
    expression (split → distinct → per-symbol count via size(filter) →
    entropy fold), O(alphabet²) per row with a small alphabet, entirely
    inside whole-stage codegen.  Contrast with char_ngram_profile, which
    aggregates ACROSS documents and must shuffle.  Map-only at 100 TB;
    the keep flag (≥2.0 nats) is the filter a curation pipeline ANDs with
    quality_filter_gopher."""
    d = load(spark, sf_dir, "documents").where(
        "text is not null and length(text) > 0"
    )
    return (
        d.selectExpr(
            "doc_id",
            "filter(split(lower(text), ''), c -> c != '') as cs",
            "cast(length(text) as bigint) as n_chars",
        )
        .selectExpr(
            "doc_id",
            "n_chars",
            f"round({char_entropy_sql('cs', 'n_chars')}, 6) as char_entropy",
        )
        .selectExpr(
            "doc_id",
            "n_chars",
            "char_entropy",
            "cast(case when char_entropy >= 2.0 then 1 else 0 end as int) as keep",
        )
        .orderBy("doc_id")
    )


# The FROZEN tokenizer rule table bpe_encode_apply applies — the merges
# bpe_train_merges learns on the sf0.01 corpus (recorded round 7:
# er 4568, in 2760, ow 2747, or 2696).  Frozen on purpose: production
# tokenizers are trained ONCE and applied to every corpus thereafter, and a
# fixed rule set is what lets the encode be expressed as a static SQL
# oracle (the trainer itself stays rows-only — its rules are
# corpus-dependent, e.g. sf0.1 learns `st` instead of `ow`).
_FROZEN_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("o", "r"),
]


def _bpe_encode_oracle() -> str:
    """DuckDB twin of the encode fold, generated from the SAME frozen rule
    table so the two sides cannot drift.  list_reduce cannot change the
    accumulator type, so elements are lifted to single-item lists and the
    fold runs list-over-lists — semantically identical to Spark's
    ``aggregate`` fold (merge when last(acc)=l and next=r, else append)."""
    cte, prev = [], "tok"
    for i, (l, r) in enumerate(_FROZEN_BPE_MERGES, 1):
        cte.append(
            f"m{i} AS (\n"
            "  SELECT doc_id, n_chars, n_words,\n"
            "         list_transform(syms, s -> list_reduce("
            "list_transform(s, c -> [c]),\n"
            f"           (acc, x) -> CASE WHEN len(acc) > 0"
            f" AND acc[-1] = '{l}' AND x[1] = '{r}'\n"
            f"                       THEN list_append("
            f"list_slice(acc, 1, len(acc) - 1), '{l + r}')\n"
            "                       ELSE list_concat(acc, x) END)) AS syms\n"
            f"  FROM {prev})"
        )
        prev = f"m{i}"
    return (
        """
WITH w AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents WHERE text IS NOT NULL
),
tok AS (
  SELECT doc_id, n_chars, CAST(len(ws) AS BIGINT) AS n_words,
         list_transform(ws, wd ->
           list_filter(string_split(wd, ''), c -> c <> '')) AS syms
  FROM w
),
"""
        + ",\n".join(cte)
        + f"""
SELECT doc_id, n_chars, n_words,
       CAST(list_sum(list_transform(syms, s -> len(s))) AS BIGINT)
         AS n_bpe_tokens,
       ROUND(CAST(n_chars AS DOUBLE)
             / list_sum(list_transform(syms, s -> len(s))), 6)
         AS chars_per_token
FROM {prev} ORDER BY doc_id
"""
    )


@register("bpe_encode_apply", oracle=_bpe_encode_oracle())
def bpe_encode_apply(spark, sf_dir):
    """Tokenizer ENCODE — apply the FROZEN rule table
    ``_FROZEN_BPE_MERGES`` (learned once by ``bpe_train_merges`` on the
    sf0.01 corpus, then pinned — the standard train-once/apply-everywhere
    tokenizer deployment) onto the corpus, in learned order.  The merge
    table is a module constant (n_merges rows); each rule is one
    broadcast-free narrow ``aggregate`` fold over the per-word symbol
    arrays, so the whole encode is a map-only pass per rule — at 100 TB
    this is the embarrassingly-parallel tokenization stage, and the
    per-document fold order makes it deterministic.

    Output: per-document token accounting (words, chars, BPE tokens,
    compression ratio) — the table a tokenizer-budget analysis reads.

    hash-green since round 7 (VERDICT r06 item 6): the frozen rules make
    the encode SQL-expressible — the oracle replays the identical fold in
    DuckDB via list_reduce (see ``_bpe_encode_oracle``).
    tests/test_corpus_ops.py additionally re-encodes with the pure-Python
    reference encoder over the same frozen rules."""
    merges = [(None, l, r, None, None) for l, r in _FROZEN_BPE_MERGES]
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = d.selectExpr(
        "doc_id",
        "cast(length(text) as bigint) as n_chars",
        "filter(split(lower(text), ' '), w -> w != '') as ws",
    )
    toks = words.selectExpr(
        "doc_id",
        "n_chars",
        "cast(size(ws) as bigint) as n_words",
        "transform(ws, w -> filter(split(w, ''), c -> c != '')) as syms",
    )
    for _, l, r, _, _ in merges:
        ql, qr = _sql_str(l), _sql_str(r)
        toks = toks.selectExpr(
            "doc_id",
            "n_chars",
            "n_words",
            "transform(syms, s -> aggregate(s, cast(array() as array<string>),"
            f" (acc, x) -> case when size(acc) > 0"
            f" and element_at(acc, -1) = '{ql}' and x = '{qr}'"
            f" then concat(slice(acc, 1, size(acc) - 1), array('{ql}{qr}'))"
            " else concat(acc, array(x)) end)) as syms",
        )
    return (
        toks.selectExpr(
            "doc_id",
            "n_chars",
            "n_words",
            "cast(aggregate(transform(syms, s -> size(s)), 0,"
            " (a, x) -> a + x) as bigint) as n_bpe_tokens",
        )
        .selectExpr(
            "doc_id",
            "n_chars",
            "n_words",
            "n_bpe_tokens",
            "round(cast(n_chars as double) / n_bpe_tokens, 6) as chars_per_token",
        )
        .orderBy("doc_id")
    )


@register(
    "ngram_lm_train",
    oracle="""
WITH w AS (
  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents WHERE text IS NOT NULL
),
bg AS (
  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                i -> ws[CAST(i AS INTEGER)] || ' '
                     || ws[CAST(i + 1 AS INTEGER)])) AS bigram
  FROM w WHERE len(ws) >= 2
),
c AS (
  SELECT string_split(bigram, ' ')[1] AS w1,
         string_split(bigram, ' ')[2] AS w2,
         COUNT(*) AS cnt
  FROM bg GROUP BY 1, 2
),
ctx AS (SELECT w1, SUM(cnt) AS n_ctx FROM c GROUP BY w1)
SELECT w1, w2, CAST(cnt AS BIGINT) AS cnt,
       ROUND(CAST(cnt AS DOUBLE) / n_ctx, 6) AS p_cond,
       CAST(row_number() OVER (ORDER BY cnt DESC, w1, w2) AS INTEGER) AS rank
FROM c JOIN ctx USING (w1)
QUALIFY rank <= 200
ORDER BY rank
""",
)
def ngram_lm_train(spark, sf_dir):
    """Bigram language-model TRAINING — the count table behind the
    perplexity/quality filters (``text_unigram_logprob`` SCORES with a
    unigram table; this op FITS the bigram conditionals
    p(w2|w1) = c(w1,w2) / c(w1·)).  Context counts derive from the bigram
    counts themselves (sum over w2), so the corpus is exploded ONCE;
    adjacent pairs come from the ``zip_with(slice, slice)`` pattern (no
    index join), the conditional is exact-integer-ratio rounded at 6, and
    the published top-200 is deterministic via (cnt desc, w1, w2).

    Scale: the wordcount shape — one explode, two keyed aggregations over
    (w1,w2) then (w1); shuffles carry grams+counts, never documents.  At
    100 TB the full table would be sunk to parquet instead of top-k'd;
    the rank cut here is the driver-facing sample."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    pairs = (
        d.selectExpr("filter(split(lower(text), ' '), x -> x != '') as ws")
        .where("size(ws) >= 2")
        .selectExpr(
            "explode(zip_with(slice(ws, 1, size(ws) - 1),"
            " slice(ws, 2, size(ws) - 1), (a, b) -> struct(a as w1, b as w2)))"
            " as p"
        )
        .select("p.w1", "p.w2")
    )
    c = pairs.groupBy("w1", "w2").agg(F.expr("count(1) as cnt"))
    ctx = c.groupBy("w1").agg(F.expr("sum(cnt) as n_ctx"))
    return (
        c.join(ctx, "w1")
        .selectExpr(
            "w1",
            "w2",
            "cnt",
            "round(cast(cnt as double) / n_ctx, 6) as p_cond",
            "cast(row_number() over (order by cnt desc, w1, w2) as int) as rank",
        )
        .where("rank <= 200")
        .orderBy("rank")
    )


@register(
    "sample_negative_pairs",
    oracle="""
WITH n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
pos AS (SELECT vec_id, label FROM embeddings),
cand AS (
  SELECT vec_id, label, unnest([1, 2, 3]) AS neg_rank, n_vecs
  FROM pos, n
),
pick AS (
  SELECT vec_id, label, neg_rank,
         CASE WHEN (vec_id * 7919 + neg_rank * 104729) % n_vecs = vec_id
              THEN ((vec_id * 7919 + neg_rank * 104729) % n_vecs + 1) % n_vecs
              ELSE (vec_id * 7919 + neg_rank * 104729) % n_vecs
         END AS neg_id
  FROM cand
)
SELECT p.vec_id, CAST(p.neg_rank AS INTEGER) AS neg_rank,
       CAST(p.neg_id AS BIGINT) AS neg_id,
       CAST(CASE WHEN p.label = e.label THEN 1 ELSE 0 END AS INTEGER)
         AS same_label
FROM pick p JOIN embeddings e ON p.neg_id = e.vec_id
ORDER BY p.vec_id, p.neg_rank
""",
)
def sample_negative_pairs(spark, sf_dir):
    """Deterministic negative-pair sampling for contrastive-embedding
    training: each anchor draws 3 pseudo-random negatives via fixed prime
    multipliers over the contiguous id space ((id*7919 + rank*104729)
    mod n, bumped by one on self-collision) — the hash-arithmetic analog
    of seeded sampling that, like ``sample_hash_deterministic``, yields
    the SAME pairs on any cluster layout or engine.  The pair table joins
    back to fetch each negative's label so a curriculum can separate
    easy (different-label) from hard (same-label) negatives.

    Plan: one broadcast 1-row count fold, a 3× explode, and ONE shuffle
    join on neg_id to resolve negatives — at 100 TB the join carries
    (anchor, neg_id) pairs, never embedding payloads; gather vectors
    lazily in the training reader."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    # The modular arithmetic assumes vec_id is contiguous 0..n-1; with gaps
    # the neg_id join would silently DROP candidates (anchors get < 3
    # negatives).  Verify contiguity inside the same 1-row fold and fail
    # loudly (raise_error) instead of degrading (ADVICE r04).
    n_df = e.selectExpr(
        "cast(count(1) as bigint) as n_cnt",
        "cast(count(distinct vec_id) as bigint) as n_distinct",
        "max(vec_id) as max_id",
        "min(vec_id) as min_id",
    ).selectExpr(
        # n_cnt = max+1 alone is defeated by duplicate ids masking a gap
        # (e.g. [0,1,1,3]): require distinct count to match too, so the id
        # space is exactly {0..n-1} with no duplicates (r05 review).
        "case when n_cnt = max_id + 1 and n_distinct = n_cnt"
        " and min_id = 0 then n_cnt"
        " else raise_error('sample_negative_pairs: vec_id must be"
        " contiguous 0..n-1 without duplicates — gapped ids would"
        " silently drop negatives')"
        " end as n_vecs"
    )
    cand = (
        e.crossJoin(F.broadcast(n_df))
        .selectExpr(
            "vec_id",
            "label",
            "explode(array(1, 2, 3)) as neg_rank",
            "n_vecs",
        )
        .selectExpr(
            "vec_id",
            "label",
            "neg_rank",
            "case when (vec_id * 7919 + neg_rank * 104729) % n_vecs = vec_id"
            " then ((vec_id * 7919 + neg_rank * 104729) % n_vecs + 1) % n_vecs"
            " else (vec_id * 7919 + neg_rank * 104729) % n_vecs end as neg_id",
        )
    )
    neg = e.selectExpr("vec_id as neg_id", "label as neg_label")
    return (
        cand.join(neg, "neg_id")
        .selectExpr(
            "vec_id",
            "cast(neg_rank as int) as neg_rank",
            "cast(neg_id as bigint) as neg_id",
            "cast(case when label = neg_label then 1 else 0 end as int)"
            " as same_label",
        )
        .orderBy("vec_id", "neg_rank")
    )


@register(
    "lm_perplexity_score",
    oracle="""
WITH w AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents WHERE text IS NOT NULL
),
v AS (SELECT COUNT(DISTINCT word) AS vocab
      FROM (SELECT unnest(ws) AS word FROM w)),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                i -> struct_pack(w1 := ws[CAST(i AS INTEGER)],
                                 w2 := ws[CAST(i + 1 AS INTEGER)]))) AS b
  FROM w WHERE len(ws) >= 2
),
p AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
c AS (SELECT w1, w2, COUNT(*) AS cnt FROM p GROUP BY 1, 2),
ctx AS (SELECT w1, SUM(cnt) AS n_ctx FROM c GROUP BY w1),
model AS (
  SELECT c.w1, c.w2, ln((cnt + 0.5) / (n_ctx + 0.5 * vocab)) AS lp
  FROM c JOIN ctx USING (w1) CROSS JOIN v
)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(-AVG(lp), 6) AS avg_nll,
       ROUND(exp(ROUND(-AVG(lp), 6)), 4) AS ppl
FROM p JOIN model USING (w1, w2)
GROUP BY p.doc_id
ORDER BY p.doc_id
""",
)
def lm_perplexity_score(spark, sf_dir):
    """CCNet-style perplexity quality signal: score every document under a
    bigram LM with add-k smoothing (k=0.5) TRAINED ON THE CORPUS ITSELF —
    the scoring consumer of ``ngram_lm_train``'s count table.  p(w2|w1) =
    (c(w1,w2)+0.5)/(c(w1·)+0.5·V); per-doc avg negative log-likelihood and
    its exp (perplexity).  In a production pipeline the model side is a
    held-out reference corpus (e.g. Wikipedia) and high-ppl docs are cut;
    the in-corpus formulation keeps the key self-contained and
    hash-verifiable.  ppl derives from the ROUNDED avg_nll so the float
    comparison happens once, at 6 decimals.

    Scale: the corpus explodes ONCE into adjacent pairs (zip_with over two
    slices, no index join); the model is two keyed aggregations over
    (w1,w2) then (w1) — shuffles carry grams+counts.  The scoring join is
    per-bigram on (w1,w2); the model table is bounded by observed-bigram
    cardinality (≪ corpus at 100 TB, broadcastable after frequency
    pruning).  V is a 1-row aggregate, joined via broadcast."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return bigram_nll_scores(d).orderBy("doc_id")


def bigram_nll_scores(d, id_col: str = "doc_id", col: str = "text"):
    """DataFrame-level bigram-LM scorer (the ``lm_perplexity_score`` body,
    reusable from the pipeline API's ``perplexity_gate`` stage): returns
    (id_col, n_bigrams, avg_nll, ppl), unordered — docs with < 2 words
    carry no bigrams and are absent (gate stages must LEFT-join and keep
    them)."""
    words = d.selectExpr(
        f"{id_col}", f"filter(split(lower({col}), ' '), x -> x != '') as ws"
    )
    # `pairs` feeds both the model counts and the scoring join: spread the
    # compact word-array rows before both bigram explodes, 6.4-7.6 s →
    # 3.4-5.0 s at sf1.0.
    words = spread_if_narrow(words)
    pairs = (
        words.where("size(ws) >= 2")
        .selectExpr(
            f"{id_col}",
            "explode(zip_with(slice(ws, 1, size(ws) - 1),"
            " slice(ws, 2, size(ws) - 1), (a, b) -> struct(a as w1, b as w2)))"
            " as p",
        )
        .select(id_col, "p.w1", "p.w2")
    )
    vocab = words.selectExpr("explode(ws) as word").agg(
        F.countDistinct("word").alias("vocab")
    )
    c = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    ctx = c.groupBy("w1").agg(F.sum("cnt").alias("n_ctx"))
    model = (
        c.join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .selectExpr("w1", "w2", "ln((cnt + 0.5) / (n_ctx + 0.5 * vocab)) as lp")
    )
    # Layout-invariant average: the per-bigram log-probs are summed as
    # DECIMAL(28,12) (exact, so fold order cannot move the last ulp and
    # flip the 6th-decimal rounding) and divided once at the end — the
    # dsir_importance_resample discipline.
    return (
        pairs.join(model, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                -F.sum(F.col("lp").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_nll"),
        )
        .selectExpr(
            f"{id_col}", "n_bigrams", "avg_nll", "round(exp(avg_nll), 4) as ppl"
        )
    )


# ---------------------------------------------------------------------------


@register(
    "ngram_pmi",
    oracle="""
WITH toks AS (
  SELECT list_filter(string_split(text, ' '), w -> w <> '') AS ws
  FROM documents WHERE text IS NOT NULL
),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w
  FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY w
),
tot AS (SELECT CAST(SUM(c_w) AS DOUBLE) AS t FROM uni),
big AS (
  SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
         CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM (
    SELECT unnest(list_transform(range(1, len(ws)),
                                 i -> ws[i] || ' ' || ws[i + 1])) AS bg
    FROM toks WHERE len(ws) >= 2
  ) GROUP BY 1, 2
),
btot AS (SELECT CAST(SUM(c_xy) AS DOUBLE) AS bt FROM big),
scored AS (
  SELECT b.w1, b.w2, b.c_xy,
         round(ln((b.c_xy / btot.bt) /
                  ((u1.c_w / tot.t) * (u2.c_w / tot.t))), 6) AS pmi
  FROM big b
  JOIN uni u1 ON b.w1 = u1.w
  JOIN uni u2 ON b.w2 = u2.w
  CROSS JOIN tot CROSS JOIN btot
  WHERE b.c_xy >= 5
)
SELECT w1, w2, c_xy, pmi FROM scored
ORDER BY pmi DESC, w1, w2 LIMIT 20
""",
)
def ngram_pmi(spark, sf_dir):
    """Bigram collocation mining by pointwise mutual information:
    PMI(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with bigram/unigram MLE
    probabilities, keeping pairs seen ≥5 times, top-20 by PMI.

    Scale shape: tokenization and adjacent-pairing are narrow
    (map-only); both count aggregates shuffle the VOCABULARY after
    map-side combine, never the corpus; the scoring joins are
    vocab⋈vocab equi-joins (bigram types × 2 lookups).  The two global
    totals (token count, bigram count) are ONE tiny aggregate collected
    to the driver — 2 doubles of driver state, inlined as literals so
    the scoring stage stays map-only (no scalar broadcast join in the
    plan).  Ordering compares the ROUNDED score so cross-engine tie
    order is deterministic."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        F.filter(F.split("text", " "), lambda w: w != "").alias("ws")
    )
    uni = (
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_w"))
    )
    big = (
        toks.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(element_at(ws, i) AS w1,"
                    " element_at(ws, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_xy"))
    )
    # Both MLE denominators in one bounded collect: total tokens and total
    # bigram occurrences (the latter BEFORE the ≥5 support cut, matching
    # the oracle's SUM over the unfiltered bigram groups).
    totals = toks.agg(
        F.sum(F.size("ws")).cast("double").alias("t"),
        F.sum(
            F.when(F.size("ws") >= 2, F.size("ws") - 1).otherwise(0)
        ).cast("double").alias("bt"),
    ).collect()[0]
    t, bt = float(totals["t"]), float(totals["bt"])
    scored = (
        big.filter(F.col("c_xy") >= 5)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c_w", "c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c_w", "c2"), "w2")
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy") / F.lit(bt))
                    / ((F.col("c1") / F.lit(t)) * (F.col("c2") / F.lit(t)))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(20)
