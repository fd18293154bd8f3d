"""Text-search ranking operators — BM25 scoring and corpus n-gram mining
over the documents table.  REF:∅ (reference snapshot empty — SURVEY.md
§0); complements tfidf_keywords (llm_ops.py) with the query-side ranking
function a search user of the reference would expect.

Determinism discipline (SURVEY.md §5.3): tf/df/doclen are integers;
per-term BM25 contributions are a fixed double formula over those
integers, decimal-cast before the per-document sum (order-independent),
and ranking happens on the ROUNDED score with a doc_id tiebreak so a
last-ulp ln() difference cannot reorder the cut (same discipline as
tfidf_keywords).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register

_BM25_TERMS = ("join", "merge", "scan")
_K1, _B = 1.2, 0.75


@register(
    "bm25_rank",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  WHERE text IS NOT NULL
),
tokf AS (SELECT doc_id, word FROM tok WHERE word <> ''),
doclen AS (SELECT doc_id, COUNT(*) AS len FROM tokf GROUP BY doc_id),
stats AS (
  SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM tokf)
           / (SELECT COUNT(*) FROM documents) AS avglen,
         (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS n_docs
),
tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM tokf
  WHERE word IN {_BM25_TERMS!r}
  GROUP BY doc_id, word
),
df AS (SELECT word, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY word),
contrib AS (
  SELECT t.doc_id,
         ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (t.tf * ({_K1} + 1.0))
           / (t.tf + {_K1} * (1.0 - {_B} + {_B} * l.len / s.avglen)) AS c
  FROM tf t
  JOIN df d ON t.word = d.word
  JOIN doclen l ON t.doc_id = l.doc_id
  CROSS JOIN stats s
),
scored AS (
  SELECT doc_id,
         ROUND(CAST(SUM(CAST(c AS DECIMAL(28,12))) AS DOUBLE), 6) AS score
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, score, rn FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rn
  FROM scored
) WHERE rn <= 20
ORDER BY rn
""",
)
def bm25_rank(spark, sf_dir):
    """BM25 (k1=1.2, b=0.75) top-20 documents for the fixed query
    {join, merge, scan}: idf = ln(1 + (N−df+0.5)/(df+0.5)) per term,
    per-doc length normalization against the corpus mean length, per-term
    contributions decimal-summed per document, ranked on the rounded
    score.  Plan: the corpus explodes ONCE — into two materialized
    (localCheckpoint'd) artifacts, the term-pruned posting slice tf
    (IN-filter BEFORE its shuffle) and the per-doc length table; corpus
    totals derive from the length table as a broadcast 1-row relation
    (no driver-side .count() scalars), and the live scoring query reads
    only the artifacts (plan-asserted: zero Generate).  That is exactly
    a search engine's split: postings and doc-length stats are built
    once, query-time scoring joins broadcast-sized stats onto them."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tokf = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    # the "length table" artifact: checkpointed so the corpus explodes ONCE
    # (doclen feeds both per-doc normalization and the corpus token total)
    doclen = (
        tokf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len")).localCheckpoint()
    )
    # corpus stats as a broadcast 1-row relation — no driver-side scalars
    # (a .count() here would be an extra job and a driver round-trip)
    stats = (
        doclen.agg(F.sum("len").cast("double").alias("n_tokens"))
        .crossJoin(
            load(spark, sf_dir, "documents")
            .agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
        )
        .select("n_docs", (F.col("n_tokens") / F.col("n_docs")).alias("avglen"))
    )
    tf = (
        tokf.filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + _K1 * (
        1.0 - _B + F.lit(_B) * F.col("len") / F.col("avglen")
    )
    contrib = (
        tf.join(F.broadcast(df), "word")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id", (idf * (F.col("tf") * (_K1 + 1.0)) / norm).alias("c")
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.round(F.sum(F.col("c").cast("decimal(28,12)")).cast("double"), 6).alias(
            "score"
        )
    )
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.select("doc_id", "score", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .orderBy("rn")
    )


@register(
    "ngram_topk",
    oracle="""
WITH ws AS (
  SELECT list_filter(string_split(text, ' '), w -> w <> '') AS ws
  FROM documents WHERE text IS NOT NULL
),
bigrams AS (
  SELECT unnest(list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i + 1])) AS bigram
  FROM ws WHERE len(ws) >= 2
)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n FROM bigrams
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
""",
)
def ngram_topk(spark, sf_dir):
    """Corpus-wide top-20 bigrams: per-document token array → adjacent
    pairs via an index-range transform (1-based element_at on both
    engines) → explode → count.  Integer counts are hash-stable; ties
    break on the bigram text.  The array pairing is narrow (no shuffle
    until the count), and the count shuffles only distinct bigrams after
    map-side combine — the vocabulary, not the corpus."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ws = d.select(
        F.filter(F.split("text", " "), lambda w: w != "").alias("ws")
    ).filter(F.size("ws") >= 2)
    bigrams = ws.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


_RRF_K = 60          # the SIGIR-2009 constant; dampens top-rank dominance
_RRF_TERMS = ("join", "merge", "scan")   # lexical query (bm25_rank's)
_RRF_QVEC = 0        # semantic query = this vec_id's embedding
_RRF_LIST = 50       # per-modality candidate list depth

def _topk_rank(df, score_col: str, id_col: str, rank_col: str):
    """Global top-``_RRF_LIST`` ranking WITHOUT a corpus-wide
    single-partition window: each partition keeps its local top-k under
    the strict total order (score desc, id asc), then one tiny global
    window ranks ≤ k·P candidate rows.  The global top-k is contained in
    the union of partition-local top-ks under the same strict total
    order (sim_cosine_topk's candidate argument), and the result is
    partitioning-invariant because local pruning only ever keeps a
    superset of the global winners."""
    wl = Window.partitionBy("_pid").orderBy(F.col(score_col).desc(), id_col)
    wg = Window.orderBy(F.col(score_col).desc(), id_col)
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lr", F.row_number().over(wl))
        .filter(F.col("_lr") <= _RRF_LIST)
        .withColumn(rank_col, F.row_number().over(wg))
        .filter(F.col(rank_col) <= _RRF_LIST)
    )


@register(
    "rank_fusion_rrf",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  WHERE text IS NOT NULL
),
tokf AS (SELECT doc_id, word FROM tok WHERE word <> ''),
doclen AS (SELECT doc_id, COUNT(*) AS len FROM tokf GROUP BY doc_id),
stats AS (
  SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM tokf)
           / (SELECT COUNT(*) FROM documents) AS avglen,
         (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS n_docs
),
tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM tokf
  WHERE word IN {_RRF_TERMS!r}
  GROUP BY doc_id, word
),
df AS (SELECT word, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY word),
contrib AS (
  SELECT t.doc_id,
         ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (t.tf * ({_K1} + 1.0))
           / (t.tf + {_K1} * (1.0 - {_B} + {_B} * l.len / s.avglen)) AS c
  FROM tf t
  JOIN df d ON t.word = d.word
  JOIN doclen l ON t.doc_id = l.doc_id
  CROSS JOIN stats s
),
lex AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY ROUND(CAST(SUM(CAST(c AS DECIMAL(28,12))) AS DOUBLE), 6)
                    DESC, doc_id) AS lex_rank
  FROM contrib GROUP BY doc_id
  QUALIFY lex_rank <= {_RRF_LIST}
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         sqrt(list_aggregate(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
  FROM embeddings
),
q AS (SELECT e AS qe, nrm AS qn FROM v WHERE vec_id = {_RRF_QVEC}),
sem AS (
  SELECT vec_id,
         row_number() OVER (
           ORDER BY ROUND(list_aggregate(list_transform(list_zip(v.e, q.qe),
                            z -> z[1] * z[2]), 'sum') / (v.nrm * q.qn), 6)
                    DESC, vec_id) AS sem_rank
  FROM v CROSS JOIN q WHERE vec_id <> {_RRF_QVEC}
  QUALIFY sem_rank <= {_RRF_LIST}
),
fused AS (
  SELECT COALESCE(l.doc_id, s.vec_id) AS doc_id,
         COALESCE(l.lex_rank, 0) AS lex_rank,
         COALESCE(s.sem_rank, 0) AS sem_rank,
         COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0)
           + COALESCE(1.0 / ({_RRF_K} + s.sem_rank), 0) AS rrf
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.vec_id
)
SELECT doc_id, CAST(lex_rank AS INTEGER) AS lex_rank,
       CAST(sem_rank AS INTEGER) AS sem_rank,
       ROUND(rrf, 6) AS rrf_score,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER)
         AS fused_rank
FROM fused QUALIFY fused_rank <= 20
ORDER BY fused_rank
""",
)
def rank_fusion_rrf(spark, sf_dir):
    """Hybrid retrieval via Reciprocal Rank Fusion: BM25 top-50 for the
    fixed query {join, merge, scan} (bm25_rank's scorer and constants)
    fused with cosine top-50 against doc 0's embedding (the corpus links
    doc_id ↔ vec_id 1:1), rrf(d) = Σ_lists 1/(60 + rank), top-20 out.
    A doc missing from one list contributes 0 from it (rank encoded 0 =
    absent).  Ranks come from row_number over the ROUNDED (6 dp) scores
    with an id tiebreak, so a last-ulp ln()/product difference cannot
    reorder either list cross-engine; the fused score is then a sum of
    exact small rationals — identical in any IEEE double engine.

    Scale: both candidate lists are top-k over one corpus pass each —
    BM25 reads a term-pruned posting slice (the IN-filter runs BEFORE
    its shuffle), the cosine side is a scan with a broadcast 1-row query
    vector — and BOTH rank via ``_topk_rank``'s partition-local-top-k →
    global-candidate-window split, so no corpus-sized relation ever
    funnels through a single-partition window; the fusion full-outer
    join touches 2k candidate rows, never the corpus.  At 100 TB the posting/length artifacts are built
    once (bm25_rank materializes exactly those) and each query costs a
    candidate-list merge — this key pins the merge's semantics."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tokf = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    doclen = tokf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = (
        doclen.agg(F.sum("len").cast("double").alias("n_tokens"))
        .crossJoin(
            load(spark, sf_dir, "documents")
            .agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
        )
        .select("n_docs", (F.col("n_tokens") / F.col("n_docs")).alias("avglen"))
    )
    tf = (
        tokf.filter(F.col("word").isin(*_RRF_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + _K1 * (
        1.0 - _B + F.lit(_B) * F.col("len") / F.col("avglen")
    )
    scored = (
        tf.join(F.broadcast(df), "word")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * (F.col("tf") * (_K1 + 1.0)) / norm).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("c").cast("decimal(28,12)")).cast("double"), 6
            ).alias("score")
        )
    )
    lex = _topk_rank(scored, "score", "doc_id", "lex_rank").select(
        "doc_id", "lex_rank"
    )

    v = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    ).select(
        "vec_id",
        "e",
        F.sqrt(
            F.aggregate(
                "e", F.lit(0.0), lambda acc, x: acc + x * x
            )
        ).alias("nrm"),
    )
    q = v.filter(F.col("vec_id") == _RRF_QVEC).select(
        F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    cos = F.round(
        F.aggregate(
            F.zip_with("e", "qe", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (F.col("nrm") * F.col("qn")),
        6,
    )
    sem = _topk_rank(
        v.filter(F.col("vec_id") != _RRF_QVEC)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cos.alias("cos")),
        "cos",
        "vec_id",
        "sem_rank",
    ).select("vec_id", "sem_rank")

    fused = (
        lex.join(sem, lex["doc_id"] == sem["vec_id"], "full_outer")
        .select(
            F.coalesce(lex["doc_id"], sem["vec_id"]).alias("doc_id"),
            F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(0)).alias("sem_rank"),
            (
                F.coalesce(1.0 / (_RRF_K + lex["lex_rank"]), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + sem["sem_rank"]), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    wf = Window.orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.select(
            "doc_id",
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("sem_rank").cast("int").alias("sem_rank"),
            F.round("rrf", 6).alias("rrf_score"),
            F.row_number().over(wf).cast("int").alias("fused_rank"),
        )
        .filter(F.col("fused_rank") <= 20)
        .orderBy("fused_rank")
    )
