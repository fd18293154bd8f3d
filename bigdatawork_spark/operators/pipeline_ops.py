"""Training-data-pipeline operators beyond SURVEY §2 — the LLM-scale data
prep surface (BASELINE.json:6 north star: dedup, similarity search,
multimodal columns, text analysis).  REF:∅.

Every op here is a `queries()` entry with a DuckDB oracle on the corpus
tables unless physically impossible.  Scale notes per op docstring.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..session import restage, spread_if_narrow
from .llm_ops import (
    _cosine_blocks,
    _cosine_corpus,
    _normed_vectors,
    guard_twin_size,
)


@register(
    "text_langid",
    oracle="""
WITH feat AS (
  SELECT doc_id, lang,
         CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS DOUBLE)
           / length(text) AS vowel_ratio,
         CAST(length(text) AS DOUBLE)
           / len(list_filter(string_split(text, ' '), w -> w <> '')) AS avg_wlen
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN vowel_ratio >= 0.32 THEN 'en'
            WHEN vowel_ratio >= 0.28 THEN 'es'
            WHEN avg_wlen >= 6.5 THEN 'de'
            WHEN avg_wlen >= 5.5 THEN 'fr'
            ELSE 'zh' END AS lang_guess,
       ROUND(vowel_ratio, 6) AS vowel_ratio
FROM feat
ORDER BY doc_id
""",
)
def text_langid(spark, sf_dir):
    """Character-statistics language-ID heuristic (vowel ratio + mean word
    length buckets).  A real n-gram model would ride the same shape: one
    narrow projection, no shuffle."""
    d = load(spark, sf_dir, "documents")
    vowel_ratio = (
        F.length(F.regexp_replace(F.lower("text"), "[^aeiou]", "")).cast("double")
        / F.length("text")
    )
    avg_wlen = F.length("text").cast("double") / F.size(
        F.filter(F.split("text", " "), lambda w: w != "")
    )
    return (
        d.select(
            "doc_id",
            "lang",
            F.when(vowel_ratio >= 0.32, "en")
            .when(vowel_ratio >= 0.28, "es")
            .when(avg_wlen >= 6.5, "de")
            .when(avg_wlen >= 5.5, "fr")
            .otherwise("zh")
            .alias("lang_guess"),
            F.round(vowel_ratio, 6).alias("vowel_ratio"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_quality_score",
    oracle="""
SELECT doc_id,
       ROUND(
         LEAST(CAST(n_chars AS DOUBLE) / 400.0, 1.0) * 0.5
         + LEAST(CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                 AS DOUBLE) / 60.0, 1.0) * 0.3
         + CASE WHEN length(regexp_replace(text, '[a-z ]', '', 'g')) = 0
                THEN 0.2 ELSE 0.0 END,
       6) AS quality
FROM documents
ORDER BY doc_id
""",
)
def text_quality_score(spark, sf_dir):
    """Heuristic quality score: length saturation (0.5) + word-count
    saturation (0.3) + clean-charset bonus (0.2) — the filter-stage scoring
    pattern for pretraining corpora; pure codegen expressions."""
    d = load(spark, sf_dir, "documents")
    n_words = F.size(F.filter(F.split("text", " "), lambda w: w != "")).cast("double")
    clean = F.length(F.regexp_replace("text", "[a-z ]", "")) == 0
    quality = (
        F.least(F.col("n_chars").cast("double") / 400.0, F.lit(1.0)) * 0.5
        + F.least(n_words / 60.0, F.lit(1.0)) * 0.3
        + F.when(clean, 0.2).otherwise(0.0)
    )
    return d.select("doc_id", F.round(quality, 6).alias("quality")).orderBy("doc_id")


@register(
    "token_count",
    oracle="""
SELECT doc_id,
       len(list_filter(string_split(text, ' '), w -> w <> '')) AS ws_tokens,
       len(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), t -> t <> ''))
         AS bpe_ish_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS byte_est_tokens
FROM documents
ORDER BY doc_id
""",
)
def token_count(spark, sf_dir):
    """Token counting three ways: whitespace, BPE-ish regex word pieces,
    and the chars/4 billing estimate — the budget accounting op."""
    d = load(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    bpe = F.size(F.filter(F.split("text", "[^a-z0-9]+"), lambda t: t != ""))
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_ish_tokens"),
        F.ceil(F.length("text") / 4.0).alias("byte_est_tokens"),
    ).orderBy("doc_id")


@register(
    "doc_fingerprint",
    oracle="""
WITH fp AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL
              ELSE md5(COALESCE(array_to_string(list_sort(list_distinct(
                  list_filter(string_split(lower(text), ' '), w -> w <> ''))),
                  ' '), '')) END AS fingerprint
  FROM documents
)
SELECT doc_id, fingerprint,
       COUNT(*) OVER (PARTITION BY fingerprint) AS n_same
FROM fp
ORDER BY doc_id
""",
)
def doc_fingerprint(spark, sf_dir):
    """Order-normalized content fingerprint: md5 over the sorted distinct
    word set — catches shuffled/reordered duplicates that exact text hashing
    misses.  n_same > 1 marks fingerprint collisions (= word-set dups).

    Degenerate inputs (r13 edge-corpus differential): an EMPTY word set
    (empty or all-whitespace text) fingerprints as md5('') — empty docs
    are word-set duplicates of EACH OTHER — while NULL text stays NULL.
    That is the builder's array_join semantics; DuckDB's array_to_string
    returns NULL for an empty list, which silently lumped empty docs in
    with NULL docs on the oracle side — hence the COALESCE + explicit
    NULL guard there."""
    d = load(spark, sf_dir, "documents")
    fp = F.md5(
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
                )
            ),
            " ",
        )
    )
    w = Window.partitionBy("fingerprint")
    return (
        d.select("doc_id", fp.alias("fingerprint"))
        .withColumn("n_same", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


@register(
    "dedup_simhash",
    oracle="""
WITH tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
  ) WHERE word <> '' GROUP BY doc_id, word
),
bits AS (
  SELECT t.doc_id, g.j,
         SUM(t.tf * (2 * ((strpos('0123456789abcdef',
                                  substring(md5(t.word), CAST(g.j // 4 AS INTEGER) + 1, 1)) - 1
                           >> (3 - CAST(g.j % 4 AS INTEGER))) & 1) - 1)) AS signal
  FROM tf t CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) g
  GROUP BY t.doc_id, g.j
),
sig AS (
  SELECT doc_id,
         string_agg(CASE WHEN signal >= 0 THEN '1' ELSE '0' END, '' ORDER BY j)
           AS simhash
  FROM bits GROUP BY doc_id
)
SELECT doc_id, simhash,
       COUNT(*) OVER (PARTITION BY simhash) AS n_same
FROM sig
ORDER BY doc_id
""",
)
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash signature per document from md5-derived word bits
    (cross-engine-stable: no engine hash functions), tf-weighted.  n_same
    counts signature collisions (hamming-0 near-dups).  At 100 TB the
    hamming-≤k search runs on banded substrings of this signature —
    same shuffle shape as MinHash bands."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("wmd5", F.md5("word"))
    )
    bits = (
        tf.select(
            "doc_id",
            "tf",
            "wmd5",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("j"),
        )
        .withColumn(
            "nibble",
            F.expr(
                "locate(substring(wmd5, cast(j / 4 as int) + 1, 1), '0123456789abcdef') - 1"
            ),
        )
        .withColumn("bit", F.expr("shiftright(nibble, 3 - cast(j % 4 as int)) & 1"))
        .groupBy("doc_id", "j")
        .agg(F.sum(F.col("tf") * (2 * F.col("bit") - 1)).alias("signal"))
    )
    sig = (
        bits.withColumn(
            "b", F.when(F.col("signal") >= 0, F.lit("1")).otherwise(F.lit("0"))
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "b"))), lambda s: s["b"]
                ),
                "",
            ).alias("simhash")
        )
    )
    w = Window.partitionBy("simhash")
    return (
        sig.withColumn("n_same", F.count(F.lit(1)).over(w)).orderBy("doc_id")
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
n AS (
  SELECT vec_id, e,
         sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS nrm
  FROM v
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_aggregate(list_transform(list_zip(a.e, b.e),
                            z -> z[1] * z[2]), 'sum') / (a.nrm * b.nrm), 6)
         AS cos_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_aggregate(list_transform(list_zip(a.e, b.e),
                     z -> z[1] * z[2]), 'sum') / (a.nrm * b.nrm) >= 0.45
ORDER BY id_a, id_b
""",
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (threshold 0.45 — r05
    measurement: the sf0.01 corpus's max off-diagonal cosine is 0.513, so
    the original 0.55 threshold made the key VACUOUSLY hash-green at the
    driver's check SF, 0 = 0 rows; 0.45 yields 14 real pairs there and
    144 at sf0.1).  ORACLE-PARITY REFERENCE twin: all-pairs by
    construction, quadratic.  The PRODUCTION path is ``semdedup_prune``
    (live since round 7): IVF-clustered per-list Gram matrices — n^1.5,
    13.4 s at synthetic sf1.0 where this twin exceeds the budget
    (SCALE.md §8).  Keep this key for exact small-n verification and
    recall measurement of the clustered path.  Guarded: raises above
    ``TWIN_MAX_ROWS`` input vectors (VERDICT r07 item 5).

    The all-pairs stage scores row blocks of the broadcast corpus
    (``_cosine_corpus`` / ``_cosine_blocks``, shared with knn_classify)
    instead of a crossJoin + interpreted ``aggregate(zip_with(...))`` fold
    (sf1.0 audit: 16.5 s).  The oracle thresholds on the UN-ROUNDED
    cos_raw, which the scorer reproduces bit for bit; the ``>= 0.45``
    decision replicates Spark's semantics exactly — NULL on zero
    denominator drops the pair, NaN compares GREATEST and keeps it — and
    the surviving cos_raw doubles cross Arrow bit-exact so the final
    ``round(..., 6)`` stays Spark's half-up.  ``_dedup_embedding_cosine_expr``
    keeps the crossJoin+fold form; tests assert frame identity on the
    edge corpora."""
    import numpy as np
    import pandas as pd

    n = guard_twin_size(
        _normed_vectors(spark, sf_dir), "dedup_embedding_cosine", "semdedup_prune"
    )
    bc = _cosine_corpus(spark, sf_dir, n)

    def above(ids, lo, cos, zden):
        ia = ids[lo:lo + len(cos)]
        keep = ((cos >= 0.45) | np.isnan(cos)) & ~zden
        keep &= ids[None, :] > ia[:, None]
        r, c = np.nonzero(keep)
        return pd.DataFrame({"id_a": ia[r], "id_b": ids[c], "cos_raw": cos[r, c]})

    cand = _cosine_blocks(
        spark, bc, above, "id_a bigint, id_b bigint, cos_raw double"
    )
    return cand.select(
        "id_a", "id_b", F.round("cos_raw", 6).alias("cos_sim")
    ).orderBy("id_a", "id_b")


def _dedup_embedding_cosine_expr(spark, sf_dir):
    """Pure-expr twin of ``dedup_embedding_cosine`` (the pre-r16 form):
    crossJoin + per-pair ``aggregate(zip_with(...))`` fold + threshold.
    Unregistered — the oracle-parity reference for the vectorized scorer;
    the differential test asserts frame identity, INCLUDING on the edge
    corpora (zero vector → NULL cos dropped, NaN element → NaN compares
    greatest and survives, 1e±20 magnitudes, exact duplicate)."""
    n = _normed_vectors(spark, sf_dir)
    n = guard_twin_size(n, "dedup_embedding_cosine", "semdedup_prune")
    a = n.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("ae"), F.col("nrm").alias("anrm")
    )
    b = n.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("be"), F.col("nrm").alias("bnrm")
    )
    dot = F.expr(
        "aggregate(zip_with(ae, be, (x, y) -> x * y), cast(0.0 as double), (a, x) -> a + x)"
    )
    cos = dot / (F.col("anrm") * F.col("bnrm"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= 0.45)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cos_sim"))
        .orderBy("id_a", "id_b")
    )


@register(
    "sim_ann_ivf",
    oracle="""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
n AS (
  SELECT vec_id, label, e,
         sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS nrm
  FROM v
),
centroids AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM n WHERE vec_id <= 8),
assign AS (
  SELECT vec_id, e, nrm, cid FROM (
    SELECT x.vec_id, x.e, x.nrm, c.cid,
           row_number() OVER (
             PARTITION BY x.vec_id
             ORDER BY list_aggregate(list_transform(list_zip(x.e, c.ce),
                      z -> z[1] * z[2]), 'sum') / (x.nrm * c.cnrm) DESC, c.cid
           ) AS rc
    FROM n x CROSS JOIN centroids c
  ) WHERE rc = 1
),
probes AS (SELECT * FROM assign WHERE vec_id <= 5),
cand AS (
  SELECT p.vec_id AS probe_id, x.vec_id AS neighbor_id,
         list_aggregate(list_transform(list_zip(p.e, x.e),
                        z -> z[1] * z[2]), 'sum') / (p.nrm * x.nrm) AS cos_raw
  FROM probes p JOIN assign x
    ON x.cid = p.cid AND x.vec_id <> p.vec_id
)
SELECT probe_id, neighbor_id, ROUND(cos_raw, 6) AS cos_sim, rn FROM (
  SELECT probe_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cos_raw DESC, neighbor_id) AS rn
  FROM cand
) WHERE rn <= 5
ORDER BY probe_id, rn
""",
)
def sim_ann_ivf(spark, sf_dir):
    """IVF-bucketed approximate NN, fully deterministic (centroids = first
    8 vectors; assignment = max cosine).  Probes search only their inverted
    list — the candidate set shrinks ~|centroids|-fold; at scale centroids
    come from sampled k-means and the assignment is a broadcast join, which
    is exactly the shape here."""
    n = _normed_vectors(spark, sf_dir).select("vec_id", "e", "nrm")
    cents = n.filter(F.col("vec_id") <= 8).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce"), F.col("nrm").alias("cnrm")
    )
    dot_c = F.expr(
        "aggregate(zip_with(e, ce, (x, y) -> x * y), cast(0.0 as double), (a, x) -> a + x)"
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        (dot_c / (F.col("nrm") * F.col("cnrm"))).desc(), F.col("cid")
    )
    assign = (
        n.crossJoin(F.broadcast(cents))
        .withColumn("rc", F.row_number().over(w_assign))
        .filter(F.col("rc") == 1)
        .select("vec_id", "e", "nrm", "cid")
    )
    probes = assign.filter(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        F.col("nrm").alias("pnrm"),
        F.col("cid").alias("pcid"),
    )
    dot_p = F.expr(
        "aggregate(zip_with(pe, e, (x, y) -> x * y), cast(0.0 as double), (a, x) -> a + x)"
    )
    cand = (
        F.broadcast(probes)
        .join(
            assign,
            (F.col("cid") == F.col("pcid")) & (F.col("vec_id") != F.col("probe_id")),
        )
        .withColumn("cos_raw", dot_p / (F.col("pnrm") * F.col("nrm")))
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), "cos_raw")
    )
    w_rank = Window.partitionBy("probe_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "neighbor_id", F.round("cos_raw", 6).alias("cos_sim"), "rn")
        .orderBy("probe_id", "rn")
    )


def _decode_wav(payload: bytes):
    """Real RIFF/WAV decode via the stdlib ``wave`` module.  Returns
    (framerate, samples ndarray of int16-as-int64).  Mono 16-bit PCM only
    (what the encoder stage emits); raises on anything else."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as wf:
        if wf.getnchannels() != 1 or wf.getsampwidth() != 2:
            raise ValueError(
                f"expected mono 16-bit PCM, got {wf.getnchannels()}ch "
                f"{wf.getsampwidth() * 8}-bit"
            )
        frames = wf.readframes(wf.getnframes())
        return wf.getframerate(), np.frombuffer(frames, dtype="<i2").astype(
            np.int64
        )


@register(
    "multimodal_wav_decode",
    oracle="""
WITH audio AS (
  SELECT doc_id,
         CAST(64 + ((doc_id % 97) + 97) % 97 AS BIGINT) AS n,
         list_transform(range(0, CAST(64 + ((doc_id % 97) + 97) % 97 AS INTEGER)),
                        i -> ((doc_id * 13 + i * 11) % 65536 + 65536) % 65536
                             - 32768) AS s
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(44 + 2 * n AS BIGINT) AS n_bytes,
       n AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak_abs,
       CAST(list_sum(list_transform(s, x -> abs(x))) // n AS BIGINT)
         AS mean_abs,
       CAST(s[1] AS BIGINT) AS first_sample,
       CAST(s[n] AS BIGINT) AS last_sample
FROM audio
ORDER BY doc_id
""",
)
def multimodal_wav_decode(spark, sf_dir):
    """Audio feature extraction over an opaque ``binary`` column — with a
    REAL codec decode: stage 1 encodes each document as a genuine RIFF/WAV
    container (mono 16-bit PCM at 8 kHz, deterministic samples, written by
    the stdlib ``wave`` module), the payload crosses a repartition
    exchange as binary Arrow batches, and stage 2 decodes the actual
    container back through ``wave`` (``_decode_wav`` — sample rate, frame
    count, and PCM values all come from the BYTES) and extracts loudness
    features: peak amplitude, integer mean absolute amplitude, duration.
    The hash-green oracle recomputes every feature from the analytic
    sample formula, proving the container round-trip decoded each PCM
    frame exactly.  (Renamed from ``multimodal_extract_stub`` in round 8,
    VERDICT r07 item 7: the decode is real.)  Compressed codecs
    (MP3/AAC/Opus) remain out of scope in this container.  Scale: embarrassingly parallel; payloads never reach the
    driver."""
    import io
    import wave

    import numpy as np
    import pandas as pd

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id"
    )

    def encode(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 64 + did % 97
                pcm = (
                    (did * 13 + 11 * np.arange(n, dtype=np.int64)) % 65536 - 32768
                ).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(8000)
                    wf.writeframes(pcm.tobytes())
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    audio = d.mapInPandas(
        encode, schema="doc_id long, payload binary"
    ).repartition("doc_id")

    def extract(batches):
        for pdf in batches:
            out = {
                k: []
                for k in (
                    "n_bytes",
                    "n_samples",
                    "sample_rate",
                    "duration_ms",
                    "peak_abs",
                    "mean_abs",
                    "first_sample",
                    "last_sample",
                )
            }
            for payload in pdf["payload"]:
                b = bytes(payload)
                sr, s = _decode_wav(b)
                out["n_bytes"].append(len(b))
                out["n_samples"].append(len(s))
                out["sample_rate"].append(sr)
                out["duration_ms"].append(len(s) * 1000 // sr)
                out["peak_abs"].append(int(np.abs(s).max()))
                out["mean_abs"].append(int(np.abs(s).sum() // len(s)))
                out["first_sample"].append(int(s[0]))
                out["last_sample"].append(int(s[-1]))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], **out})

    return audio.mapInPandas(
        extract,
        schema=(
            "doc_id long, n_bytes long, n_samples long, sample_rate long,"
            " duration_ms long, peak_abs long, mean_abs long,"
            " first_sample long, last_sample long"
        ),
    ).orderBy("doc_id")


def _kmeans(spark, sf_dir, k: int = 8, iters: int = 5):
    """Lloyd's k-means loop over the embedding column.  Returns the final
    assignment DataFrame (vec_id, cluster_id, d2) and the per-iteration
    SSE list (computed from the assignment BEFORE each centroid update).

    Deterministic end-to-end: init = first k vectors; argmin tie-broken by
    (d2, cid); centroid means computed in SCALED-INTEGER arithmetic
    (r16, replacing the r-earlier decimal avg): per dim,
    ``sum(round(val·10¹²)) as exact BIGINT → cast double → / n / 10¹²``.
    Every step is either exact integer addition or a single IEEE-754
    operation on identical inputs, so the means are BIT-IDENTICAL across
    engines and partition orders — which is what lets the DuckDB oracle
    replay the whole loop and hash-match (the old decimal chain depended
    on Spark's DecimalType division scale/rounding, which DuckDB does not
    reproduce).  The 10⁻¹² quantization is far coarser than double ulp
    but perturbs each mean by <5e-13 — Lloyd's SSE improvements here are
    orders of magnitude larger, so monotonicity (tested) is unaffected.
    Driver-side state is only the k×dim centroid matrix (constant in
    corpus size) — the same loop shape as MLlib's trainer."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    cents = {
        # (collected BEFORE the spread below — the probe filter wants the
        # scan's trivial plan)
        r["vec_id"]: list(r["v"])
        for r in e.filter(F.col("vec_id") <= k).collect()
    }
    # spread the slim (id, vector) relation (~10 MB at sf1.0) so the
    # per-round argmin map + partial aggregation are not one task, and
    # stage it so the round-robin exchange runs once, not once per round
    e = restage(spark, "kmeans_iterative", spread_if_narrow(e))
    sse_trace = []
    assign = None
    for _ in range(iters):
        # r16 OPTIMIZATION (guide §2.4 shuffle removal + §5 driver loops).
        # The per-iteration plan used to be crossJoin(broadcast cent_df)
        # -> n*k rows -> Window(partitionBy vec_id) argmin — a FULL
        # SHUFFLE of the exploded n*k relation every round — then a
        # localCheckpoint materialization plus TWO more driver actions
        # (SSE sum, centroid agg): 3 jobs + 1 shuffle per Lloyd round,
        # measured 10.5 s warm at sf0.01 (500 rows!) / 6.6 s at sf0.1.
        # Assignment depends only on the k*dim centroid matrix the driver
        # already holds, so it is now MAP-ONLY: centroids enter as a
        # LITERAL array of structs (coreset_sample_kcenter's discipline)
        # and the per-row argmin is array_min(transform(...)) — struct
        # ordering compares (d2, cid) fieldwise, reproducing the window's
        # ORDER BY d2, cid tie-break exactly.  SSE and the scaled-integer
        # centroid sums ride in ONE combined aggregation per round
        # (partial agg shrinks it to k*dim groups map-side).  Zero
        # shuffles of the n*k relation, one job per round, no checkpoint.
        # Bit-parity: d2 is the same zip_with/aggregate fold; the mean
        # float(s)/n/1e12 evaluates double(s)/double(n)/1e12 in IEEE-754
        # on both the old Spark-side and this Python-side division, so
        # centroids are bit-identical and the oracle is unchanged
        # (hash-verified at sf0.001/0.01/0.1).  Measured after: 1.1 s
        # sf0.01 / 1.4 s sf0.1 warm.
        # ONE expr string, parsed JVM-side: building the same literal out
        # of nested F.lit()/F.array() Columns costs ~520 py4j round trips
        # per iteration (~0.3-0.5 s x 5 rounds, measured).  Python float
        # repr() is shortest-round-trip, and Spark's `<decimal>D` literal
        # parses via Java Double.parseDouble (correctly rounded), so the
        # text round trip is value-exact.
        cent_arr = "array({})".format(
            ",".join(
                "named_struct('cid', CAST({} AS BIGINT), 'c', array({}))".format(
                    cid, ",".join(f"{float(x)!r}D" for x in c)
                )
                for cid, c in sorted(cents.items())
            )
        )
        best = F.expr(
            "array_min(transform({}, s -> named_struct("
            " 'd2', aggregate(zip_with(v, s.c, (x, y) -> (x - y) * (x - y)),"
            " cast(0.0 as double), (a, x) -> a + x),"
            " 'cid', s.cid)))".format(cent_arr)
        )
        assign = e.select(
            "vec_id",
            "v",
            best["cid"].alias("cluster_id"),
            best["d2"].alias("d2"),
        )
        stats = (
            assign.select(
                "cluster_id", "d2", F.posexplode("v").alias("pos", "val")
            )
            .groupBy("cluster_id", "pos")
            .agg(
                F.sum(
                    F.expr("CAST(FLOOR(val * 1e12 + 0.5D) AS BIGINT)")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
                # per-cluster SSE rides on the pos=0 group so the trace
                # needs no second action
                F.sum(F.when(F.col("pos") == 0, F.col("d2"))).alias("d2p"),
            )
            .collect()
        )
        sse_trace.append(
            sum(
                r["d2p"]
                for r in stats
                if r["pos"] == 0 and r["d2p"] is not None
            )
        )
        by_cluster: dict[int, list] = {}
        for r in stats:
            by_cluster.setdefault(r["cluster_id"], []).append(r)
        for cid, rows_ in by_cluster.items():  # absent = empty cluster,
            rows_.sort(key=lambda r: r["pos"])  # keeps its old centroid
            cents[cid] = [float(r["s"]) / r["n"] / 1e12 for r in rows_]
    return assign, sse_trace


def _kmeans_oracle_sql(k: int = 8, iters: int = 5) -> str:
    """Unrolled Lloyd's loop as one DuckDB CTE chain — the oracle for
    ``kmeans_iterative`` (r16 strict strengthening, VERDICT r15 item 5).
    Expressible BECAUSE the engine's arithmetic is exactly specified:
    init = vec_id ≤ k; d2 = sequential left-fold of (x−y)² (Spark
    ``aggregate(zip_with(…))`` ≡ DuckDB ``list_reduce(list_transform(
    list_zip(…)))`` — both fold positions in order, and 0.0+x1 == x1 for
    doubles so the missing initial accumulator changes nothing); argmin
    tie-broken (d2, cid); centroid means in scaled-integer arithmetic
    (see _kmeans); empty clusters keep their previous centroid via the
    LEFT JOIN + COALESCE.  Validated hash-exact at sf0.001/0.01/0.1
    before adoption."""
    d2 = (
        "list_reduce(list_transform(list_zip(e.v, c.c),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])), (a, x) -> a + x)"
    )
    parts = [
        "WITH e AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings),",
        f"c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id <= {k})",
    ]
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        parts.append(
            f", a{i} AS (SELECT e.vec_id, e.v, c.cid AS cluster_id,"
            f" {d2} AS d2 FROM e CROSS JOIN {prev} c"
            f" QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id"
            f" ORDER BY d2, c.cid) = 1)"
        )
        if i < iters:
            parts.append(
                f", m{i} AS (SELECT cluster_id, pos,"
                f" CAST(SUM(CAST(FLOOR(val * 1e12 + 0.5) AS BIGINT)) AS"
                f" DOUBLE) / COUNT(*) / 1e12 AS m"
                f" FROM (SELECT cluster_id, unnest(v) AS val,"
                f" generate_subscripts(v, 1) AS pos FROM a{i})"
                f" GROUP BY 1, 2)"
            )
            parts.append(
                f", c{i} AS (SELECT p.cid,"
                f" COALESCE(n.c, p.c) AS c FROM {prev} p LEFT JOIN"
                f" (SELECT cluster_id AS cid, list(m ORDER BY pos) AS c"
                f" FROM m{i} GROUP BY 1) n ON p.cid = n.cid)"
            )
    parts.append(
        f" SELECT cluster_id, COUNT(*) AS n_vecs FROM a{iters}"
        f" GROUP BY cluster_id ORDER BY cluster_id"
    )
    return "".join(parts)


@register("kmeans_iterative", oracle=_kmeans_oracle_sql())
def kmeans_iterative(spark, sf_dir):
    """K-means clustering of the embedding corpus (k=8, 5 synchronous
    Lloyd iterations) — the centroid trainer whose output feeds an IVF
    index (sim_ann_ivf's docstring: "at scale centroids come from sampled
    k-means"; this is that trainer).  Second iterative-algorithm pattern
    next to dedup_cluster_cc: per round one broadcast (k×dim), one narrow
    distance map, one keyed aggregation; driver holds centroids only.

    ORACLED as of r16 (was rows-only since r04; VERDICT r15 item 5): the
    scaled-integer centroid arithmetic (see _kmeans) makes the whole loop
    bit-deterministic across engines, so the DuckDB oracle replays all 5
    Lloyd iterations as an unrolled CTE chain (_kmeans_oracle_sql) and the
    final per-cluster counts hash-match exactly.  The SSE trace stays
    engine-side (partition-order double folds) and keeps its monotonicity
    test in tests/test_edge_cases.py."""
    assign, _ = _kmeans(spark, sf_dir)
    return (
        assign.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("cluster_id")
    )


def _parse_ppm_at(payload: bytes, pos: int = 0):
    """From-scratch binary PPM (P6) parser — stdlib only.  Parses one image
    starting at ``pos``; returns (width, height, maxval, pixels ndarray of
    shape (h, w, 3), next_pos).  Handles '#' comments and arbitrary
    whitespace per the netpbm spec; raises ValueError on malformed input
    (a real decoder fails loudly).  ``next_pos`` supports multi-image
    netpbm streams (the spec allows concatenated images in one file)."""
    import numpy as np

    if payload[pos : pos + 2] != b"P6":
        raise ValueError(f"not a P6 PPM: magic {payload[pos : pos + 2]!r}")
    pos, fields = pos + 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment runs to end of line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        fields.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte separates header from raster
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    raster = payload[pos : pos + w * h * 3]
    if len(raster) != w * h * 3:
        raise ValueError(f"raster truncated: {len(raster)} != {w * h * 3}")
    img = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)
    return w, h, maxval, img, pos + w * h * 3


def _parse_ppm(payload: bytes):
    """Single-image convenience wrapper over ``_parse_ppm_at``."""
    w, h, maxval, img, _ = _parse_ppm_at(payload)
    return w, h, maxval, img


def _iter_ppm_stream(payload: bytes):
    """Yield (width, height, pixels) for every image in a concatenated
    netpbm P6 stream — the multi-frame container format the spec allows
    ('a file can contain a sequence of images')."""
    pos = 0
    while pos < len(payload):
        w, h, _, img, pos = _parse_ppm_at(payload, pos)
        yield w, h, img


def _resize_nn(img, max_side: int):
    """Aspect-preserving nearest-neighbor thumbnail (floor geometry):
    target = floor(side * max_side / long_side), min 1; source index for
    target row r is (r * h) // th (and likewise for columns)."""
    import numpy as np

    h, w = img.shape[0], img.shape[1]
    ls = max(w, h)
    tw, th = max(1, w * max_side // ls), max(1, h * max_side // ls)
    return img[(np.arange(th) * h) // th][:, (np.arange(tw) * w) // tw, :]


@register(
    "multimodal_image_resize",
    oracle="""
WITH geo AS (
  SELECT doc_id,
         CAST(4 + ((doc_id * 37) % 29 + 29) % 29 AS BIGINT) AS w,
         CAST(3 + ((doc_id * 53) % 23 + 23) % 23 AS BIGINT) AS h
  FROM documents WHERE text IS NOT NULL
), t AS (
  SELECT doc_id, w, h,
         GREATEST(1, (w * 16) // GREATEST(w, h)) AS tw,
         GREATEST(1, (h * 16) // GREATEST(w, h)) AS th
  FROM geo
)
SELECT doc_id, w AS width, h AS height, tw AS target_w, th AS target_h,
       CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
            + w * h * 3 AS BIGINT) AS n_bytes,
       CAST(list_sum(flatten(flatten(list_transform(range(0, th), y ->
              list_transform(range(0, tw), x ->
                list_transform([0, 1, 2], k ->
                  ((doc_id * 31
                    + 7 * ((((y * h) // th) * w + (x * w) // tw) * 3 + k))
                   % 256 + 256) % 256)))))) AS BIGINT) AS pix_checksum
FROM t ORDER BY doc_id
""",
)
def multimodal_image_resize(spark, sf_dir):
    """Image decode + resize over an opaque binary column with TYPED
    metadata — and the decode is REAL: stage 1 (mapInPandas) encodes a
    genuine binary PPM/P6 image per document (deterministic pixels, so
    the result stays SQL-oracle-checkable); the payload then crosses a
    repartition exchange as binary Arrow batches; stage 2 (mapInPandas)
    parses the P6 header with a from-scratch netpbm parser
    (``_parse_ppm`` — width/height come from the BYTES, not the metadata
    struct, which is instead cross-checked like a production DQ gate),
    nearest-neighbor-resamples the actual raster to a max-side-16
    thumbnail (``_resize_nn``), and emits the resampled pixel checksum.
    The oracle reproduces the checksum analytically, so a hash-green row
    proves the decode+resample executed correctly byte-for-byte.

    (Renamed from ``multimodal_resize_stub`` in round 8, VERDICT r07
    item 7: the decode is real.)  PIL-class formats (JPEG entropy coding)
    remain out of scope in this container; PNG has its own real-decode
    key (``multimodal_png_decode``).  At
    100 TB this stage is embarrassingly parallel; partition sizing
    follows bytes (maxPartitionBytes), not row counts."""
    import numpy as np
    import pandas as pd

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # pmod, not %: doc_ids in the wild are hash-derived and negative half
    # the time; Spark's % keeps the dividend's sign, which would produce
    # negative widths here and diverge from the Python/numpy encode stage
    # (whose % IS pmod) — (r14 edge-corpus campaign).
    docs = d.select(
        "doc_id",
        F.struct(
            (4 + F.pmod(F.col("doc_id") * 37, F.lit(29))).cast("long").alias("width"),
            (3 + F.pmod(F.col("doc_id") * 53, F.lit(23))).cast("long").alias("height"),
            F.lit("ppm").alias("format"),
        ).alias("meta"),
    )

    def encode(batches):
        for pdf in batches:
            meta = pd.DataFrame(list(pdf["meta"]))
            payloads = []
            for did, w, h in zip(pdf["doc_id"], meta["width"], meta["height"]):
                px = (
                    (int(did) * 31 + 7 * np.arange(w * h * 3, dtype=np.int64))
                    % 256
                ).astype(np.uint8)
                payloads.append(b"P6\n%d %d\n255\n" % (w, h) + px.tobytes())
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "meta": pdf["meta"], "payload": payloads}
            )

    imgs = docs.mapInPandas(
        encode, schema="doc_id long, meta struct<width:long,height:long,format:string>, payload binary"
    ).repartition("doc_id")  # force the binary column through a real exchange

    def resize(batches):
        for pdf in batches:
            meta = pd.DataFrame(list(pdf["meta"]))
            rows = {k: [] for k in ("width", "height", "target_w", "target_h", "pix_checksum")}
            for payload, mw, mh in zip(pdf["payload"], meta["width"], meta["height"]):
                w, h, _, img = _parse_ppm(bytes(payload))
                if (w, h) != (mw, mh):  # metadata/content DQ cross-check
                    raise ValueError(f"metadata {mw}x{mh} != decoded {w}x{h}")
                thumb = _resize_nn(img, 16)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["target_w"].append(thumb.shape[1])
                rows["target_h"].append(thumb.shape[0])
                rows["pix_checksum"].append(int(thumb.sum(dtype=np.int64)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    **rows,
                    "n_bytes": pdf["payload"].map(len),
                }
            )

    return imgs.mapInPandas(
        resize,
        schema=(
            "doc_id long, width long, height long, target_w long,"
            " target_h long, pix_checksum long, n_bytes long"
        ),
    ).orderBy("doc_id")


@register(
    "repetition_ngram_ratio",
    oracle="""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, ws,
         CASE WHEN len(ws) >= 3 THEN
           list_transform(generate_series(1, len(ws) - 2),
                          i -> array_to_string(list_slice(ws, i, i + 2), ' '))
         ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM w
)
SELECT doc_id,
       len(ws) AS n_words,
       CASE WHEN len(ws) = 0 THEN 0.0
            ELSE ROUND(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6)
       END AS rep1_ratio,
       len(grams) AS n_grams3,
       CASE WHEN len(grams) = 0 THEN 0.0
            ELSE ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                             / len(grams), 6)
       END AS rep3_ratio
FROM g
ORDER BY doc_id
""",
)
def repetition_ngram_ratio(spark, sf_dir):
    """Gopher-style within-document repetition signal: fraction of repeated
    unigrams and 3-grams per document (1 - distinct/total).  High values
    flag boilerplate/spam for the pretraining filter stage.

    Plan: pure per-row array expressions (split → transform(sequence) for
    the 3-gram windows → array_distinct) — zero shuffles, zero explodes,
    whole-stage codegen, embarrassingly parallel at 100 TB.  Contrast with
    contamination_ngram, which joins n-grams ACROSS documents."""
    d = load(spark, sf_dir, "documents")
    with_ws = d.select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("ws")
    )
    grams = (
        F.when(
            F.size("ws") >= 3,
            F.expr(
                "transform(sequence(1, size(ws) - 2),"
                " i -> concat_ws(' ', slice(ws, i, 3)))"
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("grams")
    )
    rep = lambda c: F.when(F.size(c) == 0, F.lit(0.0)).otherwise(  # noqa: E731
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(c)).cast("double") / F.size(c), 6
        )
    )
    return (
        with_ws.select("doc_id", "ws", grams)
        .select(
            "doc_id",
            F.size("ws").alias("n_words"),
            rep("ws").alias("rep1_ratio"),
            F.size("grams").alias("n_grams3"),
            rep("grams").alias("rep3_ratio"),
        )
        .orderBy("doc_id")
    )


@register(
    "embedding_norm_stats",
    oracle="""
WITH s AS (
  SELECT vec_id, label,
         sqrt(list_aggregate(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS l2,
         list_aggregate(list_transform(embedding,
              x -> abs(CAST(x AS DOUBLE))), 'max') AS max_abs,
         len(list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) > 0.2)) AS n_large
  FROM embeddings
)
SELECT vec_id, label,
       ROUND(l2, 6) AS l2_norm,
       ROUND(max_abs, 6) AS max_abs,
       n_large
FROM s
WHERE l2 > 0.5
ORDER BY vec_id
""",
)
def embedding_norm_stats(spark, sf_dir):
    """Embedding hygiene gate for vector pipelines: L2 norm, largest
    component magnitude, and count of large components per vector, keeping
    only vectors with usable norm (degenerate/zero vectors break cosine
    math downstream).

    Per-row fold over the array column (aggregate/transform builtins —
    JVM-side, no UDF); float→double casts on both engines make the folds
    bit-identical.  No shuffle; at 100 TB this runs at scan speed."""
    e = load(spark, sf_dir, "embeddings")
    l2 = F.expr(
        "sqrt(aggregate(embedding, 0.0d,"
        " (acc, x) -> acc + cast(x as double) * cast(x as double)))"
    )
    max_abs = F.expr(
        "aggregate(embedding, 0.0d,"
        " (acc, x) -> greatest(acc, abs(cast(x as double))))"
    )
    n_large = F.size(
        F.expr("filter(embedding, x -> abs(cast(x as double)) > 0.2d)")
    )
    return (
        e.select(
            "vec_id",
            "label",
            l2.alias("l2"),
            F.round(max_abs, 6).alias("max_abs"),
            n_large.alias("n_large"),
        )
        .filter(F.col("l2") > 0.5)
        .select(
            "vec_id",
            "label",
            F.round("l2", 6).alias("l2_norm"),
            "max_abs",
            "n_large",
        )
        .orderBy("vec_id")
    )


@register(
    "multimodal_frame_sample",
    oracle="""
WITH media AS (
  SELECT doc_id,
         CAST(3 + ((doc_id % 5) + 5) % 5 AS BIGINT) AS n_frames,
         CAST(4 + ((doc_id % 5) + 5) % 5 AS BIGINT) AS w,
         CAST(3 + ((doc_id % 4) + 4) % 4 AS BIGINT) AS h
  FROM documents WHERE text IS NOT NULL
),
f AS (
  SELECT doc_id, n_frames, w, h,
         unnest(generate_series(0, CAST(n_frames - 1 AS INTEGER))) AS frame_idx
  FROM media
)
SELECT doc_id, frame_idx,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(n_frames * 40 AS BIGINT) AS duration_ms,
       CAST(frame_idx * 40 AS BIGINT) AS ts_ms,
       w AS frame_w, h AS frame_h,
       CAST(list_sum(list_transform(range(0, CAST(w * h * 3 AS INTEGER)),
              i -> ((doc_id * 31 + frame_idx * 17 + 11 * i) % 256 + 256)
                   % 256))
            AS BIGINT) AS frame_checksum
FROM f
WHERE frame_idx % 2 = 0
ORDER BY doc_id, frame_idx
""",
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame sampling over an opaque ``binary`` video column — with a REAL
    container decode: stage 1 encodes each document as a multi-frame
    netpbm P6 stream (3–7 concatenated frames — the netpbm spec's 'a file
    can contain a sequence of images' container; deterministic rasters so
    the result stays SQL-oracle-checkable), and the sampler walks the
    actual byte stream with ``_iter_ppm_stream`` (frame count, dims, and
    pixels all come from the BYTES), keeps every 2nd frame, and emits
    per-frame checksums of the decoded rasters plus 25fps-style
    timestamps.  1→N row expansion through ``mapInPandas``; the payload
    column is dropped inside the UDF, not carried through the expansion.
    The hash-green oracle recomputes each sampled frame's checksum
    analytically, proving the stream walk decoded every frame correctly.
    (Renamed from ``multimodal_framesample_stub`` in round 8, VERDICT r07
    item 7: the decode is real.)  Entropy-coded containers (MP4/H.264)
    remain out of scope in this container."""
    import numpy as np
    import pandas as pd

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id"
    )

    def encode(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                n_frames = 3 + did % 5
                w, h = 4 + did % 5, 3 + did % 4
                frames = []
                for f in range(n_frames):
                    px = (
                        (did * 31 + f * 17 + 11 * np.arange(w * h * 3, dtype=np.int64))
                        % 256
                    ).astype(np.uint8)
                    frames.append(b"P6\n%d %d\n255\n" % (w, h) + px.tobytes())
                payloads.append(b"".join(frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = d.mapInPandas(
        encode, schema="doc_id long, payload binary"
    ).repartition("doc_id")  # binary stream crosses a real exchange

    def sample_frames(batches):
        for pdf in batches:
            out = {
                k: []
                for k in (
                    "doc_id",
                    "frame_idx",
                    "n_frames",
                    "duration_ms",
                    "ts_ms",
                    "frame_w",
                    "frame_h",
                    "frame_checksum",
                )
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames = list(_iter_ppm_stream(bytes(payload)))
                n_frames = len(frames)
                for idx, (w, h, img) in enumerate(frames):
                    if idx % 2:  # sample every 2nd frame
                        continue
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["n_frames"].append(n_frames)
                    out["duration_ms"].append(n_frames * 40)
                    out["ts_ms"].append(idx * 40)
                    out["frame_w"].append(w)
                    out["frame_h"].append(h)
                    out["frame_checksum"].append(int(img.sum(dtype=np.int64)))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        sample_frames,
        schema=(
            "doc_id long, frame_idx int, n_frames long, duration_ms long,"
            " ts_ms long, frame_w long, frame_h long, frame_checksum long"
        ),
    ).orderBy("doc_id", "frame_idx")


# ---------------------------------------------------------------------------
# multimodal_png_decode — entropy-coded image decode (zlib inflate + PNG
# filter reconstruction), closing the "no entropy coding" gap the netpbm
# keys left open (VERDICT r05 item 6 / r06 item 7).


def _png_paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor (PNG spec §9, filter type 4)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_encode(w: int, h: int, raw: bytes) -> bytes:
    """Minimal RGB8 PNG writer (stdlib only): signature + IHDR + one IDAT
    (zlib level 6) + IEND, CRC32 per chunk.  Scanline r uses filter type
    r % 5, so every PNG filter (None/Sub/Up/Average/Paeth) appears in
    every image taller than 4 rows — the decoder must reverse all five."""
    import struct
    import zlib

    bpp = 3
    stride = w * bpp
    out = bytearray()
    prior = bytes(stride)
    for r in range(h):
        line = raw[r * stride : (r + 1) * stride]
        ft = r % 5
        out.append(ft)
        if ft == 0:
            out += line
        else:
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                up = prior[x]
                ul = prior[x - bpp] if x >= bpp else 0
                if ft == 1:
                    pred = left
                elif ft == 2:
                    pred = up
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    pred = _png_paeth(left, up, ul)
                out.append((line[x] - pred) & 0xFF)
        prior = line

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + chunk(b"IEND", b"")
    )


def _png_decode(payload: bytes):
    """From-scratch PNG reader for the subset the writer emits (RGB8, no
    interlace): chunk walk with CRC verification, zlib inflate of the
    concatenated IDAT stream, then per-scanline filter REVERSAL — the
    sequential reconstruction (Sub/Average/Paeth read already-decoded
    neighbors) that makes PNG an actual entropy-coded format rather than
    a raster dump.  Returns (w, h, pixel_bytes, filter_type_sum)."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    pos, w = 8, None
    idat = bytearray()
    while pos < len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", payload[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {typ!r}")
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError("unsupported PNG variant")
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("missing IHDR")
    stream = zlib.decompress(bytes(idat))
    bpp, stride = 3, w * 3
    if len(stream) != h * (stride + 1):
        raise ValueError("inflated stream length mismatch")
    out = bytearray()
    prior = bytes(stride)
    fsum = 0
    for r in range(h):
        ft = stream[r * (stride + 1)]
        fsum += ft
        line = bytearray(stream[r * (stride + 1) + 1 : (r + 1) * (stride + 1)])
        if ft not in (0, 1, 2, 3, 4):
            raise ValueError(f"bad filter type {ft}")
        for x in range(stride):
            left = line[x - bpp] if x >= bpp else 0
            up = prior[x]
            ul = prior[x - bpp] if x >= bpp else 0
            if ft == 1:
                line[x] = (line[x] + left) & 0xFF
            elif ft == 2:
                line[x] = (line[x] + up) & 0xFF
            elif ft == 3:
                line[x] = (line[x] + (left + up) // 2) & 0xFF
            elif ft == 4:
                line[x] = (line[x] + _png_paeth(left, up, ul)) & 0xFF
        out += line
        prior = bytes(line)
    return w, h, bytes(out), fsum


@register(
    "multimodal_png_decode",
    oracle="""
WITH geo AS (
  SELECT doc_id,
         CAST(4 + ((doc_id * 37) % 29 + 29) % 29 AS BIGINT) AS w,
         CAST(3 + ((doc_id * 53) % 23 + 23) % 23 AS BIGINT) AS h
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, w AS width, h AS height,
       CAST((h // 5) * 10
            + COALESCE(list_sum(list_transform(range(0, h % 5), r -> r)), 0)
              AS BIGINT)
         AS filter_type_sum,
       CAST(list_sum(list_transform(range(0, w * h * 3), i ->
              ((doc_id * 31 + 7 * i) % 256 + 256) % 256))
            AS BIGINT) AS pix_checksum
FROM geo ORDER BY doc_id
""",
)
def multimodal_png_decode(spark, sf_dir):
    """ENTROPY-CODED image decode over an opaque binary column — the gap
    the netpbm keys (multimodal_image_resize etc.) documented as open:
    stage 1 (mapInPandas) writes a genuine PNG per document with stdlib
    zlib — deterministic RGB8 pixels ((doc_id·31 + 7i) mod 256), scanline
    r filtered with type r mod 5 so all five PNG filters appear; the
    binary crosses a repartition exchange; stage 2 (mapInPandas) decodes
    from scratch: chunk walk + CRC32 verification, zlib INFLATE of the
    IDAT stream, sequential filter reversal (Sub/Average/Paeth read
    already-reconstructed neighbors), and a metadata cross-check.  The
    oracle recomputes the reconstructed-pixel checksum AND the sum of
    filter-type bytes analytically — a hash-green row therefore proves
    the inflate + filter reconstruction round-tripped byte-for-byte
    (a raster dump could not fake filter_type_sum).

    100 TB: embarrassingly parallel per image; partition sizing follows
    bytes (maxPartitionBytes).  Production swaps the pure-Python scanline
    loop for libpng/Pillow behind the same schema — the Spark-side
    plumbing (binary column, Arrow batches, DQ cross-check) is what this
    key locks down."""
    import numpy as np
    import pandas as pd

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # pmod for hash-derived (possibly negative) doc_ids — see
    # multimodal_image_resize (r14 edge-corpus campaign).  Spread the slim
    # (doc_id, meta) rows before the pure-python ENCODE stage, the
    # expensive half of the key: 10.9 s → 3.4 s warm at sf1.0.
    docs = spread_if_narrow(d.select(
        "doc_id",
        F.struct(
            (4 + F.pmod(F.col("doc_id") * 37, F.lit(29))).cast("long").alias("width"),
            (3 + F.pmod(F.col("doc_id") * 53, F.lit(23))).cast("long").alias("height"),
            F.lit("png").alias("format"),
        ).alias("meta"),
    ))

    def encode(batches):
        for pdf in batches:
            meta = pd.DataFrame(list(pdf["meta"]))
            payloads = []
            for did, w, h in zip(pdf["doc_id"], meta["width"], meta["height"]):
                w, h = int(w), int(h)
                px = (
                    (int(did) * 31 + 7 * np.arange(w * h * 3, dtype=np.int64))
                    % 256
                ).astype(np.uint8)
                payloads.append(_png_encode(w, h, px.tobytes()))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "meta": pdf["meta"], "payload": payloads}
            )

    imgs = docs.mapInPandas(
        encode,
        schema=(
            "doc_id long,"
            " meta struct<width:long,height:long,format:string>,"
            " payload binary"
        ),
    ).repartition("doc_id")

    def decode(batches):
        for pdf in batches:
            meta = pd.DataFrame(list(pdf["meta"]))
            rows = {k: [] for k in ("width", "height", "filter_type_sum", "pix_checksum")}
            for payload, mw, mh in zip(pdf["payload"], meta["width"], meta["height"]):
                w, h, pix, fsum = _png_decode(bytes(payload))
                if (w, h) != (mw, mh):
                    raise ValueError(f"metadata {mw}x{mh} != decoded {w}x{h}")
                rows["width"].append(w)
                rows["height"].append(h)
                rows["filter_type_sum"].append(fsum)
                rows["pix_checksum"].append(
                    int(np.frombuffer(pix, dtype=np.uint8).sum(dtype=np.int64))
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], **rows})

    return imgs.mapInPandas(
        decode,
        schema=(
            "doc_id long, width long, height long,"
            " filter_type_sum long, pix_checksum long"
        ),
    ).orderBy("doc_id")


@register(
    "nearest_centroid_classify",
    oracle="""
WITH elems AS (
  SELECT vec_id, label,
         unnest(range(1, len(embedding) + 1)) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
cent AS (
  SELECT label AS c, pos,
         CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS mu
  FROM elems GROUP BY label, pos
),
dist AS (
  SELECT e.vec_id, e.label, c.c,
         CAST(SUM(CAST((e.x - c.mu) * (e.x - c.mu) AS DECIMAL(28,12)))
              AS DOUBLE) AS d2
  FROM elems e JOIN cent c ON c.pos = e.pos
  GROUP BY e.vec_id, e.label, c.c
),
ranked AS (
  SELECT vec_id, label, c AS pred_label, ROUND(d2, 6) AS dist_sq,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY ROUND(d2, 6), c) AS rk
  FROM dist
)
SELECT vec_id, label, pred_label, dist_sq,
       CAST(CASE WHEN label = pred_label THEN 1 ELSE 0 END AS INTEGER)
         AS is_correct
FROM ranked WHERE rk = 1
ORDER BY vec_id
""",
)
def nearest_centroid_classify(spark, sf_dir):
    """Nearest-centroid (Rocchio) classification over the embedding
    corpus — the third member of the supervised family next to
    knn_classify (instance-based) and quality_classifier_nb (generative):
    train = one decimal-exact mean vector per label (the
    embedding_centroid reduce), apply = argmin squared euclidean distance
    to the centroids.  Closed-form, no iteration, fully SQL-expressible —
    hash-green.  Centroids include each vector itself (standard Rocchio;
    the leave-one-out refinement subtracts the vector from its own class
    mean and rescales — same plan shape).

    Determinism: centroid means divide decimal-exact element sums once;
    squared residuals cast to DECIMAL(28,12) per element before the
    per-(vector,label) sum; the argmin ranks on the ROUNDED distance with
    label tiebreak.

    Plan (r16 optimization — guide §2.4 shuffle removal, the _kmeans
    literal-centroid discipline): training is still the one posexplode
    pass + |labels|×dim decimal-exact centroid aggregate, but the model
    (|labels|×dim doubles — bounded driver state, exactly like kmeans'
    k×dim matrix) is COLLECTED and re-enters scoring as a single SQL
    literal array of (label, mu-vector) structs.  Scoring is then
    MAP-ONLY: per row, ``array_min(transform(cents, …))`` folds the
    decimal-cast squared residuals per class and argmins on the
    (rounded d2, label) struct — the r15 form instead re-exploded every
    vector and joined it to the centroid table on the dimension index
    (n×dim×|labels| residual rows through a (vec,label,class) hash
    aggregate + a per-vector rank window: ~20.5 s at sf1.0; after:
    ~3 s).  Bit-parity: the fold adds the SAME decimal(28,12) terms the
    old Sum aggregate added (exact integer arithmetic either way), the
    collected means re-enter via repr round-trip (`<digits>D` literals
    parse through correctly-rounded Double.parseDouble), and struct
    ordering reproduces the window's (round(d2,6), label) tie-break —
    HASH OK re-verified at sf0.01 and sf0.1.  At 100 TB the production
    form is unchanged in spirit (BLAS pandas UDF over broadcast
    centroids); the model stays model-artifact-sized."""
    e = load(spark, sf_dir, "embeddings")
    # spread the slim (id, label, vector) relation (a ~10 MB shuffle) or
    # the whole interpreted scoring fold below runs on one core
    vecs = spread_if_narrow(e.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    ))
    elems = vecs.select(
        "vec_id", "label", F.posexplode("v")
    ).select(
        "vec_id", "label", (F.col("pos") + 1).alias("pos"), F.col("col").alias("x")
    )
    cent = elems.groupBy(F.col("label").alias("c"), "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(20,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )
    by_c: dict = {}
    for r in cent.collect():
        by_c.setdefault(r["c"], {})[r["pos"]] = r["mu"]
    cent_arr = "array({})".format(
        ",".join(
            "named_struct('c', CAST({} AS INT), 'mu', array({}))".format(
                int(c),
                ",".join(
                    f"{float(mu)!r}D" for _, mu in sorted(mus.items())
                ),
            )
            for c, mus in sorted(by_c.items())
        )
    )
    best = F.expr(
        "array_min(transform({}, s -> named_struct("
        " 'rd', round(cast(aggregate("
        "   zip_with(v, s.mu, (x, m) -> CAST((x - m) * (x - m)"
        "     AS DECIMAL(28,12))),"
        # accumulator type must be closed under the merge: decimal
        # addition widens the static type, so the merge casts back to
        # DECIMAL(30,12) — 18 integer digits of headroom, residual sums
        # are ≤ dim·max((x-m)²) ≪ 10^18, so every add is exact integer
        # arithmetic like the old Sum aggregate's decimal buffer
        "   CAST(0 AS DECIMAL(30,12)),"
        "   (acc, t) -> CAST(acc + t AS DECIMAL(30,12))) AS DOUBLE), 6),"
        " 'c', s.c)))".format(cent_arr)
    )
    return (
        vecs.select(
            "vec_id",
            "label",
            best["c"].alias("pred_label"),
            best["rd"].alias("dist_sq"),
            F.when(F.col("label") == best["c"], 1)
            .otherwise(0)
            .cast("int")
            .alias("is_correct"),
        )
        .orderBy("vec_id")
    )


@register(
    "winnow_fingerprint",
    oracle="""
WITH g AS (
  SELECT doc_id, i AS pos,
         ('0x' || substr(md5(substr(lower(text), CAST(i AS INTEGER), 5)),
                         1, 8))::BIGINT AS h,
         length(text) - 4 AS n_grams
  FROM documents, unnest(generate_series(1, length(text) - 4)) AS t(i)
  WHERE text IS NOT NULL AND length(text) >= 5
),
x AS (
  SELECT doc_id, pos, h, n_grams,
         lag(h, 1) OVER win AS l1, lag(h, 2) OVER win AS l2,
         lag(h, 3) OVER win AS l3,
         lead(h, 1) OVER win AS r1, lead(h, 2) OVER win AS r2,
         lead(h, 3) OVER win AS r3
  FROM g WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
r AS (
  SELECT doc_id, pos, h, n_grams,
         CASE WHEN l1 IS NOT NULL AND l1 >= h THEN
           CASE WHEN l2 IS NOT NULL AND l2 >= h THEN
             CASE WHEN l3 IS NOT NULL AND l3 >= h THEN 3 ELSE 2 END
           ELSE 1 END ELSE 0 END AS rl,
         CASE WHEN r1 IS NOT NULL AND r1 > h THEN
           CASE WHEN r2 IS NOT NULL AND r2 > h THEN
             CASE WHEN r3 IS NOT NULL AND r3 > h THEN 3 ELSE 2 END
           ELSE 1 END ELSE 0 END AS rr
  FROM x
)
SELECT doc_id, pos AS fp_pos, h AS fp_hash
FROM r
WHERE (n_grams >= 4 AND
       GREATEST(pos - rl, pos - 3, 1) <= LEAST(pos, n_grams - 3, pos + rr - 3))
   OR (n_grams < 4 AND pos - rl <= 1 AND pos + rr >= n_grams)
ORDER BY doc_id, fp_pos
""",
)
def winnow_fingerprint(spark, sf_dir):
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    MOSS algorithm): 5-char-gram rolling hashes, and from every window of
    w=4 consecutive hashes select the minimum, rightmost on ties.  Unlike
    ``doc_fingerprint`` (whole-doc) or simhash (global profile), each
    selected fingerprint depends only on a k+w-1-char neighborhood, so
    local edits perturb O(1) fingerprints — the standard primitive for
    copy-span detection across a corpus.  Guaranteed density is
    2/(w+1) = 0.4 of gram positions (measured 0.4035 at sf0.01).

    The per-window argmin is NOT computed per window (that would be a
    w-way self-join): position i is selected iff it is the rightmost
    minimum of SOME window, which reduces to reach arithmetic over at
    most w-1 = 3 neighbors each side — rl = consecutive predecessors with
    h >= h_i, rr = consecutive successors with h > h_i (strict, because a
    tie selects the rightmost), then a w-window fits inside
    [i-rl, i+rr] ∩ [1, n].  Verified against a brute-force per-window
    reference on 50 docs (exact match; see tests).  Docs shorter than one
    full window select their global rightmost-min.

    Scale: explode to (doc, pos, hash) — 8-byte rows; ONE shuffle
    (partition by doc_id, order by pos) computes all six lags/leads and
    the selection predicate in a single Window pass, then a narrow filter.
    No self-joins, no per-window expansion; fingerprint output is ~0.4×
    the gram count and downstream near-dup joins group by fp_hash exactly
    like ``dedup_exact``."""
    return _winnow_selected(spark, sf_dir).selectExpr(
        "doc_id", "pos as fp_pos", "h as fp_hash"
    ).orderBy("doc_id", "fp_pos")


def _winnow_selected(spark, sf_dir):
    """Unordered winnowing selection (doc_id, pos, h) — shared by
    ``winnow_fingerprint`` (which adds the driver-facing global order) and
    ``dedup_winnow_pairs`` (which must NOT inherit that 0.4×-gram-count
    global sort: composing the ordered op measured 54.6 s at sf1.0 vs
    ~30 s without it)."""
    # The documents table is a single ~30 MB parquet file even at sf1.0
    # (under maxPartitionBytes -> ONE scan task), but this op fans each doc
    # into ~550 md5-hashed gram rows.  Repartitioning the 50k compact doc
    # rows by doc_id BEFORE the explode spreads the 27M-hash work across
    # all cores AND pre-satisfies the Window's hashpartitioning(doc_id)
    # requirement, so no second exchange of the exploded rows follows
    # (sf1.0: 51 s -> ~17 s for the pairs consumer).
    d = (
        load(spark, sf_dir, "documents")
        .filter("text is not null and length(text) >= 5")
        .repartition("doc_id")
    )
    g = d.selectExpr(
        "doc_id",
        "explode(sequence(1, length(text) - 4)) as pos",
        "lower(text) as lt",
        "length(text) - 4 as n_grams",
    ).selectExpr(
        "doc_id",
        "pos",
        "cast(conv(substring(md5(substring(lt, pos, 5)), 1, 8), 16, 10)"
        " as bigint) as h",
        "n_grams",
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    x = g.select(
        "doc_id",
        "pos",
        "h",
        "n_grams",
        F.lag("h", 1).over(win).alias("l1"),
        F.lag("h", 2).over(win).alias("l2"),
        F.lag("h", 3).over(win).alias("l3"),
        F.lead("h", 1).over(win).alias("r1"),
        F.lead("h", 2).over(win).alias("r2"),
        F.lead("h", 3).over(win).alias("r3"),
    )
    r = x.selectExpr(
        "doc_id",
        "pos",
        "h",
        "n_grams",
        "case when l1 is not null and l1 >= h then"
        " case when l2 is not null and l2 >= h then"
        " case when l3 is not null and l3 >= h then 3 else 2 end"
        " else 1 end else 0 end as rl",
        "case when r1 is not null and r1 > h then"
        " case when r2 is not null and r2 > h then"
        " case when r3 is not null and r3 > h then 3 else 2 end"
        " else 1 end else 0 end as rr",
    )
    return r.where(
        "(n_grams >= 4 and"
        " greatest(pos - rl, pos - 3, 1)"
        " <= least(pos, n_grams - 3, pos + rr - 3))"
        " or (n_grams < 4 and pos - rl <= 1 and pos + rr >= n_grams)"
    ).select("doc_id", "pos", "h")

_WINNOW_FP_CTE = """
WITH g AS (
  SELECT doc_id, i AS pos,
         ('0x' || substr(md5(substr(lower(text), CAST(i AS INTEGER), 5)),
                         1, 8))::BIGINT AS h,
         length(text) - 4 AS n_grams
  FROM documents, unnest(generate_series(1, length(text) - 4)) AS t(i)
  WHERE text IS NOT NULL AND length(text) >= 5
),
x AS (
  SELECT doc_id, pos, h, n_grams,
         lag(h, 1) OVER win AS l1, lag(h, 2) OVER win AS l2,
         lag(h, 3) OVER win AS l3,
         lead(h, 1) OVER win AS r1, lead(h, 2) OVER win AS r2,
         lead(h, 3) OVER win AS r3
  FROM g WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
r AS (
  SELECT doc_id, pos, h, n_grams,
         CASE WHEN l1 IS NOT NULL AND l1 >= h THEN
           CASE WHEN l2 IS NOT NULL AND l2 >= h THEN
             CASE WHEN l3 IS NOT NULL AND l3 >= h THEN 3 ELSE 2 END
           ELSE 1 END ELSE 0 END AS rl,
         CASE WHEN r1 IS NOT NULL AND r1 > h THEN
           CASE WHEN r2 IS NOT NULL AND r2 > h THEN
             CASE WHEN r3 IS NOT NULL AND r3 > h THEN 3 ELSE 2 END
           ELSE 1 END ELSE 0 END AS rr
  FROM x
),
fp AS (
  SELECT DISTINCT doc_id, h FROM r
  WHERE (n_grams >= 4 AND
         GREATEST(pos - rl, pos - 3, 1)
           <= LEAST(pos, n_grams - 3, pos + rr - 3))
     OR (n_grams < 4 AND pos - rl <= 1 AND pos + rr >= n_grams)
)
"""


@register(
    "dedup_winnow_pairs",
    oracle=_WINNOW_FP_CTE
    + """,
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM fp),
hdf AS (SELECT h, COUNT(*) AS df FROM fp GROUP BY h),
rare AS (
  SELECT h FROM hdf CROSS JOIN nd
  WHERE df >= 2
    AND df <= LEAST(GREATEST(2, CAST(0.04 * n_docs AS BIGINT)), 64)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM fp a JOIN rare USING (h) JOIN fp b USING (h)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= 3
ORDER BY doc_a, doc_b
""",
)
def dedup_winnow_pairs(spark, sf_dir):
    """Copy-span candidate pairs from winnowing fingerprints — the
    downstream consumer of ``winnow_fingerprint`` and the MOSS pipeline's
    second stage: docs sharing >= 3 RARE fingerprints are candidate
    near-dups for span-level verification.  "Rare" = document frequency
    in [2, min(max(2, 4% of docs), 64)]: the RELATIVE 4% is the
    stop-fingerprint cut (hashes half the corpus shares identify nothing,
    like stopwords) keeping semantics SF-stable, and the ABSOLUTE 64 is
    the block cap (the dedup_ngram_jaccard discipline) bounding every
    bucket's pair fan-out at 64²/2 regardless of corpus pathology — on
    the 10×-replica sf1.0 corpus the uncapped form ran 138 s (every
    bucket holds all replicas); capped it is budget-safe.

    Scale: the pair join groups by fp_hash with per-bucket size bounded
    by the caps, the same blocked-join discipline as
    ``dedup_near_exactjacc``/``dedup_ngram_jaccard``; fp rows are 16
    bytes (doc_id, hash).  For graceful truncation instead of exclusion
    above the cap, swap in the Bernoulli per-block draw + n_trunc audit
    column demonstrated in dedup_ngram_jaccard; n_docs is a 1-row
    broadcast fold.

    Known corpus limit: the synthetic generator's ~30-word vocabulary
    yields only ~1000 distinct 5-gram hashes corpus-wide, so on the
    10×-replica sf1.0 corpus almost every hash exceeds the cap and the
    capped op returns 0 pairs (the dedup_containment replica-df pathology
    family) — real text has an open gram space and does not saturate."""
    # cache: fp feeds THREE subplans (df-count, join side a, join side b) —
    # uncached, the 27M-gram winnow selection recomputes per use
    # (58 s -> ~30 s at sf1.0); rows are 16 bytes, the cache is tiny.
    fp = (
        _winnow_selected(spark, sf_dir).select("doc_id", "h").distinct().cache()
    )
    nd = fp.agg(F.countDistinct("doc_id").alias("n_docs"))
    rare = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(nd))
        .where(
            "df >= 2 and"
            " df <= least(greatest(2, cast(0.04 * n_docs as bigint)), 64)"
        )
        .select("h")
    )
    a = fp.join(rare, "h")
    b = fp.withColumnRenamed("doc_id", "doc_b")
    return (
        a.join(b, "h")
        .where("doc_id < doc_b")
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where("n_shared >= 3")
        .orderBy("doc_a", "doc_b")
    )
