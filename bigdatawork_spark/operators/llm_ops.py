"""§2-K LLM-data-pipeline operators (SURVEY.md; mandated by BASELINE.json:6:
dedup, similarity search, multimodal columns, text analysis).  REF:∅.

Scale designs (§7.5): exact dedup groups on a 256-bit content hash (shuffle
carries hashes, not text); near-dup candidate generation is rare-token-blocked
(never all-pairs); brute-force cosine is the small-N baseline with MinHash /
random-projection LSH as the ≥10⁶-vector path.  Vector math folds
double-cast elements left-to-right, which both Spark and DuckDB execute
bit-identically — cosine scores need no rounding to hash-match.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..session import restage, session_memo, spread_if_narrow


@register(
    "dedup_exact",
    oracle="""
SELECT sha256(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents
GROUP BY sha256(text)
ORDER BY keep_id
""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: group by content hash, keep min doc_id.  The shuffle key
    is the 64-hex hash — constant width regardless of document size."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy(F.expr("sha2(text, 256) as text_hash")).agg(
        F.expr("min(doc_id) as keep_id"), F.expr("count(1) as n_copies")
    )


@register(
    "dedup_near_exactjacc",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(ws) - 2),
                i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS s
  FROM toks WHERE len(ws) >= 3
),
doc_size AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) BETWEEN 2 AND 5),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a
  JOIN rare r ON a.s = r.s
  JOIN sh b ON b.s = r.s AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       ROUND(CAST(i.n_common AS DOUBLE)
             / (za.n_sh + zb.n_sh - i.n_common), 6) AS jaccard
FROM inter i
JOIN doc_size za ON za.doc_id = i.doc_a
JOIN doc_size zb ON zb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_common) >= 0.5
ORDER BY doc_a, doc_b
""",
)
def dedup_near_exactjacc(spark, sf_dir):
    """Exact Jaccard over 3-WORD-SHINGLE sets for candidate pairs sharing
    a rare shingle (2 ≤ df ≤ 5) — the hash-checked exact twin of
    dedup_near_minhash at the SAME token granularity (the MinHash
    pipeline hashes NGram(3) shingles, so a word-set Jaccard never
    measured the quantity LSH approximates).  Rare-shingle blocking caps
    the pair space (a df-5 shingle contributes at most 10 pairs) — the
    scalable alternative to an all-pairs join.

    Shingles, not words, after round-5 measurement: the corpus vocabulary
    is 31 words, every word's df > 20, so the original rare-WORD blocking
    produced ZERO candidates — hash-green only because 0 = 0.  Shingle
    dfs discriminate (~16k distinct at sf0.01; the 2-5 band holds ~6.8k),
    the operator now emits the corpus's 25 true near-dup pairs, and the
    SURVEY §5.2 minhash-recall contract test finally exercises a
    non-empty exact set.

    Replica-heavy corpora: the 2≤df≤5 band EMPTIES when documents repeat
    many times (every shingle's df rides above the band — measured 0
    candidate pairs at synthetic sf1.0, SCALE.md §9).  The production
    answer is ``dedup_ladder`` (live since round 7): an exact-dup
    pre-pass collapses replicas to unique representatives FIRST, then
    MinHash-LSH runs on the deduped residue where shingle dfs
    discriminate again.  Use this key on pre-deduped or organic corpora;
    use the ladder when exact duplicates are expected."""
    d = load(spark, sf_dir, "documents")
    sh = (
        d.select(
            "doc_id",
            F.expr("filter(split(text, ' '), w -> w != '')").alias("ws"),
        )
        .filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(ws) - 2),"
                        " i -> concat(element_at(ws, i), ' ',"
                        "             element_at(ws, i + 1), ' ',"
                        "             element_at(ws, i + 2)))"
                    )
                )
            ).alias("s"),
        )
        .cache()
    )
    doc_size = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    rare = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df").between(2, 5))
        .select("s")
    )
    sa_r = sh.join(rare, "s").select(F.col("doc_id").alias("doc_a"), "s")
    sb_r = sh.join(rare, "s").select(F.col("doc_id").alias("doc_b"), "s")
    cand = (
        sa_r.join(sb_r, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    sb = sh.select(F.col("doc_id").alias("sb_doc"), F.col("s").alias("s_b"))
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("sb_doc")) & (F.col("s_a") == F.col("s_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za = doc_size.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    zb = doc_size.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def minhash_pairs(docs: DataFrame, *, num_hash_tables: int = 5,
                  threshold: float = 0.2, shingle_n: int = 3,
                  seed: int = 42) -> DataFrame:
    """Parameterized MinHash-LSH near-dup pairs (VERDICT r08 item 8).

    ``docs`` needs (doc_id, text).  Banding knobs: ``num_hash_tables``
    (OR-amplification width — more tables, more candidates, higher
    recall, more bucket-join work) and ``threshold`` (max Jaccard
    DISTANCE kept: the exact filter applied to LSH candidates, so the
    pair set is monotone non-decreasing in it — pinned in
    tests/test_streaming_twins.py's recall-vs-threshold case).  Returns
    (doc_a < doc_b, jaccard_dist) sorted."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, RegexTokenizer

    tok = RegexTokenizer(inputCol="text", outputCol="words", pattern=r"\s+")
    ngram = NGram(n=shingle_n, inputCol="words", outputCol="shingles")
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    staged = tf.transform(ngram.transform(tok.transform(docs)))
    # LSH requires ≥1 non-zero feature: drop docs with <shingle_n words.
    # The cache feeds both lsh.fit and both sides of the self-join.
    staged = restage(
        docs.sparkSession, "minhash_pairs", staged.filter(F.size("shingles") >= 1)
    )
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes",
        numHashTables=num_hash_tables, seed=seed,
    )
    model = lsh.fit(staged)
    pairs = model.approxSimilarityJoin(
        staged, staged, threshold, distCol="jaccard_dist"
    )
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(F.col("jaccard_dist"), 6).alias("jaccard_dist"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register("dedup_near_minhash")  # rows-only: LSH bucketing is engine-specific
def dedup_near_minhash(spark, sf_dir):
    """Near-dup pairs via MinHash-LSH over 3-word shingles (Spark ML
    RegexTokenizer→NGram→HashingTF→MinHashLSH.approxSimilarityJoin) — the
    ≥10⁶-document path SHAPE: candidate pairs come from LSH band buckets,
    never an all-pairs join.  Seeded for determinism; verified in tests for
    recall ⊇ the exact-Jaccard twin's pairs.  Size-guarded (VERDICT r08
    item 3): as a SINGLE-STAGE self-join it saturates band buckets on
    exact-replica-heavy corpora (SCALE.md §8 measured >45 s at 50k replica
    docs); production corpora go through ``dedup_ladder``, whose exact
    pre-pass collapses replicas before this same LSH pipeline runs.
    Banding is parameterized in ``minhash_pairs`` (r10); this registry key
    pins the default (5 tables, 0.2) configuration."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = guard_twin_size(
        d, "dedup_near_minhash", "dedup_ladder",
        reason="a single-stage LSH self-join verification twin — without "
               "dedup_ladder's exact pre-pass, replica-heavy corpora "
               "saturate its band buckets (SCALE.md §8)",
    )
    return minhash_pairs(d, num_hash_tables=5, threshold=0.2, shingle_n=3)


#: Belt-and-braces ceiling for the ORACLE-PARITY quadratic twins (VERDICT
#: r07 item 5): all-pairs formulations are verification instruments for
#: small corpora; pointing one at a real corpus would be an O(n^2) blowup.
TWIN_MAX_ROWS = 50_000

#: Audit-mode switch (VERDICT r12 item 5): when this env var is set,
#: ``guard_twin_size`` CAPS an oversize input to ``limit`` rows instead of
#: raising, recording the cap in ``TWIN_CAPS_APPLIED`` so the scale audit
#: can disclose it per key — the full-registry sf1.0 audit then completes
#: 287/287 with the twins timed at their declared ceiling, instead of
#: carrying 3 standing timeouts.  Never set in normal runtime: users
#: pointing a twin at a real corpus still fail fast with the production
#: key named.
TWIN_AUDIT_ENV = "SPARK_GRAFT_TWIN_AUDIT_CAP"

#: key → (actual_rows, capped_to), written by guard_twin_size under
#: audit mode; cleared/read by tools/scale_audit.py around each key.
TWIN_CAPS_APPLIED: dict[str, tuple[int, int]] = {}

#: Byte cap for the collected/broadcast scorer corpora (VERDICT r16
#: item 7): guard_twin_size bounds ROWS (≤ 50k), this bounds BYTES
#: (50k × 64 dims × 8 B ≈ 26 MB at the contract width, with headroom
#: for wider corpora) — the guard is the DRIVER/EXECUTOR MEMORY bound
#: for these twins, not just their quadratic-cost bound.
SCORER_BCAST_MAX_BYTES = 64 << 20

def _cosine_corpus(spark, sf_dir: str, n: DataFrame):
    """The guarded ``(vec_id, label, e, nrm)`` corpus ``n`` as one
    broadcast of numpy arrays ``(ids, labels, B, nrm)``, rows sorted by
    vec_id so a stable sort breaks rank ties by id positionally.

    Memory bound: ``guard_twin_size`` bounds the rows (≤ TWIN_MAX_ROWS =
    50k ≈ 26 MB of f64 at 64 dims), so the guard is also the driver and
    executor memory bound of the all-pairs scorers; the assert states the
    byte form.  Collected and broadcast once per ``(sf_dir, audit cap)``
    in the session memo and shared by every scorer key, since a broadcast
    per call would never be destroyed.  This is input staging, not result
    caching — the value is a deterministic projection of the immutable
    per-sf_dir embeddings table — and an audit-capped corpus never aliases
    an uncapped one."""
    import numpy as np

    memo = session_memo(spark, "scorer_corpus")
    cache_key = (sf_dir, os.environ.get(TWIN_AUDIT_ENV))
    if cache_key not in memo:
        pdf = n.select("vec_id", "label", "e", "nrm").toPandas()
        order = np.argsort(pdf["vec_id"].to_numpy(dtype=np.int64), kind="stable")
        B = np.array(pdf["e"].tolist(), dtype=np.float64)[order]
        if B.ndim != 2:  # empty corpus: keep a 2-D shape for the unpack
            B = B.reshape((len(pdf), 0))
        assert B.nbytes <= SCORER_BCAST_MAX_BYTES, (
            f"scorer corpus broadcast {B.nbytes}B exceeds the "
            f"{SCORER_BCAST_MAX_BYTES}B cap")
        memo[cache_key] = spark.sparkContext.broadcast((
            pdf["vec_id"].to_numpy(dtype=np.int64)[order],
            pdf["label"].to_numpy(dtype=np.int64)[order],
            B,
            pdf["nrm"].to_numpy(dtype=np.float64)[order],
        ))
    return memo[cache_key]


def _cosine_blocks(spark, bc, select, schema: str) -> DataFrame:
    """All-pairs cosine of the broadcast corpus ``bc`` against itself,
    scored in row blocks: one ``spark.range`` start row per block, one
    ``mapInPandas`` over them.  For the block of rows ``lo:lo+m`` it
    calls ``select(ids, lo, cos, zden)`` — ``cos`` the (m, ncorp) score
    matrix, ``zden`` its zero-divisor mask — and emits the frame it
    returns.  The probe side is the corpus itself, so both sides are one
    materialization by construction, even under the audit cap's
    ``limit()``.

    Blocks hold ``min(4_000_000 // ncorp, ceil(ncorp / cores))`` rows:
    the score matrix stays under ~32 MB and every core gets a block.  The
    layout cannot change a result: each row's scores depend on that row
    and the corpus alone.

    Bit parity with the crossJoin + ``aggregate(zip_with(...))`` expr
    twins: their oracles rank or threshold the UN-ROUNDED cosine, so a
    BLAS matmul (pairwise/FMA sum order, ±1 ulp) could flip near-ties.
    The dot products accumulate dimension-at-a-time over a zeros init,
    the same IEEE-754 operation sequence as the fold — ((0.0+p0)+p1)+…
    with products formed first — so ``cos`` is bit-identical, not merely
    close.  Spark's non-ANSI double division is replicated by the caller
    from ``zden``: divisor == 0.0 is NULL, NaN operands with a nonzero
    divisor give NaN."""
    import math

    ncorp = len(bc.value[0])
    width = spark.sparkContext.defaultParallelism
    rows = max(1, min(4_000_000 // max(ncorp, 1), math.ceil(ncorp / width)))
    starts = spark.range(
        0, ncorp, rows, numPartitions=max(1, min(width, math.ceil(ncorp / rows)))
    )

    def score(batches):
        import numpy as np

        ids, _, B, bn = bc.value
        for pdf in batches:
            for lo in pdf["id"].tolist():
                hi = min(lo + rows, ncorp)
                acc = np.zeros((hi - lo, ncorp))
                for d in range(B.shape[1]):  # fold-order sum
                    acc += B[lo:hi, d:d + 1] * B[:, d]
                denom = bn[lo:hi, None] * bn[None, :]
                zden = denom == 0.0
                with np.errstate(all="ignore"):
                    out = select(ids, lo, acc / denom, zden)
                yield out

    return starts.mapInPandas(score, schema)


def guard_twin_size(df: DataFrame, key: str, production_key: str,
                    limit: int = TWIN_MAX_ROWS,
                    reason: str | None = None) -> DataFrame:
    """Return ``df`` if it is small enough for a verification twin's plan;
    raise otherwise — or, under the audit-mode env (``TWIN_AUDIT_ENV``),
    cap it to ``limit`` rows and record the cap.  Eager by design (one
    cheap ``count()`` of the input table at build time — the table is
    footer-counted by parquet or already cached in the bench/driver
    protocol): a user who hits the ceiling is told the production key to
    use instead.  ``reason`` customizes the explanation for twins whose
    hazard is not an all-pairs join (e.g. the LSH bucket-saturation twin,
    VERDICT r08 item 3)."""
    import os

    n = df.count()
    audit = os.environ.get(TWIN_AUDIT_ENV)
    if audit:
        # The env value IS the audit ceiling (an int).  The r12 cap-at-
        # ``limit`` form never fired: sf1.0's corpora sit exactly AT the
        # 50k ceiling, so the twins ran whole and still timed out — the
        # audit needs a ceiling at which the quadratic plan finishes
        # inside its budget, with the cap disclosed per key.
        # A malformed value must NOT silently degrade to ``limit`` — that
        # reproduces the at-the-ceiling timeout the env exists to avoid
        # (ADVICE r13).  '1' is the documented bare-flag spelling: audit
        # mode on, ceiling = ``limit`` (a 1-row cap is not expressible).
        audit = audit.strip()
        if not (audit.isdigit() and int(audit) >= 1):
            raise ValueError(
                f"{TWIN_AUDIT_ENV}={audit!r} is not a positive integer; "
                f"set it to the audit row ceiling, or to '1' for bare-flag "
                f"mode (ceiling = the key's declared limit, {limit})."
            )
        cap = min(limit, int(audit)) if int(audit) > 1 else limit
        if n > cap:
            TWIN_CAPS_APPLIED[key] = (n, cap)
            # limit() executes single-partition; the quadratic plan fed by
            # it would run on ONE core — respread before returning
            shp = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
            return df.limit(cap).repartition(shp)
        return df
    if n > limit:
        reason = reason or (
            "an all-pairs ORACLE-PARITY twin for small-n verification"
        )
        raise ValueError(
            f"{key} is {reason}; input has {n} rows (> {limit}).  Use the "
            f"production key '{production_key}' for real corpora."
        )
    return df


def _normed_vectors(spark, sf_dir) -> DataFrame:
    """vec_id, e (array<double>), nrm — shared by cosine/knn ops."""
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.expr(
                "aggregate(transform(e, x -> x * x), cast(0.0 as double), (a, x) -> a + x)"
            )
        ),
    )


_COSINE_PAIRS_SQL = """
v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
n AS (
  SELECT vec_id, label, e,
         sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS nrm
  FROM v
)
"""


# Probe matrix + sc.broadcast memoized per sf_dir in the session memo:
# the probe set is constant for a given corpus, so the bounded collect +
# broadcast happens once per session instead of on every DataFrame
# construction (plan-lint sweeps, bench rebuilds).
def _cosine_probe_broadcast(spark, sf_dir, e):
    """Broadcast (probe_ids, probe_matrix, probe_norms) for vec_id ≤ 5,
    or None when the probe set is empty.

    Unlike the io.py handle memo (lazy plans that re-read on each action),
    this snapshots MATERIALIZED values — so the memo key includes the
    embeddings parquet's mtime: rewriting the file at the same path
    invalidates the entry instead of silently serving stale probes
    (r05 review)."""
    import os

    import numpy as np

    memo = session_memo(spark, "cosine_probes")
    try:
        mtime = os.path.getmtime(os.path.join(sf_dir, "embeddings.parquet"))
    except OSError:
        mtime = None  # non-standard layout: fall back to path-only keying
    key = (sf_dir, mtime)
    if key not in memo:
        probes = e.where("vec_id <= 5").collect()  # bounded (≤6 rows)
        if not probes:
            memo[key] = None
        else:
            pid = np.array([r["vec_id"] for r in probes], dtype=np.int64)
            P = np.array(
                [list(r["embedding"]) for r in probes], dtype=np.float64
            )
            pnrm = np.sqrt((P * P).sum(axis=1))
            memo[key] = spark.sparkContext.broadcast((pid, P, pnrm))
    return memo[key]


@register(
    "sim_cosine_topk",
    oracle=f"""
WITH {_COSINE_PAIRS_SQL},
pairs AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         list_aggregate(list_transform(list_zip(p.e, c.e),
                        z -> z[1] * z[2]), 'sum') / (p.nrm * c.nrm) AS cos_raw
  FROM n p JOIN n c ON c.vec_id <> p.vec_id
  WHERE p.vec_id <= 5
),
ranked AS (
  SELECT probe_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY ROUND(cos_raw, 6) DESC, neighbor_id) AS rn
  FROM pairs
)
SELECT probe_id, neighbor_id, ROUND(cos_raw, 6) AS cos_sim, rn
FROM ranked WHERE rn <= 5
ORDER BY probe_id, rn
""",
)
def sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for probe set vec_id ≤ 5 — the correctness
    baseline for ANN (sim_ann_lsh is the scale path).

    Scorer is a BLAS matmul per Arrow batch (mapInPandas) against the
    sc.broadcast probe matrix — one numpy ``C @ P.T`` replaces per-pair
    ``zip_with`` allocation, the VERDICT r04 weak-item fix (sf1.0 was 3.9×
    DuckDB on the expr form).  Each batch emits only its LOCAL top-5 per
    probe under the global total order (cos desc, neighbor_id asc), so the
    final window ranks #batches×probes×5 candidate rows, never the corpus:
    the global top-5 is contained in the union of per-batch top-5s under
    the same strict total order.  At 100 TB this is a single corpus scan
    with constant-size (probes×5) state per task — the same shape as the
    expr twin, minus the per-pair array churn.  float32→float64 is exact,
    so products match the oracle bit-for-bit; only the sum ORDER differs
    (BLAS pairwise vs sequential fold), ~1e-15 — invisible at the rounded
    6-decimal output.  ``_sim_cosine_topk_expr`` keeps the pure-expr
    formulation as the oracle-parity twin (tests assert identity)."""
    import numpy as np
    import pandas as pd

    _CAND_SCHEMA = "probe_id bigint, neighbor_id bigint, cos_raw double"
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bc = _cosine_probe_broadcast(spark, sf_dir, e)
    if bc is None:  # no probes (vec_id ≤ 5 absent): empty result, no crash
        cand = spark.createDataFrame([], _CAND_SCHEMA)
    else:
        k = 5

        def score(batches):
            bpid, bP, bpnrm = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                C = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                cid = pdf["vec_id"].to_numpy(dtype=np.int64)
                cnrm = np.sqrt((C * C).sum(axis=1))
                if (cnrm == 0).any() or (bpnrm == 0).any():
                    # Fail-loudly parity with the expr twin (whose
                    # denominator folds an assert_true(norm > 0) since the
                    # r08 non-ANSI flip): numpy would silently produce NaN
                    # (which Spark then ranks GREATEST under cos DESC,
                    # diverging from the twin).  The engine invariant is
                    # norms > 0 (test_division_by_zero_semantics).
                    bad = cid[cnrm == 0].tolist() or bpid[bpnrm == 0].tolist()
                    raise ValueError(
                        f"sim_cosine_topk: zero-norm embedding(s) {bad} — "
                        "cosine undefined; filter degenerate vectors first"
                    )
                # rank on the ROUNDED cosine (r13 edge-corpus finding):
                # exact-duplicate vectors tie at cos 1.0, and raw-value
                # ranking let a ~1e-15 BLAS-vs-fold sum-order difference
                # break the tie differently from the oracle's exact
                # arithmetic — invisible on corpora without duplicate
                # vectors, rank-flipping on real ones.  round-then-rank
                # (with the id tiebreak) is the same discipline as
                # tfidf/bm25/rank_fusion; containment of the local top-k
                # still holds under the (rounded desc, id asc) total order.
                # Half AWAY FROM ZERO via sign-aware floor(|x|·1e6 + .5)
                # — np.round is half-to-even, SQL ROUND is half-up; the
                # tfidf scorer's rule (r13 second review), extended with
                # copysign because cosines go negative.
                raw = (C @ bP.T) / (cnrm[:, None] * bpnrm[None, :])
                sims = np.copysign(
                    np.floor(np.abs(raw) * 1e6 + 0.5), raw
                ) / 1e6
                out = []
                for j in range(len(bpid)):
                    mask = cid != bpid[j]
                    s_m, id_m = sims[mask, j], cid[mask]
                    if not len(id_m):
                        continue
                    order = np.lexsort((id_m, -s_m))[:k]
                    out.append(
                        pd.DataFrame(
                            {
                                "probe_id": bpid[j],
                                "neighbor_id": id_m[order],
                                "cos_raw": s_m[order],
                            }
                        )
                    )
                if out:
                    yield pd.concat(out)

        cand = e.mapInPandas(score, _CAND_SCHEMA)
    return cand.selectExpr(
        "probe_id",
        "neighbor_id",
        "round(cos_raw, 6) as cos_sim",
        "row_number() over (partition by probe_id"
        " order by round(cos_raw, 6) desc, neighbor_id) as rn",
    ).where("rn <= 5")


def _sim_cosine_topk_expr(spark, sf_dir):
    """Pure-expr twin of ``sim_cosine_topk`` (the original formulation):
    broadcast probes × single corpus scan, per-pair zip_with dot product.
    Unregistered — kept as the oracle-parity reference; the differential
    test asserts the vectorized scorer returns the identical frame."""
    n = _normed_vectors(spark, sf_dir)
    p = n.where("vec_id <= 5").selectExpr(
        "vec_id as probe_id", "e as pe", "nrm as pnrm"
    )
    c = n.selectExpr("vec_id as neighbor_id", "e as ce", "nrm as cnrm")
    pairs = (
        F.broadcast(p)
        .crossJoin(c)
        .where("probe_id != neighbor_id")
        .selectExpr(
            "probe_id",
            "neighbor_id",
            # raise_error branch keeps the fail-loudly invariant on zero
            # norms now that the session runs non-ANSI (r08): 0/0 would
            # yield NULL silently instead of DIVIDE_BY_ZERO.  (An
            # assert_true inside an nvl2 with equal branches was tried
            # first — Catalyst constant-folds it away; the if() branch
            # is load-bearing and survives optimization.)
            "aggregate(zip_with(pe, ce, (x, y) -> x * y), cast(0.0 as double),"
            " (a, x) -> a + x) / if(pnrm * cnrm > 0, pnrm * cnrm,"
            " raise_error('zero-norm embedding — cosine undefined'))"
            " as cos_raw",
        )
    )
    return pairs.selectExpr(
        "probe_id",
        "neighbor_id",
        "round(cos_raw, 6) as cos_sim",
        # rounded rank — see the vectorized scorer's r13 note
        "row_number() over (partition by probe_id"
        " order by round(cos_raw, 6) desc, neighbor_id) as rn",
    ).where("rn <= 5")


@register("sim_ann_lsh")  # rows-only: LSH bucketing is engine-specific
def sim_ann_lsh(spark, sf_dir):
    """Approximate NN via random-projection LSH (Spark ML
    BucketedRandomProjectionLSH.approxSimilarityJoin, euclidean) for the
    same probe set — the ≥10⁶-vector path.  Seeded; recall vs brute force
    asserted in tests."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("v")
    )
    probes = e.filter(F.col("vec_id") <= 5)
    lsh = BucketedRandomProjectionLSH(
        inputCol="v", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=42
    )
    model = lsh.fit(e)
    pairs = model.approxSimilarityJoin(probes, e, 8.0, distCol="eucl_dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("probe_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            F.round(F.col("eucl_dist"), 6).alias("eucl_dist"),
        )
        .orderBy("probe_id", "eucl_dist", "neighbor_id")
    )


@register(
    "knn_classify",
    oracle=f"""
WITH {_COSINE_PAIRS_SQL},
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS nb, b.label AS nb_label,
         list_aggregate(list_transform(list_zip(a.e, b.e),
                        z -> z[1] * z[2]), 'sum') / (a.nrm * b.nrm) AS cos_raw
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
),
knn AS (
  SELECT src, nb_label FROM (
    SELECT src, nb_label,
           row_number() OVER (PARTITION BY src ORDER BY cos_raw DESC, nb) AS rn
    FROM pairs
  ) WHERE rn <= 5
),
votes AS (
  SELECT src, nb_label AS pred_label, COUNT(*) AS votes
  FROM knn GROUP BY src, nb_label
),
pred AS (
  SELECT src, pred_label FROM (
    SELECT src, pred_label,
           row_number() OVER (PARTITION BY src ORDER BY votes DESC, pred_label) AS rv
    FROM votes
  ) WHERE rv = 1
)
SELECT e.vec_id, e.label, p.pred_label,
       CASE WHEN e.label = p.pred_label THEN 1 ELSE 0 END AS is_correct
FROM embeddings e JOIN pred p ON p.src = e.vec_id
ORDER BY e.vec_id
""",
)
def knn_classify(spark, sf_dir):
    """k=5 leave-one-out cosine kNN majority vote (deterministic tiebreak:
    votes DESC, label ASC) — the ORACLE-PARITY REFERENCE twin, all-pairs
    by construction and therefore quadratic.  The PRODUCTION path is
    ``knn_classify_ivf`` (live since round 7): identical vote semantics
    over IVF candidate lists — n^1.5, 2.1 s at synthetic sf1.0 where this
    twin exceeds the 45 s budget (SCALE.md §8).  Keep this key for exact
    small-n verification and recall measurement; route real corpora to
    the IVF key.  (IVF, not LSH — BRP-LSH degenerates to a cross join on
    unit-norm corpora; SCALE.md §9.)  Guarded: raises above
    ``TWIN_MAX_ROWS`` input vectors (VERDICT r07 item 5).

    The all-pairs stage scores row blocks of the broadcast corpus
    (``_cosine_corpus`` / ``_cosine_blocks``, which carry the bit-parity
    and memory-bound reasoning) instead of a crossJoin + interpreted
    ``aggregate(zip_with(...))`` fold — the HOF lambda ran outside codegen
    and allocated a 64-element array per pair (sf1.0 audit: 51 s capped).
    The oracle ranks on the UN-ROUNDED cos_raw, so the top-5 SET (all the
    vote consumes) rests on the scorer's bit-identical cosines.  Spark's
    non-ANSI double ranking is replicated exactly: divisor == 0.0 → NULL
    (ranks LAST under desc), NaN operands with nonzero divisor → NaN
    (ranks FIRST), ties by nb ASC via a stable (class, -cos) lexsort over
    the nb-sorted corpus.  ``_knn_classify_expr`` keeps the crossJoin+fold
    formulation; tests assert frame identity on the edge corpora (zero
    vector, NaN element, 1e±20 magnitudes, exact duplicate)."""
    import numpy as np
    import pandas as pd

    n = guard_twin_size(
        _normed_vectors(spark, sf_dir), "knn_classify", "knn_classify_ivf"
    )
    bc = _cosine_corpus(spark, sf_dir, n)

    def top5(ids, lo, cos, zden):
        m, ncorp = cos.shape
        k = min(5, ncorp - 1)
        sr = ids[lo:lo + m]
        nan = np.isnan(cos) & ~zden
        # rank classes under cos DESC: NaN(0) < real(1) < NULL(2);
        # self-pairs (3) are excluded — ncorp-1 ≥ k real candidates
        # remain, so class 3 never reaches the top k.
        cls = np.ones((m, ncorp), dtype=np.int8)
        cls[nan] = 0
        cls[zden] = 2
        pos = np.searchsorted(ids, sr)
        ok = (pos < ncorp) & (ids[np.minimum(pos, ncorp - 1)] == sr)
        cls[np.flatnonzero(ok), pos[ok]] = 3
        rk = np.where(nan | zden, 0.0, -cos)
        top = np.lexsort((rk, cls), axis=-1)[:, :k]
        return pd.DataFrame(
            {"src": np.repeat(sr, k), "nb_label": bc.value[1][top].ravel()}
        )

    knn = _cosine_blocks(spark, bc, top5, "src bigint, nb_label int")
    votes = knn.groupBy("src", "nb_label").agg(F.count(F.lit(1)).alias("votes"))
    w_vote = Window.partitionBy("src").orderBy(
        F.col("votes").desc(), F.col("nb_label")
    )
    pred = (
        votes.withColumn("rv", F.row_number().over(w_vote))
        .filter(F.col("rv") == 1)
        .select("src", F.col("nb_label").alias("pred_label"))
    )
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        e.join(pred, e.vec_id == pred.src)
        .select(
            "vec_id",
            "label",
            "pred_label",
            F.when(F.col("label") == F.col("pred_label"), 1).otherwise(0).alias(
                "is_correct"
            ),
        )
        .orderBy("vec_id")
    )


def _knn_classify_expr(spark, sf_dir):
    """Pure-expr twin of ``knn_classify`` (the pre-r16 formulation):
    crossJoin + per-pair ``aggregate(zip_with(...))`` fold + window top-5.
    Unregistered — kept as the oracle-parity reference for the vectorized
    scorer; the differential test asserts frame identity, INCLUDING on the
    edge corpora (zero vector → NULL cos ranks last, NaN element → NaN cos
    ranks first, 1e±20 magnitudes, exact duplicate → true float tie broken
    by nb)."""
    n = _normed_vectors(spark, sf_dir)
    n = guard_twin_size(n, "knn_classify", "knn_classify_ivf")
    a = spread_if_narrow(n).select(
        F.col("vec_id").alias("src"), F.col("e").alias("ae"), F.col("nrm").alias("anrm")
    )
    b = n.select(
        F.col("vec_id").alias("nb"),
        F.col("label").alias("nb_label"),
        F.col("e").alias("be"),
        F.col("nrm").alias("bnrm"),
    )
    dot = F.expr(
        "aggregate(zip_with(ae, be, (x, y) -> x * y), cast(0.0 as double), (a, x) -> a + x)"
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("src") != F.col("nb"))
        .withColumn("cos_raw", dot / (F.col("anrm") * F.col("bnrm")))
        .select("src", "nb", "nb_label", "cos_raw")
    )
    w_knn = Window.partitionBy("src").orderBy(F.col("cos_raw").desc(), F.col("nb"))
    knn = (
        pairs.withColumn("rn", F.row_number().over(w_knn))
        .filter(F.col("rn") <= 5)
        .select("src", "nb_label")
    )
    votes = knn.groupBy("src", "nb_label").agg(F.count(F.lit(1)).alias("votes"))
    w_vote = Window.partitionBy("src").orderBy(
        F.col("votes").desc(), F.col("nb_label")
    )
    pred = (
        votes.withColumn("rv", F.row_number().over(w_vote))
        .filter(F.col("rv") == 1)
        .select("src", F.col("nb_label").alias("pred_label"))
    )
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        e.join(pred, e.vec_id == pred.src)
        .select(
            "vec_id",
            "label",
            "pred_label",
            F.when(F.col("label") == F.col("pred_label"), 1).otherwise(0).alias(
                "is_correct"
            ),
        )
        .orderBy("vec_id")
    )


@register(
    "text_stats",
    oracle="""
SELECT lang, source, COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 6) AS avg_chars,
       ROUND(AVG(CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                 AS DOUBLE)), 6) AS avg_words,
       CAST(SUM(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_len_ok
FROM documents
GROUP BY lang, source
ORDER BY lang, source
""",
)
def text_stats(spark, sf_dir):
    """Per (lang, source) corpus stats + n_chars integrity check."""
    d = load(spark, sf_dir, "documents")
    n_words = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.round(F.avg(n_words.cast("double")), 6).alias("avg_words"),
            F.sum(
                F.when(F.col("n_chars") == F.length("text"), 1).otherwise(0)
            ).alias("n_len_ok"),
        )
        .orderBy("lang", "source")
    )


@register(
    "text_lang_filter",
    oracle="""
SELECT source,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN lang = 'en' AND n_chars BETWEEN 50 AND 400
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN lang = 'en' AND n_chars BETWEEN 50 AND 400
                THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
FROM documents
GROUP BY source
ORDER BY source
""",
)
def text_lang_filter(spark, sf_dir):
    """Quality filter accounting: kept/dropped per source under
    lang='en' AND 50 ≤ n_chars ≤ 400."""
    d = load(spark, sf_dir, "documents")
    keep = (F.col("lang") == "en") & F.col("n_chars").between(50, 400)
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(keep, 0).otherwise(1)).alias("n_dropped"),
        )
        .orderBy("source")
    )


#: Largest vocabulary ``tfidf_keywords`` collects to the driver as a
#: broadcast df dict; above it the builder takes the distributed join path.
TFIDF_VOCAB_CAP = 1_000_000


@register(
    "tfidf_keywords",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM tok WHERE word <> ''
  GROUP BY doc_id, word
),
df AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok WHERE word <> ''
  GROUP BY word
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.word,
         FLOOR(t.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) * 1e6 + 0.5) / 1e6 AS score
  FROM tf t JOIN df ON t.word = df.word CROSS JOIN n
)
SELECT doc_id, word, score, rn FROM (
  SELECT doc_id, word, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rn
  FROM scored
) WHERE rn <= 3
ORDER BY doc_id, rn
""",
)
def tfidf_keywords(spark, sf_dir):
    """Top-3 TF-IDF terms per document, exact (no ML hashing): tf from
    wordcount-per-doc, idf = ln(N/df), per-doc top-k.  Selection happens on
    the ROUNDED score (+ word tiebreak) so a last-ulp ln() difference
    between libm and numpy cannot reorder the cut.

    Shape (round-7 rewrite, VERDICT r06 item 3): the former plan shuffled
    every (doc_id, word) pair twice — once for the tf hash aggregate
    (2.7M tokens → 1.16M string-keyed groups at synthetic sf1.0, so the
    map-side combine was nearly free of effect and the agg alone cost
    2.1 s of the 3.9 s total) and once for the per-doc window.  But a
    document IS one input row: its term frequencies and its top-3 are
    computable without ANY token-level shuffle.  New plan:

    1. one JVM pass over the (cached, parallelism-restored) texts builds
       the vocabulary document-frequency table — explode of the DISTINCT
       words per doc, map-side-combined down to |vocab| rows;
    2. the vocab df dict rides to executors via sc.broadcast, bounded by
       ``TFIDF_VOCAB_CAP`` (1M entries) — an open-vocabulary corpus
       overruns any driver-side dict, so above the cap the builder
       AUTO-DEGRADES (VERDICT r10 item 3, formerly a RuntimeError) to the
       fully-distributed tf⋈df equi-join + per-doc window path below,
       which AQE turns into a skew-handled SMJ; both paths round/tiebreak
       identically and are asserted hash-identical in
       tests/test_edge_cases.py::test_tfidf_fallback_matches_broadcast;
    3. one Arrow-batched mapInPandas pass computes tf (pandas groupby —
       each batch row is a complete document, so a batch boundary can
       never split a doc), scores tf·ln(N/df) vectorized, rounds, and
       emits each doc's top-3 — zero shuffle, partition-local.

    Measured at synthetic sf1.0: 0.8–1.2 s warm vs 2.7 s for the old
    plan and 0.88 s for DuckDB — parity with the columnar baseline.  The
    repartition widens the 2-partition parquet scan to the cluster's
    parallelism and is skipped when the scan is already wide (at 100 TB
    the input arrives in thousands of splits; round-robin on doc ROWS,
    so no skew by construction)."""
    import math  # noqa: F401 — parity with the numpy path in docs

    import numpy as np

    d = load(spark, sf_dir, "documents")
    dd = restage(
        spark, "tfidf_keywords", spread_if_narrow(d.select("doc_id", "text"))
    )
    # the df aggregate consumes every document below its limit, so the
    # document count rides on the vocabulary job
    docs = Observation()
    df_rows = (
        dd.observe(docs, F.count(F.lit(1)).alias("n"))
        .select(
            F.explode(
                F.expr("array_distinct(filter(split(text, ' '), w -> w != ''))")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .limit(TFIDF_VOCAB_CAP + 1)
        .collect()
    )
    n_docs = float(docs.get["n"])
    if len(df_rows) > TFIDF_VOCAB_CAP:
        # Open-vocabulary corpus: no driver-side dict can hold the df
        # table, so degrade to the fully-distributed plan — token-level
        # tf and df aggregates joined on word (AQE handles hot-word skew),
        # scored and top-3'd by the same round-then-tiebreak rule as the
        # broadcast path.  Two token shuffles instead of zero, but every
        # structure is executor-side and linear in tokens — the 100 TB
        # path when |vocab| is unbounded.
        tok = dd.select(
            "doc_id",
            F.explode(
                F.expr("filter(split(text, ' '), w -> w != '')")
            ).alias("word"),
        )
        tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
        dfw = (
            tok.select("doc_id", "word")
            .distinct()
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        scored = tf.join(dfw, "word").withColumn(
            "score",
            # floor-based half-up in plain double arithmetic — the SAME
            # IEEE operations as the pandas path's np.floor and the
            # oracle's FLOOR, so all three round identically even when a
            # score lands exactly on a 5 at the 7th decimal (ADVICE r11:
            # F.round is decimal HALF_UP, np.round is half-to-even — the
            # two could flip a top-3 tiebreak on such a score).
            F.floor(
                F.col("tf") * F.log(F.lit(n_docs) / F.col("df")) * 1e6 + 0.5
            )
            / 1e6,
        )
        w = Window.partitionBy("doc_id").orderBy(
            F.desc("score"), F.asc("word")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select(
                "doc_id", "word", "score", F.col("rn").cast("int").alias("rn")
            )
            .orderBy("doc_id", "rn")
        )
    bc_df = spark.sparkContext.broadcast(
        {r["word"]: float(r["df"]) for r in df_rows}
    )

    def score_topk(batches):
        import pandas as pd  # noqa: F401 — worker-side

        dfd = bc_df.value
        for pdf in batches:
            s = pdf.set_index("doc_id")["text"].str.split(" ").explode()
            s = s[s != ""]
            g = s.groupby([s.index, s.values]).size().reset_index()
            g.columns = ["doc_id", "word", "tf"]
            idf = np.log(n_docs / g["word"].map(dfd).to_numpy(dtype=np.float64))
            # identical IEEE ops to the fallback path's F.floor expression
            # and the oracle's FLOOR — see the fallback comment (ADVICE r11)
            g["score"] = (
                np.floor(g["tf"].to_numpy(dtype=np.float64) * idf * 1e6 + 0.5)
                / 1e6
            )
            g = g.sort_values(
                ["doc_id", "score", "word"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            top = g.groupby("doc_id").head(3).copy()
            top["rn"] = top.groupby("doc_id").cumcount() + 1
            yield top[["doc_id", "word", "score", "rn"]]

    return dd.mapInPandas(
        score_topk, "doc_id long, word string, score double, rn int"
    )


@register(
    "multimodal_join",
    oracle="""
SELECT label, COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 6) AS avg_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents JOIN embeddings ON doc_id = vec_id
GROUP BY label
ORDER BY label
""",
)
def multimodal_join(spark, sf_dir):
    """Text ⋈ vector modality join (doc_id = vec_id) + per-label stats —
    the id-aligned multimodal pattern (binary/image columns ride the same
    join; see sources.multimodal for the decode plumbing)."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("label")
    )


@register(
    "embedding_centroid",
    oracle="""
WITH elems AS (
  SELECT label,
         unnest(range(1, len(embedding) + 1)) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)
SELECT label, CAST(pos AS BIGINT) AS pos,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 6)
         AS centroid
FROM elems GROUP BY label, pos
ORDER BY label, pos
""",
)
def embedding_centroid(spark, sf_dir):
    """Per-class embedding centroids (the reduce step of nearest-centroid
    classification and of one k-means round): posexplode each vector,
    aggregate decimal-exact element sums per (label, dimension), divide
    once.  Float elements widen to double exactly, so the decimal cast is
    the only rounding and the sum is order-independent.  One shuffle of
    |rows|×dim exploded elements with map-side combine down to
    |labels|×dim — at 100 TB, partial aggregation means the wide explode
    never leaves the mapper; the same plan is kmeans_iterative's
    per-round reducer (there the element fold stays inside the array —
    the narrow alternative when dim is large)."""
    e = load(spark, sf_dir, "embeddings")
    elems = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("label", (F.col("pos") + 1).alias("pos"), F.col("col").alias("x"))
    return (
        elems.groupBy("label", F.col("pos").cast("bigint").alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.col("x").cast("decimal(20,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("centroid"),
        )
        .orderBy("label", "pos")
    )


@register(
    "vector_quantize",
    oracle="""
WITH mx AS (
  SELECT MAX(list_aggregate(list_transform(embedding,
              x -> abs(CAST(x AS DOUBLE))), 'max')) AS maxabs
  FROM embeddings
)
SELECT vec_id,
       CAST(list_aggregate(list_transform(embedding,
              x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / maxabs) AS BIGINT)),
            'sum') AS BIGINT) AS q_sum,
       CAST(list_aggregate(list_transform(embedding,
              x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / maxabs) AS BIGINT)),
            'max') AS BIGINT) AS q_max
FROM embeddings, mx
ORDER BY vec_id
""",
)
def vector_quantize(spark, sf_dir):
    """Symmetric int8 scalar quantization of the embedding column — the
    4×-compression step before an ANN index build: global max-|x| sets
    the scale (one tiny aggregate, broadcast back), each element maps to
    FLOOR(x·127/maxabs), and per-vector integer checksums (sum, max)
    verify the codes end-to-end.  All element math stays inside the array
    column (transform/aggregate — narrow, JVM-side, no explode); the only
    shuffle is the scalar max.  Quantized doubles are single IEEE ops on
    exactly-widened floats, so codes are bit-identical cross-engine."""
    e = load(spark, sf_dir, "embeddings")
    mx = e.agg(
        F.max(
            F.expr("aggregate(embedding, cast(0.0 as double),"
                   " (acc, x) -> greatest(acc, abs(cast(x as double))))")
        ).alias("maxabs")
    )
    q = F.expr(
        "transform(embedding,"
        " x -> cast(floor(cast(x as double) * 127.0 / maxabs) as bigint))"
    )
    return (
        e.crossJoin(F.broadcast(mx))
        .select(
            "vec_id",
            F.expr(
                "aggregate(transform(embedding,"
                " x -> cast(floor(cast(x as double) * 127.0 / maxabs) as bigint)),"
                " cast(0 as bigint), (acc, x) -> acc + x)"
            ).alias("q_sum"),
            F.expr(
                "aggregate(transform(embedding,"
                " x -> cast(floor(cast(x as double) * 127.0 / maxabs) as bigint)),"
                " cast(-128 as bigint), (acc, x) -> greatest(acc, x))"
            ).alias("q_max"),
        )
        .orderBy("vec_id")
    )


@register(
    "text_unigram_logprob",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
tokf AS (SELECT doc_id, word FROM tok WHERE word <> ''),
freq AS (
  SELECT word, CAST(COUNT(*) AS DOUBLE) AS f FROM tokf GROUP BY word
),
total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tokf),
scored AS (
  SELECT t.doc_id,
         CAST(-ln(f.f / total.n) AS DECIMAL(28,12)) AS nll
  FROM tokf t JOIN freq f ON t.word = f.word CROSS JOIN total
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_neg_logprob
FROM scored GROUP BY doc_id
ORDER BY avg_neg_logprob DESC, doc_id
LIMIT 50
""",
)
def text_unigram_logprob(spark, sf_dir):
    """Unigram language-model surprisal per document — the KenLM-style
    perplexity proxy used to quality-filter pretraining corpora: corpus
    unigram probabilities (one wordcount pass), then each document's mean
    negative log-probability; the 50 most surprising docs surface.
    Per-token -ln p is decimal-cast before the per-doc sum
    (order-independent; ranking on the rounded score).  The vocabulary
    table joins UNHINTED onto tokens — AQE broadcasts it at test scale
    and falls back to a skew-aware shuffle at billion-token vocabulary,
    exactly the tfidf_keywords policy.  At 100 TB the freq table is the
    trained LM artifact — computed once, reused across curation runs."""
    d = load(spark, sf_dir, "documents")
    tokf = d.select("doc_id", F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    # corpus size as a broadcast 1-row relation (no driver-side count job)
    total = tokf.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    freq = tokf.groupBy("word").agg(F.count(F.lit(1)).cast("double").alias("f"))
    scored = (
        tokf.join(freq, "word")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (-F.log(F.col("f") / F.col("n_total")))
            .cast("decimal(28,12)")
            .alias("nll"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_neg_logprob"
            ),
        )
        .orderBy(F.col("avg_neg_logprob").desc(), "doc_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# sim_ann_hyperplane — cosine LSH (sign random projection), hash-verifiable


def _hyperplane_matrix():
    """The FROZEN ±1 projection matrix (16 hyperplanes × 64 dims),
    generated from a pinned seed at import — both the Spark builder and
    the DuckDB oracle embed the SAME literals, so the signatures are a
    shared constant, not an engine artifact (the reason this ANN key can
    be hash-green while sim_ann_lsh — Spark ML's internal seeds — stays
    rows-only)."""
    import numpy as np

    rs = np.random.RandomState(42)
    return rs.choice(np.array([-1, 1], dtype=np.int64), size=(16, 64))


_HYPERPLANES = _hyperplane_matrix()
_ANN_HP_BANDS = 4  # 4 bands × 4 bits over the 16-bit signature


def _ann_hp_oracle() -> str:
    rows = ", ".join(
        "[" + ", ".join(str(int(v)) for v in r) + "]" for r in _HYPERPLANES
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         sqrt(list_aggregate(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
  FROM embeddings
),
planes AS (SELECT [{rows}] AS r),
sig AS (
  SELECT vec_id, e, nrm,
         list_aggregate(list_transform(range(1, 17), j ->
           CASE WHEN list_aggregate(list_transform(range(1, 65),
                  k -> e[CAST(k AS INTEGER)]
                       * r[CAST(j AS INTEGER)][CAST(k AS INTEGER)]), 'sum')
                  >= 0
                THEN CAST(power(2, 16 - j) AS BIGINT) ELSE 0 END), 'sum')
           AS sigbits
  FROM v CROSS JOIN planes
),
buckets AS (
  SELECT vec_id, e, nrm, b.band,
         (sigbits // CAST(power(2, 4 * b.band) AS BIGINT)) % 16 AS bucket
  FROM sig CROSS JOIN (SELECT unnest(range(0, {_ANN_HP_BANDS})) AS band) b
),
cand AS (
  SELECT DISTINCT p.vec_id AS probe_id, n.vec_id AS neighbor_id,
         p.e AS pe, p.nrm AS pn, n.e AS ne, n.nrm AS nn
  FROM buckets p JOIN buckets n
    ON p.band = n.band AND p.bucket = n.bucket AND p.vec_id <> n.vec_id
  WHERE p.vec_id <= 5
),
scored AS (
  SELECT probe_id, neighbor_id,
         list_aggregate(list_transform(list_zip(pe, ne),
                        z -> z[1] * z[2]), 'sum') / (pn * nn) AS cos_raw
  FROM cand
)
SELECT probe_id, neighbor_id, ROUND(cos_raw, 6) AS cos_sim, rn FROM (
  SELECT probe_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cos_raw DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= 5
ORDER BY probe_id, rn
"""


@register("sim_ann_hyperplane", oracle=_ann_hp_oracle())
def sim_ann_hyperplane(spark, sf_dir):
    """Approximate NN via SIGN-RANDOM-PROJECTION (hyperplane) LSH — the
    cosine-native LSH family (Charikar 2002): bit j of a vector's
    signature is the sign of its dot product with frozen hyperplane j,
    P[bits agree] = 1 − θ/π, banded 4×4 over 16 bits for candidate
    generation, exact cosine re-rank top-5 per probe.

    Why this exists next to sim_ann_lsh: euclidean BRP-LSH measurably
    degenerates on unit-norm corpora (SCALE.md §9 — every distance ≈ √2,
    radius either empty or all-pairs); hyperplane LSH hashes the ANGLE,
    which is the quantity cosine search actually ranks.  And because the
    projection matrix is a pinned constant embedded in BOTH engines
    (``_hyperplane_matrix``), the whole pipeline — signatures, banding,
    candidate set, re-rank — is deterministic and HASH-GREEN, where the
    Spark ML key (engine-internal seeds) can only ever be rows-only.

    Signature dots fold left-to-right in doubles (the module's standard
    cross-engine-exact discipline), so sign boundaries agree bitwise.

    100 TB: signatures are map-only (one pass, no shuffle; production
    swaps the fold for a BLAS pandas UDF emitting the same bits); the
    band/bucket self-join shuffles signature-sized rows only; the exact
    re-rank touches candidates, never all pairs.  More bands → higher
    recall, bigger candidate sets — the standard LSH dial."""
    n = _normed_vectors(spark, sf_dir)
    planes = ", ".join(
        "array(" + ", ".join(str(int(v)) for v in r) + ")"
        for r in _HYPERPLANES
    )
    sig = n.selectExpr(
        "vec_id",
        "e",
        "nrm",
        f"""aggregate(
              zip_with(array({planes}), sequence(1, 16), (r, j) ->
                case when aggregate(zip_with(e, r, (x, c) -> x * c),
                                    cast(0.0 as double), (a, x) -> a + x)
                          >= 0
                     then cast(pow(2, 16 - j) as bigint) else 0L end),
              0L, (a, x) -> a + x) as sigbits""",
    )
    buckets = sig.selectExpr(
        "vec_id",
        "e",
        "nrm",
        f"explode(sequence(0, {_ANN_HP_BANDS - 1})) as band",
        "sigbits",
    ).selectExpr(
        "vec_id",
        "e",
        "nrm",
        "band",
        "cast(sigbits / cast(pow(2, 4 * band) as bigint) as bigint) % 16 as bucket",
    )
    probes = buckets.filter("vec_id <= 5").selectExpr(
        "vec_id as probe_id", "e as pe", "nrm as pn", "band", "bucket"
    )
    cand = (
        probes.join(buckets, ["band", "bucket"])
        .filter("probe_id != vec_id")
        .selectExpr("probe_id", "vec_id as neighbor_id", "pe", "pn", "e as ne", "nrm as nn")
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    scored = cand.selectExpr(
        "probe_id",
        "neighbor_id",
        "aggregate(zip_with(pe, ne, (x, y) -> x * y),"
        " cast(0.0 as double), (a, x) -> a + x) / (pn * nn) as cos_raw",
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_raw"), "neighbor_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 5")
        .select(
            "probe_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cos_sim"),
            "rn",
        )
        .orderBy("probe_id", "rn")
    )


# ---------------------------------------------------------------------------
# knn_classify_ivf — the declared scale path of knn_classify


# Shared oracle prefix: deterministic ⌈√n⌉-centroid IVF assignment (the
# sim_ann_ivf recipe generalized to a data-dependent centroid count).
# Used by knn_classify_ivf and semdedup_prune.
_IVF_ASSIGN_SQL = """
v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
n AS (
  SELECT vec_id, label, e,
         sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS nrm,
         row_number() OVER (ORDER BY vec_id) AS rk,
         CAST(ceil(sqrt(COUNT(*) OVER ())) AS BIGINT) AS n_cent
  FROM v
),
centroids AS (
  SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM n WHERE rk <= n_cent
),
assign AS (
  SELECT vec_id, label, e, nrm, cid FROM (
    SELECT x.vec_id, x.label, x.e, x.nrm, c.cid,
           row_number() OVER (
             PARTITION BY x.vec_id
             ORDER BY list_aggregate(list_transform(list_zip(x.e, c.ce),
                      z -> z[1] * z[2]), 'sum') / (x.nrm * c.cnrm) DESC, c.cid
           ) AS rc
    FROM n x CROSS JOIN centroids c
  ) WHERE rc = 1
)
"""


def _ivf_assign(spark, sf_dir):
    """Deterministic IVF assignment shared by knn_classify_ivf and
    semdedup_prune: ⌈√n⌉ centroids = first ⌈√n⌉ vectors by vec_id
    (TakeOrdered + one bounded collect — √n×d doubles of driver state),
    sc.broadcast numpy matrix, BLAS argmax per Arrow batch (ascending cid
    order makes numpy's first-max reproduce the cos-desc/cid-asc
    tiebreak).  Returns (embeddings df, assignment df joined with label —
    one narrow shuffle on vec_id), or (df, None) for an empty table."""
    import math

    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    n_rows = e.count()
    n_cent = max(1, math.ceil(math.sqrt(n_rows)))
    cent_rows = e.orderBy("vec_id").limit(n_cent).collect()
    if not cent_rows:
        return e, None
    cid_arr = np.array([r["vec_id"] for r in cent_rows], dtype=np.int64)
    Cm = np.array([list(r["embedding"]) for r in cent_rows], dtype=np.float64)
    cnrm = np.sqrt((Cm * Cm).sum(axis=1))
    if (cnrm == 0).any():
        raise ValueError(
            f"ivf_assign: zero-norm centroid(s) "
            f"{cid_arr[cnrm == 0].tolist()} — cosine undefined"
        )
    bc = spark.sparkContext.broadcast((cid_arr, Cm, cnrm))

    def assign_batches(batches):
        bcid, bC, bcn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            xn = np.sqrt((X * X).sum(axis=1))
            if (xn == 0).any():
                bad = pdf["vec_id"].to_numpy()[xn == 0].tolist()
                raise ValueError(
                    f"ivf_assign: zero-norm embedding(s) {bad} — "
                    "cosine undefined; filter degenerate vectors first"
                )
            cs = (X @ bC.T) / (xn[:, None] * bcn[None, :])
            j = cs.argmax(axis=1)  # first max ⇒ cid-asc tiebreak
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cid": bcid[j]})

    best = e.select("vec_id", "embedding").mapInPandas(
        assign_batches, "vec_id bigint, cid bigint"
    )
    return e, e.join(best, "vec_id")


@register(
    "knn_classify_ivf",
    oracle=f"""
WITH {_IVF_ASSIGN_SQL.strip()},
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS nb, b.label AS nb_label,
         list_aggregate(list_transform(list_zip(a.e, b.e),
                        z -> z[1] * z[2]), 'sum') / (a.nrm * b.nrm) AS cos_raw
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id <> b.vec_id
),
knn AS (
  SELECT src, nb_label FROM (
    SELECT src, nb_label,
           row_number() OVER (PARTITION BY src ORDER BY cos_raw DESC, nb) AS rn
    FROM pairs
  ) WHERE rn <= 5
),
votes AS (
  SELECT src, nb_label, COUNT(*) AS n_votes FROM knn GROUP BY src, nb_label
),
pred AS (
  SELECT src, nb_label AS pred_label FROM (
    SELECT src, nb_label,
           row_number() OVER (PARTITION BY src
                              ORDER BY n_votes DESC, nb_label) AS rv
    FROM votes
  ) WHERE rv = 1
)
SELECT e.vec_id, e.label, p.pred_label,
       CAST(CASE WHEN e.label = p.pred_label THEN 1 ELSE 0 END AS INTEGER)
         AS is_correct
FROM embeddings e JOIN pred p ON e.vec_id = p.src
ORDER BY e.vec_id
""",
)
def knn_classify_ivf(spark, sf_dir):
    """k=5 leave-one-out cosine kNN majority vote with the candidate stage
    swapped from the all-pairs cross join to IVF inverted lists — the swap
    knn_classify's docstring (llm_ops.py:431) and SCALE.md §8 declare for
    ≥10⁶ vectors, realized with the sim_ann_ivf machinery rather than
    BRP-LSH: this corpus is unit-norm (every pairwise distance ≤ 2), so
    any euclidean LSH radius wide enough for recall degenerates to a
    quadratic cross join (measured: >45 s at sf1.0), while IVF caps each
    point's candidates at its own list.  ⌈√n⌉ centroids (the standard IVF
    sizing: lists and centroid count both ~√n, so candidate pairs grow
    n^1.5, not n²) taken deterministically as the first ⌈√n⌉ vectors by
    vec_id; assignment = max cosine, tiebreak cid asc; then the exact
    cosine top-5 / (votes desc, label asc) vote of the brute-force twin,
    restricted to same-list pairs.  Fully deterministic → SQL-expressible
    → hash-green oracle, the stronger gate: a vote-agreement threshold
    would be meaningless here because the corpus labels carry no
    embedding structure (exact kNN accuracy ≈ 10% = chance, measured), so
    approximate candidate sets produce chaotic prediction flips.

    100 TB: centroid table is √n×d — collected once (bounded driver
    state, the kmeans_iterative discipline: 1e9 rows → 31623×64 doubles ≈
    16 MB) and sc.broadcast; assignment is a BLAS matmul per Arrow batch
    emitting narrow (vec_id, cid) rows; the ONLY shuffle is the cid
    grouped-map, whose per-list kNN + vote runs as one numpy Gram matrix
    per inverted list (bounded ~√n×√n).  The JVM-expr formulation was
    measured first and rejected: per-pair ``zip_with`` folds put the
    sf1.0 run at ~39 s against the 45 s budget (the same interpreted-fold
    wall sim_cosine_topk hit pre-BLAS); this form completes in seconds.
    Float caveat as sim_cosine_topk: BLAS sums differ from the oracle's
    sequential folds by ~1e-15, invisible at the 6-decimal rounding and
    far below any argmax/rank gap in this corpus."""
    import numpy as np
    import pandas as pd

    _, assign = _ivf_assign(spark, sf_dir)
    if assign is None:
        return spark.createDataFrame(
            [], "vec_id bigint, label int, pred_label int, is_correct int"
        )

    def list_knn(pdf):
        if len(pdf) < 2:  # singleton list: no leave-one-out neighbors
            return pd.DataFrame(
                {
                    "vec_id": pd.Series([], dtype="int64"),
                    "label": pd.Series([], dtype="int64"),
                    "pred_label": pd.Series([], dtype="int64"),
                    "is_correct": pd.Series([], dtype="int64"),
                }
            )
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        labs = pdf["label"].to_numpy(dtype=np.int64)
        X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        xn = np.sqrt((X * X).sum(axis=1))
        if (xn == 0).any():
            raise ValueError(
                f"knn_classify_ivf: zero-norm embedding(s) "
                f"{ids[xn == 0].tolist()} — cosine undefined"
            )
        S = (X @ X.T) / np.outer(xn, xn)
        np.fill_diagonal(S, -np.inf)
        out = []
        for i in range(len(ids)):
            order = np.lexsort((ids, -S[i]))  # cos desc, nb asc
            top = [o for o in order if o != i][:5]
            votes: dict[int, int] = {}
            for o in top:
                votes[labs[o]] = votes.get(labs[o], 0) + 1
            pred = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            out.append((ids[i], labs[i], pred, int(labs[i] == pred)))
        return pd.DataFrame(
            out, columns=["vec_id", "label", "pred_label", "is_correct"]
        )

    return (
        assign.groupBy("cid")
        .applyInPandas(
            list_knn, "vec_id bigint, label int, pred_label int, is_correct int"
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# semdedup_prune — embedding-space semantic dedup (SemDeDup)

_SEMDEDUP_TAU = 0.25


@register(
    "semdedup_prune",
    oracle=f"""
WITH {_IVF_ASSIGN_SQL.strip()},
close AS (
  SELECT a.vec_id AS kept_by, b.vec_id AS pruned_id, b.cid,
         list_aggregate(list_transform(list_zip(a.e, b.e),
                        z -> z[1] * z[2]), 'sum') / (a.nrm * b.nrm) AS cos_raw
  FROM assign a JOIN assign b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE ROUND(list_aggregate(list_transform(list_zip(a.e, b.e),
                       z -> z[1] * z[2]), 'sum') / (a.nrm * b.nrm), 6)
        >= {_SEMDEDUP_TAU}
)
SELECT pruned_id, kept_by, cid, ROUND(cos_raw, 6) AS cos_sim FROM (
  SELECT pruned_id, kept_by, cid, cos_raw,
         row_number() OVER (PARTITION BY pruned_id
                            ORDER BY kept_by) AS rk
  FROM close
) WHERE rk = 1
ORDER BY pruned_id
""",
)
def semdedup_prune(spark, sf_dir):
    """Semantic dedup in embedding space (SemDeDup, Abbas et al. 2023):
    cluster the corpus, then inside each cluster prune every vector that
    has a near-duplicate (cos ≥ 0.25 here — sized to this corpus's 5-NN
    cos ≈ 0.29 band) with a SMALLER vec_id, keeping the minimum-id member
    of each similarity clique.  Clustering is the deterministic ⌈√n⌉-
    centroid IVF assignment shared with knn_classify_ivf (the paper uses
    k-means; the candidate-bounding role is identical), which keeps the
    pair stage at n^1.5, never all-pairs — and makes the whole operator
    SQL-expressible, hence hash-green.

    Output: one row per PRUNED vector — (pruned_id, kept_by = its
    smallest same-cluster near-duplicate, cid, cos_sim of that pair).
    Downstream keeps `corpus MINUS pruned_id` (an anti-join).

    100 TB: same shape as knn_classify_ivf — broadcast centroids, BLAS
    assignment per Arrow batch, one cid shuffle, per-list Gram matrix in
    applyInPandas with bounded ~√n×√n lists."""
    import numpy as np
    import pandas as pd

    _, assign = _ivf_assign(spark, sf_dir)
    if assign is None:
        return spark.createDataFrame(
            [], "pruned_id bigint, kept_by bigint, cid bigint, cos_sim double"
        )

    def list_prune(pdf):
        empty = pd.DataFrame(
            {
                "pruned_id": pd.Series([], dtype="int64"),
                "kept_by": pd.Series([], dtype="int64"),
                "cid": pd.Series([], dtype="int64"),
                "cos_sim": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)[order]
        X = np.array(pdf["embedding"].tolist(), dtype=np.float64)[order]
        cid = int(pdf["cid"].iloc[0])
        xn = np.sqrt((X * X).sum(axis=1))
        if (xn == 0).any():
            raise ValueError(
                f"semdedup_prune: zero-norm embedding(s) "
                f"{ids[xn == 0].tolist()} — cosine undefined"
            )
        S = (X @ X.T) / np.outer(xn, xn)
        out = []
        for j in range(1, len(ids)):  # ids ascending: candidates are i < j
            # round BEFORE the threshold test, mirroring the oracle's
            # ROUND(...,6) >= τ: BLAS matmul and DuckDB's sequential
            # list_aggregate sum the dot product in different orders, so a
            # pair sitting exactly on the raw float boundary could pass in
            # one engine and fail in the other (ADVICE r05).  Rounding both
            # sides to 6 dp makes the decision identical unless the engines
            # disagree by >=5e-7 — far above matmul reassociation error.
            hits = np.where(np.round(S[j, :j], 6) >= _SEMDEDUP_TAU)[0]
            if len(hits):
                i = hits[0]  # ascending ids ⇒ first hit = smallest kept_by
                out.append((int(ids[j]), int(ids[i]), cid, float(S[j, i])))
        if not out:
            return empty
        return pd.DataFrame(
            out, columns=["pruned_id", "kept_by", "cid", "cos_sim"]
        )

    return (
        assign.groupBy("cid")
        .applyInPandas(
            list_prune,
            "pruned_id bigint, kept_by bigint, cid bigint, cos_sim double",
        )
        .select(
            "pruned_id", "kept_by", "cid", F.round("cos_sim", 6).alias("cos_sim")
        )
        .orderBy("pruned_id")
    )
