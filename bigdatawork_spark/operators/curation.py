"""Data-curation operators for training-data pipelines — sampling, quality
filtering, PII scrubbing, n-gram near-dup, mergeable sketches.  REF:∅
(reference snapshot empty — SURVEY.md §0); these extend §2-K per the
north-star mandate (BASELINE.json:6).

Scale notes: every op is one narrow projection + at most one keyed shuffle;
the deterministic (hash-ranked) samplers exist precisely because seeded RNG
sampling is not reproducible across engines or across re-partitions — at
100 TB a content-hash threshold gives the same sample on any cluster layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..session import restage, session_memo, spread_if_narrow


@register(
    "sample_hash_deterministic",
    oracle="""
SELECT doc_id, substr(md5(text), 1, 2) AS h2
FROM documents
WHERE substr(md5(text), 1, 2) <= '19'
ORDER BY doc_id
""",
)
def sample_hash_deterministic(spark, sf_dir):
    """Content-hash Bernoulli sample: keep docs whose md5 hex prefix is
    <= '19' (26/256 ~ 10.2%).  Unlike df.sample(seed), the kept set is a
    pure function of content — identical across engines, partitionings, and
    cluster sizes, and re-running on appended data never resamples old rows.
    Plan: narrow filter, no shuffle; the md5 predicate is not scan-pushable
    but evaluates inside WholeStageCodegen."""
    d = load(spark, sf_dir, "documents")
    h2 = F.substring(F.md5("text"), 1, 2)
    return (
        d.select("doc_id", h2.alias("h2"))
        .filter(h2 <= "19")
        .orderBy("doc_id")
    )


@register(
    "sample_stratified",
    oracle="""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents
)
SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
FROM ranked
WHERE rk <= CAST(ceil(0.1 * n_lang) AS BIGINT)
ORDER BY lang, rk
""",
)
def sample_stratified(spark, sf_dir):
    """Deterministic stratified sample: top 10% of each ``lang`` stratum
    ranked by content hash (md5) — equal sampling pressure per stratum
    regardless of stratum skew.  (df.stat.sampleBy offers seeded-RNG strata
    sampling, but its kept set depends on row order → not cross-engine
    reproducible; the hash rank is.)  Plan: one shuffle on lang for the
    window; at 100 TB strata are few → salting not needed because the rank
    window is per-stratum and AQE splits oversized partitions."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    return (
        d.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n_lang"),
        )
        .filter(F.col("rk") <= F.ceil(0.1 * F.col("n_lang")).cast("long"))
        .select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))
        .orderBy("lang", "rk")
    )


@register(
    "quality_filter_gopher",
    oracle="""
WITH feat AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_words,
         ROUND(CAST(len(replace(text, ' ', '')) AS DOUBLE)
               / len(list_filter(string_split(text, ' '), w -> w <> '')), 6)
           AS mean_wlen,
         ROUND(CAST(len(list_filter(string_split(text, ' '),
                                    w -> w IN ('the', 'a', 'data', 'key')))
                    AS DOUBLE)
               / len(list_filter(string_split(text, ' '), w -> w <> '')), 6)
           AS stop_frac
  FROM documents
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_wlen, stop_frac,
       (n_words BETWEEN 5 AND 1000)
         AND (mean_wlen BETWEEN 3.0 AND 10.0)
         AND (stop_frac < 0.3) AS keep
FROM feat
ORDER BY doc_id
""",
)
def quality_filter_gopher(spark, sf_dir):
    """Gopher-style rule-based quality gate (word-count bounds, mean word
    length band, stopword-fraction cap) computed as pure column expressions
    — one narrow pass, no shuffle, trivially 100 TB-parallel.  The keep
    flag is emitted (not filtered) so downstream stages can audit drop
    reasons."""
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    n_words = F.size(words)
    mean_wlen = F.round(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_words,
        6,
    )
    stop_frac = F.round(
        F.size(
            F.filter(words, lambda w: w.isin("the", "a", "data", "key"))
        ).cast("double")
        / n_words,
        6,
    )
    return (
        d.select(
            "doc_id",
            n_words.cast("long").alias("n_words"),
            mean_wlen.alias("mean_wlen"),
            stop_frac.alias("stop_frac"),
        )
        .withColumn(
            "keep",
            F.col("n_words").between(5, 1000)
            & F.col("mean_wlen").between(3.0, 10.0)
            & (F.col("stop_frac") < 0.3),
        )
        .orderBy("doc_id")
    )




def pii_scrub_expr(col):
    """Email-then-long-digit-run redaction — shared by text_pii_scrub and
    CurationPipeline.pii_scrub so the redaction policy has ONE source of
    truth (r05 review: the stage previously copy-pasted the regexes with
    no cross-check test)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.regexp_replace(c, r"[A-Za-z0-9._]+@[A-Za-z0-9.]+", "[EMAIL]"),
        r"[0-9]{4,}",
        "[NUM]",
    )


def split_label_sql(key: str) -> str:
    """Deterministic 90/5/5 train/val/test CASE over an id-hash — shared by
    split_train_holdout and CurationPipeline.split_holdout (one policy
    site; thresholds 0.9·65536=0xe666, 0.95·65536=0xf333 compared as
    strings so Spark and DuckDB agree byte-for-byte)."""
    h = f"substr(md5(CAST({key} AS STRING)), 1, 4)"
    return (
        f"CASE WHEN {h} < 'e666' THEN 'train'"
        f" WHEN {h} < 'f333' THEN 'val' ELSE 'test' END"
    )


@register(
    "text_pii_scrub",
    oracle="""
WITH raw AS (
  SELECT c_custkey,
         c_name || ' <' || lower(c_mktsegment) || c_custkey
           || '@example.com> id ' || CAST(1000000 + c_custkey AS VARCHAR)
           AS contact
  FROM customer
)
SELECT c_custkey,
       regexp_replace(
         regexp_replace(contact, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '[EMAIL]', 'g'),
         '[0-9]{4,}', '[NUM]', 'g') AS scrubbed
FROM raw
ORDER BY c_custkey
""",
)
def text_pii_scrub(spark, sf_dir):
    """Regex PII redaction — emails then long digit runs — over a
    synthesized contact string (the slim test schema carries no real PII,
    so the op builds one from customer fields; the scrub rules are the
    real artifact).  Pure regexp_replace column expressions: no shuffle,
    JVM-side, linear at any scale.  DuckDB needs the 'g' flag to match
    Spark's replace-all default (SURVEY §5.3)."""
    c = load(spark, sf_dir, "customer")
    contact = F.concat(
        F.col("c_name"),
        F.lit(" <"),
        F.lower("c_mktsegment"),
        F.col("c_custkey").cast("string"),
        F.lit("@example.com> id "),
        (F.col("c_custkey") + 1000000).cast("string"),
    )
    scrubbed = pii_scrub_expr(contact)
    return (
        c.select("c_custkey", scrubbed.alias("scrubbed")).orderBy("c_custkey")
    )


#: Per-gram-block candidate budget for dedup_ngram_jaccard (VERDICT r07
#: item 8).  A gram block larger than this contributes at most this many
#: candidate docs (a DETERMINISTIC md5-ordered sample, so the DuckDB
#: oracle reproduces the identical sample and the key stays
#: hash-verifiable at every SF); candidate pairs are then EXACT-verified
#: against the FULL gram sets, so every emitted pair carries its true
#: Jaccard — the cap can only lose recall on weakly-overlapping pairs,
#: never emit a wrong value, and the loss is audited (n_trunc_blocks).
#: At the driver's check scale (500 docs) no block can exceed it, so
#: small-SF results are bit-identical to the uncapped formulation.
NGRAM_BLOCK_CAP = 1000


@register(
    "dedup_ngram_jaccard",
    oracle="""
WITH arrays AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, length(text) - 2),
           i -> substr(text, i, 3))) AS gs
  FROM documents
),
hashed AS (
  SELECT doc_id, len(gs) AS n,
         list_transform(gs, x -> hash(x)) AS gi
  FROM arrays
),
grams AS (SELECT doc_id, unnest(gs) AS g FROM arrays),
dfg AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
blk AS (
  SELECT gr.doc_id, gr.g
  FROM grams gr JOIN dfg ON gr.g = dfg.g
  WHERE dfg.df <= 1000
     OR ('0x' || substr(md5(gr.g || ':' || CAST(gr.doc_id AS VARCHAR)), 1, 8))
          ::UBIGINT * dfg.df < 1000 * 4294967296
),
trunc AS (SELECT COUNT(*) AS n_trunc_blocks FROM dfg WHERE df > 1000),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM grams a JOIN blk b ON a.g = b.g AND a.doc_id < b.doc_id
  WHERE a.doc_id < 10
),
pairs AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(pa.gi, pb.gi)) AS n_both,
         pa.n AS na, pb.n AS nb
  FROM cand c
  JOIN hashed pa ON pa.doc_id = c.id_a
  JOIN hashed pb ON pb.doc_id = c.id_b
)
SELECT id_a, id_b,
       ROUND(CAST(n_both AS DOUBLE) / (na + nb - n_both), 6) AS jacc,
       trunc.n_trunc_blocks
FROM pairs CROSS JOIN trunc
WHERE CAST(n_both AS DOUBLE) / (na + nb - n_both) >= 0.5
ORDER BY id_a, id_b
""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Character-3-gram Jaccard near-dup: probe docs (doc_id < 10) against
    the corpus, emit pairs with Jaccard >= 0.5 — via the budget-safe
    generate-candidates-then-verify shape (round 8, VERDICT r07 item 8):

    * **Generation** joins the probes' grams against per-gram blocks whose
      candidate contribution is budgeted at ~``NGRAM_BLOCK_CAP`` docs: a
      row survives when its block is small (df <= CAP, exhaustive) or its
      deterministic md5 draw clears the CAP/df threshold — a windowless
      Bernoulli sample with expected size CAP, identical in the DuckDB
      oracle, bounding expected fan-out at ``n_probe_grams × CAP`` per
      probe no matter how pathological the corpus.  (Two designs were
      tried and REJECTED at sf1.0: an absolute stop-gram df cut dropped
      every gram of the saturated replica corpus — 377 distinct trigrams,
      min df 3 770 — and silently emitted 0 pairs; an exact per-block
      row_number top-CAP cost a 7.1 M-row window sort and, with an
      exploded verify join, ran 44 s.)
    * **Verification** recomputes each candidate pair's intersection with
      one codegen ``array_intersect`` over the two docs' FULL gram arrays
      (no exploded join), so every emitted jacc is exact; the cap can
      only MISS weakly-overlapping pairs — strong dups share many grams
      and survive sampling with high probability.
    * **Audit**: ``n_trunc_blocks`` (count of gram blocks that overflowed
      the cap) rides on every output row — truncation is visible in the
      result, never silent; it is 0 whenever the corpus is small enough
      that the plan was exhaustive.

    Gram construction uses one codegen ``regexp_extract_all`` lookahead
    pass per document (r08 A/B at sf1.0: 4.8 s vs 25.3 s for the r07
    posexplode form, which duplicated the ~290-char text across every
    exploded position, and 16.7 s for the interpreted transform() form).

    At 100 TB: generation is a keyed equi-join with expected-bounded
    blocks (no per-block sort anywhere), verification is a map-side
    array intersection against a broadcast probe table — both scale
    linearly in corpus size.  Real pipelines block by LSH bucket
    (dedup_near_minhash) and verify candidates with exactly this
    operator."""
    d = load(spark, sf_dir, "documents")
    # Spread before the regexp gram pass, array_distinct and xxhash64
    # transform, so the staged cache below keeps a core-wide layout for
    # every downstream consumer.  Noop-sink A/B at sf1.0: 31.5-35.6 s →
    # 24.2-27.0 s.
    arrays = restage(spark, "dedup_ngram_jaccard", (
        spread_if_narrow(d)
        .select(
            "doc_id",
            # (?s) so '.' crosses newlines — parity with the oracle's
            # substr() grams on any corpus, not just newline-free ones
            F.expr(
                "array_distinct(regexp_extract_all(text, '(?s)(?=(.{3}))', 1))"
            ).alias("gs"),
        )
        .withColumn("n", F.size("gs"))
        # engine-INTERNAL int64 gram ids for the verify intersection (r08
        # A/B at sf1.0: 2.2 s vs 14.8 s for string-array intersect).  Only
        # intersection SIZES cross engines, so Spark hashes with xxhash64
        # and the oracle with DuckDB hash() — the md5 sampling draw below
        # is the one hash that must match cross-engine, and does.
        .withColumn("gi", F.expr("transform(gs, x -> xxhash64(x))"))
    ))
    grams = arrays.select("doc_id", F.explode("gs").alias("g"))
    dfg = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    # deterministic Bernoulli block budget: keep when the block is small,
    # or the row's md5 draw (32-bit uniform) clears CAP/df — cross-engine
    # reproducible (md5 of the same string, same 8-hex-digit prefix)
    draw = F.conv(
        F.substring(
            F.md5(F.concat(F.col("g"), F.lit(":"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    blk = (
        grams.join(F.broadcast(dfg), "g")
        .filter(
            (F.col("df") <= NGRAM_BLOCK_CAP)
            | (draw * F.col("df") < F.lit(NGRAM_BLOCK_CAP * 4294967296))
        )
        .select("doc_id", "g")
    )
    trunc = dfg.filter(F.col("df") > NGRAM_BLOCK_CAP).agg(
        F.count(F.lit(1)).alias("n_trunc_blocks")
    )
    probe = grams.filter(F.col("doc_id") < 10).withColumnRenamed("doc_id", "id_a")
    cand = (
        probe.join(blk, (probe.g == blk.g) & (F.col("id_a") < F.col("doc_id")))
        .select("id_a", F.col("doc_id").alias("id_b"))
        .distinct()
    )
    # exact verify: one array_intersect per candidate pair over the FULL
    # (int-hashed) gram arrays; the probes' arrays (10 rows) broadcast
    pa = F.broadcast(
        arrays.select(
            F.col("doc_id").alias("id_a"),
            F.col("gi").alias("gi_a"),
            F.col("n").alias("na"),
        ).filter(F.col("id_a") < 10)
    )
    pb = arrays.select(
        F.col("doc_id").alias("id_b"),
        F.col("gi").alias("gi_b"),
        F.col("n").alias("nb"),
    )
    both = F.size(F.array_intersect("gi_a", "gi_b"))
    jacc = both.cast("double") / (F.col("na") + F.col("nb") - both)
    # r17 (guide §3.1/§2.3, the "move heavy bytes once" rule of §8): the
    # verify join used to stream the SLIM candidate pairs into a
    # shuffle-join against pb — which shuffled the ENTIRE corpus's fat
    # gi arrays (~250 MB decoded at sf1.0) to meet ~200k 16-byte pairs.
    # Flipping the build side broadcasts the pairs (bounded by the block
    # budget at expected n_probe_grams × CAP rows of two longs) so the
    # gi arrays never leave their cache partitions.  Interleaved A/B at
    # sf1.0 (noop sink): 24.2-27.0 s → 4.2-5.6 s; output bit-identical
    # (sha256 of the sorted frame) and oracle HASH re-verified.
    return (
        pb.join(F.broadcast(cand), "id_b")
        .join(pa, "id_a")
        .filter(jacc >= 0.5)
        .crossJoin(F.broadcast(trunc))
        .select("id_a", "id_b", F.round(jacc, 6).alias("jacc"), "n_trunc_blocks")
        .orderBy("id_a", "id_b")
    )


@register(
    "agg_hll_sketch",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS est_ok
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE FROM events
ORDER BY event_type
""",
)
def agg_hll_sketch(spark, sf_dir):
    """Mergeable HLL sketches (Apache DataSketches via Spark 4 builtins),
    per event type AND globally in ONE rollup pass — the mergeable-sketch
    pattern that replaces exact countDistinct at 100 TB: each task builds
    partial sketches per rollup group and the final aggregate MERGES them
    (register-wise max — associative, constant-size state per group); the
    grand-total row's sketch is exactly the union of the partials.
    `tests/test_edge_cases.py` additionally pins hll_union_agg over the
    per-group sketches producing the identical global estimate (lossless
    merge), so the explicit two-level union contract stays tested.

    Previously rows-only (sketch estimates are engine-specific — DuckDB's
    HLL differs).  Converted in r14 (the VERDICT r13 item 3 pattern): the
    output carries the EXACT distinct counts (hash-checked) plus a
    per-row boolean asserting the DataSketches estimate lands within
    max(5, 8%) of exact — a ~5-sigma band for the default lgK=12 sketch
    (RSE ~1.6%), mirroring agg_approx_count_distinct's 5-sigma
    discipline; the r14 review measured a healthy sketch at 2.5-3.4%
    error on unlucky cardinalities, so the first-cut 2% band would have
    flagged correct runs.  The oracle spells the boolean TRUE, so a
    sketch regression hash-mismatches at the driver.  Single scan:
    rollup replaces the former per-type + union + global-exact branches
    (three scans and a 1x1 join the plan lint rejected)."""
    ev = load(spark, sf_dir, "events")
    g = ev.rollup("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"),
        F.grouping_id().alias("gid"),
    )
    ok = F.abs(F.col("est") - F.col("exact_users")) <= F.greatest(
        F.lit(5.0), 0.08 * F.col("exact_users")
    )
    return g.select(
        F.when(F.col("gid") == 1, F.lit("ALL"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        "exact_users",
        ok.alias("est_ok"),
    ).orderBy("event_type")


@register(
    "pandas_api_bridge",
    oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(n_chars), 6) AS avg_chars
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def pandas_api_bridge(spark, sf_dir):
    """pandas-on-Spark round trip: Spark DF → ``pandas_api()`` → pandas-
    style groupby/agg → ``to_spark()``.  Proves the third API surface
    (DataFrame, SQL, pandas-on-Spark) compiles to the same distributed
    plan — the pandas syntax is sugar over Catalyst, not a collect."""
    import pyspark.pandas as ps  # noqa: F401 — requires active session

    d = load(spark, sf_dir, "documents")
    psdf = d.pandas_api()
    out = psdf.groupby("lang").agg(
        n_docs=("doc_id", "count"), avg_chars=("n_chars", "mean")
    )
    sdf = out.reset_index().to_spark()
    return sdf.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("avg_chars", 6).alias("avg_chars"),
    ).orderBy("lang")


# The connected-components oracle up to its final SELECT: grams of the
# first 60 documents, Jaccard >= 0.45 edges, and ``reach`` — every
# (node, reachable node) pair by a recursive CTE.  Shared by
# dedup_cluster_cc and dedup_keep_representative.
_CC_REACH_SQL = """grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, length(text) - 2),
           i -> substr(text, i, 3)))) AS g
  FROM documents WHERE doc_id < 60 AND length(text) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_both
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst
  FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both) >= 0.45
),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
nodes AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id < 60),
reach AS (
  WITH RECURSIVE r(id, v) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT r.id, s.dst FROM r JOIN sym s ON r.v = s.src
  )
  SELECT * FROM r
)"""


@register(
    "dedup_cluster_cc",
    oracle=f"""
WITH {_CC_REACH_SQL}
SELECT id AS doc_id, CAST(MIN(v) AS BIGINT) AS component
FROM reach GROUP BY id ORDER BY doc_id
""",
)
def dedup_cluster_cc(spark, sf_dir):
    """Connected-components clustering of near-dup pairs — the step that
    turns pairwise similarity (dedup_ngram_jaccard et al.) into dedup
    groups ("keep one doc per component").  Distributed min-label
    propagation by message passing over a carried node state
    ``(id, comp, nbrs, moved)``.  A round is ONE aggregate: the nodes'
    own rows (which carry the old label) and the round's messages,
    grouped by ``id`` to the minimum label.  Round 1 sends every edge and
    collects each node's adjacency list ``nbrs`` (empty for a gram-less
    doc) in the same aggregate; after it only a node whose label moved
    sends, along ``nbrs``, so the round's shuffle shrinks as labels
    settle.  The round's count of moved nodes is an ``Observation`` on
    the same ``localCheckpoint`` job that truncates the lineage, so a
    round costs no separate count job; the loop stops when it reads 0,
    after O(diameter) rounds (here ≤ a handful).  The oracle computes the
    same components with a recursive CTE.

    At 100 TB: the same rounds, with the alternating large-star/small-star
    schedule (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) as the option that bounds the number of rounds on a
    long-diameter graph; the driver-side loop is control flow only — all
    data movement stays distributed."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    # length >= 3 guard (r14 edge-corpus campaign): Spark's
    # sequence(1, 0) is the DESCENDING [1, 0] while DuckDB's
    # generate_series(1, 0) is empty — a <3-char doc would fabricate
    # grams here and none in the oracle.  Gram-less docs still get a
    # component (their own) via `state`, which is built from d, and the
    # oracle's nodes CTE now matches (all docs, not just grammed ones).
    grams = d.filter(F.length("text") >= 3).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, length(text) - 2),"
                    " i -> substring(text, i, 3))"
                )
            )
        ).alias("g"),
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = grams.withColumnRenamed("doc_id", "id_a")
    b = grams.withColumnRenamed("doc_id", "id_b")
    pairs = (
        a.join(b, (a.g == b.g) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na")
    sb = sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb")
    jacc = F.col("n_both").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_both")
    )
    edges = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jacc >= 0.45)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    is_moved = (F.col("comp") != F.col("old")).alias("moved")
    n_moved = F.sum(F.col("moved").cast("long")).alias("n")

    def settle(rows, nbrs):
        """One round: each node's minimum label, whether it moved, and
        how many nodes moved, observed on the checkpoint job."""
        moved = Observation()
        state = (
            rows.groupBy("id")
            .agg(F.min("comp").alias("comp"), F.max("old").alias("old"), nbrs)
            .select("id", "comp", "nbrs", is_moved)
            .observe(moved, n_moved)
            .localCheckpoint()
        )
        return state, moved.get["n"]

    # Round 1 builds the state: every node's own row, which carries its
    # old label, and each edge as a message from its far end, which also
    # collects the node's adjacency list (empty for a gram-less doc).
    own = d.select(
        F.col("doc_id").alias("id"),
        F.col("doc_id").alias("comp"),
        F.col("doc_id").alias("old"),
        F.lit(None).cast("long").alias("nbr"),
    )
    hops = sym.select(
        F.col("src").alias("id"),
        F.col("dst").alias("comp"),
        F.lit(None).cast("long").alias("old"),
        F.col("dst").alias("nbr"),
    )
    state, n = settle(
        own.unionByName(hops), F.collect_list("nbr").alias("nbrs")
    )
    # Later rounds: every node's own row, and one message per neighbour
    # from each node whose label moved last round — one generator, so a
    # round reads the state once.
    sent = F.when(F.col("moved"), F.col("nbrs")).otherwise(
        F.array().cast("array<long>")
    )
    rows = F.inline(
        F.concat(
            F.array(F.struct("id", "comp", F.col("comp").alias("old"), "nbrs")),
            F.transform(
                sent,
                lambda v: F.struct(
                    v.alias("id"),
                    "comp",
                    F.lit(None).cast("long").alias("old"),
                    F.lit(None).cast("array<long>").alias("nbrs"),
                ),
            ),
        )
    )
    kept = F.first("nbrs", ignorenulls=True).alias("nbrs")
    while n:
        state, n = settle(state.select(rows), kept)
    return state.select(
        F.col("id").alias("doc_id"), F.col("comp").cast("long").alias("component")
    ).orderBy("doc_id")


@register(
    "fuzzy_match_levenshtein",
    oracle="""
WITH names AS (SELECT DISTINCT p_name FROM part),
blocked AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b
  FROM names a JOIN names b
    ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
   AND a.p_name < b.p_name
)
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
FROM blocked
WHERE levenshtein(name_a, name_b) <= 4
ORDER BY name_a, name_b
""",
)
def fuzzy_match_levenshtein(spark, sf_dir):
    """Blocked fuzzy string matching — the entity-resolution building
    block: candidate pairs share a blocking key (here the noun, the 2nd
    token of p_name) and survive if edit distance ≤ 4.  Blocking turns the
    O(n²) all-pairs comparison into per-block Cartesian products, which is
    the only way fuzzy matching scales: at 100 TB you block on several
    cheap keys (token, prefix, phonetic code, MinHash band) and union the
    candidate sets, never crossing the full corpus with itself.  All
    JVM-side: levenshtein() is a builtin, no Python UDF."""
    names = load(spark, sf_dir, "part").select("p_name").distinct()
    key = F.split(F.col("p_name"), " ").getItem(1)
    a = names.select(F.col("p_name").alias("name_a"), key.alias("bk"))
    b = names.select(F.col("p_name").alias("name_b"), key.alias("bk"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "bk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(dist <= 4)
        .select("name_a", "name_b", dist.cast("long").alias("dist"))
        .orderBy("name_a", "name_b")
    )


@register(
    "dedup_keep_representative",
    oracle=f"""
WITH {_CC_REACH_SQL}
SELECT id AS doc_id
FROM reach GROUP BY id HAVING id = MIN(v)
ORDER BY doc_id
""",
)
def dedup_keep_representative(spark, sf_dir):
    """The dedup pipeline's last step: keep ONE document per near-dup
    component (the minimum doc_id — any deterministic choice works).
    Composes dedup_cluster_cc: a doc survives iff its label equals its own
    id.  At 100 TB the kept set is written back as the curated corpus;
    everything upstream (shingle → candidate pairs → verify → components)
    already ran distributed, so this is one narrow filter."""
    labels = dedup_cluster_cc(spark, sf_dir)
    return (
        labels.filter(F.col("doc_id") == F.col("component"))
        .select("doc_id")
        .orderBy("doc_id")
    )


@register(
    "dedup_latest_by_key",
    oracle="""
SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
FROM (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id
""",
)
def dedup_latest_by_key(spark, sf_dir):
    """CDC compaction: latest record per key (here: each user's most
    recent event, event_id as the deterministic tiebreak).  One shuffle
    on the key; at 100 TB this is the standard log→snapshot compaction —
    run it partition-by-partition over a date-partitioned log and the
    shuffle only ever sees one partition's keys."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
        .orderBy("user_id")
    )


@register(
    "agg_histogram",
    oracle="""
SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS bin,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem
GROUP BY bin
ORDER BY bin
""",
)
def agg_histogram(spark, sf_dir):
    """Fixed-width histogram (5000-wide price bins) — binning IS the
    aggregation key, so the histogram of 100 TB is one partial-agg
    shuffle of #bins rows per task.  FLOOR goes via BIGINT cast on the
    oracle side (DuckDB FLOOR returns DOUBLE, Spark LONG)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / 5000.0).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty"),
        )
        .orderBy("bin")
    )


@register(
    "dq_referential_audit",
    oracle="""
SELECT 'lineitem_without_order' AS relation, COUNT(*) AS n_orphans
FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
UNION ALL
SELECT 'order_without_customer', COUNT(*)
FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
UNION ALL
SELECT 'customer_without_order', COUNT(*)
FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY relation
""",
)
def dq_referential_audit(spark, sf_dir):
    """Data-quality audit: orphan counts across the FK graph, as one
    small result — each relation is a LEFT ANTI join that ships only key
    columns (the audit of a 100 TB fact table moves <1% of its bytes).
    The first two counts assert integrity (0 on this corpus); the third
    is the business-meaningful "customers who never ordered"."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")

    def orphans(name, left, right, lk, rk):
        return (
            left.join(right, F.col(lk) == F.col(rk), "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(name).alias("relation"), "n_orphans")
        )

    return (
        orphans("lineitem_without_order", li, o, "l_orderkey", "o_orderkey")
        .unionByName(orphans("order_without_customer", o, c, "o_custkey", "c_custkey"))
        .unionByName(orphans("customer_without_order", c, o, "c_custkey", "o_custkey"))
        .orderBy("relation")
    )


@register(
    "split_train_holdout",
    oracle="""
WITH tagged AS (
  SELECT source, n_chars,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT source, split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM tagged
GROUP BY source, split
ORDER BY source, split
""",
)
def split_train_holdout(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment from an id-hash —
    the canonical pre-training split.  The split is a pure function of
    doc_id (md5 hex-prefix thresholds: 0.9*65536=0xe666, 0.95*65536=0xf333,
    compared as strings so Spark and DuckDB agree byte-for-byte), so
    appending data never reassigns old rows, any engine reproduces the
    same split, and per-source proportions hold automatically because the
    hash is uniform within each source.  Map-only labeling (no shuffle);
    only the audit aggregate emitted here shuffles — O(sources×3) rows at
    any corpus size.  REF:∅ (SURVEY §2-K neighborhood; training pipeline)."""
    d = load(spark, sf_dir, "documents")
    tagged = d.selectExpr(
        "source", "n_chars", f"{split_label_sql('doc_id')} AS split"
    )
    return (
        tagged.groupBy("source", "split")
        .agg(
            F.expr("count(1) as n_docs"),
            F.expr("cast(sum(n_chars) as bigint) as n_chars"),
        )
        .orderBy("source", "split")
    )


@register(
    "quality_classifier_nb",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang, word FROM (
    SELECT doc_id, lang,
           unnest(string_split(lower(text), ' ')) AS word
    FROM documents
  ) WHERE word <> ''
),
tf AS (
  SELECT doc_id, lang, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, lang, word
),
cw AS (
  SELECT lang AS c, word, CAST(COUNT(*) AS DOUBLE) AS cw
  FROM tok GROUP BY lang, word
),
ct AS (
  SELECT lang AS c, CAST(COUNT(*) AS DOUBLE) AS ct FROM tok GROUP BY lang
),
vocab AS (SELECT DISTINCT word FROM tok),
consts AS (
  SELECT CAST(COUNT(DISTINCT word) AS DOUBLE) AS v FROM tok
),
prior AS (
  SELECT lang AS c,
         ln(CAST(COUNT(*) AS DOUBLE)
            / (SELECT COUNT(*) FROM documents WHERE lang IS NOT NULL))
           AS logprior
  FROM documents WHERE lang IS NOT NULL GROUP BY lang
),
grid AS (
  SELECT vo.word, ct.c,
         ln((COALESCE(cw.cw, 0.0) + 1.0) / (ct.ct + consts.v)) AS logp
  FROM vocab vo
  CROSS JOIN ct
  CROSS JOIN consts
  LEFT JOIN cw ON cw.word = vo.word AND cw.c = ct.c
),
scored AS (
  SELECT t.doc_id, t.lang, g.c,
         CAST(SUM(CAST(t.tf * g.logp AS DECIMAL(28,12))) AS DOUBLE)
           AS loglik
  FROM tf t JOIN grid g ON g.word = t.word
  GROUP BY t.doc_id, t.lang, g.c
),
ranked AS (
  SELECT doc_id, lang, scored.c AS pred_lang,
         ROUND(loglik + p.logprior, 6) AS score,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY ROUND(loglik + p.logprior, 6) DESC, scored.c
         ) AS rk
  FROM scored JOIN prior p ON p.c = scored.c
)
SELECT doc_id, lang, pred_lang, score,
       CAST(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END AS INTEGER)
         AS is_correct
FROM ranked WHERE rk = 1
ORDER BY doc_id
""",
)
def quality_classifier_nb(spark, sf_dir):
    """Supervised multinomial naive Bayes trained IN-ENGINE and applied in
    the same plan — the learned-classifier filter pattern (fastText-style
    quality/domain classifiers are the canonical pretraining gate; NB is
    its closed-form cousin, trainable in one aggregation pass with no
    iteration, hence fully SQL-expressible and hash-green).  Classes are
    the corpus ``lang`` labels; add-1 smoothing over the joint vocabulary;
    ln p(c|d) ∝ ln prior(c) + Σ_w tf(w,d)·ln((cw+1)/(ct+|V|)).

    Determinism discipline: each tf·ln term is cast to DECIMAL(28,12)
    BEFORE the per-(doc,class) sum (order-independent fold), the winner is
    chosen on the ROUNDED score with class-name tiebreak, and every ln
    consumes the same rational inputs in both engines.

    Plan: two vocabulary-sized training aggregates (map-side combined),
    the |vocab|×|classes| log-likelihood grid broadcast to the scoring
    join, one (doc,class)-keyed aggregation, rn=1 window per doc.  At
    100 TB: training is two shuffles of vocab cardinality; scoring
    multiplies token rows by |classes| — the production form keeps the
    per-word class vector as an ARRAY column (one row per token,
    elementwise array aggregation) and the classifier itself (the grid)
    is model-artifact-sized, exportable like any trained filter."""
    d = load(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
    )
    # r16 optimization (guide §2.4 "do fewer passes" / §1.2 step 1): the
    # r15 form built tf, cw, ct, the vocab-size scalar AND the vocab list
    # as five INDEPENDENT subtrees over ``tok`` — Spark shares no common
    # subexpressions across DataFrame branches, so the full corpus explode
    # + hash aggregation ran five times per query (~21.6 s at sf1.0).  The
    # per-(doc,class,word) tf relation already carries everything the
    # other four need (cw = Σtf by (class,word); ct = Σtf by class; vocab
    # and |V| are its distinct words), so tf is materialized ONCE via
    # localCheckpoint (the bm25/dedup_cluster_cc artifact pattern) and the
    # training aggregates reduce the checkpointed ~|doc×word| relation
    # instead of re-exploding ~|tokens| five times.  Counts are identical
    # by construction — HASH OK re-verified at sf0.01 and sf0.1.
    tf = (
        tok.groupBy("doc_id", "lang", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    cw = tf.groupBy(F.col("lang").alias("c"), "word").agg(
        F.sum("tf").cast("double").alias("cw")
    )
    ct = tf.groupBy(F.col("lang").alias("c")).agg(
        F.sum("tf").cast("double").alias("ct")
    )
    consts = tf.agg(F.countDistinct("word").cast("double").alias("v"))
    n_lab = d.filter(F.col("lang").isNotNull())
    prior = n_lab.groupBy(F.col("lang").alias("c")).agg(
        F.count(F.lit(1)).alias("nc")
    ).crossJoin(
        F.broadcast(n_lab.agg(F.count(F.lit(1)).alias("nt")))
    ).select(
        "c", F.log(F.col("nc").cast("double") / F.col("nt")).alias("logprior")
    )
    vocab = tf.select("word").distinct()
    grid = (
        vocab.crossJoin(ct)
        .crossJoin(F.broadcast(consts))
        .join(cw, ["word", "c"], "left")
        .select(
            "word",
            "c",
            F.log(
                (F.coalesce(F.col("cw"), F.lit(0.0)) + 1.0)
                / (F.col("ct") + F.col("v"))
            ).alias("logp"),
        )
    )
    scored = (
        tf.join(F.broadcast(grid), "word")
        .groupBy("doc_id", "lang", "c")
        .agg(
            F.sum((F.col("tf") * F.col("logp")).cast("decimal(28,12)"))
            .cast("double")
            .alias("loglik")
        )
        .join(F.broadcast(prior), "c")
        .select(
            "doc_id",
            "lang",
            F.col("c").alias("pred_lang"),
            F.round(F.col("loglik") + F.col("logprior"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "pred_lang")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select(
            "doc_id",
            "lang",
            "pred_lang",
            "score",
            F.when(F.col("lang") == F.col("pred_lang"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_correct"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_segments_crossdoc",
    oracle="""
WITH w AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents WHERE text IS NOT NULL
),
seg AS (
  SELECT doc_id, i AS pos,
         array_to_string(list_slice(ws, (i - 1) * 3 + 1, i * 3), ' ') AS seg
  FROM w, unnest(generate_series(1, CAST(ceil(len(ws) / 3.0) AS BIGINT))) AS t(i)
  WHERE len(ws) >= 1
),
bp AS (SELECT seg FROM seg GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 3)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_seg,
       CAST(COUNT(*) FILTER (WHERE bp.seg IS NULL) AS BIGINT) AS n_kept,
       ROUND(COUNT(*) FILTER (WHERE bp.seg IS NULL) * 1.0 / COUNT(*), 4)
         AS keep_ratio,
       COALESCE(array_to_string(list(s.seg ORDER BY s.pos)
                FILTER (WHERE bp.seg IS NULL), ' '), '') AS cleaned_text
FROM seg s LEFT JOIN bp ON s.seg = bp.seg
GROUP BY s.doc_id
ORDER BY s.doc_id
""",
)
def dedup_segments_crossdoc(spark, sf_dir):
    """Sub-document cross-corpus dedup (the CCNet/FineWeb paragraph-removal
    shape): segment each doc into consecutive 3-word chunks (the corpus has
    no newlines, so fixed word-chunks stand in for paragraphs — same
    machinery, different splitter), drop every segment that occurs in >= 3
    DISTINCT documents (corpus boilerplate), and reassemble the survivors
    in original order.  Emits per-doc audit counts + the cleaned text;
    docs whose every segment is boilerplate survive as empty strings
    (2 such docs at sf0.01), which a downstream length filter then cuts.

    Scale: one explode into (doc, pos, segment); the boilerplate set is a
    segment-keyed aggregation whose shuffle carries segments+doc-counts
    (never documents), and BY DEFINITION it is small (only segments
    repeated across >= 3 docs), so the marking join broadcasts it — the
    documents themselves are never re-shuffled.  Reassembly is a per-doc
    collect_list over positions (one keyed shuffle of kept segments).  At
    100 TB hash the segments (sha2-64) before the df-aggregation so the
    shuffle carries 8-byte keys, exactly as ``dedup_exact`` does."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    seg = (
        d.selectExpr(
            "doc_id", "filter(split(lower(text), ' '), x -> x != '') as ws"
        )
        .where("size(ws) >= 1")
        .selectExpr(
            "doc_id",
            "explode(sequence(1, cast(ceil(size(ws) / 3.0) as int))) as pos",
            "ws",
        )
        .selectExpr(
            "doc_id",
            "pos",
            "array_join(slice(ws, (pos - 1) * 3 + 1, 3), ' ') as seg",
        )
    )
    bp = (
        seg.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where("df >= 3")
        .select("seg")
        .withColumn("is_bp", F.lit(1))
    )
    marked = seg.join(F.broadcast(bp), "seg", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_seg"),
            F.sum(F.when(F.col("is_bp").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.expr(
                "array_join(transform(filter(array_sort(collect_list("
                "  struct(pos, case when is_bp is null then seg end as seg))),"
                "  x -> x.seg is not null), x -> x.seg), ' ')"
            ).alias("cleaned_text"),
        )
        .selectExpr(
            "doc_id",
            "n_seg",
            "n_kept",
            "round(cast(n_kept as double) / n_seg, 4) as keep_ratio",
            "cleaned_text",
        )
        .orderBy("doc_id")
    )

@register(
    "dedup_repeated_spans",
    oracle="""
WITH g AS (
  SELECT doc_id, i AS pos,
         md5(substr(lower(text), CAST(i AS INTEGER), 20)) AS h
  FROM documents, unnest(generate_series(1, length(text) - 19)) AS t(i)
  WHERE text IS NOT NULL AND length(text) >= 20
),
rep AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
marked AS (
  SELECT g.doc_id, g.pos,
         g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos)
           AS grp
  FROM g JOIN rep USING (h)
),
spans AS (
  SELECT doc_id,
         CAST(MIN(pos) AS BIGINT) AS span_start,
         CAST(MAX(pos) + 19 AS BIGINT) AS span_end,
         CAST(MAX(pos) + 19 - MIN(pos) + 1 AS BIGINT) AS span_len
  FROM marked GROUP BY doc_id, grp
)
SELECT doc_id, span_start, span_end, span_len
FROM spans WHERE span_len >= 50
ORDER BY doc_id, span_start
""",
)
def dedup_repeated_spans(spark, sf_dir):
    """Exact repeated-substring spans (the Lee et al., ACL'22
    "Deduplicating Training Data Makes Language Models Better" method, at
    k-gram resolution): mark every position whose 20-char gram occurs >= 2
    times ANYWHERE in the corpus (within- or cross-document), merge
    consecutive marked positions into maximal islands (the pos -
    row_number gaps-and-islands fold), and emit spans covering >= 50
    chars — the cut list for span-level removal.  The reference work
    builds a corpus suffix array; the k-gram anchor is the standard
    distributed approximation (finds every repeat >= k chars, start/end
    resolved to k-gram granularity) and needs only relational shapes.

    Scale: the gram explode repartitions the compact doc rows first (the
    winnow lesson — single small file, fan-out projection); the repeat
    table is a count >= 2 aggregation whose shuffle carries 8-byte
    hashes; the mark join is hash-keyed (AQE broadcast when the repeat
    set fits, skew-handled SMJ otherwise); islands are one window pass
    per doc.  At 100 TB de-anchor stride-s grams (s ~ k/2) to cut the
    explode volume 10× at k-char resolution loss.

    r17 (guide §2.3 narrower types): the gram hash ``h`` is ENGINE-
    INTERNAL — only span POSITIONS cross engines — so Spark now groups
    on ``xxhash64`` int64 ids while the oracle keeps md5, the exact
    discipline dedup_ngram_jaccard's r08 adjudication set ("only
    intersection SIZES cross engines").  The 27M-row cache + repeat
    shuffle carry 8 bytes instead of a 32-char hex string, and the 27M
    md5 computations go away: interleaved A/B at sf1.0 12.3-14.6 s →
    8.2-8.6 s, output verified row-identical (49 890 spans both forms;
    oracle HASH green at sf0.01/0.1).  Cross-engine divergence would
    need a 64-bit collision among the corpus's distinct grams that md5
    does not share.  Birthday bound: n²/2⁶⁵ for n distinct grams, ≈ 2e-5
    (order 1e-5) at sf1.0, taking its 27M gram rows as the upper bound on
    n — same accepted-risk class as the jaccard gram ids."""
    d = (
        load(spark, sf_dir, "documents")
        .filter("text is not null and length(text) >= 20")
        .repartition("doc_id")
    )
    # staged cache: g feeds both the repeat aggregation and the mark join —
    # uncached, the 27M-row explode+hash runs twice (sf1.0: 28.6 s -> 21.4 s)
    g = restage(spark, "dedup_repeated_spans", d.selectExpr(
        "doc_id",
        "explode(sequence(1, length(text) - 19)) as pos",
        "lower(text) as lt",
    ).selectExpr("doc_id", "pos", "xxhash64(substring(lt, pos, 20)) as h"))
    rep = g.groupBy("h").agg(F.count(F.lit(1)).alias("cnt")).where("cnt >= 2")
    marked = g.join(rep.select("h"), "h").selectExpr(
        "doc_id",
        "pos",
        "pos - row_number() over (partition by doc_id order by pos) as grp",
    )
    return (
        marked.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + 19).cast("bigint").alias("span_end"),
            (F.max("pos") + 19 - F.min("pos") + 1)
            .cast("bigint")
            .alias("span_len"),
        )
        .where("span_len >= 50")
        .select("doc_id", "span_start", "span_end", "span_len")
        .orderBy("doc_id", "span_start")
    )

@register(
    "dedup_spans_removal",
    oracle="""
WITH g AS (
  SELECT doc_id, i AS pos,
         md5(substr(lower(text), CAST(i AS INTEGER), 20)) AS h
  FROM documents, unnest(generate_series(1, length(text) - 19)) AS t(i)
  WHERE text IS NOT NULL AND length(text) >= 20
),
rep AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
marked AS (
  SELECT g.doc_id, g.pos,
         g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos)
           AS grp
  FROM g JOIN rep USING (h)
),
spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 19 AS e
  FROM marked GROUP BY doc_id, grp
  HAVING MAX(pos) + 19 - MIN(pos) + 1 >= 50
),
bounds AS (
  SELECT doc_id, s, e,
         COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS prev_e,
         row_number() OVER (PARTITION BY doc_id ORDER BY s) AS rn
  FROM spans
),
pieces AS (
  SELECT b.doc_id, b.rn,
         substr(lower(d.text), CAST(b.prev_e + 1 AS INTEGER),
                CAST(GREATEST(b.s - b.prev_e - 1, 0) AS INTEGER)) AS piece
  FROM bounds b JOIN documents d USING (doc_id)
  UNION ALL
  SELECT t.doc_id, t.rn,
         substr(lower(d.text), CAST(t.last_e + 1 AS INTEGER)) AS piece
  FROM (SELECT doc_id, MAX(e) AS last_e, MAX(rn) + 1 AS rn
        FROM bounds GROUP BY doc_id) t
  JOIN documents d USING (doc_id)
),
cleaned AS (
  SELECT doc_id, string_agg(piece, '' ORDER BY rn) AS ctext,
         CAST(COUNT(*) - 1 AS BIGINT) AS n_cut
  FROM pieces GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(c.n_cut, 0) AS n_cut_spans,
       COALESCE(c.ctext, lower(d.text)) AS cleaned_text,
       CAST(length(COALESCE(c.ctext, lower(d.text))) AS BIGINT)
         AS cleaned_len
FROM documents d LEFT JOIN cleaned c USING (doc_id)
WHERE d.text IS NOT NULL
ORDER BY d.doc_id
""",
)
def dedup_spans_removal(spark, sf_dir):
    """The REMOVAL stage of the Lee et al. exact-substring pipeline: apply
    ``dedup_repeated_spans``'s cut list to the corpus — excise every
    >=50-char repeated span from every document (the conservative
    all-copies policy; keep-first needs a global span ranking, a one-line
    change on the spans relation) and emit the cleaned text with audit
    counts.  Untouched documents pass through; fully-repeated documents
    come out empty (length filter downstream).  Gap extraction guards
    GREATEST(len, 0) in BOTH engines: adjacent islands can overlap in
    CHARS (k-1 smear) while being distinct at gram-position level.

    Scale: the span list re-derives (same shapes as dedup_repeated_spans
    — hashed repeat agg, hash-keyed mark join, one window per doc); the
    cut application is a per-doc window over the doc's OWN spans (tiny
    partitions) + one ordered collect per doc; the corpus text moves
    through exactly one join keyed on doc_id.  No driver-side state."""
    d = load(spark, sf_dir, "documents").filter("text is not null")
    return excise_repeated_spans(d).orderBy("doc_id")


def excise_repeated_spans(df, id_col: str = "doc_id", col: str = "text"):
    """DataFrame-level repeated-span excision (the ``dedup_spans_removal``
    body, reusable from the pipeline API): returns
    (id_col, n_cut_spans, cleaned_text, cleaned_len), unordered, one row
    per non-NULL-text input row."""
    d = df.select(id_col, F.lower(col).alias("lt")).cache()
    g = (
        d.filter("length(lt) >= 20")
        .repartition(id_col)
        .selectExpr(id_col, "explode(sequence(1, length(lt) - 19)) as pos", "lt")
        .selectExpr(id_col, "pos", "md5(substring(lt, pos, 20)) as h")
        .cache()
    )
    rep = g.groupBy("h").agg(F.count(F.lit(1)).alias("cnt")).where("cnt >= 2")
    spans = (
        g.join(rep.select("h"), "h")
        .selectExpr(
            id_col,
            "pos",
            f"pos - row_number() over (partition by {id_col} order by pos)"
            " as grp",
        )
        .groupBy(id_col, "grp")
        .agg(F.min("pos").alias("s"), (F.max("pos") + 19).alias("e"))
        .where("e - s + 1 >= 50")
    )
    w = Window.partitionBy(id_col).orderBy("s")
    bounds = spans.select(
        id_col,
        "s",
        "e",
        F.coalesce(F.lag("e").over(w), F.lit(0)).alias("prev_e"),
        F.row_number().over(w).alias("rn"),
    )
    gap_pieces = bounds.join(d, id_col).selectExpr(
        id_col,
        "rn",
        "substring(lt, cast(prev_e + 1 as int),"
        " cast(greatest(s - prev_e - 1, 0) as int)) as piece",
    )
    tail_pieces = (
        bounds.groupBy(id_col)
        .agg(F.max("e").alias("last_e"), (F.max("rn") + 1).alias("rn"))
        .join(d, id_col)
        .selectExpr(
            id_col, "rn", "substring(lt, cast(last_e + 1 as int)) as piece"
        )
    )
    cleaned = (
        gap_pieces.unionByName(tail_pieces)
        .groupBy(id_col)
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(rn, piece))), x -> x.piece), '')"
            ).alias("ctext"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_cut"),
        )
    )
    return d.join(cleaned, id_col, "left").selectExpr(
        id_col,
        "coalesce(n_cut, 0L) as n_cut_spans",
        "coalesce(ctext, lt) as cleaned_text",
        "cast(length(coalesce(ctext, lt)) as bigint) as cleaned_len",
    )


# exercises every normalization rule: scheme case, www + host case,
# default port, path trailing slash, tracking params, param order,
# fragments.
_RAW_URL_SPARK = """
concat(
  CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END,
  CASE WHEN doc_id % 3 = 0 THEN concat('WWW.', upper(source))
       ELSE source END,
  '.Example.COM',
  CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END,
  '/docs/', cast(doc_id % 12 as string),
  CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
  CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
       ELSE '?b=2&a=1' END,
  CASE WHEN doc_id % 7 = 0 THEN concat('#s', cast(doc_id as string))
       ELSE '' END
)
"""

_RAW_URL_DUCK = """
(CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END ||
 CASE WHEN doc_id % 3 = 0 THEN 'WWW.' || upper(source) ELSE source END ||
 '.Example.COM' ||
 CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END ||
 '/docs/' || CAST(doc_id % 12 AS VARCHAR) ||
 CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
 CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
      ELSE '?b=2&a=1' END ||
 CASE WHEN doc_id % 7 = 0 THEN '#s' || CAST(doc_id AS VARCHAR) ELSE '' END)
"""

#: Tracking params every crawl pipeline strips (Google/Facebook click ids,
#: UTM campaign tags, generic ref) — anchored at the param name.
_TRACKING_RE = "^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)="


def normalize_urls(d):
    """Apply the canonicalizer to any DataFrame carrying (doc_id,
    url_raw); returns (doc_id, url_raw, host, url_norm).

    Generic syntax-based normalization (works on any http(s) URL, not
    just the generator's): strip userinfo (``user:pw@`` — a trivial
    spelling that otherwise bypasses host-keyed blocklists; ADVICE r10),
    lowercase scheme+host, strip ``www.``, strip default ports (80/http,
    443/https) but KEEP non-default ports (incl. after ``[IPv6]``
    literals), strip fragment, drop tracking params, sort surviving
    params, strip trailing path slashes (root stays ``/``).  Fuzzed
    against a pure-Python reference over arbitrary component
    combinations — including userinfo and IPv6 hosts — in
    tests/test_url_fuzz.py."""
    return d.selectExpr(
        "doc_id",
        "url_raw",
        # fragment off first; every later regexp sees the defragged URL
        "regexp_replace(url_raw, '#.*$', '') as u",
    ).selectExpr(
        "doc_id",
        "url_raw",
        "lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) as scheme",
        # userinfo off before host/port extraction: 'http://x@host/' must
        # canonicalize to host, or a trivial spelling bypasses host-level
        # blocklists/dedup (ADVICE r10)
        "regexp_replace(regexp_extract(u, '://([^/?#]*)', 1), '^[^@]*@', '')"
        " as hostport",
        "regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) as path",
        "regexp_extract(u, '\\\\?([^#]*)', 1) as query",
    ).selectExpr(
        "doc_id",
        "url_raw",
        "scheme",
        "regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', '')), "
        "'^www\\\\.', '') as host",
        "regexp_extract(hostport, ':([0-9]+)$', 1) as portnum",
        "CASE WHEN path = '' THEN '/' "
        "     WHEN regexp_replace(path, '/+$', '') = '' THEN '/' "
        "     ELSE regexp_replace(path, '/+$', '') END as path_n",
        f"array_join(array_sort(filter(split(query, '&'), "
        f"p -> p != '' AND NOT p rlike '{_TRACKING_RE}')), '&') as kept",
    ).selectExpr(
        "doc_id",
        "url_raw",
        "host",
        "concat(scheme, '://', host, "
        "CASE WHEN portnum != '' AND NOT (scheme = 'http' AND portnum = '80') "
        "          AND NOT (scheme = 'https' AND portnum = '443') "
        "     THEN concat(':', portnum) ELSE '' END, "
        "path_n, "
        "CASE WHEN kept != '' THEN concat('?', kept) ELSE '' END) as url_norm",
    )


def _url_norm_df(spark, sf_dir):
    """doc_id, url_raw, url_norm, host over the documents-derived URLs —
    the deterministic generator feeding the registry keys."""
    return normalize_urls(
        load(spark, sf_dir, "documents").selectExpr(
            "doc_id", f"{_RAW_URL_SPARK} as url_raw"
        )
    )


_NORM_CTE_DUCK = f"""
raw AS (
  SELECT doc_id, {_RAW_URL_DUCK} AS url_raw FROM documents
),
defrag AS (
  SELECT doc_id, url_raw, regexp_replace(url_raw, '#.*$', '') AS u FROM raw
),
parts AS (
  SELECT doc_id, url_raw,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(regexp_extract(u, '://([^/?#]*)', 1),
                        '^[^@]*@', '') AS hostport,
         regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
           AS path,
         regexp_extract(u, '\\?([^#]*)', 1) AS query
  FROM defrag
),
cooked AS (
  SELECT doc_id, url_raw, scheme,
         regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', '')),
                        '^www\\.', '') AS host,
         regexp_extract(hostport, ':([0-9]+)$', 1) AS portnum,
         CASE WHEN path = '' THEN '/'
              WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
              ELSE regexp_replace(path, '/+$', '') END AS path_n,
         array_to_string(list_sort(list_filter(string_split(query, '&'),
           p -> p <> '' AND NOT regexp_matches(p, '{_TRACKING_RE}'))), '&')
           AS kept
  FROM parts
),
norm AS (
  SELECT doc_id, url_raw, host,
         scheme || '://' || host ||
         CASE WHEN portnum <> '' AND NOT (scheme = 'http' AND portnum = '80')
                   AND NOT (scheme = 'https' AND portnum = '443')
              THEN ':' || portnum ELSE '' END ||
         path_n ||
         CASE WHEN kept <> '' THEN '?' || kept ELSE '' END AS url_norm
  FROM cooked
)
"""


@register(
    "dedup_url_normalize",
    oracle=f"""
WITH {_NORM_CTE_DUCK}
SELECT doc_id, url_raw, host, url_norm FROM norm ORDER BY doc_id
""",
)
def dedup_url_normalize(spark, sf_dir):
    """URL canonicalization (RFC 3986 §6 syntax normalization + the
    crawl-pipeline tracking-param strip) — see ``_url_norm_df``.  Pure
    per-row column expressions: map-only, WholeStageCodegen, no
    shuffle."""
    return _url_norm_df(spark, sf_dir).select(
        "doc_id", "url_raw", "host", "url_norm"
    ).orderBy("doc_id")


@register(
    "dedup_url_host",
    oracle=f"""
WITH {_NORM_CTE_DUCK},
per_url AS (
  SELECT host, url_norm,
         CAST(COUNT(*) AS BIGINT) AS n_copies,
         MIN(doc_id) AS keep_doc
  FROM norm GROUP BY host, url_norm
)
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_unique_urls,
       CAST(SUM(n_copies) AS BIGINT) AS n_docs,
       CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_dup_docs_removed,
       MIN(keep_doc) AS first_kept_doc
FROM per_url GROUP BY host ORDER BY host
""",
)
def dedup_url_host(spark, sf_dir):
    """Host-level view of normalized-URL exact dedup: collapse each
    normalized URL to its min-doc_id representative, then report per
    host how many docs the URL dedup removed.  Two keyed aggregations —
    (host, url_norm) then host — shuffling group keys + counts only;
    #hosts << #urls, so the second agg is trivially small at any
    scale."""
    per_url = (
        _url_norm_df(spark, sf_dir)
        .groupBy("host", "url_norm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.min("doc_id").alias("keep_doc"),
        )
    )
    return (
        per_url.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_unique_urls"),
            F.sum("n_copies").cast("bigint").alias("n_docs"),
            (F.sum("n_copies") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("n_dup_docs_removed"),
            F.min("keep_doc").alias("first_kept_doc"),
        )
        .orderBy("host")
    )


@register(
    "url_filter_blocklist",
    oracle=f"""
WITH {_NORM_CTE_DUCK}
SELECT doc_id, host, url_norm FROM norm
WHERE host NOT IN ('src3.example.com', 'src7.example.com',
                   'src12.example.com')
  AND NOT regexp_matches(url_norm, '/docs/7($|[/?])')
ORDER BY doc_id
""",
)
def url_filter_blocklist(spark, sf_dir):
    """Crawl blocklist gate (the UT1/robots-denylist stage every crawl
    pipeline runs before content filters): drop documents whose
    NORMALIZED host is on the domain blocklist, or whose URL matches a
    blocked-path rule.  Hosts match post-normalization — ``WWW.SRC3...``
    and ``src3...:80`` cannot dodge the list.

    Scale: the blocklist is small by definition (UT1 ~3M hosts, a few
    tens of MB) → broadcast LEFT ANTI join, map-side; the path rule is a
    per-row regexp.  Zero shuffles beyond the presentation sort.  The
    demo list names three live hosts + one path rule so the gate is
    non-vacuous at every SF."""
    bl = spark.createDataFrame(
        [("src3.example.com",), ("src7.example.com",), ("src12.example.com",)],
        "host string",
    )
    return (
        _url_norm_df(spark, sf_dir)
        .join(F.broadcast(bl), "host", "left_anti")
        .filter(~F.col("url_norm").rlike("/docs/7($|[/?])"))
        .select("doc_id", "host", "url_norm")
        .orderBy("doc_id")
    )


_BATCH_MOD = 10
_BATCH_REM = 7

# The sf corpus carries no natural exact duplicates, so without help the
# exact/audit keys would hash-match with every branch but 'kept' firing on
# ZERO rows (the r05 vacuity lesson; the dedup_ladder_exact_stage replica
# pattern is reused here): both engines inject the SAME deterministic
# replicas — every doc_id % 50 = 0 document reappears in the BATCH
# (+1000007 keeps the new id ≡ 7 mod 10 → an index_hit) and every
# doc_id % 50 = 7 document reappears in the batch again (+1000010 → a
# batch_dup), so all three admission statuses are exercised and checked.
_AUG_SQL = """
aug AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000007, text, source FROM documents WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 1000010, text, source FROM documents WHERE doc_id % 50 = 7
)
"""


def _replica_plants(d):
    """The Spark twin of _AUG_SQL's replica branches over ``d``'s columns:
    every doc_id % 50 = 0 row again at +1000007, every % 50 = 7 row at
    +1000010.  The streaming admission sources stage these as their
    replica file."""
    def shifted(rem, by):
        planted = d.filter(F.col("doc_id") % 50 == rem)
        return planted.withColumn("doc_id", F.col("doc_id") + by)

    return shifted(0, 1000007).unionByName(shifted(7, 1000010))


def _augmented_documents(spark, sf_dir):
    """documents ∪ the deterministic replica plants (see _AUG_SQL)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return d.unionByName(_replica_plants(d))


def _hashed_documents(spark, sf_dir, *, augmented: bool, cache: bool = True):
    import os

    if os.environ.get("SPARK_GRAFT_CACHE") == "0":
        cache = False  # plan dumps need the file scans visible (io.load rule)
    if not cache:
        d = (
            _augmented_documents(spark, sf_dir)
            if augmented
            else load(spark, sf_dir, "documents").select("doc_id", "text", "source")
        )
        return d.withColumn("h", F.sha2("text", 256))
    # Cached hashed (augmented) relation: every admission builder consumes
    # batch/corpus from MULTIPLE subplans (group mins + joins), and Spark
    # recomputes the full union+sha2 lineage per consumer otherwise (the
    # SURVEY §7 cache-shared-subplans lesson).  One sf_dir is live at a
    # time; switching evicts the previous dir's entries (tests fuzz over
    # fresh tmp dirs — without eviction each example would leak a cached
    # relation into executor storage).
    memo = session_memo(spark, "hashed_documents")
    per = memo.get(sf_dir)
    if per is None:
        for old_dir in list(memo):
            for df in memo.pop(old_dir).values():
                try:
                    df.unpersist(blocking=False)
                except Exception:
                    pass  # the old relation's session may already be stopped
        per = memo[sf_dir] = {}
    if augmented not in per:
        # Spread before the hash+cache so every _split consumer's batch
        # write/scan is core-wide (wm staging 5.6-6.8 → ~2 s warm; all
        # consumers keyed/ordered, so layout is semantics-free).  The
        # cache=False path keeps the trivial scan-visible plan the
        # plan-pinning tests rely on.
        per[augmented] = spread_if_narrow(
            _hashed_documents(spark, sf_dir, augmented=augmented, cache=False)
        ).cache()
    return per[augmented]


def _split(spark, sf_dir, *, augmented: bool = True, cache: bool = True):
    """(batch, corpus) halves under the %10=7 arrival rule, each with the
    64-hex content hash attached (the only column the index-side plumbing
    ever shuffles).  ``augmented`` adds the replica plants (exact/audit
    keys); the minhash key splits the natural corpus — exact replicas are
    collapsed before LSH anyway, so planting them there would verify
    nothing.  ``cache=False`` bypasses the shared hashed-relation cache
    (dedup_index_persisted pins FileSourceScan Location lines, which an
    InMemoryTableScan would hide)."""
    h = _hashed_documents(spark, sf_dir, augmented=augmented, cache=cache)
    return (
        h.filter(F.col("doc_id") % _BATCH_MOD == _BATCH_REM),
        h.filter(F.col("doc_id") % _BATCH_MOD != _BATCH_REM),
    )


def _ledger(rows, idx, *by):
    """Every admission key's ledger: ``rows`` minus the hashes in ``idx``,
    collapsed per (``by``, hash) to (min doc_id, copy count).  Anti-join
    before group is the order a stream allows; it keeps the same rows as
    group-then-anti-join, as both key on ``h``."""
    return (
        rows.join(idx, "h", "left_anti")
        .groupBy(*by, F.col("h").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_batch_copies"),
        )
    )


def _admitted(batch, idx):
    """The admission survivor relation (doc_id, text_hash, copy count)."""
    return (
        _ledger(batch, idx)
        .select("doc_id", "text_hash", "n_batch_copies")
        .orderBy("doc_id")
    )


@register(
    "dedup_incremental_exact",
    oracle=f"""
WITH {_AUG_SQL},
batch AS (
  SELECT doc_id, sha256(text) AS h FROM aug
  WHERE doc_id % {_BATCH_MOD} = {_BATCH_REM}
),
idx AS (
  SELECT DISTINCT sha256(text) AS h FROM aug
  WHERE doc_id % {_BATCH_MOD} <> {_BATCH_REM}
),
grp AS (
  SELECT h, MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_batch_copies
  FROM batch GROUP BY h
)
SELECT g.doc_id, g.h AS text_hash, g.n_batch_copies
FROM grp g
WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.h = g.h)
ORDER BY g.doc_id
""",
)
def dedup_incremental_exact(spark, sf_dir):
    """Exact-dedup admission of an arriving batch against the standing
    corpus index: collapse the batch per content hash (keep min doc_id,
    count copies), then anti-join the CORPUS HASH INDEX — the batch
    never sees corpus text, and the join shuffles 64-byte hashes on both
    sides.  At 100 TB the index is a persisted hash-bucketed table of
    ~64 B/doc; admission cost scales with the BATCH, not the corpus.
    Both engines run over the replica-augmented corpus (_AUG_SQL) so the
    anti-join and the within-batch collapse each reject REAL rows — not
    the vacuous 0=0 a dup-free corpus would give."""
    batch, corpus = _split(spark, sf_dir)
    idx = corpus.select("h").distinct()
    return _admitted(batch, idx)


@register(
    "dedup_incremental_audit",
    oracle=f"""
WITH {_AUG_SQL},
batch AS (
  SELECT doc_id, source, sha256(text) AS h FROM aug
  WHERE doc_id % {_BATCH_MOD} = {_BATCH_REM}
),
idx AS (
  SELECT DISTINCT sha256(text) AS h FROM aug
  WHERE doc_id % {_BATCH_MOD} <> {_BATCH_REM}
),
grp AS (SELECT h, MIN(doc_id) AS keep_id FROM batch GROUP BY h),
cls AS (
  SELECT b.source,
         CASE WHEN i.h IS NOT NULL THEN 'index_hit'
              WHEN b.doc_id > g.keep_id THEN 'batch_dup'
              ELSE 'kept' END AS status
  FROM batch b
  JOIN grp g ON b.h = g.h
  LEFT JOIN idx i ON b.h = i.h
)
SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM cls GROUP BY source, status ORDER BY source, status
""",
)
def dedup_incremental_audit(spark, sf_dir):
    """The per-batch admission report: every arriving doc classified
    `index_hit` (hash already in the corpus index — precedence over the
    within-batch rule), `batch_dup` (a younger copy inside the batch),
    or `kept`, rolled up per source.  This is the audit artifact a
    continuous pipeline publishes with each ingested batch; `kept`
    counts equal ``dedup_incremental_exact``'s survivor count (pinned
    cross-op in tests).  Plan shape: two hash-key joins (batch⋈batch
    group mins, batch⋈index) plus a tiny (source × 3) rollup — nothing
    wider than the hash column moves."""
    batch, corpus = _split(spark, sf_dir)
    idx = corpus.select("h").distinct().withColumn("in_idx", F.lit(True))
    mins = batch.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    cls = (
        batch.join(mins, "h")
        .join(idx, "h", "left")
        .select(
            "source",
            F.when(F.col("in_idx"), "index_hit")
            .when(F.col("doc_id") > F.col("keep_id"), "batch_dup")
            .otherwise("kept")
            .alias("status"),
        )
    )
    return (
        cls.groupBy("source", "status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("source", "status")
    )


def incremental_minhash_hits(
    index_docs: DataFrame,
    batch_docs: DataFrame,
    *,
    num_hash_tables: int = 5,
    threshold: float = 0.2,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Near-dup hits of ``batch_docs`` against ``index_docs`` (both need
    (doc_id, text)) via the minhash_pairs pipeline (RegexTokenizer →
    NGram(shingle_n) → binary HashingTF → MinHashLSH), joined
    batch⋈index instead of self⋈self: candidate generation is LSH band
    buckets over the INDEX side, so admission cost scales with the batch
    and the bucket densities, never corpus².  Returns
    (batch_doc, index_doc, jaccard_dist ≤ threshold) sorted."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, RegexTokenizer

    tok = RegexTokenizer(inputCol="text", outputCol="words", pattern=r"\s+")
    ngram = NGram(n=shingle_n, inputCol="words", outputCol="shingles")
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )

    # the two staged feature relations feed lsh.fit and both join sides
    def stage(slot, docs):
        s = tf.transform(ngram.transform(tok.transform(docs)))
        return restage(
            docs.sparkSession, f"incremental_minhash_hits.{slot}",
            s.filter(F.size("shingles") >= 1),
        )

    idx_staged = stage("index", index_docs)
    batch_staged = stage("batch", batch_docs)

    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes",
        numHashTables=num_hash_tables, seed=seed,
    )
    model = lsh.fit(idx_staged)
    hits = model.approxSimilarityJoin(
        batch_staged, idx_staged, threshold, distCol="jaccard_dist"
    )
    return (
        hits.select(
            F.col("datasetA.doc_id").alias("batch_doc"),
            F.col("datasetB.doc_id").alias("index_doc"),
            F.round(F.col("jaccard_dist"), 6).alias("jaccard_dist"),
        )
        .orderBy("batch_doc", "index_doc")
    )


@register("dedup_incremental_minhash")  # rows-only: LSH bucketing is engine-specific
def dedup_incremental_minhash(spark, sf_dir):
    """Near-dup admission of the arriving batch against the corpus,
    ladder-style (SCALE.md §8: exact collapse BEFORE LSH, on both
    sides — replica floods otherwise saturate band buckets):

      1. corpus → exact-unique representatives (min doc_id per hash) —
         at 100 TB this is the PERSISTED signature index, maintained
         incrementally, not recomputed;
      2. batch → within-batch representatives, MINUS exact index hits
         (those are already decided by ``dedup_incremental_exact`` —
         LSH never re-litigates jaccard=0 pairs);
      3. MinHash-LSH join of the batch residue against the corpus
         representatives (default banding: 5 tables, distance ≤ 0.2).

    Output (batch_doc, index_doc, jaccard_dist): the admission decisions
    a near-dup policy consumes.  Recall is pinned against a hand-built
    cross-split near-dup corpus (tests/test_admission.py) — the sf corpus
    is not guaranteed to carry near-dups straddling the %10 split.
    Splits the NATURAL corpus (augmented=False): planted exact replicas
    would be collapsed before LSH anyway and verify nothing here."""
    batch, corpus = _split(spark, sf_dir, augmented=False)
    corpus_reps = (
        corpus.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
        .join(corpus.select("doc_id", "text"), "doc_id")
    )
    batch_residue = _ledger(batch, corpus.select("h").distinct()).join(
        batch.select("doc_id", "text"), "doc_id"
    )
    return incremental_minhash_hits(
        corpus_reps.select("doc_id", "text"),
        batch_residue.select("doc_id", "text"),
    )


# ---------------------------------------------------------------------------
# dedup_index_persisted — the persisted-index admission, plan-pinned
# ---------------------------------------------------------------------------


@register(
    "dedup_index_update_idempotent",
    oracle=f"""
WITH batch AS (
  SELECT doc_id, sha256(text) AS h FROM documents
  WHERE doc_id % {_BATCH_MOD} = {_BATCH_REM}
),
idx0 AS (
  SELECT DISTINCT sha256(text) AS h FROM documents
  WHERE doc_id % {_BATCH_MOD} <> {_BATCH_REM}
),
grp AS (SELECT h, MIN(doc_id) AS doc_id FROM batch GROUP BY h),
surv AS (
  SELECT g.h FROM grp g
  WHERE NOT EXISTS (SELECT 1 FROM idx0 i WHERE i.h = g.h)
),
idx1 AS (SELECT h FROM idx0 UNION SELECT h FROM surv),
readmit AS (
  SELECT g.h FROM grp g
  WHERE NOT EXISTS (SELECT 1 FROM idx1 i WHERE i.h = g.h)
)
SELECT phase, n FROM (
  SELECT 'admitted_first' AS phase, CAST(COUNT(*) AS BIGINT) AS n FROM surv
  UNION ALL
  SELECT 'admitted_after_update', CAST(COUNT(*) AS BIGINT) FROM readmit
  UNION ALL
  SELECT 'index_size_before', CAST(COUNT(*) AS BIGINT) FROM idx0
  UNION ALL
  SELECT 'index_size_after', CAST(COUNT(*) AS BIGINT) FROM idx1
) ORDER BY phase
""",
)
def dedup_index_update_idempotent(spark, sf_dir):
    """Index MAINTENANCE — the stage that closes the continuous-admission
    loop the §11c family demonstrates (build → admit → UPDATE → re-admit):
    after a batch's survivors are admitted, their hashes are APPENDED to
    the persisted index (new parquet files under the same path — O(batch)
    writes, the standing corpus index is never rewritten or rescanned),
    and re-admitting the SAME batch against the updated index must admit
    ZERO documents.  That idempotence is what makes the pipeline safe to
    re-run after a partial failure (at-least-once delivery upstream) —
    the same guarantee stream_restart_checkpoint pins for streaming
    state, here for the batch index.

    Output: the four-phase audit (admitted_first / admitted_after_update
    / index_size_before / index_size_after) — admitted_after_update is
    pinned 0 and index growth equals the first admission's survivor
    count.  At 100 TB every step is O(batch) plus one anti-join probe of
    the 64 B/doc index; compaction of the appended files is ordinary
    table maintenance."""
    from ..streaming.stream_ops import _fresh_dir

    batch, corpus = _split(spark, sf_dir, augmented=False, cache=False)
    idx_path = _fresh_dir("hashidx-upd")
    corpus.select("h").distinct().write.mode("overwrite").parquet(idx_path)

    # localCheckpoint: the survivor relation feeds both the count and the
    # append write, and the append targets the SAME path its plan reads —
    # materializing it evaluates the anti-join once and severs the
    # self-read-while-appending lineage (code-review r12) instead of
    # leaning on the read-time file-listing snapshot.
    surv = _ledger(batch, spark.read.parquet(idx_path)).localCheckpoint()
    n_before = spark.read.parquet(idx_path).count()
    n_first = surv.count()
    # the UPDATE: append only the survivors' hashes — new files, no rewrite
    surv.select(F.col("text_hash").alias("h")).write.mode("append").parquet(idx_path)

    idx1 = spark.read.parquet(idx_path)
    n_after = idx1.distinct().count()
    n_re = _ledger(batch, idx1).count()

    return spark.createDataFrame(
        [
            ("admitted_after_update", n_re),
            ("admitted_first", n_first),
            ("index_size_after", n_after),
            ("index_size_before", n_before),
        ],
        "phase string, n long",
    ).orderBy("phase")


@register(
    "dedup_index_persisted",
    oracle=f"""
WITH batch AS (
  SELECT doc_id, sha256(text) AS h FROM documents
  WHERE doc_id % {_BATCH_MOD} = {_BATCH_REM}
),
idx AS (
  SELECT DISTINCT sha256(text) AS h FROM documents
  WHERE doc_id % {_BATCH_MOD} <> {_BATCH_REM}
),
grp AS (
  SELECT h, MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_batch_copies
  FROM batch GROUP BY h
)
SELECT g.doc_id, g.h AS text_hash, g.n_batch_copies
FROM grp g
WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.h = g.h)
ORDER BY g.doc_id
""",
)
def dedup_index_persisted(spark, sf_dir):
    """The persisted-index admission: SCALE.md §11c's "the index is a
    persisted table" claim as a PINNED PLAN, not prose.  Stage 1 (index
    build/maintenance — amortized across every future batch) writes the
    corpus's distinct content hashes to parquet; stage 2 (admission)
    reads the BATCH slice of `documents` plus the index FILES — the
    admission query's executed plan contains exactly ONE scan of
    documents.parquet and one of the index path (pinned in
    tests/test_admission.py), i.e. corpus text is provably not rescanned
    per batch.  Natural split (no replica plants): the plants' union
    would add corpus-slice scans to the admission plan and break the
    very property this key pins; the rejection VALUES are verified by
    ``dedup_incremental_exact`` (planted + fuzzed) and by this key's
    planted-corpus engine test."""
    from ..streaming.stream_ops import _fresh_dir

    batch, corpus = _split(spark, sf_dir, augmented=False, cache=False)
    idx_path = _fresh_dir("hashidx")
    corpus.select("h").distinct().write.mode("overwrite").parquet(idx_path)

    idx = spark.read.parquet(idx_path)
    return _admitted(batch, idx)


# ---------------------------------------------------------------------------
# dedup_ladder — the measured production order (SCALE.md §8) as one operator


def _ladder_exact_stage(d):
    """Stage 1 of the ladder, shared with ``dedup_ladder_exact_stage``:
    collapse hash-identical documents to their min-doc_id representative.
    Returns (exact_pairs, representatives).  Shuffles constant-width
    sha256 keys, never documents."""
    hashed = d.select(
        "doc_id", "text", F.sha2("text", 256).alias("text_hash")
    )
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    ranked = hashed.withColumn("rn", F.row_number().over(w)).withColumn(
        "keep_id", F.min("doc_id").over(Window.partitionBy("text_hash"))
    )
    exact_pairs = (
        ranked.filter(F.col("rn") > 1)
        .select(
            F.col("keep_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.lit("exact").alias("kind"),
            F.lit(0.0).alias("jaccard_dist"),
        )
    )
    reps = ranked.filter(F.col("rn") == 1).select("doc_id", "text")
    return exact_pairs, reps


@register(
    "dedup_ladder_exact_stage",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 5 = 0
),
g AS (
  SELECT doc_id,
         MIN(doc_id) OVER (PARTITION BY text) AS keep_id,
         ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM corpus
)
SELECT keep_id AS doc_a, doc_id AS doc_b, 'exact' AS kind,
       CAST(0.0 AS DOUBLE) AS jaccard_dist
FROM g WHERE rn > 1 ORDER BY doc_a, doc_b
""",
)
def dedup_ladder_exact_stage(spark, sf_dir):
    """The ladder's exact pre-pass ALONE, as a DuckDB-oracled key
    (VERDICT r10 item 7: the flagship production-dedup composition was
    rows-only end-to-end; its stage-1 output — every non-representative
    mapped to its min-doc_id representative — is plain SQL, so the driver
    now hash-checks it cross-engine; the MinHash stage stays covered by
    the recall-vs-exact-twin tests).  The sf0.01 corpus carries no
    natural exact duplicates (the stage would hash-match vacuously on
    0 = 0), so both engines first add the SAME deterministic replicas —
    every doc_id % 5 = 0 document re-appears at doc_id + 1000000, the
    round-10 messy-URL-generator pattern — and the checked pairs are the
    (original, replica) mappings the ranking logic must produce.  The
    oracle groups on raw text equality, equivalent to the sha256-key
    grouping the engine uses (the hash exists so the 100 TB shuffle
    carries 64-byte keys, not documents)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    exact_pairs, _ = _ladder_exact_stage(corpus)
    return exact_pairs.orderBy("doc_a", "doc_b")


@register("dedup_ladder")  # rows-only: MinHash stage is engine-specific
def dedup_ladder(spark, sf_dir):
    """Production dedup order, composed: (1) exact-dup pre-pass collapses
    hash-identical documents to their min-doc_id representative, (2)
    MinHash-LSH near-dup detection (``minhash_pairs`` at its default
    banding, the dedup_near_minhash pipeline) runs ONLY on the unique
    representatives.
    SCALE.md §8 MEASURED this order at sf1.0: the pre-pass collapses 50k
    docs → 4992 uniques in 1.3 s and the identical MinHash pipeline then
    finishes in 8.3 s total, vs >45 s (budget timeout) without it — exact
    replicas flood LSH band buckets ~10× denser otherwise.

    Output: one row per duplicate relation — kind='exact' rows map every
    non-representative doc to its representative (doc_a = keep, doc_b =
    dup, doc_a < doc_b by min-id choice); kind='near' rows are LSH
    candidate pairs of REPRESENTATIVES with jaccard_dist ≤ 0.2.  Near-dup
    pairs between members of two exact groups are implied by transitivity
    through their representatives (the standard production contract —
    grouping happens downstream in dedup_cluster_cc).

    100 TB: stage 1 shuffles constant-width sha256 keys; stage 2 inherits
    dedup_near_minhash's band-bucket shape on the collapsed corpus."""
    from .llm_ops import minhash_pairs

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    exact_pairs, reps = _ladder_exact_stage(d)
    near_pairs = minhash_pairs(reps).select(
        "doc_a", "doc_b", F.lit("near").alias("kind"), "jaccard_dist"
    )
    return exact_pairs.unionByName(near_pairs).orderBy("kind", "doc_a", "doc_b")


# ---------------------------------------------------------------------------
# dedup_containment — asymmetric near-dup: quote/subset inclusion


@register(
    "dedup_containment",
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
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
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
SELECT doc_a, doc_b, contained_doc, containment FROM (
  SELECT i.doc_a, i.doc_b,
         CASE WHEN za.n_sh <= zb.n_sh THEN i.doc_a ELSE i.doc_b END
           AS contained_doc,
         ROUND(CAST(i.n_common AS DOUBLE)
               / least(za.n_sh, zb.n_sh), 6) AS containment
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
) WHERE containment >= 0.8
ORDER BY doc_a, doc_b
""",
)
def dedup_containment(spark, sf_dir):
    """Asymmetric containment dedup over 3-word-shingle sets:
    |A∩B| / min(|A|,|B|) ≥ 0.8 — the quote/subset-inclusion detector
    symmetric Jaccard structurally misses (a 50-shingle quote fully
    embedded in a 500-shingle doc scores Jaccard 0.1 but containment 1.0;
    Broder's original resemblance/containment pair).  SHINGLE sets, not
    word sets, deliberately: this corpus's 31-word vocabulary makes
    word-set containment vacuous (any long doc contains every word — and
    conversely the registered rare-WORD blocking of dedup_near_exactjacc
    finds zero candidates here because every word's df > 20, measured);
    the ~16k distinct shingles discriminate.  Candidates come from
    rare-shingle blocking (2 ≤ df ≤ 5 caps a block at 5 docs / 10 pairs),
    bounding the pair space at any corpus size.  Reports which side is
    the contained (smaller-set) document.

    100 TB: one shingle explode, df-bounded candidate join,
    count-intersection aggregation — dedup_near_exactjacc's shuffle shape
    with the discriminative token granularity."""
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
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
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
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    containment = F.col("n_common").cast("double") / F.least("na", "nb")
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .withColumn("containment", F.round(containment, 6))
        .filter(F.col("containment") >= 0.8)
        .select(
            "doc_a",
            "doc_b",
            F.when(F.col("na") <= F.col("nb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
            "containment",
        )
        .orderBy("doc_a", "doc_b")
    )
