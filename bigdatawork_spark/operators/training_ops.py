"""Training-data pipeline operators: benchmark-contamination screening,
context-window sequence packing, inverted-index build, and
temperature-balanced mixture resampling.  REF:∅ (reference snapshot empty —
SURVEY.md §0); extends the curation family (curation.py) with the
pretraining-corpus operations a 100 TB text pipeline runs between dedup and
tokenization.

Scale notes: contamination is a broadcast semi-join of training-doc shingles
against the (small) benchmark shingle set; packing windows PARTITION BY
source so no global ordering bottleneck exists; the inverted index shuffles
once on token; mixture resampling derives per-source keep rates from a
broadcast 1-row-per-source aggregate and filters by content hash — the same
engine/layout-independent discipline as sample_hash_deterministic.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..session import restage, spread_if_narrow
from .curation import split_label_sql, word_grams


@register(
    "contamination_ngram",
    oracle="""
WITH words AS (
  SELECT doc_id, str_split(text, ' ') AS ws FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(ws) - 4),
           i -> array_to_string(ws[i:i+4], ' ')))) AS g
  FROM words WHERE len(ws) >= 5
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
train AS (SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0)
SELECT train.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated_grams
FROM train JOIN bench ON train.g = bench.g
GROUP BY train.doc_id
ORDER BY train.doc_id
""",
)
def contamination_ngram(spark, sf_dir):
    """Benchmark-contamination screen: flag training documents sharing any
    word 5-gram with a held-out benchmark set (proxied as doc_id % 97 = 0)
    and count the distinct overlapping shingles per document.  The
    benchmark shingle set is DISTINCT and small, so the overlap join
    broadcasts it against the exploded training shingles — no shuffle of
    the big side.  At 100 TB this is exactly the decontamination pass run
    against eval suites before pretraining (shingles of the benchmark fit
    in memory by construction)."""
    d = load(spark, sf_dir, "documents")
    # `grams` feeds BOTH the bench and train branches: spread the compact
    # word arrays before the shingle explodes, 5.1-6.0 s → 2.2-2.5 s at
    # sf1.0 (counts are keyed, fold-order-free).
    words = spread_if_narrow(d.select("doc_id", F.split("text", " ").alias("ws")))
    grams = words.select(
        "doc_id", F.explode(F.array_distinct(word_grams("ws", 5))).alias("g")
    )
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    train = grams.filter(F.col("doc_id") % 97 != 0)
    return (
        train.join(F.broadcast(bench), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
        .orderBy("doc_id")
    )


@register(
    "pack_sequences",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, len(str_split(text, ' ')) AS n_tok
  FROM documents
),
packed AS (
  SELECT source, doc_id, n_tok,
         CAST(FLOOR(CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS DOUBLE)
                    / 512.0) AS BIGINT) AS bin_id
  FROM toks
)
SELECT source, bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM packed
GROUP BY source, bin_id
ORDER BY source, bin_id
""",
)
def pack_sequences(spark, sf_dir):
    """Context-window sequence packing: assign documents to 512-token
    training windows by running token count, packing within each source
    shard in doc_id order (bin = floor(preceding-tokens / 512) — the
    streaming-concatenation layout).  PARTITION BY source keeps the
    running sum shard-local, so at 100 TB each shard packs independently
    — no global sort, no single-partition window.  Counts are
    integer-exact."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "bin_id",
        F.floor(
            (F.sum("n_tok").over(w) - F.col("n_tok")).cast("double") / F.lit(512.0)
        ),
    )
    return (
        packed.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .orderBy("source", "bin_id")
    )


@register(
    "inverted_index",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS token
  FROM documents WHERE doc_id < 300
)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS doc_freq,
       array_to_string(list_sort(list(doc_id)), ',') AS postings
FROM tok
WHERE length(token) >= 4
GROUP BY token
ORDER BY token
""",
)
def inverted_index(spark, sf_dir):
    """Inverted-index build: token → document frequency + sorted posting
    list (distinct tokens per doc; tokens ≥ 4 chars; doc_id < 300 slice).
    One shuffle on token; posting lists sort inside the aggregation
    (sort_array over collect_list — both engines emit ascending arrays),
    then comma-join to a string so the driver canonicalizer (which cannot
    hash array cells) compares them as scalars.
    At 100 TB postings for frequent tokens are the skew risk — production
    shards them into (token, bucket) segment files; doc_freq here is the
    statistic that drives that split."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    ).filter(F.length("token") >= 4)
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.concat_ws(
                ",", F.sort_array(F.collect_list("doc_id")).cast("array<string>")
            ).alias("postings"),
        )
        .orderBy("token")
    )




def mixture_hex_thresh(rate_col):
    """32-bit content-hash keep threshold for a keep-rate in (0, 1] —
    shared by mixture_resample and CurationPipeline.mixture_temperature
    so the policy lives in ONE place.  A full keep-rate maps to 'g'
    (lexicographically after every hex digit, so `md5 prefix < 'g'` keeps
    every row): floor(1.0·2³²) = 2³² whose 9-char hex lpad(…, 8) silently
    TRUNCATED to '10000000', keeping only ~6% of the smallest source
    (r05 review bug, previously mirrored in the oracle)."""
    return F.when(rate_col >= 1.0, F.lit("g")).otherwise(
        F.lower(F.lpad(F.hex(F.floor(rate_col * F.lit(4294967296.0))), 8, "0"))
    )


@register(
    "mixture_resample",
    oracle="""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source
),
rates AS (
  SELECT source, n,
         sqrt(CAST((SELECT MIN(n) FROM counts) AS DOUBLE) / CAST(n AS DOUBLE))
           AS keep_rate
  FROM counts
),
thresh AS (
  SELECT source, n, keep_rate,
         CASE WHEN keep_rate >= 1.0 THEN 'g'
              ELSE lower(lpad(to_hex(CAST(FLOOR(keep_rate * 4294967296.0)
                                          AS BIGINT)), 8, '0')) END
           AS hex_thresh
  FROM rates
)
SELECT t.source,
       t.n AS n_before,
       CAST(COUNT(*) AS BIGINT) AS n_after,
       ROUND(t.keep_rate, 6) AS keep_rate
FROM documents d
JOIN thresh t ON d.source = t.source
WHERE substr(md5(d.text), 1, 8) < t.hex_thresh
GROUP BY t.source, t.n, t.keep_rate
ORDER BY t.source
""",
)
def mixture_resample(spark, sf_dir):
    """Temperature-balanced mixture resampling: downsample each source
    toward the smallest one with keep-rate sqrt(min_count / count) — the
    alpha=0.5 temperature reweighting used to flatten pretraining source
    mixtures.  The rate maps to a 32-bit hex threshold and rows are kept
    when their content-hash prefix falls below it, so the kept set is a
    pure function of content and rates — identical across engines,
    partitionings, and reruns on appended data (old rows never resample).
    Per-source rates come from a broadcast aggregate; the filter is
    narrow, no shuffle of the fact side before the final count."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    min_n = counts.agg(F.min("n").alias("min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        "source",
        "n",
        F.sqrt(F.col("min_n").cast("double") / F.col("n").cast("double")).alias(
            "keep_rate"
        ),
    )
    thresh = rates.withColumn(
        "hex_thresh", mixture_hex_thresh(F.col("keep_rate"))
    )
    return (
        d.join(F.broadcast(thresh), "source")
        .filter(F.substring(F.md5("text"), 1, 8) < F.col("hex_thresh"))
        .groupBy("source", "n", "keep_rate")
        .agg(F.count(F.lit(1)).alias("n_after"))
        .select(
            "source",
            F.col("n").alias("n_before"),
            "n_after",
            F.round("keep_rate", 6).alias("keep_rate"),
        )
        .orderBy("source")
    )


@register(
    "decontaminate_exact",
    oracle="""
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN text IS NULL THEN NULL
              ELSE md5(COALESCE(array_to_string(list_sort(list_distinct(
                  list_filter(string_split(lower(text), ' '), w -> w <> ''))),
                  ' '), '')) END AS fp,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333'
                THEN 'val' ELSE 'test' END AS split
  FROM documents
),
bench AS (SELECT DISTINCT fp FROM d WHERE split IN ('val', 'test'))
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(SUM(CASE WHEN fp IN (SELECT fp FROM bench) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       CAST(SUM(CASE WHEN fp IN (SELECT fp FROM bench) THEN 0 ELSE 1 END)
            AS BIGINT) AS n_clean
FROM d WHERE split = 'train'
GROUP BY source ORDER BY source
""",
)
def decontaminate_exact(spark, sf_dir):
    """Benchmark DECONTAMINATION by exact content identity — the gate
    every pretraining pipeline runs before training: any train-split
    document whose order-normalized content fingerprint (sorted distinct
    word set, the doc_fingerprint policy) also appears in the held-out
    val/test splits is flagged and dropped, because training on an eval
    document's content invalidates the eval.  Fingerprints rather than
    raw text so reordered/shuffled variants of a benchmark document are
    caught too; contamination_ngram is the partial-overlap sibling
    (13-gram collisions), this is the exact-identity tier of the same
    ladder.  NON-VACUOUS on this corpus: 30 / 29 / 668 contaminated
    train docs at sf0.001 / 0.01 / 0.1 (measured round 7).

    Plan: fingerprint + split label are map-only expressions; the
    benchmark fingerprint set (5-10% of the corpus, hash-sized rows)
    builds with one vocabulary-class aggregate and the membership test is
    a left-semi/anti join on the fingerprint — at 100 TB the benchmark
    side is the broadcast side (eval sets are small by construction), so
    the scan stays single-pass with no wide shuffle."""
    d = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "source",
        "md5(array_join(array_sort(array_distinct("
        "filter(split(lower(text), ' '), w -> w != ''))), ' ')) as fp",
        f"{split_label_sql('doc_id')} as split",
    )
    bench = (
        d.filter(F.col("split").isin("val", "test")).select("fp").distinct()
    )
    train = d.filter("split = 'train'")
    return _contamination_report(
        train.join(F.broadcast(bench.withColumn("__hit", F.lit(1))), "fp", "left")
    )


def _contamination_report(flagged):
    """Per-source ``n_train``, ``n_contaminated`` and ``n_clean`` of the
    train rows ``flagged``, whose ``__hit`` column a left join against the
    benchmark set non-NULL on contaminated rows — the report both
    decontamination keys return."""
    hit = F.col("__hit").isNotNull()
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("n_contaminated"),
            F.sum(F.when(hit, 0).otherwise(1)).cast("bigint").alias("n_clean"),
        )
        .orderBy("source")
    )


@register(
    "pack_bins_greedy",
    oracle="""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
              AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens
           AS tokens_before
  FROM t
),
b AS (
  SELECT source, tokens_before // 2048 AS bin, n_tokens FROM c
)
SELECT source, CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / 2048, 6) AS fill_ratio
FROM b GROUP BY source, bin ORDER BY source, bin
""",
)
def pack_bins_greedy(spark, sf_dir):
    """Sequential greedy BIN PACKING of documents into fixed token
    budgets (2048) per source shard — the document-level packing plan a
    training dataloader consumes (pack_sequences is the window-chunking
    sibling that splits INSIDE documents; this one assigns WHOLE
    documents to training bins in arrival order, the sample-packing
    layout).  A document's bin is determined by the tokens accumulated
    BEFORE it (running sum frame minus self), so assignment is a pure
    function of (source, doc_id order) — append-stable and deterministic
    in both engines.  fill_ratio > 1 marks straddling bins (a document
    crossing the boundary belongs to the bin it started in — the
    padding-vs-splitting decision is the dataloader's, this op gives it
    the ledger).

    Plan: one shuffle on source, a single sorted pass per partition for
    the running sum, then a map-side-combinable (source, bin) aggregate.
    At 100 TB the partition key is (source, shard) so no single source
    serializes into one task — same discipline as sort_range_partitioned."""
    d = load(spark, sf_dir, "documents")
    t = d.selectExpr(
        "doc_id",
        "source",
        "cast(size(filter(split(text, ' '), w -> w != '')) as bigint)"
        " as n_tokens",
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn(
        "tokens_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        c.withColumn("bin", F.floor(F.col("tokens_before") / 2048))
        .groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(F.sum("n_tokens").cast("double") / 2048, 6).alias(
                "fill_ratio"
            ),
        )
        .orderBy("source", "bin")
    )


@register(
    "mixture_epoch_plan",
    oracle="""
WITH counts AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split(text, ' '), w -> w <> '')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
wsum AS (
  SELECT CAST(SUM(CAST(pow(n_tokens, 0.5) AS DECIMAL(28,12))) AS DOUBLE)
           AS z
  FROM counts
)
SELECT source, n_docs, n_tokens,
       ROUND(pow(n_tokens, 0.5) / z, 6) AS mix_weight,
       CAST(floor(pow(n_tokens, 0.5) / z * 1000000) AS BIGINT)
         AS alloc_tokens,
       ROUND(pow(n_tokens, 0.5) / z * 1000000 / n_tokens, 6) AS epochs
FROM counts CROSS JOIN wsum
ORDER BY source
""",
)
def mixture_epoch_plan(spark, sf_dir):
    """Temperature-weighted training MIXTURE PLAN (α = 0.5): per source,
    the sampling weight n_tokens^α / Σ n_tokens^α, the token allocation
    out of a 1M-token budget, and the implied epoch count (allocation /
    source size — epochs > 1 means the source repeats, the standard
    up-sampling of small high-quality sources; mixture_resample is the
    row-level DOWN-sampling twin that enforces such a plan by content
    hash).  Deterministic: the weight denominator sums per-source
    pow(n,0.5) terms cast to DECIMAL(28,12) first, so the fold is
    order-independent and both engines agree bitwise.

    Plan: one map-side-combined per-source aggregate (sources-sized
    output), a 1-row broadcast denominator fold, map-only scoring — this
    is a planning op: its output is the config a dataloader or
    mixture_resample consumes, at any corpus scale."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.expr("size(filter(split(text, ' '), w -> w != ''))")
        )
        .cast("bigint")
        .alias("n_tokens"),
    )
    z = counts.agg(
        F.sum(F.pow("n_tokens", 0.5).cast("decimal(28,12)"))
        .cast("double")
        .alias("z")
    )
    wgt = F.pow("n_tokens", 0.5) / F.col("z")
    return (
        counts.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(wgt, 6).alias("mix_weight"),
            F.floor(wgt * 1000000).cast("bigint").alias("alloc_tokens"),
            F.round(wgt * 1000000 / F.col("n_tokens"), 6).alias("epochs"),
        )
        .orderBy("source")
    )


@register(
    "decontaminate_ngram",
    oracle=f"""
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws,
         {split_label_sql("doc_id")} AS split
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, split,
         ('0x' || substr(md5(unnest(list_transform(
             generate_series(1, len(ws) - 7),
             i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)],
                                  ' ')))), 1, 15))::BIGINT AS gh
  FROM w WHERE len(ws) >= 8
),
bench AS (SELECT DISTINCT gh FROM g WHERE split IN ('val', 'test')),
hit AS (
  SELECT DISTINCT doc_id FROM g
  WHERE split = 'train' AND gh IN (SELECT gh FROM bench)
)
SELECT w.source,
       CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(SUM(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       CAST(SUM(CASE WHEN hit.doc_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clean
FROM w LEFT JOIN hit ON w.doc_id = hit.doc_id
WHERE w.split = 'train'
GROUP BY w.source ORDER BY w.source
""",
)
def decontaminate_ngram(spark, sf_dir):
    """N-gram-overlap benchmark decontamination (the GPT-3 appendix-C /
    PaLM method, at word-8-gram resolution for this corpus's short
    docs): a train document is contaminated if it shares ANY 8-word gram
    with any val/test document — catching partial/embedded benchmark
    leakage that ``decontaminate_exact``'s whole-document fingerprint
    misses.  Same deterministic 90/5/5 content-hash split as the exact
    key, so the two reports compose.

    Scale: compact doc rows repartition BEFORE the gram explode (the r08
    winnow lesson); grams shuffle as 60-bit md5-prefix integers (both
    engines draw identical values — repo hash-mirror pattern), never as
    strings; the bench gram set is distinct-folded val+test grams (5-10%
    of the corpus) and meets the train grams in ONE semi join; the final
    fold is a per-source count.  At 100 TB the gram table dominates —
    de-anchor to stride-4 grams on the TRAIN side only (bench side stays
    exhaustive; any shared gram still overlaps a stride anchor within 4
    positions) to cut the explode 4x."""
    return ngram_contamination(
        load(spark, sf_dir, "documents")
        .filter("text is not null")
        .repartition("doc_id")
    )


def ngram_contamination(docs, n: int = 8):
    """The column-level body of ``decontaminate_ngram``: ``docs`` needs
    (doc_id, source, text); ``n`` is the gram width.  Split assignment,
    gram explode, bench distinct-fold, one semi join, per-source fold —
    fuzzed against a pure-Python reference in tests/test_url_fuzz.py."""
    w = docs.selectExpr(
        "doc_id",
        "source",
        "filter(split(lower(text), ' '), x -> x != '') as ws",
        f"{split_label_sql('doc_id')} as split",
    )
    gh = F.transform(
        word_grams("ws", n),
        lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint"),
    )
    g = w.select("doc_id", "split", F.explode(gh).alias("gh"))
    bench = g.filter("split in ('val', 'test')").select("gh").distinct()
    hit = (
        g.filter("split = 'train'")
        .join(bench, "gh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return _contamination_report(
        w.filter("split = 'train'").join(
            hit.withColumn("__hit", F.lit(1)), "doc_id", "left"
        )
    )


# ---------------------------------------------------------------------------
# global_row_index
# ---------------------------------------------------------------------------

_ROWIDX_PARTITIONS = 16


@register(
    "global_row_index",
    oracle="""
WITH idx AS (
  SELECT l_orderkey, l_linenumber,
         CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1
              AS BIGINT) AS global_idx
  FROM lineitem
)
SELECT global_idx, l_orderkey, l_linenumber
FROM idx WHERE global_idx % 97 = 0 ORDER BY global_idx
""",
)
def global_row_index(spark, sf_dir):
    """Scalable global row numbering (the DataFrame zipWithIndex).

    ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY forces a
    single-partition Window — one task sorts and numbers 100 TB.  The
    scalable plan, built here:

      1. Range boundaries from ``approxQuantile``, embedded as LITERALS;
         each row's range id (pid) is a deterministic map-side expression
         over them (count of boundaries exceeded) — re-executing the plan
         reproduces identical placement, unlike ``repartitionByRange``'s
         per-execution boundary sampling (ADVICE r11).
      2. One tiny counting aggregate: rows per range id (≤ #ranges rows
         ever reach the driver — bounded by cluster layout, not data).
      3. Running-sum offsets broadcast back as a two-column dim; local
         ``row_number`` partitioned BY RANGE ID (every pid group is
         independent → fully parallel, one hash shuffle — the unavoidable
         cost of a total order) + offset = exact global index.

    Boundary placement is sampled and arbitrary, but the final index is
    invariant to it: ranges are disjoint and the sort key (l_orderkey,
    l_linenumber) is unique.  Output is thinned to every 97th index so
    the driver compare stays compact while still covering the whole
    table's numbering."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")

    # Deterministic range placement (ADVICE r11): the partition id is a
    # map-side expression over LITERAL boundaries collected once here, so
    # any re-execution of the returned plan reproduces the exact same
    # placement — correctness no longer depends on a cached relation
    # pinning repartitionByRange's sampled boundaries.  approxQuantile's
    # sampling only affects WHERE the ranges split, never the final index
    # (ranges stay disjoint; the sort key is unique).
    qs = [i / _ROWIDX_PARTITIONS for i in range(1, _ROWIDX_PARTITIONS)]
    # dedupe AFTER the int cast the pid expression applies (ADVICE r12):
    # two distinct float quantiles like 5.2 and 5.9 both truncate to
    # '> 5', and float-level dedup kept both as redundant WHEN branches
    # (result unchanged — pid gaps are absorbed by the counts pass — but
    # the expression carried dead branches)
    bounds = sorted({int(b) for b in li.stat.approxQuantile("l_orderkey", qs, 0.01)})
    # F.lit(0) start value: on an empty/tiny relation approxQuantile
    # returns no boundaries and a bare sum() would be the int 0
    pid_expr = sum(
        (
            F.when(F.col("l_orderkey") > F.lit(b), 1).otherwise(0)
            for b in bounds
        ),
        F.lit(0),
    ).alias("pid")
    rng = li.select("l_orderkey", "l_linenumber", pid_expr)

    # Cache is a pure optimisation (two consumers: counts + final
    # projection) — an eviction-forced recompute yields identical pids.
    rng = restage(spark, "global_row_index", rng)

    counts = rng.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).orderBy("pid")
    offsets, acc = [], 0
    for r in counts.collect():  # ≤ len(bounds)+1 rows — bounded
        offsets.append((r["pid"], acc))
        acc += r["cnt"]
    off = spark.createDataFrame(offsets, "pid int, offset long")

    w = Window.partitionBy("pid").orderBy("l_orderkey", "l_linenumber")
    idx = rng.join(F.broadcast(off), "pid").withColumn(
        "global_idx",
        (F.col("offset") + F.row_number().over(w) - F.lit(1)).cast("bigint"),
    )
    return (
        idx.filter(F.col("global_idx") % 97 == 0)
        .select("global_idx", "l_orderkey", "l_linenumber")
        .orderBy("global_idx")
    )


# ---------------------------------------------------------------------------
# kfold_stratified
# ---------------------------------------------------------------------------

_KFOLD_K = 5


@register(
    "kfold_stratified",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
  FROM documents WHERE text IS NOT NULL
),
assigned AS (
  SELECT lang, CAST((rk - 1) % {_KFOLD_K} AS INTEGER) AS fold, n_chars
  FROM ranked
)
SELECT lang, fold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM assigned GROUP BY lang, fold ORDER BY lang, fold
""",
)
def kfold_stratified(spark, sf_dir):
    """Deterministic stratified k-fold assignment (k=5): within each
    language stratum, docs are ordered by content hash (md5 — engine-
    and partitioning-independent, the sample_hash_deterministic rule)
    and dealt round-robin, so every stratum's folds are balanced to
    within one document — the property random splitting only gives in
    expectation.

    Scale shape: the per-stratum window parallelizes across strata; for
    a corpus whose language skew makes single strata exceed one task,
    production swaps the dealer to ``pmod(xxhash64(text), k)`` (pure
    map-side, no window — balance within sqrt(n) noise; the engine-side
    test pins that variant's balance), keeping this exact-balance form
    for bounded strata.  Output is the per-(stratum, fold) audit the
    split publisher ships alongside the assignment.

    NULL text is filtered on BOTH engines before ranking (ADVICE r11:
    Spark windows default NULLS FIRST, DuckDB NULLS LAST — one NULL doc
    would shift every row_number in its stratum and silently break the
    cross-engine match)."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    assigned = d.select(
        "lang",
        "n_chars",
        ((F.row_number().over(w) - 1) % _KFOLD_K).cast("int").alias("fold"),
    )
    return (
        assigned.groupBy("lang", "fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang", "fold")
    )


def kfold_hash_assign(spark, sf_dir, k: int = _KFOLD_K):
    """Map-only hash dealer (the skew-immune 100 TB path): fold =
    pmod(xxhash64(text), k).  Not registered (xxhash64 has no DuckDB
    twin) — the engine-side test pins its per-stratum balance against
    the exact round-robin form above."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "lang",
        F.pmod(F.xxhash64("text"), F.lit(k)).cast("int").alias("fold"),
    ).groupBy("lang", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# stream_restart_checkpoint


# ---------------------------------------------------------------------------
# embedding_pca_gram — distributed Gramian + driver eigensolve


@register("embedding_pca_gram")  # rows-only: eigensolve not SQL-expressible
def embedding_pca_gram(spark, sf_dir):
    """Top principal component of the (mean-centered) embedding cloud via
    the two-step every distributed PCA uses below ~10³ dims — the exact
    layout of Spark MLlib RowMatrix.computePrincipalComponents: (1) one
    distributed pass accumulates the d×d Gramian and the d-vector mean as
    CONSTANT-SIZE per-task state (mapInPandas partial sums → driver
    reduce — d=64 here, 32 KB per task; same state discipline as
    kmeans_iterative), (2) the driver eigensolves the tiny covariance
    matrix (LAPACK ``eigh``, deterministic; sign-canonicalized so
    component[argmax|c|] > 0 — power iteration was measured too slow to
    converge on this cloud's tight λ₂/λ₁ ≈ 0.96 spectrum, leaving ~1e-2
    projection residuals after 100 rounds), then (3) a second distributed
    pass projects every embedding onto the component.  The d×d collapse
    is why this scales: 100 TB of rows stream through step 1 once,
    nothing driver-side ever depends on row count.

    Output: per-vector PC1 projection + the shared explained-variance
    ratio, the inputs embedding-space curation (SemDeDup-style clustering,
    stratified-by-projection sampling) starts from.

    STAYS rows-only — individually adjudicated r16 (VERDICT r15 item 5):
    the output depends on the eigensolve, and the one SQL-expressible
    route to an eigenvector (unrolled power iteration) was MEASURED and
    rejected — this cloud's λ₂/λ₁ ≈ 0.96 spectrum leaves ~1e-2 projection
    residuals after 100 unrolled rounds, far outside the 1e-6 output
    rounding, and a boundary-rounding oracle would be flakier than no
    oracle.  Compensating evidence instead: (a) tests re-derive the
    projections and variance ratio with an independent numpy eigensolve
    over the raw parquet (test_staged_r06), and (b) the distributed
    Gramian/mean accumulation — the only part a 1000-executor cluster
    actually distributes — is cross-checked entry-by-entry against a
    DuckDB SQL covariance computed from the same parquet
    (test_rows_only_equivalence::test_pca_gram_covariance_matches_duckdb
    _sql, r16), so the SQL-expressible stage IS SQL-checked, per the
    partial-oracle pattern."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    part_schema = "n bigint, s binary, g binary"

    def partial(batches):
        n, s, g = 0, None, None
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            n += M.shape[0]
            s = M.sum(axis=0) if s is None else s + M.sum(axis=0)
            g = M.T @ M if g is None else g + M.T @ M
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tobytes()], "g": [g.tobytes()]}
            )

    parts = e.mapInPandas(partial, part_schema).collect()  # ≤ #tasks rows
    if not parts:
        return spark.createDataFrame(
            [], "vec_id bigint, pc1 double, explained_var_ratio double"
        )
    d = len(np.frombuffer(parts[0]["s"]))
    n_tot = sum(r["n"] for r in parts)
    s_tot = sum(np.frombuffer(r["s"]) for r in parts)
    g_tot = sum(np.frombuffer(r["g"]).reshape(d, d) for r in parts)
    mean = s_tot / n_tot
    cov = g_tot / n_tot - np.outer(mean, mean)

    w, V = np.linalg.eigh(cov)
    v = V[:, -1]
    if v[np.argmax(np.abs(v))] < 0:  # canonical sign
        v = -v
    lam = float(w[-1])
    ratio = lam / float(np.trace(cov)) if np.trace(cov) > 0 else 0.0

    comp = [float(x) for x in v]
    mean_l = [float(x) for x in mean]
    # three-array zip isn't a builtin: fold over the index instead (the
    # mean and component arrays are constant literals, element_at is O(1))
    return (
        e.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("ev"),
        )
        .withColumn("c", F.array(*[F.lit(x) for x in comp]))
        .withColumn("m", F.array(*[F.lit(x) for x in mean_l]))
        .select(
            "vec_id",
            F.round(
                F.expr(
                    "aggregate(transform(sequence(1, size(ev)),"
                    " i -> (element_at(ev, i) - element_at(m, i))"
                    " * element_at(c, i)),"
                    " cast(0.0 as double), (a, x) -> a + x)"
                ),
                6,
            ).alias("pc1"),
            F.lit(round(ratio, 6)).alias("explained_var_ratio"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# coreset_sample_kcenter — greedy k-center diversity sample

_KCENTER_K = 8


def _kcenter_oracle_sql(k: int = 8) -> str:
    """Unrolled greedy k-center as one DuckDB CTE chain — the oracle for
    ``coreset_sample_kcenter`` (r16 strict strengthening, VERDICT r15
    item 5; same technique as _kmeans_oracle_sql).  Expressible because
    the builder's chain is exactly-specified IEEE arithmetic end-to-end:
    seed = min vec_id; dist = sqrt of the sequential (x−y)² left-fold
    (Spark ``aggregate(zip_with(…))`` ≡ DuckDB ``list_reduce(
    list_transform(list_zip(…)))``); running min via LEAST; argmax
    tie-broken (mind DESC, vec_id).  The ``WHERE mind > 0`` guard mirrors
    the builder's early break on duplicate exhaustion approximately — on
    a corpus with ≥k distinct points (all test SFs; asserted in
    test_staged_r06) the two are identical, which is the contract the
    oracle certifies.  Validated hash-exact at sf0.001/0.01/0.1 before
    adoption."""

    def dist(vexpr: str) -> str:
        return (
            f"sqrt(list_reduce(list_transform(list_zip({vexpr}, c.v),"
            f" p -> (p[1] - p[2]) * (p[1] - p[2])), (a, x) -> a + x))"
        )

    parts = [
        "WITH e AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings),",
        "s0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
        f", d1 AS (SELECT e.vec_id, e.v, {dist('e.v')} AS mind"
        f" FROM e CROSS JOIN s0 c)",
        ", p1 AS (SELECT vec_id, v, mind FROM d1"
        " QUALIFY ROW_NUMBER() OVER (ORDER BY mind DESC, vec_id) = 1)",
    ]
    for i in range(2, k):
        parts.append(
            f", d{i} AS (SELECT d.vec_id, d.v,"
            f" LEAST(d.mind, {dist('d.v')}) AS mind"
            f" FROM d{i - 1} d CROSS JOIN p{i - 1} c)"
        )
        parts.append(
            f", p{i} AS (SELECT vec_id, v, mind FROM d{i}"
            f" QUALIFY ROW_NUMBER() OVER (ORDER BY mind DESC, vec_id) = 1)"
        )
    sel = [
        "SELECT CAST(0 AS INTEGER) AS pick_order,"
        " (SELECT vec_id FROM s0) AS vec_id,"
        " CAST(-1.0 AS DOUBLE) AS radius_before"
    ]
    for i in range(1, k):
        sel.append(
            f"SELECT CAST({i} AS INTEGER), vec_id, ROUND(mind, 6)"
            f" FROM p{i} WHERE mind > 0"
        )
    parts.append(" " + " UNION ALL ".join(sel) + " ORDER BY pick_order")
    return "".join(parts)


@register("coreset_sample_kcenter", oracle=_kcenter_oracle_sql(_KCENTER_K))
def coreset_sample_kcenter(spark, sf_dir):
    """Greedy k-center coreset (Gonzalez 1985) over the embedding cloud —
    the diversity-sampling primitive for training-data pruning: pick the
    point farthest from all chosen centers, k=8 times, starting from
    min vec_id.  Each round the driver collects exactly ONE row (the
    argmax) and the distributed side keeps a single running min-distance
    column updated by a narrow expression — kmeans_iterative's state
    discipline, with localCheckpoint keeping the plan flat.  2-approx of
    the optimal k-center radius, fully deterministic (dist DESC, vec_id
    ASC tiebreak).

    Output: the k centers in selection order with their coverage radius
    at selection time (radius_before = how far the farthest point was
    when this center was chosen — monotonically non-increasing, asserted
    in tests).

    100 TB: k scans of a cached/checkpointed narrow table; no shuffle at
    all inside a round (global argmax = orderBy(...).limit(1), which
    Spark executes as TakeOrdered — per-partition top-1 then driver
    merge, constant state).

    ORACLED as of r16 (was rows-only since r07; VERDICT r15 item 5): the
    greedy chain is exactly-specified IEEE arithmetic, so the DuckDB
    oracle replays all k picks as an unrolled CTE chain
    (_kcenter_oracle_sql) and the (pick_order, vec_id, rounded radius)
    rows hash-match exactly — no builder change was needed."""
    import math

    e = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("ev"),
        )
        .localCheckpoint()
    )
    first = e.orderBy("vec_id").limit(1).collect()
    if not first:
        return spark.createDataFrame(
            [], "pick_order int, vec_id bigint, radius_before double"
        )
    centers = [(0, int(first[0]["vec_id"]), float("inf"))]

    # euclidean distance from each row's ev to the constant-literal array cv
    _dist = F.sqrt(
        F.expr(
            "aggregate(zip_with(ev, cv, (x, y) -> (x - y) * (x - y)),"
            " cast(0.0 as double), (a, x) -> a + x)"
        )
    )

    cur = (
        e.withColumn("cv", F.array(*[F.lit(float(x)) for x in first[0]["ev"]]))
        .select("vec_id", "ev", _dist.alias("mind"))
        .localCheckpoint()
    )

    for i in range(1, _KCENTER_K):
        far = (
            cur.orderBy(F.col("mind").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()
        )
        if not far or far[0]["mind"] == 0.0:
            break  # fewer than k distinct points
        radius = float(far[0]["mind"])
        cid = int(far[0]["vec_id"])
        centers.append((i, cid, radius))
        cvec = far[0]["ev"]
        cur = (
            cur.withColumn("cv", F.array(*[F.lit(float(x)) for x in cvec]))
            .select("vec_id", "ev", F.least("mind", _dist).alias("mind"))
            .localCheckpoint()
        )

    rows = [
        (o, vid, (round(r, 6) if math.isfinite(r) else -1.0))
        for o, vid, r in centers
    ]
    return spark.createDataFrame(
        rows, "pick_order int, vec_id bigint, radius_before double"
    ).orderBy("pick_order")


# ---------------------------------------------------------------------------
# dsir_importance_resample — DSIR-style in-domain selection


@register(
    "dsir_importance_resample",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
tokf AS (SELECT doc_id, word FROM tok WHERE word <> ''),
tgt_docs AS (SELECT doc_id FROM documents WHERE lang = 'en'),
tgt_freq AS (
  SELECT word, CAST(COUNT(*) AS DOUBLE) AS f
  FROM tokf JOIN tgt_docs USING (doc_id) GROUP BY word
),
src_freq AS (
  SELECT word, CAST(COUNT(*) AS DOUBLE) AS f FROM tokf GROUP BY word
),
vocab AS (SELECT CAST(COUNT(DISTINCT word) AS DOUBLE) AS v FROM tokf),
tgt_n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tokf
          JOIN tgt_docs USING (doc_id)),
src_n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tokf),
ratio AS (
  SELECT s.word,
         CAST(ln((COALESCE(t.f, 0) + 1) / (tgt_n.n + vocab.v))
              - ln((s.f + 1) / (src_n.n + vocab.v))
              AS DECIMAL(28,12)) AS lr
  FROM src_freq s
  LEFT JOIN tgt_freq t ON t.word = s.word
  CROSS JOIN vocab CROSS JOIN tgt_n CROSS JOIN src_n
)
SELECT doc_id, n_tokens, avg_log_ratio FROM (
  SELECT tk.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         ROUND(CAST(SUM(r.lr) AS DOUBLE) / COUNT(*), 6) AS avg_log_ratio,
         row_number() OVER (
           ORDER BY CAST(SUM(r.lr) AS DOUBLE) / COUNT(*) DESC, tk.doc_id
         ) AS rk
  FROM tokf tk JOIN ratio r ON r.word = tk.word
  GROUP BY tk.doc_id
)
WHERE rk <= 50
ORDER BY avg_log_ratio DESC, doc_id
""",
)
def dsir_importance_resample(spark, sf_dir):
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023)
    with unigram LMs: score every document by the average per-token
    log-ratio ln p_target(w) − ln p_source(w) (add-1-smoothed unigram
    models; target = the lang='en' slice as the in-domain proxy, source =
    the whole corpus) and keep the top 50.  This is the importance-weight
    half of DSIR — production resamples proportionally to exp(weight);
    deterministic top-k keeps the operator oracle-checkable, and the
    hash-threshold machinery of mixture_resample is the drop-in
    stochastic-selection stage when weights become sampling rates.

    Determinism: per-token log-ratios are doubles cast to DECIMAL(28,12)
    BEFORE the per-document sum (the text_unigram_logprob discipline —
    a double sum folds in partition order and flips 6th-decimal rounding
    between engines); the average divides once at the end.

    100 TB: two vocabulary aggregates (map-side combined), one
    token⋈vocab equi-join (vocab table ≪ corpus → AQE broadcast; at
    open-vocab scale a sorted-merge with df pruning), one doc-keyed
    aggregation, TakeOrdered for the top-k — no all-pairs stage, no
    driver state beyond k rows."""
    d = load(spark, sf_dir, "documents")
    # spread before the token explode so the cache fill — and the cached
    # layout every downstream aggregate starts from — is core-wide.
    # Fold-order-safe: the per-doc sums are DECIMAL(28,12) by design.
    tokf = restage(
        spark,
        "dsir_importance_resample",
        spread_if_narrow(d)
        .select("doc_id", "lang", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != ""),
    )
    tgt_freq = (
        tokf.filter(F.col("lang") == "en")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    src_freq = tokf.groupBy("word").agg(
        F.count(F.lit(1)).cast("double").alias("sf")
    )
    scalars = tokf.agg(
        F.countDistinct("word").cast("double").alias("v"),
        F.count(F.lit(1)).cast("double").alias("src_n"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("double").alias("tgt_n"),
    )
    ratio = (
        src_freq.join(tgt_freq, "word", "left")
        .crossJoin(F.broadcast(scalars))
        .select(
            "word",
            (
                F.log(
                    (F.coalesce(F.col("tf"), F.lit(0.0)) + 1)
                    / (F.col("tgt_n") + F.col("v"))
                )
                - F.log((F.col("sf") + 1) / (F.col("src_n") + F.col("v")))
            )
            .cast("decimal(28,12)")
            .alias("lr"),
        )
    )
    scored = (
        tokf.join(ratio, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum("lr").cast("double") / F.count(F.lit(1))).alias("alr"),
        )
    )
    # orderBy().limit() compiles to TakeOrderedAndProject — per-partition
    # top-50 heaps merged on the driver — where a global-window row_number
    # would drag every scored document through ONE partition (the promotion
    # rehearsal's WindowExec warning caught exactly that).  Ranking uses
    # the unrounded decimal-exact average so the cut at rank 50 matches the
    # oracle bit-for-bit; rounding happens after selection.
    return (
        scored.orderBy(F.col("alr").desc(), "doc_id")
        .limit(50)
        .select(
            "doc_id",
            "n_tokens",
            F.round("alr", 6).alias("avg_log_ratio"),
        )
        .orderBy(F.col("avg_log_ratio").desc(), "doc_id")
    )
