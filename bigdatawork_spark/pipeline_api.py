"""Fluent curation-pipeline façade: chainable document-curation stages a
reference user composes instead of hand-writing DataFrame chains.  REF:∅
(reference snapshot empty — SURVEY.md §0); this is the user-facing API layer
over the curation/training operator family (curation.py, training_ops.py).

Every stage is a named, lazy ``DataFrame -> DataFrame`` transformation built
ONLY from JVM-side column expressions, so a composed pipeline stays one
Catalyst plan — filters collapse and push to the scan, and the whole prefix
of narrow stages runs in a single WholeStageCodegen pass regardless of how
many stages the user chains.  ``describe()`` exposes the stage list for
audit logs.

Scale notes: lang/quality/sample stages are narrow (no shuffle at any data
size); dedup_exact is the pipeline's one shuffle (hash-partition on the
dedup key); stage order therefore matters and the cheap narrow filters
should come first — exactly how this module's composed example orders them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .io import load
from .registry import register

_STOPWORDS = ("the", "a", "data", "key")


def _words(col: str = "text"):
    return F.filter(F.split(col, " "), lambda w: w != "")


class CurationPipeline:
    """Ordered, lazily-applied document-curation stages.

    >>> pipe = (CurationPipeline()
    ...         .lang_filter("en")
    ...         .quality_gate()
    ...         .dedup_exact()
    ...         .hash_sample("7f"))
    >>> curated = pipe.apply(docs_df)
    """

    def __init__(self) -> None:
        self._stages: list[tuple[str, Callable[[DataFrame], DataFrame]]] = []

    def stage(self, name: str, fn: Callable[[DataFrame], DataFrame]) -> "CurationPipeline":
        """Append a custom named stage."""
        self._stages.append((name, fn))
        return self

    def lang_filter(self, *langs: str) -> "CurationPipeline":
        """Keep documents whose ``lang`` is in ``langs`` (narrow, pushable)."""
        return self.stage(
            f"lang_filter({','.join(langs)})",
            lambda df: df.filter(F.col("lang").isin(*langs)),
        )

    def quality_gate(
        self,
        min_words: int = 5,
        max_words: int = 1000,
        wlen_band: tuple[float, float] = (3.0, 10.0),
        stop_cap: float = 0.3,
    ) -> "CurationPipeline":
        """Gopher-style rule gate (same features as quality_filter_gopher);
        keeps passing rows and retains ``n_words`` for downstream stats."""

        def gate(df: DataFrame) -> DataFrame:
            words = _words()
            n_words = F.size(words)
            mean_wlen = F.round(
                F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
                    "double"
                )
                / n_words,
                6,
            )
            stop_frac = F.round(
                F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS))).cast("double")
                / n_words,
                6,
            )
            return df.withColumn("n_words", n_words.cast("long")).filter(
                F.col("n_words").between(min_words, max_words)
                & mean_wlen.between(*wlen_band)
                & (stop_frac < stop_cap)
            )

        return self.stage(f"quality_gate({min_words},{max_words})", gate)

    def dedup_exact(self, key: str = "text", order: str = "doc_id") -> "CurationPipeline":
        """Keep the first row (by ``order``) per exact ``key`` — the
        pipeline's one shuffle, hash-partitioned on the dedup key."""

        def dedup(df: DataFrame) -> DataFrame:
            w = Window.partitionBy(key).orderBy(order)
            return (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )

        return self.stage(f"dedup_exact({key})", dedup)

    def hash_sample(self, prefix_le: str = "7f", key: str = "text") -> "CurationPipeline":
        """Content-hash Bernoulli sample: keep rows whose md5 hex prefix is
        <= ``prefix_le`` — deterministic across engines and layouts."""
        return self.stage(
            f"hash_sample(<={prefix_le})",
            lambda df: df.filter(
                F.substring(F.md5(key), 1, len(prefix_le)) <= prefix_le
            ),
        )

    def normalize(self, col: str = "text") -> "CurationPipeline":
        """Canonical text normalization in place (control-strip, whitespace
        collapse, trim, casefold) — the JVM-side subset of
        ``text_normalize``; run it before ``dedup_exact`` so byte-level
        variants of the same text collapse.  Narrow, zero-shuffle."""
        return self.stage(
            f"normalize({col})",
            lambda df: df.withColumn(
                col,
                F.trim(
                    F.lower(
                        F.regexp_replace(
                            F.regexp_replace(col, "[\\x00-\\x1f]", ""), "\\s+", " "
                        )
                    )
                ),
            ),
        )

    def entropy_gate(self, min_nats: float = 2.0, col: str = "text") -> "CurationPipeline":
        """Drop degenerate documents below ``min_nats`` character entropy
        (single-char floods, binary spill) — the ``text_entropy_filter``
        signal as a chainable stage.  Narrow, zero-shuffle."""

        from .operators.corpus_ops import char_entropy_sql

        def gate(df: DataFrame) -> DataFrame:
            cs = f"filter(split(lower({col}), ''), c -> c != '')"
            ent = char_entropy_sql(cs, f"length({col})")
            return df.filter(F.expr(f"length({col}) > 0 and {ent} >= {min_nats}"))

        return self.stage(f"entropy_gate(>={min_nats})", gate)

    def chunk(self, size: int = 32, stride: int = 24, col: str = "text") -> "CurationPipeline":
        """Terminal 1→N stage: split each surviving document into
        ``size``-token windows every ``stride`` tokens (see
        ``chunk_documents``).  Adds ``chunk_idx``/``chunk_text``; run it
        LAST — downstream stages see chunk rows, not documents."""

        def chunked(df: DataFrame) -> DataFrame:
            w = df.withColumn(
                "__ws", F.filter(F.split(col, " "), lambda x: x != "")
            ).filter(F.size("__ws") > 0)
            return (
                w.select(
                    "*", F.posexplode(F.expr(f"sequence(0, size(__ws) - 1, {stride})"))
                )
                .withColumn("chunk_idx", F.col("pos").cast("int"))
                .withColumn(
                    "chunk_text",
                    F.array_join(F.expr(f"slice(__ws, col + 1, {size})"), " "),
                )
                .drop("__ws", "pos", "col")
            )

        return self.stage(f"chunk({size},{stride})", chunked)

    def pii_scrub(self, col: str = "text") -> "CurationPipeline":
        """Redact emails then long digit runs in place — the shared
        ``curation.pii_scrub_expr`` policy as a chainable stage (one
        source of truth with text_pii_scrub).  Pure regexp_replace —
        narrow, zero-shuffle, linear at any scale."""
        from .operators.curation import pii_scrub_expr

        return self.stage(
            f"pii_scrub({col})",
            lambda df: df.withColumn(col, pii_scrub_expr(col)),
        )

    def repetition_gate(
        self, max_rep3: float = 0.2, col: str = "text"
    ) -> "CurationPipeline":
        """Drop documents whose repeated-3-gram fraction (1 − distinct/total,
        the repetition_ngram_ratio signal) exceeds ``max_rep3`` — the
        Gopher boilerplate/spam gate as a stage.  Per-row array exprs only:
        narrow, zero-shuffle."""

        from .operators.curation import word_grams

        def gate(df: DataFrame) -> DataFrame:
            ws = F.filter(F.split(col, " "), lambda w: w != "")
            grams = word_grams(ws, 3)
            # coalesce: NULL text makes size(ws) NULL, which would fall
            # into the ELSE branch and score an accidental 0.5 (r05
            # review); NULL rows take the short-text path (rep3=0) like
            # repetition_ngram_ratio's empty-array convention.
            rep3 = F.when(F.coalesce(F.size(ws), F.lit(0)) < 3, 0.0).otherwise(
                1.0 - F.size(F.array_distinct(grams)).cast("double") / F.size(grams)
            )
            return df.filter(rep3 <= max_rep3)

        return self.stage(f"repetition_gate(<={max_rep3})", gate)

    def split_holdout(
        self, key: str = "doc_id", out: str = "split"
    ) -> "CurationPipeline":
        """Add the deterministic 90/5/5 train/val/test label from an
        id-hash (split_train_holdout's thresholds) — appending data never
        reassigns old rows and every engine reproduces the same split.
        Map-only labeling, no shuffle.  Thresholds come from the shared
        ``curation.split_label_sql`` (one policy site with the
        split_train_holdout operator)."""
        from .operators.curation import split_label_sql

        return self.stage(
            f"split_holdout({key})",
            lambda df: df.withColumn(out, F.expr(split_label_sql(key))),
        )

    def mixture_temperature(
        self, source_col: str = "source", key: str = "text"
    ) -> "CurationPipeline":
        """Temperature-balance the source mixture (alpha=0.5): downsample
        each source toward the smallest with keep-rate sqrt(min/n), keyed
        on a content-hash threshold so the kept set is a pure function of
        content and rates (mixture_resample's policy as a stage).  The
        per-source rate table is a broadcast aggregate — the fact side is
        never shuffled, so this composes after the narrow gates at any
        scale."""

        def mix(df: DataFrame) -> DataFrame:
            from .operators.training_ops import mixture_hex_thresh

            counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
            min_n = counts.agg(F.min("__n").alias("__min_n"))
            thresh = counts.crossJoin(F.broadcast(min_n)).select(
                source_col,
                mixture_hex_thresh(
                    F.sqrt(
                        F.col("__min_n").cast("double")
                        / F.col("__n").cast("double")
                    )
                ).alias("__hex_thresh"),
            )
            return (
                df.join(F.broadcast(thresh), source_col)
                .filter(F.substring(F.md5(key), 1, 8) < F.col("__hex_thresh"))
                .drop("__hex_thresh")
            )

        return self.stage(f"mixture_temperature({source_col})", mix)

    def perplexity_gate(
        self, max_ppl: float, id_col: str = "doc_id", col: str = "text"
    ) -> "CurationPipeline":
        """Drop documents whose in-corpus bigram-LM perplexity exceeds
        ``max_ppl`` — the CCNet quality cut as a stage, scored by the
        shared ``corpus_ops.bigram_nll_scores`` body (one policy site
        with the lm_perplexity_score operator).  Documents with < 2 words
        carry no bigrams, hence no score: they are KEPT (length gates are
        a separate stage's job).  Two keyed aggregations + one per-bigram
        join; shuffles carry grams+counts, never documents."""
        from .operators.corpus_ops import bigram_nll_scores

        def gate(df: DataFrame) -> DataFrame:
            scores = bigram_nll_scores(df, id_col=id_col, col=col)
            return (
                df.join(
                    scores.select(id_col, "ppl"), id_col, "left"
                )
                .filter(F.coalesce(F.col("ppl") <= max_ppl, F.lit(True)))
                .drop("ppl")
            )

        return self.stage(f"perplexity_gate(<={max_ppl})", gate)

    def remove_repeated_spans(
        self, id_col: str = "doc_id", col: str = "text"
    ) -> "CurationPipeline":
        """Excise every >=50-char exactly-repeated span (Lee et al.
        exact-substring dedup at 20-gram anchor resolution) from ``col``,
        in place, via the shared ``curation.excise_repeated_spans``
        body.  NOTE: the replacement text is lower-cased (the span hashes
        are case-folded, so the reassembly is too); fully-repeated docs
        become empty strings — follow with a length gate."""
        from .operators.curation import excise_repeated_spans

        def cut(df: DataFrame) -> DataFrame:
            cleaned = excise_repeated_spans(df, id_col=id_col, col=col)
            return (
                df.drop(col)
                .join(
                    cleaned.selectExpr(
                        id_col, f"cleaned_text as {col}"
                    ),
                    id_col,
                    "left",
                )
            )

        return self.stage("remove_repeated_spans", cut)

    def near_dedup_minhash(
        self,
        num_hash_tables: int = 5,
        threshold: float = 0.2,
        shingle_n: int = 3,
        id_col: str = "doc_id",
    ) -> "CurationPipeline":
        """Drop MinHash-LSH near-duplicates, banding parameterized
        (VERDICT r08 item 8): ``num_hash_tables`` = OR-amplification
        width (recall knob), ``threshold`` = max Jaccard distance kept.
        Keeps each near-dup pair's lower-id document (drop doc_b via a
        left-anti join on the pair table — the standard keep-first
        policy; pair recall vs threshold/banding is pinned in
        tests/test_streaming_twins.py).  Run AFTER ``dedup_exact`` —
        the dedup_ladder ordering (SCALE.md §8): exact replicas flood
        LSH band buckets ~10x denser otherwise."""
        from .operators.llm_ops import minhash_pairs

        def dedup(df: DataFrame) -> DataFrame:
            pairs = minhash_pairs(
                df.select(F.col(id_col).alias("doc_id"), "text"),
                num_hash_tables=num_hash_tables,
                threshold=threshold,
                shingle_n=shingle_n,
            )
            drop = pairs.select(F.col("doc_b").alias(id_col)).distinct()
            return df.join(drop, id_col, "left_anti")

        return self.stage(
            f"near_dedup_minhash(t={num_hash_tables},d={threshold})", dedup
        )

    def describe(self) -> list[str]:
        """Stage names in application order (for audit logging)."""
        return [name for name, _ in self._stages]

    def apply(self, df: DataFrame) -> DataFrame:
        """Compose all stages onto ``df`` (still lazy — one Catalyst plan)."""
        for _, fn in self._stages:
            df = fn(df)
        return df


@register(
    "pipeline_curate_corpus",
    oracle="""
WITH feat AS (
  SELECT doc_id, source, text,
         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_words,
         ROUND(CAST(len(replace(text, ' ', '')) AS DOUBLE)
               / len(list_filter(string_split(text, ' '), w -> w <> '')), 6)
           AS mean_wlen,
         ROUND(CAST(len(list_filter(string_split(text, ' '),
                                    w -> w IN ('the', 'a', 'data', 'key')))
                    AS DOUBLE)
               / len(list_filter(string_split(text, ' '), w -> w <> '')), 6)
           AS stop_frac
  FROM documents WHERE lang = 'en'
),
kept AS (
  SELECT doc_id, source, text, n_words FROM feat
  WHERE n_words BETWEEN 5 AND 1000
    AND mean_wlen BETWEEN 3.0 AND 10.0
    AND stop_frac < 0.3
),
deduped AS (
  SELECT doc_id, source, text, n_words FROM (
    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM kept) t
  WHERE rn = 1
),
sampled AS (
  SELECT * FROM deduped WHERE substr(md5(text), 1, 2) <= '7f'
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_tokens
FROM sampled GROUP BY source ORDER BY source
""",
)
def pipeline_curate_corpus(spark, sf_dir):
    """End-to-end composed curation pipeline (the façade's flagship):
    English filter → quality gate → exact dedup (first doc_id wins) →
    50% content-hash sample, then per-source doc/token totals.  Narrow
    stages precede the dedup shuffle so they collapse into the scan pass;
    the oracle mirrors the same four stages as nested CTEs."""
    docs = load(spark, sf_dir, "documents")
    pipe = (
        CurationPipeline()
        .lang_filter("en")
        .quality_gate()
        .dedup_exact()
        .hash_sample("7f")
    )
    return (
        pipe.apply(docs)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_tokens"),
        )
        .orderBy("source")
    )
