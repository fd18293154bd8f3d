"""Round-11 (cont.) operator invariants beyond the driver's hash check:
the scale-path twins (approx-quantile bins, hash k-fold dealer) pinned
against their exact oracle-checkable forms and the global-index numbering
invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatawork_spark.io import load
from bigdatawork_spark.operators.stats_ops import quantile_bin_assign_approx
from bigdatawork_spark.operators.training_ops import kfold_hash_assign
from bigdatawork_spark.registry import QUERIES


def test_global_row_index_is_a_total_dense_numbering(spark, sf_dir):
    """The thinned output must walk the table's total order: sampled
    indices are exactly the multiples of 97 below n, and the carried
    sort key is strictly increasing along them — a gap or swap anywhere
    in the per-partition offset arithmetic would break one of the two."""
    rows = QUERIES["global_row_index"](spark, sf_dir).collect()
    n = load(spark, sf_dir, "lineitem").count()
    assert [r.global_idx for r in rows] == list(range(0, n, 97))
    keys = [(r.l_orderkey, r.l_linenumber) for r in rows]
    assert keys == sorted(keys)
    assert len(set(keys)) == len(keys)


def test_quantile_bins_are_equal_frequency_and_ordered(spark, sf_dir):
    rows = QUERIES["quantile_bin_assign"](spark, sf_dir).collect()
    n = sum(r.n_rows for r in rows)
    assert [r.bin for r in rows] == sorted(r.bin for r in rows)
    # value ranges of consecutive bins must not interleave
    for a, b in zip(rows, rows[1:]):
        assert a.max_v <= b.min_v, (a, b)
    # equal-frequency up to the quantization of a 50-value integer domain:
    # no bin may hold more than 2.5x its fair share
    for r in rows:
        assert r.n_rows <= 0.25 * n, r


def test_quantile_bin_approx_path_matches_exact_twin(spark, sf_dir):
    """The 100 TB boundary pass (t-digest approx_percentile) must bin
    almost identically to the exact oracle-checkable twin: identical
    total, per-bin counts within 2% of the table (at high sketch
    accuracy on an integer domain they are usually exactly equal)."""
    exact = {
        r.bin: r.n_rows
        for r in QUERIES["quantile_bin_assign"](spark, sf_dir).collect()
    }
    approx = {
        r.bin: r.n_rows
        for r in quantile_bin_assign_approx(spark, sf_dir).collect()
    }
    n = sum(exact.values())
    assert sum(approx.values()) == n
    for b in set(exact) | set(approx):
        assert abs(exact.get(b, 0) - approx.get(b, 0)) <= 0.02 * n, b


def test_kfold_exact_balance_within_every_stratum(spark, sf_dir):
    rows = QUERIES["kfold_stratified"](spark, sf_dir).collect()
    by_lang: dict[str, list[int]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.n_docs)
    d = load(spark, sf_dir, "documents")
    assert sum(sum(v) for v in by_lang.values()) == d.count()
    for lang, counts in by_lang.items():
        assert max(counts) - min(counts) <= 1, (lang, counts)


def test_kfold_hash_dealer_is_roughly_balanced(spark, sf_dir):
    """The skew-immune map-only dealer: per-stratum fold sizes within
    5x sqrt(n_lang) of the fair share (binomial noise bound with slack;
    the exact-balance window form stays the oracle-checkable key)."""
    rows = kfold_hash_assign(spark, sf_dir).collect()
    by_lang: dict[str, list[int]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.n_docs)
    for lang, counts in by_lang.items():
        n = sum(counts)
        fair = n / 5
        for c in counts:
            assert abs(c - fair) <= 5 * max(1.0, n**0.5), (lang, counts)


def test_ngram_pmi_scores_rank_collocations_over_chance(spark, sf_dir):
    rows = QUERIES["ngram_pmi"](spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r.c_xy >= 5 for r in rows)
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    # the top collocations must beat independence (PMI > 0) — on a corpus
    # with any non-uniform phrase structure a top-20 all <= 0 would mean
    # the MLE denominators are wrong
    assert pmis[0] > 0

