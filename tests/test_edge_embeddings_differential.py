"""Adversarial edge-corpus differential, embeddings family: a zero
vector (cosine undefined), a NaN element, 1e±20 magnitudes, an exact
duplicate, and an antipode (cos = −1), all at the fixed 64-dim width.

Contracts pinned:
* the IEEE-double keys (norm stats, knn vote, hyperplane signatures,
  the guarded cosine twin, negative sampling) agree with their oracles
  on the FULL corpus — NaN and the zero vector included;
* `sim_cosine_topk` fails LOUDLY on a zero-norm vector, naming it —
  the designed fail-fast, not a crash;
* the decimal-sum keys (centroid, quantize, nearest-centroid) hold the
  same finite-input contract as the events family
  (test_edge_events_differential.py): they agree on the finite variant,
  and DuckDB raises on the NaN cast rather than silently diverging."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from bigdatawork_spark.registry import QUERIES

from .compare import assert_frames_match, assert_key_matches, oracle_con

FULL_KEYS = [
    "embedding_norm_stats",
    "knn_classify",
    "sim_ann_hyperplane",
    "dedup_embedding_cosine",
    "sample_negative_pairs",
]

FINITE_KEYS = [
    "embedding_centroid",
    "vector_quantize",
    "nearest_centroid_classify",
    "sim_cosine_topk",
]


def _vectors(finite: bool):
    rs = np.random.RandomState(7)
    base = rs.normal(size=64)
    second = rs.normal(size=64)
    nanv = base.copy()
    nanv[7] = 0.5 if finite else float("nan")
    zero = np.full(64, 0.01) if finite else np.zeros(64)
    # finite variant caps magnitudes at 1e2: embedding_centroid's
    # DECIMAL(20,10) element sums carry 10 integer digits (|x| ≲ 1e9),
    # and the round-to-6-decimals comparison discipline needs the values
    # themselves within ~1e9 so 6 fractional digits stay inside double
    # precision (nearest-centroid's dist_sq grows as 64·|x|²) — the
    # magnitude-range contract, same class as the finite-input one
    big, tiny = (1e2, 1e-4) if finite else (1e20, 1e-20)
    return [
        (0, base, 0),
        (1, zero, 0),          # zero vector (full) / near-zero (finite)
        (2, base, 1),          # exact duplicate of 0
        (3, nanv, 1),          # NaN element (full) / perturbed (finite)
        (4, base * big, 2),    # huge magnitude
        (5, base * tiny, 2),   # tiny magnitude
        (6, -base, 0),         # antipode: cosine exactly -1
        (7, second, 3),
    ]


def _write(tmp_path_factory, finite: bool) -> str:
    d = tmp_path_factory.mktemp(f"edge_emb_{'fin' if finite else 'full'}")
    # keep float32 scalars so parquet writes FLOAT[] — the corpus schema;
    # python floats would write DOUBLE[] and flip float32 boundary
    # predicates (abs(x) > 0.2 etc.) between engines
    pd.DataFrame(
        [(i, list(np.asarray(e, dtype=np.float32)), l)
         for i, e, l in _vectors(finite)],
        columns=["vec_id", "embedding", "label"],
    ).to_parquet(f"{d}/embeddings.parquet")
    return str(d)


@pytest.fixture(scope="module")
def full_dir(tmp_path_factory):
    return _write(tmp_path_factory, finite=False)


@pytest.fixture(scope="module")
def finite_dir(tmp_path_factory):
    return _write(tmp_path_factory, finite=True)


@pytest.fixture(scope="module")
def full_duck(full_dir):
    with oracle_con(full_dir) as con:
        yield con


@pytest.fixture(scope="module")
def finite_duck(finite_dir):
    with oracle_con(finite_dir) as con:
        yield con


@pytest.mark.parametrize("key", FULL_KEYS)
def test_full_adversarial_agree(key, spark, full_dir, full_duck):
    assert_key_matches(spark, full_duck, key, full_dir, f"edge-emb:{key}")


@pytest.mark.parametrize("key", FINITE_KEYS)
def test_finite_contract_agree(key, spark, finite_dir, finite_duck):
    assert_key_matches(spark, finite_duck, key, finite_dir, f"edge-emb-finite:{key}")


def _expr_twin(key):
    if key == "knn_classify":
        from bigdatawork_spark.operators.llm_ops import _knn_classify_expr

        return _knn_classify_expr
    from bigdatawork_spark.operators.pipeline_ops import (
        _dedup_embedding_cosine_expr,
    )

    return _dedup_embedding_cosine_expr


@pytest.mark.parametrize("key", ["knn_classify", "dedup_embedding_cosine"])
def test_scorer_equals_expr_twin_on_adversarial_corpus(key, spark, full_dir):
    """The r16 numpy scorers' semantics ledger, pinned where it matters:
    the zero vector (denom == 0 → Spark NULL cos: ranks LAST / fails the
    threshold), the NaN element (NaN cos: ranks FIRST / compares greatest
    and survives the threshold), 1e±20 magnitudes, and the exact duplicate
    (true float tie → id ASC) must all behave identically to the
    crossJoin + zip_with fold each scorer replaced."""
    fast = QUERIES[key](spark, full_dir).toPandas()
    twin = _expr_twin(key)(spark, full_dir).toPandas()
    assert_frames_match(fast, twin, f"edge-emb:{key}≡expr-twin")


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("edge_emb_empty")
    schema = pa.schema(
        [("vec_id", pa.int64()),
         ("embedding", pa.list_(pa.float32())),
         ("label", pa.int64())]
    )
    pq.write_table(
        pa.table({"vec_id": [], "embedding": [], "label": []}, schema=schema),
        f"{d}/embeddings.parquet",
    )
    return str(d)


@pytest.mark.parametrize("key", ["knn_classify", "dedup_embedding_cosine"])
def test_scorer_empty_corpus_returns_empty_like_expr_twin(key, spark, empty_dir):
    """ADVICE r17: an empty embeddings table used to blow up the numpy
    scorers inside the executor (``ncorp, ndim = B.shape`` on a (0,)
    array) while the expr twins returned an empty frame gracefully; the
    2-D reshape at broadcast-build time must keep them aligned."""
    fast = QUERIES[key](spark, empty_dir).toPandas()
    twin = _expr_twin(key)(spark, empty_dir).toPandas()
    assert len(fast) == 0 and len(twin) == 0
    assert list(fast.columns) == list(twin.columns)


def test_cosine_zero_norm_fails_loudly_naming_the_vector(spark, full_dir):
    """A zero-norm embedding makes cosine undefined; the scorer must
    refuse with the offending vec_id in the message, not emit NaN ranks
    or crash opaquely."""
    with pytest.raises(Exception, match="zero-norm.*\\[1\\]"):
        QUERIES["sim_cosine_topk"](spark, full_dir).collect()
