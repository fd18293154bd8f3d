"""Adversarial edge-corpus differential, multimodal family (VERDICT r13
item 5): the four real-decode keys driven over a corpus of degenerate
doc_ids — 0, modulo-cycle boundaries, NEGATIVE ids (hash-derived ids are
negative half the time in the wild), a ~1e15 id, and NULL-text docs —
with the same engine agreement the driver checks at sf0.01.

The r14 catch this file pinned: every multimodal key derived its
payload geometry with `%`, whose sign follows the DIVIDEND in both
Spark SQL and DuckDB but the DIVISOR in Python/numpy — so a negative
doc_id produced negative widths/frame counts on the SQL sides while the
Python encode stage happily built positive-geometry payloads.  All four
builders and oracles now use pmod (positive modulo), making geometry
well-defined for any int64 id."""

from __future__ import annotations

import pandas as pd
import pytest

from bigdatawork_spark.registry import QUERIES

from .compare import assert_key_matches, oracle_con

# doc_ids chosen to stress the geometry arithmetic:
#   0            smallest dims / smallest sample count
#   1, 4         tiny ids
#   28, 29       width-modulo cycle boundary (w formula is mod 29)
#   96, 97       wav sample-count modulo boundary (mod 97)
#   -1, -7, -97  NEGATIVE ids — pmod vs % divergence territory
#   10**12, 888_888_888_888_888  large ids (still far from int64*53 overflow)
#   5 (NULL)     NULL text — excluded by every key's filter on BOTH engines
EDGE_ROWS = [
    (0, "alpha"),
    (1, "beta"),
    (4, "gamma"),
    (28, "delta"),
    (29, "epsilon"),
    (96, "zeta"),
    (97, "eta"),
    (-1, "theta"),
    (-7, "iota"),
    (-97, "kappa"),
    (10**12, "lambda"),
    (888_888_888_888_888, "mu"),
    (5, None),
]

EDGE_KEYS = [
    "multimodal_wav_decode",
    "multimodal_image_resize",
    "multimodal_frame_sample",
    "multimodal_png_decode",
]


@pytest.fixture(scope="module")
def mm_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("edge_multimodal")
    pd.DataFrame(
        [
            (i, t, "en", "src0", len(t) if t is not None else 0)
            for i, t in EDGE_ROWS
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(f"{d}/documents.parquet")
    return str(d)


@pytest.fixture(scope="module")
def mm_duck(mm_dir):
    with oracle_con(mm_dir) as con:
        yield con


@pytest.mark.parametrize("key", EDGE_KEYS)
def test_edge_multimodal_engines_agree(key, spark, mm_dir, mm_duck):
    spark_pd = assert_key_matches(spark, mm_duck, key, mm_dir, f"edge:{key}")
    assert len(spark_pd) > 0, f"edge:{key} returned 0 rows — vacuous"


def test_edge_multimodal_negative_ids_decode(spark, mm_dir):
    """Negative ids must flow through the REAL codec round-trip (encode →
    Arrow exchange → byte-level decode), not just the metadata math: the
    decode stages cross-check decoded dims against metadata and raise on
    mismatch, so surviving rows prove byte-level agreement."""
    out = QUERIES["multimodal_png_decode"](spark, mm_dir).toPandas()
    neg = out[out["doc_id"] < 0]
    assert len(neg) == 3
    assert (neg["width"] >= 4).all() and (neg["height"] >= 3).all()
    # NULL-text doc is excluded everywhere
    assert 5 not in set(out["doc_id"])


def test_edge_multimodal_wav_min_geometry(spark, mm_dir):
    """doc_id=0 and the mod-97 boundary ids produce the minimum sample
    count (64) — duration and byte counts must still be exact."""
    rows = {
        r["doc_id"]: r
        for r in QUERIES["multimodal_wav_decode"](spark, mm_dir).collect()
    }
    assert rows[0]["n_samples"] == 64
    assert rows[97]["n_samples"] == 64
    assert rows[-97]["n_samples"] == 64
    assert rows[0]["n_bytes"] == 44 + 2 * 64
    assert rows[96]["n_samples"] == 64 + 96
