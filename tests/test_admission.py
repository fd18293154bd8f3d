"""Admission-family invariants beyond the driver's hash check: cross-op
consistency of the exact admission and its audit, the streaming ledgers
against the batch survivors, and the rows-only MinHash admission key's
recall/exclusion contract on a hand-built corpus with KNOWN near-dups
straddling the batch split (the sf corpus carries no guaranteed
cross-split near-dups, so recall there would be vacuous)."""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bigdatawork_spark.io import load
from bigdatawork_spark.registry import QUERIES

_WORDS = [f"w{i:03d}" for i in range(200)]


def _doc(seed, n):
    """Pairwise-dissimilar base docs: a per-doc seeded sample from a
    200-word vocab — two independent samples share almost no 3-shingles
    (unlike a cyclic sliding window, which makes neighbors near-dups)."""
    import random

    return " ".join(random.Random(seed).sample(_WORDS, n))


def _near(base, tail):
    """A near-dup of `base`: same long prefix, different short tail —
    3-word-shingle Jaccard stays >= 0.8 for 30-word docs with a 2-word
    tail swap."""
    return " ".join(base.split(" ")[:-2] + tail.split(" "))


def _corpus_dir(tmp_path_factory):
    """60 docs: ids ..7 are the batch.  Deterministic plants:
    - exact pair inside batch: 17 == 37;
    - exact index hit: 27 == 20 (corpus);
    - near cross pairs: 7 ~ 10, 47 ~ 40 (distinct tails, shared 28-word
      prefix);
    - near pair WITHIN batch only: 57 ~ 17 — must NOT appear (the key
      reports batch-vs-INDEX hits, not batch self-pairs)."""
    texts = {}
    for i in range(60):
        texts[i] = _doc(i, 30)
    texts[37] = texts[17]
    texts[27] = texts[20]
    texts[7] = _near(texts[10], "xx yy")
    texts[47] = _near(texts[40], "zz qq")
    texts[57] = _near(texts[17], "aa bb")
    d = tmp_path_factory.mktemp("inc")
    ids = sorted(texts)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([texts[i] for i in ids], pa.string()),
            "lang": pa.array(["en"] * len(ids), pa.string()),
            "source": pa.array(
                ["s1" if i % 2 == 0 else "s2" for i in ids], pa.string()
            ),
            "n_chars": pa.array(
                [len(texts[i]) for i in ids], pa.int64()
            ),
        }),
        str(d / "documents.parquet"),
    )
    return str(d), texts


def test_incremental_exact_and_audit_are_consistent(spark, sf_dir):
    """On the real sf corpus: survivors' hashes are disjoint from the
    corpus index, each survivor is its hash-group's min doc_id, and the
    audit's totals reconcile exactly with the survivor set and the raw
    batch size (kept == survivors, kept+batch_dup+index_hit == batch)."""
    from bigdatawork_spark.operators.curation import _augmented_documents

    surv = QUERIES["dedup_incremental_exact"](spark, sf_dir).collect()
    audit = QUERIES["dedup_incremental_audit"](spark, sf_dir).collect()

    d = _augmented_documents(spark, sf_dir).withColumn("h", F.sha2("text", 256))
    batch = d.filter(F.col("doc_id") % 10 == 7)
    idx_hashes = {
        r.h for r in d.filter(F.col("doc_id") % 10 != 7).select("h").distinct().collect()
    }
    assert all(r.text_hash not in idx_hashes for r in surv)
    mins = {
        r.h: r.m
        for r in batch.groupBy("h").agg(F.min("doc_id").alias("m")).collect()
    }
    assert all(r.doc_id == mins[r.text_hash] for r in surv)

    by_status: dict[str, int] = {}
    for r in audit:
        by_status[r.status] = by_status.get(r.status, 0) + r.n_docs
    # the replica plants make every admission branch fire — the driver's
    # hash check is non-vacuous for all three statuses
    assert set(by_status) == {"kept", "batch_dup", "index_hit"}, by_status
    assert by_status.get("kept", 0) == len(surv)
    assert sum(by_status.values()) == batch.count()
    # copies reconcile too: each survivor's batch copies are all 'kept'
    # or 'batch_dup', so kept + batch_dup == copies of non-index-hit hashes
    non_hit_copies = sum(r.n_batch_copies for r in surv)
    assert by_status.get("kept", 0) + by_status.get("batch_dup", 0) == non_hit_copies


def test_incremental_minhash_recall_and_exclusions(spark, tmp_path_factory):
    """On the planted corpus: the two cross-split near-dup pairs are
    recalled with the right index-side representative; exact index hits
    and batch-internal relations never leak into the output."""
    d, texts = _corpus_dir(tmp_path_factory)
    hits = QUERIES["dedup_incremental_minhash"](spark, d).collect()
    got = {(r.batch_doc, r.index_doc) for r in hits}
    assert (7, 10) in got and (47, 40) in got, got
    # 27 is an exact index hit -> excluded from the residue entirely;
    # 37 is a batch dup of 17 -> collapsed to 17;
    # 57's near-twin 17 is IN THE BATCH, so (57, *) must not pair with it
    assert all(b not in (27, 37) for b, _ in got), got
    assert (57, 17) not in got and (17, 57) not in got
    # every reported pair straddles the split and respects the distance cut
    for r in hits:
        assert r.batch_doc % 10 == 7 and r.index_doc % 10 != 7
        assert 0.0 <= r.jaccard_dist <= 0.2


def test_incremental_exact_on_planted_corpus_full_answer(spark, tmp_path_factory):
    """End-to-end exact admission on the planted corpus, checked against
    a hashlib walk — including the n_batch_copies of the collapsed 17/37
    pair and 27's index-hit disappearance."""
    d, texts = _corpus_dir(tmp_path_factory)
    surv = {
        r.doc_id: (r.text_hash, r.n_batch_copies)
        for r in QUERIES["dedup_incremental_exact"](spark, d).collect()
    }
    # mirror the operator's deterministic replica plants (_AUG_SQL)
    aug = dict(texts)
    for i, t in texts.items():
        if i % 50 == 0:
            aug[i + 1000007] = t
        if i % 50 == 7:
            aug[i + 1000010] = t
    idx = {
        hashlib.sha256(t.encode()).hexdigest()
        for i, t in aug.items()
        if i % 10 != 7
    }
    grp: dict[str, list[int]] = {}
    for i, t in aug.items():
        if i % 10 == 7:
            grp.setdefault(hashlib.sha256(t.encode()).hexdigest(), []).append(i)
    want = {
        min(ids): (h, len(ids)) for h, ids in grp.items() if h not in idx
    }
    assert surv == want


def test_stream_index_admission_equals_batch_survivors(spark, sf_dir):
    """COVERAGE.md rows-only compensating test: the streaming admission
    ledger (stream-static anti-join + cross-micro-batch min-agg state
    over a two-file source whose SECOND file is all replicas) equals
    dedup_incremental_exact's FULL survivor relation including copy
    counts — every replica was merged or dropped by stream state, none
    by luck of batching, and the min-agg makes the admitted doc_ids
    arrival-order-invariant."""
    got = {
        (r.doc_id, r.text_hash, r.n_batch_copies)
        for r in QUERIES["stream_index_admission"](spark, sf_dir).collect()
    }
    want = {
        (r.doc_id, r.text_hash, r.n_batch_copies)
        for r in QUERIES["dedup_incremental_exact"](spark, sf_dir).collect()
    }
    assert got == want


def test_index_update_idempotent_and_nonvacuous(spark, sf_dir):
    """The maintenance key's claims, pinned non-vacuously: the first
    admission admits >0 docs (so the idempotence branch is exercised on
    real survivors), the re-admission after the index append admits
    EXACTLY zero, and index growth equals the survivor count."""
    rows = {
        r.phase: r.n
        for r in QUERIES["dedup_index_update_idempotent"](spark, sf_dir).collect()
    }
    assert rows["admitted_first"] > 0
    assert rows["admitted_after_update"] == 0
    assert rows["index_size_after"] - rows["index_size_before"] == rows["admitted_first"]


def test_stream_index_admission_wm_bounded_state_and_survivors(spark, sf_dir):
    """VERDICT r11 item 5: the watermarked admission ledger must (a) emit
    window 1's survivor relation ≡ the unbounded ledger's full relation
    (replicas arriving inside the horizon merged by state, index hits
    dropped), (b) emit window 2's new-document admissions, and (c) show
    state-store EVICTION as a runtime metric: numRowsTotal RISES while
    windows accumulate, then DROPS after each horizon passes — bounded
    state pinned the way join_dpp_partitioned pins partitions-read.  The
    trace comes from the test's own drain of the key's pipeline, whose
    rows must equal the key's."""
    from bigdatawork_spark.streaming import stream_ops

    rows = QUERIES["stream_index_admission_wm"](spark, sf_dir).collect()
    progress: list = []
    traced = stream_ops._drain_to_parquet(
        stream_ops._wm_admission_stream(
            spark, sf_dir, stream_ops._wm_source_dir(spark, sf_dir)
        ),
        "admwm-trace",
        progress=progress,
    )
    assert {tuple(r) for r in traced.collect()} == {tuple(r) for r in rows}
    w1_start = stream_ops._WM_BASE[:13]  # "2024-03-01 00"
    w2_start = stream_ops._WM_W2_TS[:13]  # "2024-03-01 03"
    got_w1 = {
        (r.doc_id, r.text_hash, r.n_batch_copies)
        for r in rows
        if str(r.window_start).startswith(w1_start)
    }
    got_w2 = {
        (r.doc_id, r.text_hash, r.n_batch_copies)
        for r in rows
        if str(r.window_start).startswith(w2_start)
    }
    assert {str(r.window_start)[:13] for r in rows} == {w1_start, w2_start}

    # (a) window 1 ≡ the unbounded ledger (itself ≡ dedup_incremental_exact)
    want_w1 = {
        (r.doc_id, r.text_hash, r.n_batch_copies)
        for r in QUERIES["stream_index_admission"](spark, sf_dir).collect()
    }
    assert got_w1 == want_w1

    # (b) window 2 ≡ the batch-computed admission of the shifted documents
    from bigdatawork_spark.operators.curation import _split

    batch, corpus = _split(spark, sf_dir, augmented=False)
    w2 = batch.select(
        (F.col("doc_id") + stream_ops._WM_W2_SHIFT).alias("doc_id"),
        F.concat(F.col("text"), F.lit(stream_ops._WM_W2_SUFFIX)).alias("text"),
    ).withColumn("h", F.sha2("text", 256))
    idx = corpus.select("h").distinct()
    want_w2 = {
        (r.doc_id, r.h, r.n_batch_copies)
        for r in (
            w2.groupBy("h")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.count(F.lit(1)).cast("bigint").alias("n_batch_copies"),
            )
            .join(idx, "h", "left_anti")
            .collect()
        )
    }
    assert got_w2 == want_w2 and got_w2

    # (c) bounded state: the numRowsTotal trace must rise then fall —
    # final state is ONLY the pending sentinel window (1 row), strictly
    # below the peak, so eviction provably happened.
    trace = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progress
        if p.get("stateOperators")
    ]
    assert trace, "no state-operator progress recorded"
    assert max(trace) >= len(got_w1) + len(got_w2)
    assert trace[-1] == 1, trace  # everything but the sentinel evicted
    assert trace[-1] < max(trace)


# --- randomized differential: admission vs a hashlib walk -------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_fuzz_docs = st.lists(
    st.tuples(
        st.sampled_from(["t0", "t1", "t2", "t3", "dup", ""]),  # dup-heavy pool
        st.sampled_from(["s1", "s2"]),
    ),
    min_size=0,
    max_size=55,  # >50 so the %50 plant rules fire on more than doc 0/7
)


def _write_docs(tmp_path_factory, rows):
    d = tmp_path_factory.mktemp("fz")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(rows)), pa.int64()),
            "text": pa.array([r[0] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([r[1] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[0]) for r in rows], pa.int64()),
        }),
        str(d / "documents.parquet"),
    )
    return str(d)


def _walk(rows):
    """Pure-Python restatement of the augmented split + admission."""
    aug = {i: (t, src) for i, (t, src) in enumerate(rows)}
    for i, (t, src) in enumerate(rows):
        if i % 50 == 0:
            aug[i + 1000007] = (t, src)
        if i % 50 == 7:
            aug[i + 1000010] = (t, src)
    h = {i: hashlib.sha256(t.encode()).hexdigest() for i, (t, _) in aug.items()}
    batch = {i for i in aug if i % 10 == 7}
    idx = {h[i] for i in aug if i % 10 != 7}
    grp: dict[str, list[int]] = {}
    for i in batch:
        grp.setdefault(h[i], []).append(i)
    surv = {
        min(ids): (hh, len(ids)) for hh, ids in grp.items() if hh not in idx
    }
    audit: dict[tuple[str, str], int] = {}
    for i in sorted(batch):
        status = (
            "index_hit" if h[i] in idx
            else ("batch_dup" if i > min(grp[h[i]]) else "kept")
        )
        k = (aug[i][1], status)
        audit[k] = audit.get(k, 0) + 1
    return surv, audit


@given(rows=_fuzz_docs)
@settings(**_SETTINGS)
def test_random_incremental_admission_vs_walk(spark, tmp_path_factory, rows):
    """Random dup-heavy corpora (6-text pool, so index hits and batch
    dups are the norm, plus empty-string docs and empty corpora) through
    BOTH admission keys vs one independent hashlib walk."""
    d = _write_docs(tmp_path_factory, rows)
    surv = {
        r.doc_id: (r.text_hash, r.n_batch_copies)
        for r in QUERIES["dedup_incremental_exact"](spark, d).collect()
    }
    audit = {
        (r.source, r.status): r.n_docs
        for r in QUERIES["dedup_incremental_audit"](spark, d).collect()
    }
    want_surv, want_audit = _walk(rows)
    assert surv == want_surv, f"rows={rows!r}"
    assert audit == want_audit, f"rows={rows!r}"


@given(rows=_fuzz_docs)
@settings(**_SETTINGS)
def test_random_index_update_idempotent_vs_walk(spark, tmp_path_factory, rows):
    """Random dup-heavy corpora through the maintenance key: the phase
    audit must match an independent hashlib walk of the natural split
    (survivors = batch-unique hashes outside the corpus index; index
    grows by exactly that count; re-admission always zero — including on
    empty corpora and batches that are all index hits)."""
    d = _write_docs(tmp_path_factory, rows)
    got = {
        r.phase: r.n
        for r in QUERIES["dedup_index_update_idempotent"](spark, d).collect()
    }
    h = [hashlib.sha256(t.encode()).hexdigest() for t, _ in rows]
    batch_h = {h[i] for i in range(len(rows)) if i % 10 == 7}
    idx0 = {h[i] for i in range(len(rows)) if i % 10 != 7}
    surv = batch_h - idx0
    want = {
        "admitted_first": len(surv),
        "admitted_after_update": 0,
        "index_size_before": len(idx0),
        "index_size_after": len(idx0) + len(surv),
    }
    assert got == want, f"rows={rows!r}"


def test_persisted_index_admission_plan_and_values(spark, tmp_path_factory):
    """The §11c claim as a plan property: the ADMISSION query scans
    documents.parquet exactly once (the batch slice) and reads corpus
    state only through the persisted index files; on the planted corpus
    its values still reject the exact index hit (27) and collapse the
    batch dup (37→17) — non-vacuous despite the natural split."""
    from bigdatawork_spark.plans.explain import formatted_plan

    d, texts = _corpus_dir(tmp_path_factory)
    df = QUERIES["dedup_index_persisted"](spark, d)
    locs = [
        l for l in formatted_plan(df).splitlines() if "Location:" in l
    ]
    assert sum("documents.parquet" in l for l in locs) == 1, locs
    assert sum("hashidx-" in l for l in locs) == 1, locs

    surv = {
        r.doc_id: (r.text_hash, r.n_batch_copies) for r in df.collect()
    }
    idx = {
        hashlib.sha256(t.encode()).hexdigest()
        for i, t in texts.items()
        if i % 10 != 7
    }
    grp: dict[str, list[int]] = {}
    for i, t in texts.items():
        if i % 10 == 7:
            grp.setdefault(hashlib.sha256(t.encode()).hexdigest(), []).append(i)
    want = {min(ids): (h, len(ids)) for h, ids in grp.items() if h not in idx}
    assert surv == want
    assert 27 not in surv and 37 not in surv and 17 in surv
    assert surv[17][1] == 2  # 37 collapsed into 17
