"""ManifestTable format semantics: version isolation, commit atomicity,
compaction content-preservation, and time travel across compaction."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from bigdatawork_spark.io import load
from bigdatawork_spark.sources.io_ops import _tmp
from bigdatawork_spark.sources.manifest_format import ManifestTable, _events_cols


def _fresh(spark, name):
    path = _tmp(name)
    shutil.rmtree(path, ignore_errors=True)
    return ManifestTable(spark, path), path


def test_version_isolation_and_time_travel(spark, sf_dir):
    t, _ = _fresh(spark, "mt_isolation")
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    n1 = t.append(ev.filter(F.col("event_id") % 2 == 0))
    c1 = t.read(n1).count()
    n2 = t.append(ev.filter(F.col("event_id") % 2 == 1))
    assert t.versions() == [1, 2] and (n1, n2) == (1, 2)
    # v1 read is unchanged by the later append
    assert t.read(1).count() == c1
    assert t.read(2).count() == ev.count()


def test_no_inprogress_manifest_left_behind(spark, sf_dir):
    t, path = _fresh(spark, "mt_atomic")
    ev = load(spark, sf_dir, "events").select("event_id", "value").limit(100)
    t.append(ev)
    assert not [f for f in os.listdir(path) if f.endswith(".inprogress")]
    assert [f for f in os.listdir(path) if f.startswith("manifest-v")] == [
        "manifest-v1.json"
    ]


def test_compaction_preserves_content_and_old_versions(spark, sf_dir):
    t, _ = _fresh(spark, "mt_compact")
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    for r in range(3):
        t.append(ev.filter(F.col("event_id") % 3 == r))
    rows_before = t.read().count()
    files_before = t.file_count()
    v1_count = t.read(1).count()
    cv = t.compact()
    assert t.file_count(cv) < files_before
    assert t.read(cv).count() == rows_before
    # time travel still works across the compaction boundary
    assert t.read(1).count() == v1_count
    # content identical, not just counts
    ids_new = {r.event_id for r in t.read(cv).select("event_id").collect()}
    ids_src = {r.event_id for r in ev.select("event_id").collect()}
    assert ids_new == ids_src


def test_named_append_is_idempotent(spark, sf_dir):
    t, _ = _fresh(spark, "mt_idempotent")
    ev = load(spark, sf_dir, "events").select("event_id", "value").limit(50)
    v = t.append(ev, name="batch-0")
    assert t.append(ev, name="batch-0") == v  # replay is a no-op
    assert t.versions() == [1]
    assert t.append(ev, name="batch-1") == 2  # a new name commits


def test_added_files_change_feed(spark, sf_dir):
    t, _ = _fresh(spark, "mt_added")
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    v1 = t.append(ev.filter(F.col("event_id") % 2 == 0))
    v2 = t.append(ev.filter(F.col("event_id") % 2 == 1))
    assert set(t.added_files(v1)) == set(t._manifest(v1)["files"])
    added = t.added_files(v2)
    assert set(added).isdisjoint(t._manifest(v1)["files"])
    n_odd = ev.filter(F.col("event_id") % 2 == 1).count()
    assert spark.read.parquet(*added).count() == n_odd


def test_manifest_random_histories(spark):
    """Property battery: ANY interleaving of appends and compactions
    preserves (a) latest-version content = union of all appended batches,
    (b) every historical version's row count frozen at commit time,
    (c) compaction never changes content.  Mirrors the hypothesis-style
    strategy of test_random_differential with a command-sequence domain
    (hypothesis itself drives Spark too slowly per example, so this uses
    seeded random programs — same coverage intent)."""
    import random

    rng = random.Random(7)
    base = spark.range(0, 400).selectExpr("id", "id % 7 AS k")
    for trial in range(4):
        t, _ = _fresh(spark, f"mt_prop_{trial}")
        expected_total = 0
        version_counts = {}
        n_ops = rng.randint(2, 5)
        for _ in range(n_ops):
            if t.versions() and rng.random() < 0.4:
                v = t.compact(n_files=rng.randint(1, 3))
            else:
                lo = rng.randint(0, 300)
                hi = rng.randint(lo + 1, 400)
                batch = base.filter((F.col("id") >= lo) & (F.col("id") < hi))
                expected_total += hi - lo
                v = t.append(batch, n_files=rng.randint(1, 3))
            version_counts[v] = expected_total
            # every version ever committed still reads at its frozen count
            for pv, cnt in version_counts.items():
                assert t.read(pv).count() == cnt, (trial, pv)
        assert t.read().count() == expected_total


def test_change_feed_truncates_at_vacuum_horizon(spark, sf_dir):
    """ADVICE r05 item 1: added_files() on the earliest SURVIVING version
    after a vacuum must not crash on the expired parent manifest — the
    feed truncates at the horizon and that version's full file list is
    the delta (a CDC reader re-bootstraps from the snapshot)."""
    t, _ = _fresh(spark, "mt_feed_horizon")
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t.append(ev.filter(F.col("event_id") % 2 == 0))
    v2 = t.append(ev.filter(F.col("event_id") % 2 == 1))
    t.vacuum(keep_last=1)  # expires v1, v2's parent manifest is gone
    added = t.added_files(v2)  # must not raise
    assert set(added) == set(t._manifest(v2)["files"])
    # expired versions raise a CLEAR KeyError, not FileNotFoundError
    import pytest

    with pytest.raises(KeyError, match="expired by vacuum"):
        t.read(1)


def test_vacuum_liveness_survives_path_respelling(spark, sf_dir):
    """ADVICE r05 item 2: manifests record the path string used at append
    time; reopening the SAME table through a different spelling (here a
    symlink; trailing slashes and relative opens are the same class) must
    not make live files compare unequal and be deleted."""
    t, path = _fresh(spark, "mt_vacuum_respell")
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t.append(ev.filter(F.col("event_id") % 2 == 0))
    t.append(ev.filter(F.col("event_id") % 2 == 1))
    n_total = t.read().count()
    link = path.rstrip("/") + "-link"
    shutil.rmtree(link, ignore_errors=True)
    if os.path.islink(link):
        os.unlink(link)
    os.symlink(path, link)
    t2 = ManifestTable(spark, link)  # same table, different spelling
    stats = t2.vacuum(keep_last=1)
    assert stats["n_deleted_files"] == 0  # latest references everything
    assert t.read().count() == n_total  # nothing live was deleted
    os.unlink(link)


def test_vacuum_counts_are_manifest_derived(spark, sf_dir):
    """ADVICE r05 item 4: vacuum's reported counts must equal the
    manifest-derived expectations for ANY writer file-count, not pinned
    constants — exercised with non-default n_files."""
    t, path = _fresh(spark, "mt_vacuum_derived")
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    for r, nf in zip(range(3), (3, 5, 2)):
        t.append(ev.filter(F.col("event_id") % 3 == r), n_files=nf)
    t.compact(n_files=3)
    expect_live = t.file_count()
    physical = sum(
        1
        for _root, _dirs, files in os.walk(os.path.join(path, "data"))
        for f in files
        if f.endswith(".parquet")
    )
    stats = t.vacuum(keep_last=1)
    assert stats["n_expired_versions"] == 3
    assert stats["n_live_files"] == expect_live
    assert stats["n_deleted_files"] == physical - expect_live


def test_manifest_random_histories_with_vacuum(spark):
    """Round-7 extension of the property battery: interleave VACUUM with
    appends and compactions.  Invariants after any program: (a) latest
    content equals the union of all appended batches (vacuum never touches
    live data), (b) surviving versions still read at their frozen counts,
    (c) expired versions raise the clear KeyError, (d) a second vacuum is
    a no-op, (e) the physical file set equals exactly the union of kept
    manifests."""
    import random

    rng = random.Random(11)
    base = spark.range(0, 300).selectExpr("id", "id % 5 AS k")
    for trial in range(3):
        t, path = _fresh(spark, f"mt_vprop_{trial}")
        expected_total = 0
        for _ in range(rng.randint(3, 6)):
            op = rng.random()
            if t.versions() and op < 0.25:
                t.compact(n_files=rng.randint(1, 3))
            elif t.versions() and op < 0.5:
                keep = rng.randint(1, len(t.versions()))
                t.vacuum(keep_last=keep)
                again = t.vacuum(keep_last=keep)
                assert again["n_deleted_files"] == 0  # idempotent
                assert again["n_expired_versions"] == 0
            else:
                lo = rng.randint(0, 200)
                hi = rng.randint(lo + 1, 300)
                t.append(
                    base.filter((F.col("id") >= lo) & (F.col("id") < hi)),
                    n_files=rng.randint(1, 3),
                )
                expected_total += hi - lo
            # (a) latest content is never damaged
            assert t.read().count() == expected_total, trial
        # (b)/(c) surviving versions read; expired versions raise clearly
        live = set(t.versions())
        for v in range(1, max(live) + 1):
            if v in live:
                t.read(v).count()
            else:
                import pytest

                with pytest.raises(KeyError):
                    t._manifest(v)
        # (e) physical files == union of kept manifests, exactly
        referenced = set()
        for v in live:
            referenced.update(
                os.path.realpath(f) for f in t._manifest(v)["files"]
            )
        physical = {
            os.path.realpath(os.path.join(r, f))
            for r, _d, fs in os.walk(os.path.join(path, "data"))
            for f in fs
            if f.endswith(".parquet")
        }
        assert physical == referenced, trial


# ---------------------------------------------------------------------------
# r14 edge-corpus campaign (VERDICT r13 item 5): degenerate table states —
# empty snapshots, merge into an empty table, compaction of a single file,
# and vacuum over an empty-append history.


def test_empty_append_roundtrip_and_compact(spark, sf_dir):
    """An EMPTY commit is a legal snapshot: it must read back as 0 rows
    with the right schema, remain time-travelable after a real append,
    and compaction of the empty version must not die on zero input."""
    t, _ = _fresh(spark, "mt_empty")
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    v1 = t.append(ev.filter(F.lit(False)))
    assert v1 == 1
    assert t.read(1).count() == 0
    assert t.read(1).columns == ["event_id", "value"]
    v2 = t.append(ev.limit(10))
    assert t.read(v2).count() == 10
    assert t.read(1).count() == 0  # the empty snapshot is still pinned
    v3 = t.compact(n_files=1)
    assert t.read(v3).count() == 10


def test_merge_into_empty_table(spark, sf_dir):
    """MERGE where the base snapshot is EMPTY: every upsert row is an
    insert — the full-outer-join merge shape must degrade to the batch
    itself, not drop rows or null out columns."""
    t, _ = _fresh(spark, "mt_merge_empty")
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t.append(ev.filter(F.lit(False)))
    upd = ev.limit(50).select(
        F.col("event_id").alias("u_id"),
        F.col("event_type").alias("u_type"),
        (F.col("value") + 100.0).alias("u_value"),
    )
    base = t.read()
    merged = base.join(upd, base.event_id == upd.u_id, "full_outer").select(
        F.coalesce("u_id", "event_id").alias("event_id"),
        F.coalesce("u_type", "event_type").alias("event_type"),
        F.coalesce("u_value", "value").alias("value"),
    )
    files = t._write_data(merged, "merge-2", 2)
    t._write_manifest(2, files, 1, "merge")
    out = t.read(2)
    assert out.count() == 50
    assert out.filter(F.col("event_type").isNull()).count() == 0


def test_compact_single_file_is_stable(spark, sf_dir):
    """Compacting a table that is already ONE file must be an identity on
    content (and still a new, time-travelable version)."""
    t, _ = _fresh(spark, "mt_compact1")
    ev = load(spark, sf_dir, "events").select("event_id", "value").limit(20)
    t.append(ev, n_files=1)
    assert t.file_count() == 1
    v2 = t.compact(n_files=1)
    assert v2 == 2 and t.file_count(2) == 1
    a = sorted(r["event_id"] for r in t.read(1).collect())
    b = sorted(r["event_id"] for r in t.read(2).collect())
    assert a == b


def test_vacuum_with_empty_history(spark, sf_dir):
    """Vacuum over a history whose expired versions include an EMPTY
    commit: no orphaned data dirs, latest version intact, expired
    versions raise KeyError."""
    import pytest as _pytest

    t, _ = _fresh(spark, "mt_vacuum_empty")
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t.append(ev.filter(F.lit(False)))          # v1: empty
    t.append(ev.limit(10))                     # v2
    t.compact(n_files=1)                       # v3
    stats = t.vacuum(keep_last=1)
    assert stats["n_expired_versions"] == 2
    assert t.versions() == [3]
    assert t.read().count() == 10
    with _pytest.raises(KeyError):
        t.read(1)


def test_python_stream_source_over_an_empty_manifest(spark, sf_dir, monkeypatch):
    """source_python_stream over a manifest log with no commits must
    return an empty, well-typed frame.  Spark 4.1 still fires one empty
    micro-batch on an empty log, and its empty write leaves a schema-only
    parquet file, so the read-back of the drain dir keeps its schema."""
    from bigdatawork_spark.registry import QUERIES

    monkeypatch.setattr(ManifestTable, "append", lambda self, df, *a, **k: 0)
    want = "struct<event_type:string,n_rows:bigint,sum_value:double>"
    out = QUERIES["source_python_stream"](spark, sf_dir)
    assert out.collect() == [] and out.schema.simpleString() == want


def test_pre_ledger_tables_heal_and_reserved_names_raise(spark, sf_dir):
    """r14 third-review: tables written before the txn ledger existed
    (manifests lack 'txn') regain replay idempotence at the first
    opportunity — the commit-time heal merges names still discoverable
    from live manifests — and user names colliding with the internal
    commit-/compact-/merge-N namespace are rejected."""
    import json

    import pytest as _pytest

    t, path = _fresh(spark, "mt_preledger")
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t.append(ev.limit(10), name="batch-a")
    t.append(ev.limit(5))
    # simulate a pre-ledger table: strip the txn field from every manifest
    for f in os.listdir(path):
        if f.startswith("manifest-v"):
            p = os.path.join(path, f)
            with open(p) as fh:
                m = json.load(fh)
            m.pop("txn", None)
            with open(p, "w") as fh:
                json.dump(m, fh)
    # replay of batch-a must heal via discovered names — no new version
    assert t.append(ev.limit(10), name="batch-a") == 1
    assert t.versions() == [1, 2]
    # and the heal persists into the NEXT committed manifest's ledger
    t.append(ev.limit(3), name="batch-b")
    assert t._txn_ledger()["batch-a"] == 1
    with _pytest.raises(ValueError, match="internal"):
        t.append(ev.limit(1), name="commit-7")


def test_pre_ledger_heal_survives_interposed_compact(spark, sf_dir):
    """ADVICE r14: a compact() (or merge) as the FIRST post-upgrade commit
    must not seal off the pre-ledger heal.  _write_manifest's txn=None
    inheritance used to read a pre-ledger parent (no 'txn' key) as an
    empty-but-authoritative ledger; the next append then saw 'txn' in the
    parent, skipped the _discovered_names() heal, and a replayed
    pre-ledger name re-appended — double-counted rows AND a
    mode('overwrite') clobber of the live named commit dir."""
    import json

    t, path = _fresh(spark, "mt_preledger_compact")
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t.append(ev.limit(10), name="batch-a")
    t.append(ev.limit(5))
    # simulate a pre-ledger table: strip the txn field from every manifest
    for f in os.listdir(path):
        if f.startswith("manifest-v"):
            p = os.path.join(path, f)
            with open(p) as fh:
                m = json.load(fh)
            m.pop("txn", None)
            with open(p, "w") as fh:
                json.dump(m, fh)
    # FIRST post-upgrade commit is a compact, not an append
    v3 = t.compact(n_files=1)
    assert v3 == 3
    # the compacted manifest's ledger must carry the healed name
    assert t._txn_ledger()["batch-a"] == 1
    # replay of the pre-ledger name: idempotent no-op, no new version
    rows_before = t.read().count()
    assert t.append(ev.limit(10), name="batch-a") == 1
    assert t.versions() == [1, 2, 3]
    assert t.read().count() == rows_before
    # merge-style _write_manifest(txn=None) inherits the healed ledger too
    files = t._manifest(3)["files"]
    t._write_manifest(4, files, 3, "merge")
    assert t._txn_ledger(4)["batch-a"] == 1


def test_dot_dir_and_traversal_names_rejected(spark, sf_dir):
    """ADVICE r14: '.' and '..' commit names must be rejected — '..'
    makes _write_data target data/.. == the table root, where the
    mode('overwrite') parquet write would destroy the manifests; '.'
    writes loose files into data/.  Same for multi-component traversals
    and the empty name; a clean single component still works."""
    import pytest as _pytest

    t, path = _fresh(spark, "mt_dotnames")
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    t.append(ev.limit(10), name="batch-a")
    for bad in ("..", ".", "", "a/../..", "a/", "a/b", "./x"):
        with _pytest.raises(ValueError, match="pick another name"):
            t.append(ev.limit(1), name=bad)
    # table intact: manifests survive, content unchanged
    assert t.versions() == [1]
    assert t.read().count() == 10
    assert t.append(ev.limit(3), name="batch.b-ok_2") == 2


def test_vacuum_deletes_only_dead_files_and_truncates_history(spark, sf_dir):
    """Filesystem-level invariants behind the oracle constants: after
    vacuum(keep_last=1) the on-disk parquet set equals exactly the latest
    manifest's file list, expired versions raise on time travel, and the
    surviving read matches the pre-vacuum content row-for-row."""
    t, path = _fresh(spark, "manifest_vacuum_invariants")
    ev = _events_cols(spark, sf_dir)
    for r in range(3):
        t.append(ev.filter(f"event_id % 3 = {r}"))
    t.compact()
    before_rows = sorted(map(tuple, t.read().collect()))
    versions_before = t.versions()

    stats = t.vacuum(keep_last=1)
    assert t.versions() == versions_before[-1:]
    assert stats["n_expired_versions"] == len(versions_before) - 1

    live = set(t._manifest(t.versions()[0])["files"])
    on_disk = set()
    for root, _, files in os.walk(os.path.join(path, "data")):
        for f in files:
            if f.endswith(".parquet"):
                on_disk.add(os.path.join(root, f))
    assert on_disk == live  # nothing dead survives, nothing live deleted
    assert stats["n_live_files"] == len(live)

    assert sorted(map(tuple, t.read().collect())) == before_rows
    with pytest.raises(Exception):
        t.read(versions_before[0])  # expired snapshot must not be readable

    # idempotence: a second vacuum finds nothing to do
    again = t.vacuum(keep_last=1)
    assert again["n_expired_versions"] == 0
    assert again["n_deleted_files"] == 0


def test_vacuum_does_not_tear_pinned_readers_of_kept_versions(spark, sf_dir):
    """The retention contract: a DataFrame planned against the LATEST
    manifest before vacuum still collects its full content after vacuum
    (its files are the referenced set and must survive); a reader pinned
    to an EXPIRED version fails only when it actually reads."""
    t, _ = _fresh(spark, "manifest_vacuum_pinned")
    ev = _events_cols(spark, sf_dir)
    for r in range(2):
        t.append(ev.filter(f"event_id % 2 = {r}"))
    t.compact()
    latest = t.versions()[-1]
    expired_v = t.versions()[0]
    pinned_kept = t.read(latest)      # plans against surviving files
    pinned_expired = t.read(expired_v)  # plans against doomed files
    expected = pinned_kept.count()

    t.vacuum(keep_last=1)
    assert pinned_kept.count() == expected  # kept reader unaffected
    with pytest.raises(Exception):
        pinned_expired.count()  # expired reader fails at read time
