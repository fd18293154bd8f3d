"""Minimal versioned table format: parquet data files + JSON manifest log
(append / time-travel / compaction).  REF:∅ (reference snapshot empty —
SURVEY.md §0); models the lakehouse-table-format contract (Delta/Iceberg
style) with the pieces that matter for correctness: a manifest lists the
EXACT data files of each version, commits are atomic (manifest written to a
temp name then renamed), readers pin a manifest so concurrent appends and
compactions never tear a read, and old versions stay readable because
compaction writes NEW files and only rewrites the file LIST.

Scale notes: the manifest holds file paths + row counts, not data — a
100 TB table's manifest is megabytes; reads plan from the pinned file list
so Spark's parquet scan (pushdown, pruning, split planning) works
unchanged; compaction is the small-file GC that keeps scan task counts
proportional to data size, not commit count.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from .io_ops import _tmp


class ManifestTable:
    """A directory-backed versioned table: ``data/`` holds immutable
    parquet files; ``manifest-v{N}.json`` lists the files of version N."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # -- log ------------------------------------------------------------
    def versions(self) -> list[int]:
        out = []
        for f in os.listdir(self.path):
            if f.startswith("manifest-v") and f.endswith(".json"):
                out.append(int(f[len("manifest-v") : -len(".json")]))
        return sorted(out)

    def _manifest(self, version: int) -> dict:
        try:
            with open(os.path.join(self.path, f"manifest-v{version}.json")) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise KeyError(
                f"version {version} does not exist (expired by vacuum, or "
                f"never committed); live versions: {self.versions()}"
            ) from None

    def _write_manifest(self, version: int, files: list[str], parent: int | None, action: str, txn: dict | None = None) -> None:
        # temp-write + rename: readers either see the complete manifest or
        # none — the commit point is the rename.  ``txn`` is the committed-
        # name ledger (name → version) carried forward manifest-to-manifest
        # so replay idempotence survives VACUUM (see append); None inherits
        # the parent's ledger unchanged — and a ROOT manifest (parent is
        # None) starts an EMPTY ledger, never the latest version's (r14
        # review: a truncate/restore-style root rewrite must not leak
        # stale name→version entries that would block those names).
        #
        # A PRE-LEDGER parent (manifest with no "txn" key at all) is NOT
        # the same as an empty ledger (ADVICE r14): inheriting {} here
        # would write an empty-but-authoritative ledger, and the next
        # append would then skip the _discovered_names() heal — a compact
        # or merge interposed before the first post-upgrade append would
        # permanently seal off every pre-ledger name, so a replayed named
        # batch re-appends (double count) and its mode("overwrite") data
        # write clobbers the live named commit dir.  The heal must run at
        # the first post-upgrade commit of ANY action, not just append.
        if txn is None:
            if parent is None:
                txn = {}
            else:
                try:
                    m = self._manifest(parent)
                except KeyError:  # parent expired by vacuum
                    txn = {}
                else:
                    txn = (
                        dict(m["txn"] or {})
                        if "txn" in m
                        else self._discovered_names()
                    )
        final = os.path.join(self.path, f"manifest-v{version}.json")
        tmp = final + ".inprogress"
        with open(tmp, "w") as fh:
            json.dump(
                {"version": version, "parent": parent, "action": action,
                 "files": sorted(files), "txn": dict(sorted(txn.items()))},
                fh,
            )
        os.rename(tmp, final)

    def _txn_ledger(self, version: int | None = None) -> dict:
        """The committed-name ledger as of ``version`` (default: latest).
        Manifests written before the ledger existed default to {} — the
        file-prefix scan in append() still covers those."""
        if version is None:
            vs = self.versions()
            if not vs:
                return {}
            version = vs[-1]
        try:
            return dict(self._manifest(version).get("txn") or {})
        except KeyError:  # parent expired by vacuum
            return {}

    # -- writes ---------------------------------------------------------
    def _write_data(self, df: DataFrame, commit_name: str, n_files: int) -> list[str]:
        d = os.path.join(self.path, "data", commit_name)
        df.repartition(n_files).write.mode("overwrite").parquet(d)
        return sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )

    #: Internal data-dir names; user commit names must not collide (a
    #: colliding name would false-positive the pre-ledger replay scan or
    #: let _write_data overwrite a live internal commit dir).
    _RESERVED_NAME = re.compile(r"^(commit|compact|merge)-\d+$")

    #: Ledger retention: keep at most this many committed-name entries
    #: (highest versions win).  Bounds manifest growth for long-running
    #: named-batch sinks (one entry per micro-batch would otherwise grow
    #: the log O(B^2) bytes over B batches); replays older than the
    #: horizon re-append — the same documented retention trade Delta's
    #: SetTransaction expiry makes.
    TXN_LEDGER_MAX = 10_000

    def _discovered_names(self) -> dict:
        """name → version for every NAMED commit whose data files are
        still referenced by a live manifest — the back-fill source for
        tables written before the ledger existed.  Earliest surviving
        referencing version wins; when vacuum has expired the commit's
        own manifest that is the horizon FLOOR, not the original commit
        version (the best value still recoverable — replays still no-op,
        but a caller asserting the exact original version across a vacuum
        horizon cannot be satisfied; disclosed migration limit).

        Both path sides are realpath-canonicalized (same hazard class
        vacuum documents): manifests store the path spelling used at
        APPEND time, and a table re-opened via a symlink / relative /
        trailing-slash spelling must still discover its names.  The name
        is the FULL directory path relative to data/ (not the first
        component) so a legacy separator-bearing name cannot alias a
        later single-component name."""
        out: dict[str, int] = {}
        data_root = os.path.realpath(os.path.join(self.path, "data")) + os.sep
        for v in self.versions():
            for f in self._manifest(v)["files"]:
                rf = os.path.realpath(f)
                if not rf.startswith(data_root):
                    continue
                d = os.path.dirname(rf[len(data_root):])
                if d and not self._RESERVED_NAME.match(d) and d not in out:
                    out[d] = v
        return out

    def append(self, df: DataFrame, n_files: int = 4, name: str | None = None) -> int:
        """Commit an append.  ``name`` labels the commit's data dir; a
        repeated name is a no-op returning the existing version — the
        idempotence hook a replayed streaming micro-batch needs for
        exactly-once sinks (batch id → name).

        Replay memory is a LEDGER (name → version) carried forward in
        every manifest — the Delta ``SetTransaction`` pattern — not a scan
        of live file paths: the r14 model fuzz caught a VACUUM expiring
        the manifests that referenced a named commit (its rows surviving
        only inside compaction rewrites), after which a path-scan-based
        guard re-appended the replayed batch and double-counted it.  The
        ledger lives in the latest manifest, which vacuum always keeps.
        Pre-ledger tables are HEALED at the first post-upgrade commit:
        when the parent manifest predates the ledger (no ``txn`` key),
        names still discoverable from live manifests' file paths are
        merged in (``_discovered_names``); once a manifest carries a
        ledger it is authoritative and steady-state appends read ONLY the
        parent manifest (no per-commit history scan).  A pre-ledger name
        whose files were already compacted away AND vacuumed is
        unrecoverable, and a replay of it re-appends (disclosed migration
        limit).  The ledger keeps at most TXN_LEDGER_MAX entries (highest
        versions win)."""
        vs = self.versions()
        parent = vs[-1] if vs else None
        version = (parent or 0) + 1
        parent_m = self._manifest(parent) if parent else None
        ledger = dict((parent_m or {}).get("txn") or {})
        if parent_m is not None and "txn" not in parent_m:
            # pre-ledger parent: one-time heal from live file paths
            ledger = {**self._discovered_names(), **ledger}
        if name is not None:
            # ledger hit FIRST (r14 fourth review): a name legally
            # committed before the reserved-name guard existed must stay
            # an idempotent no-op on replay, not an upgrade-time crash
            if name in ledger:
                return ledger[name]
            # A name must be exactly one clean path component (ADVICE r14):
            # '..' would make _write_data target data/.. == the table root
            # and its mode("overwrite") parquet write would destroy the
            # manifests; '.' writes loose files into data/ where they
            # confuse vacuum's per-commit-dir walk and _discovered_names.
            # The basename(normpath()) check subsumes separators, trailing
            # slashes, and multi-component traversals ('a/../..'); '.' and
            # '..' normalize to themselves so they need the explicit list.
            if (
                self._RESERVED_NAME.match(name)
                or not name
                or name in (".", "..")
                or os.path.basename(os.path.normpath(name)) != name
            ):
                raise ValueError(
                    f"commit name {name!r} collides with the internal "
                    f"commit-/compact-/merge-N namespace, is empty or a "
                    f"dot-dir, or is not a single clean path component; "
                    f"pick another name"
                )
            ledger[name] = version
        if len(ledger) > self.TXN_LEDGER_MAX:
            keep = sorted(ledger, key=ledger.__getitem__)[-self.TXN_LEDGER_MAX:]
            ledger = {k: ledger[k] for k in keep}
        commit = name or f"commit-{version}"
        new_files = self._write_data(df, commit, n_files)
        prev = parent_m["files"] if parent_m else []
        self._write_manifest(version, prev + new_files, parent, "append",
                             txn=ledger)
        return version

    def compact(self, n_files: int = 2) -> int:
        parent = self.versions()[-1]
        version = parent + 1
        files = self._write_data(self.read(), f"compact-{version}", n_files)
        # old versions keep their (still-present) files — time travel works
        self._write_manifest(version, files, parent, "compact")
        return version

    # -- reads ----------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame:
        version = version if version is not None else self.versions()[-1]
        files = self._manifest(version)["files"]
        return self.spark.read.parquet(*files)

    def added_files(self, version: int) -> list[str]:
        """Files a commit added relative to its parent (the change feed).

        Truncates at the vacuum horizon: when the parent manifest has been
        expired by :meth:`vacuum`, the earliest surviving version acts as
        the base commit and its FULL file list is the delta — the standard
        retention contract (a CDC reader resuming past the horizon must
        re-bootstrap from the snapshot, never crash on the missing log)."""
        m = self._manifest(version)
        if m["parent"] is None:
            return m["files"]
        try:
            prev = set(self._manifest(m["parent"])["files"])
        except KeyError:  # parent expired by vacuum — feed restarts here
            return m["files"]
        return [f for f in m["files"] if f not in prev]

    def stream_manifests(self):
        """The commit log as a streaming source: each NEW manifest file
        arrives as one row (version, parent, action, files).  The JSON
        manifests are single-line (JSON-lines compatible) and the glob
        filter keeps the file-source listing out of ``data/`` — so the
        stream tails commits, exactly the Delta/Iceberg streaming-read
        contract, and the file-source checkpoint guarantees each commit is
        delivered once."""
        return (
            self.spark.readStream.schema(
                "version int, parent int, action string, files array<string>"
            )
            .option("pathGlobFilter", "manifest-v*.json")
            .option("maxFilesPerTrigger", 1)
            .json(self.path)
        )

    def file_count(self, version: int | None = None) -> int:
        version = version if version is not None else self.versions()[-1]
        return len(self._manifest(version)["files"])

    # -- lifecycle ------------------------------------------------------
    def vacuum(self, keep_last: int = 1) -> dict:
        """Expire all but the last ``keep_last`` versions and delete data
        files no kept version references — the snapshot-expiration /
        VACUUM lifecycle op every lakehouse format needs to bound storage
        (old versions otherwise pin every pre-compaction file forever).

        Order matters for crash safety: expired MANIFESTS are removed
        first (a crash between the two phases leaves orphaned data files
        — re-running vacuum collects them — never a manifest pointing at
        deleted data).  Readers pinning a KEPT manifest are unaffected;
        time travel to expired versions now raises, and the change feed
        (``added_files``) truncates at the vacuum horizon — the standard
        retention contract.

        Returns {n_expired_versions, n_deleted_files, n_live_files}."""
        vs = self.versions()
        if keep_last < 1:
            raise ValueError("vacuum must keep at least the latest version")
        keep = set(vs[-keep_last:])
        # realpath both sides of the liveness comparison: manifests record
        # the path string used at APPEND time, the walk below builds paths
        # from self.path NOW — a trailing slash, a relative open, or a
        # symlinked mount would otherwise make every live file compare
        # unequal and be deleted.  Canonical paths make the comparison
        # about the file, not the spelling.
        referenced: set[str] = set()
        for v in keep:
            referenced.update(
                os.path.realpath(f) for f in self._manifest(v)["files"]
            )
        expired = [v for v in vs if v not in keep]
        for v in expired:
            os.remove(os.path.join(self.path, f"manifest-v{v}.json"))
        deleted = 0
        data_root = os.path.join(self.path, "data")
        for commit in sorted(os.listdir(data_root)):
            cdir = os.path.join(data_root, commit)
            for f in sorted(os.listdir(cdir)):
                p = os.path.join(cdir, f)
                if f.endswith(".parquet") and os.path.realpath(p) not in referenced:
                    os.remove(p)
                    deleted += 1
            if not any(x.endswith(".parquet") for x in os.listdir(cdir)):
                shutil.rmtree(cdir, ignore_errors=True)
        return {
            "n_expired_versions": len(expired),
            "n_deleted_files": deleted,
            "n_live_files": len(referenced),
        }


def _events_cols(spark, sf_dir):
    return load(spark, sf_dir, "events").select("event_id", "event_type", "value")


@register(
    "table_format_time_travel",
    oracle="""
SELECT CAST(1 AS BIGINT) AS version, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events WHERE event_id % 2 = 0
GROUP BY event_type
UNION ALL
SELECT CAST(2 AS BIGINT), event_type,
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
FROM events GROUP BY event_type
ORDER BY version, event_type
""",
)
def table_format_time_travel(spark, sf_dir):
    """Time travel on the manifest format: commit even events as v1,
    append odd events as v2, then read BOTH versions by their pinned
    manifests — v1 must still show only the first commit after the
    append.  The per-version aggregates are oracle-checked against the
    equivalent filters on the source table, proving version isolation
    end-to-end (not just file bookkeeping)."""
    path = _tmp("manifest_time_travel")
    shutil.rmtree(path, ignore_errors=True)
    t = ManifestTable(spark, path)
    ev = _events_cols(spark, sf_dir)
    t.append(ev.filter(F.col("event_id") % 2 == 0))
    t.append(ev.filter(F.col("event_id") % 2 == 1))

    def summarize(version):
        return (
            t.read(version)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(F.lit(version).cast("bigint").alias("version"), "*")
        )

    return summarize(1).unionByName(summarize(2)).orderBy("version", "event_type")


@register(
    "table_format_compaction",
    oracle="""
SELECT CAST(12 AS BIGINT) AS files_before,
       CAST(2 AS BIGINT) AS files_after,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
""",
)
def table_format_compaction(spark, sf_dir):
    """Small-file compaction: three 4-file appends (12 live files)
    compact into 2 files with identical content — file counts come from
    the manifests and the row/sum totals re-aggregate the compacted
    table, both oracle-checked (the content check is against the source
    table, so compaction provably loses/duplicates nothing).  Old
    versions remain readable: compaction writes new files and replaces
    only the file list."""
    path = _tmp("manifest_compaction")
    shutil.rmtree(path, ignore_errors=True)
    t = ManifestTable(spark, path)
    ev = _events_cols(spark, sf_dir)
    for r in range(3):
        t.append(ev.filter(F.col("event_id") % 3 == r))
    before = t.file_count()
    t.compact()
    after = t.file_count()
    return (
        t.read()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.lit(before).cast("bigint").alias("files_before"),
            F.lit(after).cast("bigint").alias("files_after"),
            "n_rows",
            "sum_value",
        )
    )


@register(
    "table_format_changes",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events WHERE event_id % 2 = 1
GROUP BY event_type ORDER BY event_type
""",
)
def table_format_changes(spark, sf_dir):
    """Incremental change feed: consume ONLY the files a commit added
    (manifest diff against its parent) — the CDC-reader pattern that
    lets a downstream job process a new commit without rescanning the
    table.  Commit v1 holds even events, v2 appends odd events; reading
    v2's added files must yield exactly the odd half, oracle-checked.
    At 100 TB this is the difference between an incremental hourly job
    reading gigabytes and one rereading the full table."""
    path = _tmp("manifest_changes")
    shutil.rmtree(path, ignore_errors=True)
    t = ManifestTable(spark, path)
    ev = _events_cols(spark, sf_dir)
    t.append(ev.filter(F.col("event_id") % 2 == 0))
    v2 = t.append(ev.filter(F.col("event_id") % 2 == 1))
    changed = spark.read.parquet(*t.added_files(v2))
    return (
        changed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "table_format_merge",
    oracle="""
WITH base AS (
  SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0
),
upd AS (
  SELECT event_id, event_type, value + 100.0 AS value
  FROM events WHERE event_id % 10 = 0
),
merged AS (
  SELECT COALESCE(u.event_id, b.event_id) AS event_id,
         COALESCE(u.event_type, b.event_type) AS event_type,
         COALESCE(u.value, b.value) AS value
  FROM base b FULL OUTER JOIN upd u ON b.event_id = u.event_id
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM merged GROUP BY event_type ORDER BY event_type
""",
)
def table_format_merge(spark, sf_dir):
    """Copy-on-write MERGE into the manifest table: base commit holds
    even events; an upsert batch (ids ≡0 mod 10 — half matched updates,
    half new inserts) full-outer-joins the current snapshot and the
    merged result is written as a NEW version whose manifest replaces
    the file list (old version still time-travel-readable).  The
    re-read of the merged version is oracle-checked against the same
    merge in SQL.  At 100 TB the refinement is rewriting only files
    containing matched keys (min/max file stats prune the rest)."""
    path = _tmp("manifest_merge")
    shutil.rmtree(path, ignore_errors=True)
    t = ManifestTable(spark, path)
    ev = _events_cols(spark, sf_dir)
    t.append(ev.filter(F.col("event_id") % 2 == 0))
    upd = ev.filter(F.col("event_id") % 10 == 0).select(
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
    # copy-on-write: the merged snapshot becomes a fresh file list
    files = t._write_data(merged, "merge-2", 4)
    t._write_manifest(2, files, 1, "merge")
    return (
        t.read(2)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "scan_schema_evolution",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(value) AS BIGINT) AS n_with_value,
       CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,4))) AS DOUBLE)
         AS sum_value
FROM (
  SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_id, event_type, value
  FROM events WHERE event_id % 2 = 1
) t
GROUP BY event_type ORDER BY event_type
""",
)
def scan_schema_evolution(spark, sf_dir):
    """Schema evolution across parquet commits: an old batch written
    WITHOUT the value column and a new batch WITH it read together via
    mergeSchema — old rows surface value as NULL, and the unified schema
    is the union of both.  The aggregate distinguishes rows-with-value
    from total, oracle-checked against the equivalent UNION.  At 100 TB
    this is additive-column evolution, the only kind that needs no
    rewrite: each file answers with its own physical schema and the read
    schema fills the gaps."""
    ev = load(spark, sf_dir, "events")
    path = _tmp("schema_evolution")
    shutil.rmtree(path, ignore_errors=True)
    old = ev.filter(F.col("event_id") % 2 == 0).select("event_id", "event_type")
    new = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", "value"
    )
    old.write.parquet(os.path.join(path, "batch=0"))
    new.write.parquet(os.path.join(path, "batch=1"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "batch=0"), os.path.join(path, "batch=1")
    )
    return (
        merged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("value").alias("n_with_value"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "table_format_stream_read",
    streaming=True,
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def table_format_stream_read(spark, sf_dir):
    """Streaming read OF the manifest table: the commit log is itself a
    file-source stream (one row per new manifest), and a foreachBatch
    consumer resolves each commit to its ADDED files (manifest diff) and
    appends just those to a downstream store — the Delta/Iceberg
    "table as a stream" contract.  Two commits (even then odd events)
    arrive as separate micro-batches (maxFilesPerTrigger=1); the drained
    downstream copy must equal the full table, oracle-checked.  At 100 TB
    the stream moves only each commit's delta — the manifest rows are
    metadata-sized and the checkpoint guarantees each commit applies
    once."""
    from ..streaming.stream_ops import _fresh_dir, _run_stream

    path = _tmp("manifest_stream_read")
    shutil.rmtree(path, ignore_errors=True)
    t = ManifestTable(spark, path)
    ev = _events_cols(spark, sf_dir)
    t.append(ev.filter(F.col("event_id") % 2 == 0))
    t.append(ev.filter(F.col("event_id") % 2 == 1))
    out = _fresh_dir("tf-stream-out")

    # Driver-side collect is bounded in principle, not just practice: a
    # micro-batch holds one manifest row per commit and maxFilesPerTrigger
    # already caps it at 1; the hard limit below turns a hypothetical
    # unbounded-commit-backlog batch into a loud failure instead of a
    # driver OOM (VERDICT r03 item 5).
    _MAX_COMMITS_PER_BATCH = 10_000

    def apply_commit(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.limit(_MAX_COMMITS_PER_BATCH + 1).collect()
        if len(rows) > _MAX_COMMITS_PER_BATCH:
            raise RuntimeError(
                f"manifest stream batch {batch_id} exceeds "
                f"{_MAX_COMMITS_PER_BATCH} commits; raise the cap or "
                "shrink the trigger"
            )
        for row in sorted(rows, key=lambda r: r.version):
            added = t.added_files(row.version)
            if added:
                spark.read.parquet(*added).write.mode("append").parquet(out)

    _run_stream(t.stream_manifests(), apply_commit, "tf-read")
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "table_format_stream_sink",
    streaming=True,
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def table_format_stream_sink(spark, sf_dir):
    """Streaming sink INTO the manifest table with exactly-once commits:
    foreachBatch appends each micro-batch as a manifest commit NAMED by
    its batch id, and the append is idempotent on that name — the op
    replays every batch (double append) to prove a restarted query
    cannot double-commit.  Two event halves arrive as two micro-batches;
    the final table must equal the full source, oracle-checked including
    a COUNT DISTINCT.  This is the streaming-ETL landing pattern: batch
    id → commit name is the transactional handshake Delta sinks use."""
    from ..streaming.stream_ops import _events_source_dir, _read_stream, _run_stream

    src = _events_source_dir(
        spark,
        sf_dir,
        chunks=[F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1],
    )
    path = _tmp("manifest_stream_sink")
    shutil.rmtree(path, ignore_errors=True)
    t = ManifestTable(spark, path)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        v = t.append(batch_df, n_files=2, name=f"stream-{batch_id}")
        # simulate a failure-replay of the same batch: must be a no-op
        assert t.append(batch_df, n_files=2, name=f"stream-{batch_id}") == v

    _run_stream(_read_stream(spark, src, max_files=1), commit_batch, "tf-sink")
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# table_format_vacuum — snapshot expiration for the manifest table format


@register(
    "table_format_vacuum",
    oracle="""
SELECT CAST(3 AS BIGINT) AS n_expired_versions,
       TRUE AS counts_manifest_consistent,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
""",
)
def table_format_vacuum(spark, sf_dir):
    """Snapshot expiration (VACUUM) for the manifest table format — the
    lifecycle op that bounds storage: three appends then a compaction
    leave the latest version referencing only the compacted files;
    vacuum(keep_last=1) must expire exactly the 3 superseded versions
    (structural, scale-independent, oracle-pinned) and delete exactly
    the files no kept manifest references.  File counts are DERIVED from
    the manifests and the physical directory walk, never pinned (the
    writer's file count per commit is an implementation detail of the
    parquet committer — VERDICT r06 / ADVICE r05 item 4): the builder
    asserts n_live == |kept manifest| and n_deleted == physical_before −
    n_live, and surfaces that consistency as an oracle-checked boolean.
    The surviving table must still re-aggregate to the source content
    (row count + decimal-exact value sum — so the deletion provably
    removed only dead bytes).  Manifests are removed BEFORE data files,
    so a crash mid-vacuum leaves re-collectable orphans, never a
    manifest pointing at deleted data.

    100 TB: the whole operation is manifest-side bookkeeping plus
    unreferenced-file deletes — no data is read or shuffled; cost scales
    with file COUNT, not bytes (the same reason compaction matters)."""
    import os as _os
    import shutil as _shutil

    from ..sources.io_ops import _tmp
    from ..sources.manifest_format import ManifestTable, _events_cols

    path = _tmp("manifest_vacuum")
    _shutil.rmtree(path, ignore_errors=True)
    t = ManifestTable(spark, path)
    ev = _events_cols(spark, sf_dir)
    for r in range(3):
        t.append(ev.filter(F.col("event_id") % 3 == r))
    t.compact()
    # manifest-derived expectations, measured BEFORE the vacuum mutates disk
    expect_live = t.file_count()  # files the kept (latest) manifest pins
    physical_before = sum(
        1
        for _root, _dirs, files in _os.walk(_os.path.join(path, "data"))
        for f in files
        if f.endswith(".parquet")
    )
    expect_expired = len(t.versions()) - 1
    stats = t.vacuum(keep_last=1)
    consistent = (
        stats["n_expired_versions"] == expect_expired
        and stats["n_live_files"] == expect_live
        and stats["n_deleted_files"] == physical_before - expect_live
    )
    return (
        t.read()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.lit(stats["n_expired_versions"]).cast("bigint").alias(
                "n_expired_versions"
            ),
            F.lit(consistent).alias("counts_manifest_consistent"),
            "n_rows",
            "sum_value",
        )
    )
