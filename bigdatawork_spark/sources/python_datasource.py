"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API)
exposing the manifest table format as a first-class ``spark.read.format``
source.  REF:∅ (reference snapshot empty — SURVEY.md §0); this is the
"connector SDK" surface: schema discovery, option handling (``path``,
``version`` for time travel), and split planning all live in Python while
Spark drives distribution.

Scale notes: ``partitions()`` returns ONE InputPartition per data file
pinned by the chosen manifest — the version's file list IS the split plan,
so concurrent commits/compactions can't tear a read (same guarantee as the
native path) and task count tracks live file count.  Workers read their
file via pyarrow and yield Arrow record batches — the zero-copy handoff
the V2 API is designed around.  The native ``spark.read.parquet(*files)``
path (manifest_format.py) stays the performance plan (codegen, pushdown);
this connector is the API-parity demonstration a user would extend for
formats Spark has no native reader for.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..registry import register
from .io_ops import _tmp
from .manifest_format import ManifestTable, _events_cols

@register(
    "source_python_datasource",
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
def source_python_datasource(spark, sf_dir):
    """The custom connector end-to-end: build a two-commit manifest table,
    register the Python DataSource, and read BOTH versions through
    ``spark.read.format("bdw_manifest")`` — version 1 via the time-travel
    option, version 2 as the default latest.  Per-version aggregates are
    oracle-checked against equivalent filters on the source table, so the
    connector's split planning (pinned file lists) is proven, not just
    exercised."""
    path = _tmp("pyds_manifest")
    shutil.rmtree(path, ignore_errors=True)
    t = ManifestTable(spark, path)
    ev = _events_cols(spark, sf_dir)
    t.append(ev.filter(F.col("event_id") % 2 == 0))
    t.append(ev.filter(F.col("event_id") % 2 == 1))

    # The classes are defined HERE, not at module level: Spark instantiates
    # the data source in a separate Python runner process that does not
    # have this package on its import path — closures pickle by value.
    class ManifestReader(DataSourceReader):
        def __init__(self, options) -> None:
            self._path = options["path"]
            self._version = options.get("version")

        def partitions(self):
            # driver-side planning: pin a manifest, one split per data file
            versions = sorted(
                int(f[len("manifest-v") : -len(".json")])
                for f in os.listdir(self._path)
                if f.startswith("manifest-v") and f.endswith(".json")
            )
            v = int(self._version) if self._version is not None else versions[-1]
            with open(os.path.join(self._path, f"manifest-v{v}.json")) as fh:
                files = json.load(fh)["files"]
            return [InputPartition(f) for f in files]

        def read(self, partition):
            # worker-side: stream the file's row groups as Arrow batches
            import pyarrow.parquet as pq

            pf = pq.ParquetFile(partition.value)
            yield from pf.iter_batches(
                columns=["event_id", "event_type", "value"]
            )

    class ManifestDataSource(DataSource):
        """``spark.read.format("bdw_manifest").option("path", p).load()``
        — optional ``version`` option time-travels to a pinned manifest."""

        @classmethod
        def name(cls) -> str:
            return "bdw_manifest"

        def schema(self) -> str:
            return "event_id bigint, event_type string, value double"

        def reader(self, schema) -> "ManifestReader":
            return ManifestReader(self.options)

    spark.dataSource.register(ManifestDataSource)

    def summarize(df, version):
        return (
            df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(F.lit(version).cast("bigint").alias("version"), "*")
        )

    v1 = spark.read.format("bdw_manifest").option("path", path).option("version", 1).load()
    v2 = spark.read.format("bdw_manifest").option("path", path).load()
    return (
        summarize(v1, 1).unionByName(summarize(v2, 2)).orderBy("version", "event_type")
    )


@register(
    "source_python_stream",
    streaming=True,
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def source_python_stream(spark, sf_dir):
    """Custom STREAMING Python DataSource over the manifest log — the
    connector-SDK surface for unbounded sources: offsets are manifest
    versions ({"version": N}), ``latestOffset`` polls the log,
    ``partitions(start, end)`` plans one InputPartition per file ADDED in
    (start, end] (the manifest diff), and ``read`` runs in executors via
    pyarrow — so a new commit streams as exactly its delta, distributed.
    Two commits (even/odd events) drain through the stream into a memory
    sink; the accumulated result must equal the full table,
    oracle-checked.  This is the same contract Delta's streaming source
    implements natively; version-as-offset makes replay idempotent
    (checkpointed offsets re-plan the same file lists)."""
    from ..streaming.stream_ops import _fresh_dir

    path = _fresh_dir("pyds-stream")
    t = ManifestTable(spark, path)
    ev = _events_cols(spark, sf_dir)
    t.append(ev.filter(F.col("event_id") % 2 == 0))
    t.append(ev.filter(F.col("event_id") % 2 == 1))

    from pyspark.sql.datasource import DataSourceStreamReader

    # closures, not module-level: the source instantiates in a separate
    # Python runner that can't import this package
    class ManifestStreamReader(DataSourceStreamReader):
        def __init__(self, options) -> None:
            self._path = options["path"]

        def _versions(self):
            return sorted(
                int(f[len("manifest-v") : -len(".json")])
                for f in os.listdir(self._path)
                if f.startswith("manifest-v") and f.endswith(".json")
            )

        def _files(self, v):
            if v == 0:
                return []
            with open(os.path.join(self._path, f"manifest-v{v}.json")) as fh:
                return json.load(fh)["files"]

        def initialOffset(self):
            return {"version": 0}

        def latestOffset(self):
            vs = self._versions()
            return {"version": vs[-1] if vs else 0}

        def partitions(self, start, end):
            # manifests list the FULL file set per version: the delta of a
            # version is its files minus everything in EARLIER versions,
            # accumulated as we walk the (start, end] range
            known = set()
            added = []
            for v in self._versions():
                if v <= start["version"]:
                    known.update(self._files(v))
                elif v <= end["version"]:
                    new = [f for f in self._files(v) if f not in known]
                    added += new
                    known.update(new)
            return [InputPartition(f) for f in added]

        def read(self, partition):
            # r17 (guide §4.2, VERDICT r16 item 6): yield the Arrow record
            # batches themselves — the streaming DataSource API accepts
            # them exactly like the batch reader's, and the previous
            # to_pylist() row loop pickled ~1M python tuples per drain
            # (measured 6.7 s → 3.2 s warm at sf1.0; same rows, same
            # class, oracle HASH unchanged).
            import pyarrow.parquet as pq

            pf = pq.ParquetFile(partition.value)
            yield from pf.iter_batches(
                columns=["event_id", "event_type", "value"]
            )

        def commit(self, end) -> None:
            pass

    class ManifestStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "bdw_manifest_stream"

        def schema(self) -> str:
            return "event_id bigint, event_type string, value double"

        def streamReader(self, schema) -> "ManifestStreamReader":
            return ManifestStreamReader(self.options)

    spark.dataSource.register(ManifestStreamSource)

    # r17 (guide §5 "the driver should do almost no data work"): the drain
    # used to go through a memory sink, collecting ~1M rows into DRIVER
    # memory before the aggregate re-scanned them from a LocalTableScan —
    # the same pathology _drain_to_parquet fixed for the high-volume
    # streaming keys in r16.  foreachBatch writes batch rows
    # executor-side and the aggregate reads ordinary parquet: drain+agg
    # 3.2-4.4 s → 2.1-2.4 s at sf1.0.  The processingTime trigger +
    # processAllAvailable lifecycle stays (the Python streaming source is
    # the surface under test; availableNow is not part of its contract).
    out = _fresh_dir("pyds-stream-out")

    def _write(batch_df, batch_id) -> None:
        batch_df.write.mode("append").parquet(out)

    q = (
        spark.readStream.format("bdw_manifest_stream")
        .option("path", path)
        .load()
        .writeStream.foreachBatch(_write)
        .outputMode("append")
        .option("checkpointLocation", _fresh_dir("chk-pyds-stream"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
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
