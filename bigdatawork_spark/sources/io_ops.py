"""§2-A scans / sources / sinks (SURVEY.md).  REF:∅.

Format round-trips (CSV/JSONL/ORC) and the parquet sink are hash-checked
since r14: the oracle can't see /tmp, but the round-trip CONTRACT is
output ≡ a projection/aggregate of the SOURCE table, which is plain SQL
on the pre-registered views — a lossy writer/reader hash-mismatches.
Round-trips use explicit StructTypes from ``schemas.py`` — never
inference — so ingest behavior is schema-stable (SURVEY §1.3).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from .. import schemas
from ..io import load
from ..registry import register

# Per-process scratch root: fixtures like the manifest tables are rebuilt
# by each builder call, and a SHARED path lets two concurrent verification
# processes (e.g. the driver sim at two SFs) clobber each other's files
# mid-read — observed as spurious hash mismatches in round 4.  The pid
# suffix makes every process's fixture tree private; correctness runs are
# unaffected (each process still reuses its own tree across calls).  The
# tree is removed at interpreter exit.
_TMP_ROOT = os.path.join(tempfile.gettempdir(), f"bdw_io-{os.getpid()}")
atexit.register(shutil.rmtree, _TMP_ROOT, ignore_errors=True)


def _tmp(name: str) -> str:
    os.makedirs(_TMP_ROOT, exist_ok=True)
    return os.path.join(_TMP_ROOT, name)


@register(
    "scan_parquet",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_parquet(spark, sf_dir):
    """Plain parquet scan, all columns projected."""
    return load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")


@register(
    "scan_csv",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
FROM lineitem WHERE l_orderkey % 97 = 0
""",
)
def scan_csv(spark, sf_dir):
    """CSV round-trip: write a lineitem sample with header, read back with
    the canonical explicit schema (no inference).

    Hash-checked since r14 (was rows-only as "the oracle can't see /tmp" —
    but the CONTRACT is round-trip ≡ source projection, which IS plain
    SQL on the source view; a lossy writer/reader now hash-mismatches).
    Doubles survive text exactly: Java 17's Double.toString emits enough
    decimal digits to uniquely distinguish the value (round-trippable —
    not the JDK 19+ Ryu shortest form), dates go ISO."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 97 == 0)
    path = _tmp("scan_csv")
    li.write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.schema(schemas.LINEITEM)
        .option("header", True)
        .csv(path)
    )
    return back.select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


@register(
    "scan_jsonl",
    oracle="""
SELECT c_custkey, c_name, c_nationkey, c_acctbal
FROM customer WHERE c_custkey % 53 = 0
""",
)
def scan_jsonl(spark, sf_dir):
    """JSON-lines round-trip with explicit schema.  Hash-checked since
    r14: round-trip ≡ source projection, spelled as plain SQL on the
    source view (see scan_csv)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 53 == 0)
    path = _tmp("scan_jsonl")
    c.write.mode("overwrite").json(path)
    back = spark.read.schema(schemas.CUSTOMER).json(path)
    return back.select("c_custkey", "c_name", "c_nationkey", "c_acctbal")


@register(
    "source_inline",
    oracle="""
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'alpha', CAST(1.5 AS DOUBLE)),
  (CAST(2 AS BIGINT), 'beta',  CAST(2.5 AS DOUBLE)),
  (CAST(3 AS BIGINT), 'gamma', CAST(NULL AS DOUBLE))
) t(k, name, val)
""",
)
def source_inline(spark, sf_dir):
    """DataFrame from local rows + explicit StructType (VALUES oracle)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    rows = [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", None)]
    return spark.createDataFrame(rows, schema)


@register(
    "sink_parquet",
    oracle="""
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def sink_parquet(spark, sf_dir):
    """Write a query result to parquet, re-read it — sink semantics +
    schema fidelity through the file boundary.  Hash-checked since r14:
    sink+re-read ≡ the direct aggregate, spelled as plain SQL on the
    source view (see scan_csv)."""
    agg = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    path = _tmp("sink_parquet")
    agg.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).orderBy("o_orderstatus")


@register(
    "sink_partitioned_parquet",
    oracle="""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
       event_id, user_id, event_type
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-07'
ORDER BY event_id
""",
)
def sink_partitioned_parquet(spark, sf_dir):
    """Hive-style partitioned parquet sink + partition-pruned re-read — THE
    100 TB table layout: data written under event_date=YYYY-MM-DD/ dirs so a
    date-range read lists only 3 of 30 directories (PartitionFilters in the
    plan, asserted in tests/test_plans.py) instead of scanning a month.
    The re-read result is fully oracle-checkable against the source table."""
    ev = load(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    path = _tmp("sink_partitioned")
    (
        ev.select("event_id", "user_id", "event_type", "event_date")
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(
        F.col("event_date").between("2024-01-05", "2024-01-07")
    )
    return back.select(
        F.col("event_date").cast("string").alias("event_date"),
        "event_id",
        "user_id",
        "event_type",
    ).orderBy("event_id")


@register(
    "scan_orc",
    oracle="""
SELECT s_suppkey, s_name, s_nationkey, s_acctbal
FROM supplier ORDER BY s_suppkey
""",
)
def scan_orc(spark, sf_dir):
    """ORC round-trip with explicit schema — the third columnar format the
    engine reads natively (parquet/CSV/JSONL/ORC all share the one
    ``load``-style path; writer settings, not code, differ at scale).
    Hash-checked since r14: round-trip ≡ the source table, spelled as
    plain SQL on the source view (see scan_csv)."""
    s = load(spark, sf_dir, "supplier")
    path = _tmp("scan_orc")
    s.write.mode("overwrite").orc(path)
    back = spark.read.schema(s.schema).orc(path)
    return back.orderBy("s_suppkey")


@register(
    "scan_text",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars_total,
       CAST(SUM(CASE WHEN text LIKE '%join%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_join
FROM documents WHERE text IS NOT NULL
""",
)
def scan_text(spark, sf_dir):
    """Raw text-file source round-trip: documents dump to line-oriented
    .txt (the log-file shape), ``spark.read.text`` scans them back one
    row per line, aggregates prove nothing was lost or split.  Line files
    have no intra-file ordering contract across writers, so the check is
    order-free.  At 100 TB, text scan is splittable by line boundary —
    same task sizing as any other splittable format."""
    from ..io import load

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    path = _tmp("scan_text")
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    d.select("text").write.text(path)
    lines = spark.read.text(path)
    return lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("n_chars_total"),
        F.sum(F.when(F.col("value").like("%join%"), 1).otherwise(0)).alias(
            "n_with_join"
        ),
    )
