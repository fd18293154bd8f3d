"""SparkSession construction and per-call tuning.

Scale notes (SURVEY.md §7.5): everything here is configuration, not code —
the same queries run on a 1000-executor cluster by swapping the master URL
and sizing ``spark.sql.shuffle.partitions`` to ~2-3× total cores.  AQE then
coalesces/splits at runtime.  Locally we test on ``local[N]``.

Python workers: ``get_spark`` starts them from ``pyworker_daemon``, not
pyspark's stock daemon.  Workers are reused, yet each task stalled
130-440 ms before its UDF loaded: pyspark's per-task
``importlib.invalidate_caches()`` made every ``zipimporter`` re-read its
archive's central directory (``pyspark.zip``, py4j, the spark-core jar).
The package daemon skips the re-read of an unchanged archive.  Measured on
4 cores: a trivial 8-partition ``mapInPandas`` went from 0.78-0.97 s to
0.29-0.36 s.  The daemon module is a static conf, so a session not built
here (one handed to ``tune``) keeps the stall.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Runtime-settable confs applied to ANY session we are handed (the driver
# owns its own session; these are safe to set post-creation).
_RUNTIME_CONF = {
    # UTC everywhere: parquet timestamps are TZ-less; DuckDB (the oracle)
    # treats them as naive.  (SURVEY.md §5.3.4)
    "spark.sql.session.timeZone": "UTC",
    # 8 shuffle partitions for local test SFs — measured ~13% faster than 32
    # on the sf0.1 headline batch (per-task dispatch dominates at ≤600k rows);
    # the 200 default wastes seconds per query (SURVEY.md §4 AQE row).  At
    # 100 TB this is sized to ~2-3× total executor cores via the env knob —
    # AQE then coalesces/splits at runtime either way.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "8"),
    "spark.sql.adaptive.enabled": "true",
    # Non-ANSI arithmetic (the classic Spark analytics default): ANSI mode
    # compiles every long add into an overflow-checked MathUtils.addExact —
    # measured +46% on Q1's four scaled-long sums at synthetic sf1.0
    # (1.31 s vs 0.90 s, round 8).  No registry key relies on
    # error-on-overflow semantics (the scaled-long money sums are
    # range-analyzed in their docstrings; the full 257-key driver sim was
    # re-run green under this setting), so the checks purchase nothing
    # here.  Flip back per-session when ingesting untrusted magnitudes.
    "spark.sql.ansi.enabled": "false",
    # ...but ANSI-off re-activates legacy sizeOfNull (size(NULL array) = -1
    # instead of NULL), which silently diverges from DuckDB's len(NULL) =
    # NULL — caught by the array fuzz test the round the ANSI flip landed.
    # Pin the modern semantics explicitly: NULL in, NULL out.
    "spark.sql.legacy.sizeOfNull": "false",
    # coalescePartitions keeps parallelismFirst at its default (true): an
    # A/B at synthetic sf1.0 measured parallelismFirst=false 3-10% SLOWER
    # (over-coalescing to one sub-advisory reducer serializes the reduce
    # side), its sf0.1 "win" was inside machine noise, and at 100 TB the
    # knob is moot — post-shuffle partitions exceed the advisory size, so
    # both settings produce identical sizes.
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any toPandas/collect and for pandas UDF exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not build (driver's session)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not runtime-settable on this build — non-fatal
    return spark


def ensure_tuned(spark: SparkSession) -> SparkSession:
    """tune() once per session — each conf.set is a py4j round trip, and the
    confs stick for the session's lifetime.  Used by io.load AND the
    __spark_entry__ query wrappers, so even a builder that synthesizes its
    data inline (no table load) runs under UTC/AQE/shuffle settings when the
    driver order puts it first."""
    memo = session_memo(spark, "tuned")
    if not memo:
        tune(spark)
        memo["done"] = True
    return spark


# The memo lives ON the SparkSession object, not in an id()-keyed module
# dict: after a stopped session is GC'd, CPython can recycle its id for a
# new session, which would then alias the dead session's state.
# Object-attached state dies with the object.
_MEMO_ATTR = "_bigdatawork_memo"


def session_memo(spark: SparkSession, namespace: str) -> dict:
    """The session-scoped dict for ``namespace`` — one per (session,
    namespace), so namespaces never alias.  A session object that cannot
    take an attribute gets a throwaway dict: callers then recompute per
    call, which is always correct, just slower."""
    memos = getattr(spark, _MEMO_ATTR, None)
    if memos is None:
        memos = {}
        try:
            setattr(spark, _MEMO_ATTR, memos)
        except (AttributeError, TypeError):
            return {}
    return memos.setdefault(namespace, {})


def restage(spark: SparkSession, slot: str, df: DataFrame) -> DataFrame:
    """``df.cache()``, held in ``slot`` until the next restage of the same
    slot unpersists it.  A builder that returns a lazy plan over a cache
    cannot unpersist it itself, so the lifetime is bounded instead: each
    call evicts the previous call's staged relation (repeated calls would
    otherwise leak one cached relation each into executor storage).
    The old occupant goes BEFORE the new cache is registered: unpersisting
    after would drop the new entry too whenever both share a plan.  On an
    un-taggable session nothing is evicted."""
    memo = session_memo(spark, "restage")
    old = memo.pop(slot, None)
    if old is not None:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass  # the old relation's session may already be stopped
    memo[slot] = df = df.cache()
    return df


def spread_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to ``defaultParallelism`` partitions when it has
    fewer; otherwise return it unchanged.

    The fixture tables are single-file parquet (``documents`` and
    ``embeddings`` are one row group too), so their scans run as 1-3 tasks
    and every explode, regexp or Python-UDF pass fed straight from them
    runs on a core or two.  At 100 TB the same scan arrives in thousands
    of splits, where an unconditional repartition would be a gratuitous
    full exchange — hence the check.  Round-robin spreads rows, so it adds
    no key skew; callers fold in a layout-independent way (keyed
    aggregates, decimal sums).

    Free only on an exchange-free input: ``getNumPartitions()`` plans the
    RDD, which runs no job over a scan + project/filter/union or a filled
    cache, but over an Exchange — including one under a not-yet-filled
    cache — AQE materializes the shuffle stage: one job.  Every caller is
    scan-fed, except the twins under the audit cap, whose input is
    ``guard_twin_size``'s limit + repartition.
    """
    width = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < width:
        return df.repartition(width)
    return df


def _worker_pythonpath() -> str:
    """The checkout root, ahead of any inherited ``PYTHONPATH``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.pathsep.join(filter(None, (root, os.environ.get("PYTHONPATH"))))


def get_spark(app_name: str = "bigdatawork-spark", cpus: int | str | None = None) -> SparkSession:
    """One tuned local session.  Session startup is ~12 s (BASELINE.md) —
    always share a single session across a test run / bench batch."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # STATIC conf (builder-only; a driver-owned pre-existing session
        # keeps its default — harmless, it only re-pays compilation).  The
        # generated-class cache defaults to 100 entries; a 10-query batch
        # cycles WELL over 100 codegen stages, so every return to a query
        # shape evicted-and-recompiled its Janino classes — measured r12:
        # the "~2× first-run-after-switch penalty" (r10) was this cache
        # thrashing, not JIT warm-up.  At 5000 entries the first-run
        # penalty on the headline batch collapses from ~1.9× to ~1.02-1.14×
        # (BASELINE.md r12); a long-lived cluster session wants the same —
        # recurring shapes should never recompile.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # STATIC confs: Python workers fork from the package's daemon (see
        # pyworker_daemon.py and the module docstring), which starts in the
        # JVM's cwd, so the checkout root rides on the workers' PYTHONPATH.
        .config("spark.python.daemon.module", "bigdatawork_spark.pyworker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
