"""The session primitives in ``session.py`` — ``session_memo``, ``restage``
and ``spread_if_narrow`` — and the properties every builder built on them
must keep: a spread launches no Spark job, is skipped on an input that is
already wide, and never changes a result (the order-insensitive canonical
hash of ``tests/compare.py`` is identical with the spread removed or
forced to an unrelated width).  The all-pairs cosine scorers cut their
work into row blocks of one shared corpus broadcast instead: their rows
do not depend on the block count.  Also the Python-worker daemon every
``get_spark`` session starts its workers from: it re-reads a zip archive
only when the archive changed, and the workers find it from any cwd.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from bigdatawork_spark import pyworker_daemon, session
from bigdatawork_spark.operators import (
    corpus_ops,
    curation,
    llm_ops,
    pipeline_ops,
    training_ops,
)
from bigdatawork_spark.plans.explain import plan_string
from bigdatawork_spark.registry import ORACLES, QUERIES
from bigdatawork_spark.schemas import TABLES
from bigdatawork_spark.session import restage, session_memo, spread_if_narrow
from bigdatawork_spark.streaming import stream_ops
from tests.compare import canon_rows

#: Every module that calls the spread helper (pinned below, so a new
#: call site cannot dodge the monkeypatched runs).
_SPREAD_MODULES = (corpus_ops, curation, llm_ops, pipeline_ops, training_ops,
                   stream_ops)

#: One builder per spread call site.
SPREAD_BUILDERS = {
    "_knn_classify_expr": llm_ops._knn_classify_expr,
    "tfidf_keywords": QUERIES["tfidf_keywords"],
    "dedup_ngram_jaccard": QUERIES["dedup_ngram_jaccard"],
    "dedup_incremental_exact": QUERIES["dedup_incremental_exact"],
    "contamination_ngram": QUERIES["contamination_ngram"],
    "dsir_importance_resample": QUERIES["dsir_importance_resample"],
    "kmeans_iterative": QUERIES["kmeans_iterative"],
    "multimodal_png_decode": QUERIES["multimodal_png_decode"],
    "nearest_centroid_classify": QUERIES["nearest_centroid_classify"],
    "char_ngram_profile": QUERIES["char_ngram_profile"],
    "lm_perplexity_score": QUERIES["lm_perplexity_score"],
    "stream_complete_topk": QUERIES["stream_complete_topk"],
}

#: Batch builders whose returned plan carries the spread.
_PLAN_BUILDERS = sorted(set(SPREAD_BUILDERS) - {"stream_complete_topk"})

#: Hash-verified builders (_knn_classify_expr is knn_classify's
#: oracle-parity twin).
_HASHED_BUILDERS = sorted(
    k for k in SPREAD_BUILDERS if k in ORACLES or k == "_knn_classify_expr"
)


def _forget_stagings(spark):
    """Drop the staged inputs a previous run left behind, so the next run
    re-stages them under whatever spread is patched in."""
    hashed = session_memo(spark, "hashed_documents")
    for per in hashed.values():
        for df in per.values():
            df.unpersist()
    hashed.clear()
    session_memo(spark, "stream_src").clear()


def _patch_spread(monkeypatch, fn):
    for mod in _SPREAD_MODULES:
        monkeypatch.setattr(mod, "spread_if_narrow", fn)


# ---------------------------------------------------------------------------
# session_memo


def test_session_memo_namespaces_do_not_alias(spark):
    ns_a, ns_b = f"t-a-{uuid.uuid4().hex}", f"t-b-{uuid.uuid4().hex}"
    a, b = session_memo(spark, ns_a), session_memo(spark, ns_b)
    a["k"] = 1
    assert "k" not in b and a is not b
    # same namespace, same dict: the memo persists across calls
    assert session_memo(spark, ns_a) is a


def test_session_memo_untaggable_session_gets_throwaway_dict():
    class Frozen:
        __slots__ = ()

    s = Frozen()
    m1 = session_memo(s, "ns")
    m1["k"] = 1
    m2 = session_memo(s, "ns")
    assert m2 == {} and m2 is not m1  # recompute-per-call fallback


def test_session_memo_is_per_session():
    class Session:
        pass

    s1, s2 = Session(), Session()
    session_memo(s1, "ns")["k"] = 1
    assert session_memo(s2, "ns") == {}


# ---------------------------------------------------------------------------
# restage


def test_restage_unpersists_the_previous_occupant(spark):
    slot = f"t-{uuid.uuid4().hex}"
    first = restage(spark, slot, spark.range(10).selectExpr("id * 2 AS x"))
    assert first.count() == 10
    assert first.storageLevel.useMemory or first.storageLevel.useDisk
    second = restage(spark, slot, spark.range(20).selectExpr("id * 3 AS x"))
    assert second.count() == 20
    lvl = first.storageLevel
    assert not (lvl.useMemory or lvl.useDisk or lvl.useOffHeap)  # NONE
    assert second.storageLevel.useMemory or second.storageLevel.useDisk
    # slots are independent: another slot's restage leaves this one cached
    other = restage(spark, slot + "-other", spark.range(5))
    assert second.storageLevel.useMemory or second.storageLevel.useDisk
    for df in (second, other):
        df.unpersist()


def test_restage_same_plan_twice_stays_cached(spark):
    """Evict-then-cache order: restaging an identical plan must not leave
    the slot uncached (unpersist-after would drop the shared entry)."""
    slot = f"t-{uuid.uuid4().hex}"
    restage(spark, slot, spark.range(7).selectExpr("id + 1 AS y"))
    again = restage(spark, slot, spark.range(7).selectExpr("id + 1 AS y"))
    assert again.count() == 7
    assert again.storageLevel.useMemory or again.storageLevel.useDisk
    again.unpersist()


@pytest.mark.parametrize(
    "key", ["dedup_ngram_jaccard", "dedup_repeated_spans", "kmeans_iterative"]
)
def test_builder_staging_does_not_accumulate(spark, sf_dir, key):
    """A builder that stages its input through ``restage`` keeps at most one
    cached relation alive however many corpora it runs over (a bare cache
    keeps one per distinct plan)."""
    from .conftest import SF_SMALL

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for d in (sf_dir, SF_SMALL):
        QUERIES[key](spark, d).collect()
    assert jsc.getPersistentRDDs().size() - before <= 1


#: Most Spark jobs a warm build (``QUERIES[key](...)``, no action on the
#: result) may run at sf0.01.
#: - ``dedup_cluster_cc``: the edge build, then two jobs per
#:   message-passing round (its shuffle and its ``localCheckpoint``, which
#:   also carries the round's moved-node count); 12 measured, against 46
#:   when each round joined the edge list and counted its changes in a
#:   separate job.
#: - ``tfidf_keywords``: the document count rides on the vocabulary
#:   collect; 4 measured, against 6 with a separate ``count()``.
#: - ``kmeans_iterative``: one centroid collect, the staged spread's
#:   exchange and cache fill once, then two jobs per Lloyd round (5
#:   rounds); 13 measured, against 16 when every round re-ran the spread's
#:   exchange as a third job.
BUILD_JOB_PINS = {
    "dedup_cluster_cc": 20,
    "tfidf_keywords": 4,
    "kmeans_iterative": 2 * 5 + 3,
}


@pytest.mark.parametrize("key", sorted(BUILD_JOB_PINS))
def test_builder_job_count_is_pinned(spark, sf_dir, key):
    QUERIES[key](spark, sf_dir).collect()  # warm: io, codegen, stagings
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"{key} build")
    try:
        QUERIES[key](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= BUILD_JOB_PINS[key], f"{key}: {jobs} build jobs"


# ---------------------------------------------------------------------------
# spread_if_narrow


def test_spread_if_narrow_widens_a_one_partition_scan(spark, tmp_path):
    dp = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() < dp
    out = spread_if_narrow(scan)
    assert out.rdd.getNumPartitions() == dp
    assert "RoundRobinPartitioning" in plan_string(out)
    assert sorted(r.id for r in out.collect()) == list(range(100))


def test_spread_if_narrow_leaves_a_wide_leaf_unchanged(spark):
    dp = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 100, numPartitions=2 * dp)
    out = spread_if_narrow(wide)
    assert out is wide
    assert "RoundRobinPartitioning" not in plan_string(out)


def test_spread_if_narrow_launches_no_job_on_a_scan(spark, tmp_path):
    path = str(tmp_path / "scan")
    spark.range(50).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path).selectExpr("id * 2 AS x").filter("x > 3")
    sc = spark.sparkContext
    group = f"spread-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "spread_if_narrow probe")
    try:
        spread_if_narrow(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_spread_modules_are_pinned():
    callers = {
        name for name, mod in sys.modules.items()
        if name.startswith("bigdatawork_spark.") and mod is not session
        and getattr(mod, "spread_if_narrow", None) is session.spread_if_narrow
    }
    assert callers == {m.__name__ for m in _SPREAD_MODULES}


@pytest.mark.parametrize("key", sorted(SPREAD_BUILDERS))
def test_builder_spread_launches_no_job(spark, sf_dir, monkeypatch, key):
    """Every spread call site feeds the helper an exchange-free input, so
    its partition-count check costs zero Spark jobs."""
    sc = spark.sparkContext
    calls = []

    def counted(df):
        group = f"spread-{uuid.uuid4().hex}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, f"spread_if_narrow in {key}")
        try:
            out = spread_if_narrow(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        calls.append(list(sc.statusTracker().getJobIdsForGroup(group)))
        return out

    _forget_stagings(spark)
    _patch_spread(monkeypatch, counted)
    SPREAD_BUILDERS[key](spark, sf_dir)
    assert calls, f"{key} no longer reaches spread_if_narrow"
    assert all(jobs == [] for jobs in calls), calls


@pytest.mark.parametrize("key", _HASHED_BUILDERS)
def test_builder_result_is_layout_invariant(spark, sf_dir, monkeypatch, key):
    """Same canonical hash with the spread removed (the raw 1-file scan
    layout) and forced to an unrelated width."""
    used = []

    def identity(df):
        used.append("identity")
        return df

    def forced(df):
        used.append("forced")
        return df.repartition(7)

    rows = []
    for fn in (identity, forced):
        _forget_stagings(spark)
        _patch_spread(monkeypatch, fn)
        rows.append(canon_rows(SPREAD_BUILDERS[key](spark, sf_dir).toPandas()))
    _forget_stagings(spark)
    assert {"identity", "forced"} <= set(used), f"{key} never spread"
    assert rows[0] == rows[1], f"{key}: result depends on partition layout"


#: The all-pairs cosine scorers: row blocks of one shared corpus broadcast
#: (``llm_ops._cosine_corpus`` / ``_cosine_blocks``), no spread.
SCORER_KEYS = ("knn_classify", "dedup_embedding_cosine")


@pytest.mark.parametrize("key", SCORER_KEYS)
def test_scorer_result_is_block_layout_invariant(spark, sf_dir, monkeypatch, key):
    """Same canonical rows when the scorer's blocks are cut for 1 or 7
    cores instead of this session's."""
    from pyspark import SparkContext

    base = canon_rows(QUERIES[key](spark, sf_dir).toPandas())
    for width in (1, 7):
        monkeypatch.setattr(
            SparkContext, "defaultParallelism", property(lambda sc, w=width: w)
        )
        df = QUERIES[key](spark, sf_dir)
        assert f"splits={width})" in plan_string(df), width
        assert canon_rows(df.toPandas()) == base, width


def test_scorers_share_one_corpus_broadcast(spark, sf_dir, monkeypatch):
    """Both scorers read one corpus broadcast per (sf_dir, audit cap), and
    under the audit cap they score the same capped rows."""
    memo = session_memo(spark, "scorer_corpus")
    for key in SCORER_KEYS:
        QUERIES[key](spark, sf_dir).collect()
    assert sum(sf_dir in k for k in memo) == 1, list(memo)

    monkeypatch.setenv(llm_ops.TWIN_AUDIT_ENV, "7")
    monkeypatch.setattr(llm_ops, "TWIN_CAPS_APPLIED", {})
    knn = QUERIES["knn_classify"](spark, sf_dir).toPandas()
    pairs = QUERIES["dedup_embedding_cosine"](spark, sf_dir).toPandas()
    assert len(knn) == 7
    assert set(pairs.id_a) | set(pairs.id_b) <= set(knn.vec_id)
    assert set(SCORER_KEYS) <= set(llm_ops.TWIN_CAPS_APPLIED)
    assert sum(sf_dir in k for k in memo) == 2, list(memo)


@pytest.fixture(scope="module")
def presplit_dir(spark, sf_dir, tmp_path_factory):
    """sf_dir with the two single-file tables rewritten as 2×cores files;
    the rest symlinked."""
    out = tmp_path_factory.mktemp("presplit")
    width = 2 * spark.sparkContext.defaultParallelism
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = str(out / f"{t}.parquet")
        if t in ("documents", "embeddings"):
            spark.read.parquet(src).repartition(width).write.parquet(dst)
        else:
            os.symlink(src, dst)
    return str(out)


@pytest.mark.parametrize("key", _PLAN_BUILDERS)
def test_builder_spreads_only_narrow_inputs(spark, sf_dir, presplit_dir, key):
    """Over the 1-file fixtures the uncached plan keeps its spread; over a
    pre-split input (one file per partition) none is added."""
    dp = spark.sparkContext.defaultParallelism
    _forget_stagings(spark)
    assert "RoundRobinPartitioning" in plan_string(
        SPREAD_BUILDERS[key](spark, sf_dir)
    ), key
    # one partition per file, so the pre-split scans are ≥ dp wide
    prev = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
    try:
        assert spark.read.parquet(
            os.path.join(presplit_dir, "documents.parquet")
        ).rdd.getNumPartitions() >= dp
        _forget_stagings(spark)
        plan = plan_string(SPREAD_BUILDERS[key](spark, presplit_dir))
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", prev)
        _forget_stagings(spark)
    assert "RoundRobinPartitioning" not in plan, key


# ---------------------------------------------------------------------------
# the Python-worker daemon


def test_unchanged_zip_is_not_reread_on_invalidate(tmp_path, monkeypatch):
    """``pyworker_daemon.invalidate_caches`` re-reads an archive's directory
    only when its (mtime, size) changed since the last read — and then the
    archive's new modules import."""
    archive = str(tmp_path / "mods.zip")
    first, second = (f"zipmod_{uuid.uuid4().hex}" for _ in range(2))
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{first}.py", "X = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker_daemon.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(first).X == 1
        importlib.invalidate_caches()
        seen = reads.count(archive)
        assert seen >= 1
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == seen  # unchanged: no re-read

        with zipfile.ZipFile(archive, "w") as z:  # grows: size differs
            z.writestr(f"{first}.py", "X = 1\n")
            z.writestr(f"{second}.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == seen + 1
        assert importlib.import_module(second).Y == 2
    finally:
        for name in (first, second):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_python_workers_fork_from_the_package_daemon(spark):
    def patched_by(batches):
        import zipimport

        for pdf in batches:
            yield pdf.assign(
                by=zipimport.zipimporter.invalidate_caches.__module__
            )[["by"]]

    rows = spark.range(0, 64, numPartitions=4).mapInPandas(
        patched_by, "by string"
    ).distinct().collect()
    assert [r.by for r in rows] == [pyworker_daemon.__name__]


_OUTSIDE_CHECKOUT = """
import sys
sys.path.insert(0, {root!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from bigdatawork_spark.session import get_spark

spark = get_spark("outside-checkout", cpus=2)

@pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

print("SUM", spark.range(10).select(plus_one("id").alias("v")).groupBy().sum("v").first()[0])
spark.stop()
"""


def test_workers_find_the_package_from_outside_the_checkout(tmp_path):
    """A session started from another cwd, with the package reachable
    only through a ``sys.path`` insert, still runs Python UDFs: the
    workers' daemon module is found via ``spark.executorEnv.PYTHONPATH``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    done = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_CHECKOUT.format(root=root)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "SUM 55" in done.stdout.splitlines(), done.stderr[-3000:]
