"""Workload key lists and the metric catalogue.

This module is the single source of the names that ``BENCHMARK.json``
declares; ``tests/test_perfbench.py`` checks the two agree.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    cache: bool  # SPARK_GRAFT_CACHE=1: io.load fills the in-memory table cache
    why: str


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "headline",
            # bench.HEADLINE, frozen since round 1 of BENCH_r*.json.
            (
                "agg_groupby_q1", "limit_topk_q3", "join_multiway_q5",
                "win_row_number", "dedup_exact", "join_inner_shuffle",
                "win_time_tumbling", "wordcount", "sim_cosine_topk",
                "tfidf_keywords",
            ),
            True,
            "bench.HEADLINE keys, warm, over the io table cache: Catalyst, cache "
            "scans and the stage floor dominate; builders do almost nothing, so "
            "a builder change should not move it",
        ),
        Workload(
            "curation",
            (
                "tfidf_keywords", "dedup_cluster_cc", "bpe_first_k_merges",
                "udtf_grouped_map", "table_format_merge", "stream_stateful_count",
            ),
            False,
            "LLM-data curation without the cache: eager builder jobs and the "
            "Python-worker boundary, then a manifest-table merge and a stateful "
            "stream; an io-cache change should not move it",
        ),
    )
}

#: Keys with no DuckDB oracle.  Their answer is checked for being the same
#: canonical row hash on every iteration and against ``expected.json``.
ORACLE_LESS = frozenset({"stream_stateful_count"})


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    bound: float | None = None  # end-to-end metrics only


END_TO_END: tuple[Metric, ...] = (
    Metric("setup_s", "s", "lower", 0.25),
    Metric("batch_s", "s", "lower", 0.25),
    Metric("retained_mb", "MB", "lower", 0.15),
)

PER_LAYER: tuple[Metric, ...] = tuple(
    Metric(name, unit, better)
    for name, unit, better in (
        ("session.start_s", "s", "lower"),
        ("io.fill_s", "s", "lower"),
        ("io.cached_mb", "MB", "lower"),
        ("io.scan_rows", "count", "lower"),
        ("operators.build_s", "s", "lower"),
        ("operators.eager_jobs", "count", "lower"),
        ("operators.eager_job_s", "s", "lower"),
        ("operators.exec_s", "s", "lower"),
        ("catalyst.analysis_ms", "ms", "lower"),
        ("catalyst.optimization_ms", "ms", "lower"),
        ("catalyst.planning_ms", "ms", "lower"),
        ("executor.jobs", "count", "lower"),
        ("executor.stages", "count", "lower"),
        ("executor.tasks", "count", "lower"),
        ("executor.task_s", "s", "lower"),
        ("executor.cpu_s", "s", "lower"),
        ("executor.gc_s", "s", "lower"),
        ("executor.idle_core_s", "s", "lower"),
        ("executor.shuffle_write_mb", "MB", "lower"),
        ("executor.shuffle_read_mb", "MB", "lower"),
        ("executor.spill_mb", "MB", "lower"),
        ("executor.task_skew", "ratio", "lower"),
        ("pyworker.boot_ms", "ms", "lower"),
        ("pyworker.total_ms", "ms", "lower"),
        ("pyworker.sent_mb", "MB", "lower"),
        ("pyworker.received_mb", "MB", "lower"),
        ("streaming.microbatches", "count", "lower"),
        ("streaming.trigger_ms", "ms", "lower"),
        ("streaming.add_batch_ms", "ms", "lower"),
        ("streaming.commit_ms", "ms", "lower"),
        ("streaming.state_rows", "count", "lower"),
        ("streaming.state_mb", "MB", "lower"),
        ("sources.files_written", "count", "lower"),
        ("sources.written_mb", "MB", "lower"),
        ("trace.batch_s", "s", "lower"),
    )
)
