"""Fast checks of the benchmark itself; no SparkSession is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import probes  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from workloads import END_TO_END, ORACLE_LESS, PER_LAYER, WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_and_units_are_well_formed():
    names = [*WORKLOADS, *(m.name for m in END_TO_END), *(m.name for m in PER_LAYER)]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for m in (*END_TO_END, *PER_LAYER):
        assert UNIT.match(m.unit), m.unit
        assert m.better in ("lower", "higher")


def test_benchmark_json_matches_the_catalogue(declared):
    assert set(declared) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert declared["command"] == ["python3", "perfbench/run.py"]
    assert declared["paths"] == ["perfbench"]
    assert isinstance(declared["run_seconds"], int) and 1 <= declared["run_seconds"] <= 60
    assert declared["workloads"] == [{"name": w.name, "why": w.why} for w in WORKLOADS.values()]
    assert declared["end_to_end"] == [
        {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
        for m in END_TO_END
    ]
    assert declared["per_layer"] == [
        {"name": m.name, "unit": m.unit, "better": m.better} for m in PER_LAYER]
    for w in declared["workloads"]:
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    bounds = {m["name"]: m["bound"] for m in declared["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert len(json.dumps(declared)) < 64 * 1024


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_prints_exactly_the_declared_metrics(declared, trace):
    section = "per_layer" if trace else "end_to_end"
    values = {m["name"]: 1.5 for m in declared[section]}
    line = json.loads(json.dumps(run.result_line(values, trace, 7, ["k: wrong answer"])))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 7, 1)
    assert line["metrics"] == {
        m["name"]: {"value": 1.5, "unit": m["unit"]} for m in declared[section]}


def test_every_key_is_registered_with_the_listed_oracle_status():
    import bigdatawork_spark  # noqa: F401  (populates the registry)
    from bigdatawork_spark.registry import ORACLES, QUERIES

    keys = {k for w in WORKLOADS.values() for k in w.keys}
    assert keys <= set(QUERIES)
    assert ORACLE_LESS <= keys
    for key in keys:
        assert (key in ORACLES) == (key not in ORACLE_LESS), key


def test_headline_is_the_frozen_bench_set():
    import bench

    assert WORKLOADS["headline"].keys == tuple(bench.HEADLINE)


def test_only_headline_uses_the_table_cache():
    assert [w.name for w in WORKLOADS.values() if w.cache] == ["headline"]


def test_expected_hashes_cover_the_oracle_less_keys():
    with open(run.EXPECTED) as f:
        expected = json.load(f)[f"sf{run.SF:g}"]
    assert set(expected) == ORACLE_LESS


# --- order statistics --------------------------------------------------------


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_percentile_matches_inclusive_quantiles():
    xs = [0.3, 1.7, 0.2, 0.9, 5.0, 0.4, 0.6, 2.2, 0.8, 1.1, 0.5]
    cuts = statistics.quantiles(xs, n=10, method="inclusive")
    assert stats.percentile(xs, 50) == pytest.approx(statistics.median(xs))
    assert stats.percentile(xs, 90) == pytest.approx(cuts[8])
    assert stats.percentile(xs, 0) == min(xs)
    assert stats.percentile(xs, 100) == max(xs)
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile(xs, 101)


def test_quartiles_and_spread_follow_statistics_quantiles():
    xs = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 10.2, 11.1]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartiles(xs) == (q1, q2, q3)
    assert stats.spread(xs) == pytest.approx((q3 - q1) / q2)
    with pytest.raises(ValueError):
        stats.quartiles([1.0])


# --- inputs and answer checks ------------------------------------------------


def test_shipped_tables_match_the_schemas():
    import pyarrow.parquet as pq
    from bigdatawork_spark.schemas import SCHEMAS

    assert set(run.TABLES) == set(SCHEMAS)
    assert sorted(os.listdir(run.DATA)) == sorted(f"{t}.parquet" for t in run.TABLES)
    for t in run.TABLES:
        meta = pq.ParquetFile(os.path.join(run.DATA, f"{t}.parquet"))
        assert meta.schema_arrow.names == SCHEMAS[t].fieldNames()
        assert meta.metadata.num_rows > 0


def test_answer_hashes_ignore_row_and_column_order():
    df = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", None], "x": [0.5, 1.5, 2.5]})
    shuffled = df.iloc[[2, 0, 1]][["x", "v", "k"]]
    assert run.canon_hash(df) == run.canon_hash(shuffled)
    changed = df.assign(x=[0.5, 1.5, 2.6])
    assert run.canon_hash(df) != run.canon_hash(changed)


# --- probes ------------------------------------------------------------------


def test_written_counts_new_and_changed_files(tmp_path):
    (tmp_path / "old").write_text("x")
    (tmp_path / "skip").mkdir()
    before = probes.snapshot(str(tmp_path))
    (tmp_path / "new").write_text("abcd")
    (tmp_path / "skip" / "f").write_text("zz")
    after = probes.snapshot(str(tmp_path), skip=(str(tmp_path / "skip"),))
    assert probes.written(before, after) == (1, 4)


def _task(stage: int, launch: float, run_ms: int, **metrics) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": launch + run_ms},
        "Task Metrics": {"Executor Run Time": run_ms, **metrics},
    }


def test_executor_per_pass_splits_build_jobs_from_execution():
    window = probes.Window(1000.0, 3000.0, builds=[(1000.0, 1500.0)])
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1100},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1300},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5000},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Submission Time": 1600}},
        _task(3, 1600, 100, **{"Executor CPU Time": 50_000_000, "JVM GC Time": 10}),
        _task(3, 1600, 100),
        _task(3, 1600, 400, **{"Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 20}}),
        _task(4, 9000, 100),
    ]
    (m,) = probes.executor_per_pass(events, [window], cores=4)
    assert m["executor.jobs"] == 2
    assert m["operators.eager_jobs"] == 1
    assert m["operators.eager_job_s"] == pytest.approx(0.2)
    assert m["executor.stages"] == 1
    assert m["executor.tasks"] == 3
    assert m["executor.task_s"] == pytest.approx(0.6)
    assert m["executor.cpu_s"] == pytest.approx(0.05)
    assert m["executor.gc_s"] == pytest.approx(0.01)
    assert m["executor.shuffle_write_mb"] == pytest.approx(1.0)
    assert m["executor.task_skew"] == pytest.approx(4.0)
    assert m["executor.idle_core_s"] == pytest.approx(2.0 * 4 - 0.6)


def test_streaming_per_pass_sums_triggers_and_keeps_final_state():
    window = probes.Window(0.0, 10_000.0)
    events = [
        (100.0, "q1", {"triggerExecution": 30, "addBatch": 20, "walCommit": 3}, 5, 1024),
        (200.0, "q1", {"triggerExecution": 40, "addBatch": 25, "commitOffsets": 2}, 8, 2048),
        (300.0, "q2", {"triggerExecution": 10}, 1, 0),
        (20_000.0, "q3", {"triggerExecution": 99}, 99, 99),
    ]
    (m,) = probes.streaming_per_pass(events, [window])
    assert m["streaming.microbatches"] == 3
    assert m["streaming.trigger_ms"] == 80
    assert m["streaming.add_batch_ms"] == 45
    assert m["streaming.commit_ms"] == 5
    assert m["streaming.state_rows"] == 9
    assert m["streaming.state_mb"] == pytest.approx(2048 / 1024 / 1024)
