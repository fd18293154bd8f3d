"""Checkpoint recovery: a streaming query stopped and RESTARTED from the
same checkpoint must process new data exactly once and never reprocess
committed batches — the durability half of the streaming contract (the
logic half is covered by the batch-twin tests)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from bigdatawork_spark.io import load
from bigdatawork_spark.registry import QUERIES
from bigdatawork_spark.streaming.stream_ops import _fresh_dir, _read_stream


def _drain_to_parquet(spark, src, chk, out):
    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        _read_stream(spark, src)
        .select("event_id", "user_id", "value")
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_checkpoint_recovery_exactly_once(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    src, chk, out = _fresh_dir("rec-src"), _fresh_dir("rec-chk"), _fresh_dir("rec-out")

    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)

    first.coalesce(1).write.mode("append").parquet(src)
    _drain_to_parquet(spark, src, chk, out)
    n_first = first.count()
    assert spark.read.parquet(out).count() == n_first

    # new file lands while the query is DOWN; restart from the checkpoint
    time.sleep(0.05)  # distinct mtime
    second.coalesce(1).write.mode("append").parquet(src)
    _drain_to_parquet(spark, src, chk, out)

    got = spark.read.parquet(out)
    assert got.count() == ev.count()  # second half once, first half NOT redone
    # content-level exactly-once: every event id appears exactly once
    assert got.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0


def test_checkpoint_restart_without_new_data_is_noop(spark, sf_dir):
    ev = load(spark, sf_dir, "events").limit(500)
    src, chk, out = _fresh_dir("noop-src"), _fresh_dir("noop-chk"), _fresh_dir("noop-out")
    ev.coalesce(1).write.mode("append").parquet(src)
    _drain_to_parquet(spark, src, chk, out)
    n = spark.read.parquet(out).count()
    _drain_to_parquet(spark, src, chk, out)  # restart, nothing new
    assert spark.read.parquet(out).count() == n


def test_stream_restart_checkpoint_exactly_once(spark, sf_dir):
    """COVERAGE.md rows-only compensating test: counts after the
    stop/append/restart cycle equal the batch groupBy over the full
    source — batch 1 counted exactly once despite two query lifetimes
    over the same checkpoint."""
    got = {
        r.user_id: r.n_purchases
        for r in QUERIES["stream_restart_checkpoint"](spark, sf_dir).collect()
    }
    exp = {
        r.user_id: r.n
        for r in load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .collect()
    }
    assert got == exp


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def _tumbling_counts(spark, src, chk_tag):
    """1-hour tumbling count per event_type — a stateful shape whose state
    store provider we vary.  Returns (final_table_df, query_handle)."""
    import uuid

    from bigdatawork_spark.streaming.stream_ops import _fresh_dir as fresh

    name = f"t_{uuid.uuid4().hex[:8]}"
    sdf = (
        _read_stream(spark, src)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", fresh(f"chk-{chk_tag}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = (
        spark.table(name)
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        .orderBy("window_start", "event_type")
    )
    return out, q


def test_rocksdb_state_store_runs_and_matches_default(spark, sf_dir):
    """100 TB state demonstration (VERDICT r04 residual 4): the SAME
    stateful streaming agg runs under the RocksDB state-store provider —
    the provider a large-state production deployment uses — and produces
    the identical final table as the default HDFS-backed provider.  The
    provider engagement is PROVEN, not assumed: RocksDB publishes
    rocksdb*-prefixed custom metrics in the query progress, which the
    default provider never emits."""
    ev = load(spark, sf_dir, "events")
    src = _fresh_dir("rocks-src")
    ev.coalesce(1).write.mode("append").parquet(src)

    old = spark.conf.get(_PROVIDER_CONF, None)
    spark.conf.set(_PROVIDER_CONF, _ROCKSDB_PROVIDER)
    try:
        rocks_df, q = _tumbling_counts(spark, src, "rocks")
        rocks = rocks_df.collect()
        prog = q.lastProgress
        metrics = (prog.get("stateOperators") or [{}])[0].get("customMetrics", {})
        assert any(k.startswith("rocksdb") for k in metrics), (
            f"RocksDB provider not engaged — customMetrics={sorted(metrics)}"
        )
    finally:
        if old is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, old)

    default_df, _ = _tumbling_counts(spark, src, "hdfs")
    assert [tuple(r) for r in rocks] == [tuple(r) for r in default_df.collect()]


import pytest  # noqa: E402


@pytest.mark.parametrize("provider", ["default", "rocksdb"])
def test_stateful_checkpoint_recovery_per_provider(provider, spark, sf_dir):
    """VERDICT r06 item 8: checkpoint RECOVERY of a stateful aggregation,
    parametrized over the state-store provider.  Phase 1 aggregates half
    the events; the query stops; new data lands; phase 2 restarts from the
    SAME checkpoint — the restored state plus the new half must equal the
    batch aggregation of the full table, under the default HDFS-backed
    provider AND under RocksDB (the provider a large-state production
    deployment uses).  Complete output mode re-emits the full state each
    trigger, so the phase-2 memory table IS the recovered state."""
    import uuid

    ev = load(spark, sf_dir, "events")
    src = _fresh_dir(f"sr-{provider}-src")
    chk = _fresh_dir(f"sr-{provider}-chk")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    old = spark.conf.get(_PROVIDER_CONF, None)
    if provider == "rocksdb":
        spark.conf.set(_PROVIDER_CONF, _ROCKSDB_PROVIDER)
    try:

        def drain():
            name = f"sr_{uuid.uuid4().hex[:8]}"
            q = (
                _read_stream(spark, src)
                .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n_events"))
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return (
                spark.table(name)
                .select(
                    F.col("w.start").alias("ws"), "event_type", "n_events"
                )
                .orderBy("ws", "event_type")
                .collect()
            )

        drain()  # phase 1: half the data, state checkpointed
        import time as _t

        _t.sleep(0.05)  # distinct mtime for the file source listing
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        got = drain()  # phase 2: restart from the same checkpoint
    finally:
        if old is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, old)

    want = (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("ws"), "event_type", "n_events")
        .orderBy("ws", "event_type")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want], (
        f"{provider}: recovered state diverges from the batch twin"
    )


# ---------------------------------------------------------------------------
# Mid-stream KILL → restart-from-checkpoint equivalence (VERDICT r12 item 4)
# ---------------------------------------------------------------------------
#
# The tests above cover PLANNED restarts (the query drains to completion,
# then new data lands).  The stronger durability claim is an UNPLANNED stop
# mid-stream: the query is killed after ≥1 committed micro-batch with
# triggers still pending, restarted from the same checkpoint, and the final
# result must equal an uninterrupted run's.  Output accumulates through an
# IDEMPOTENT foreachBatch sink (overwrite into a batch_id=N partition dir —
# the documented exactly-once pattern for a sink that may see a replayed
# batch after a crash), so a batch abandoned between sink write and offset
# commit re-runs without duplication.


def _drain_idempotent(spark, sdf, chk, out, *, stop_after_first_commit=False,
                      output_mode="append"):
    """Run ``sdf`` (availableNow) into ``out`` via idempotent per-batch-id
    overwrite; optionally stop the query as soon as one micro-batch with
    input rows has committed (progress events are only published for
    committed batches).  Returns the number of committed batches seen."""
    import json as _json

    def write_batch(bdf, bid):
        bdf.write.mode("overwrite").parquet(f"{out}/batch_id={bid}")

    q = (
        sdf.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    if stop_after_first_commit:
        deadline = time.time() + 120
        while time.time() < deadline:
            if any(
                _json.loads(p.json).get("numInputRows", 0) > 0
                for p in q.recentProgress
            ):
                break
            time.sleep(0.02)
        q.stop()  # mid-stream: pending triggers stay unprocessed
    q.awaitTermination()
    return len(q.recentProgress)


def _read_out(spark, out):
    return spark.read.parquet(out).drop("batch_id")


def test_wm_admission_kill_restart_equals_uninterrupted(spark, sf_dir):
    """Kill the watermarked admission ledger (stream_index_admission_wm's
    exact pipeline — shared helpers) after its first committed trigger,
    restart from the same checkpoint, and assert the union of emitted
    finalized windows equals an uninterrupted run over the same source
    files: restored watermark + window state, no lost or duplicated
    admissions."""
    import pytest

    from bigdatawork_spark.streaming.stream_ops import (
        _wm_admission_stream,
        _wm_source_dir,
    )

    src = _wm_source_dir(spark, sf_dir)

    # interrupted run: ≥1 committed batch, then killed with work pending
    chk1, out1 = _fresh_dir("wmk-chk"), _fresh_dir("wmk-out")
    n1 = _drain_idempotent(
        spark,
        _wm_admission_stream(spark, sf_dir, src),
        chk1,
        out1,
        stop_after_first_commit=True,
    )
    assert n1 >= 1, "the kill must land AFTER at least one committed batch"
    if n1 >= 5:
        pytest.skip("stop raced past every trigger — nothing left to recover")
    # restart from the SAME checkpoint; drain the pending triggers
    n2 = _drain_idempotent(
        spark, _wm_admission_stream(spark, sf_dir, src), chk1, out1
    )
    assert n2 >= 1, "the restart processed nothing — the kill was not mid-stream"

    # uninterrupted reference run over the same source files
    chk2, out2 = _fresh_dir("wmu-chk"), _fresh_dir("wmu-out")
    _drain_idempotent(
        spark, _wm_admission_stream(spark, sf_dir, src), chk2, out2
    )

    got = {tuple(r) for r in _read_out(spark, out1).collect()}
    want = {tuple(r) for r in _read_out(spark, out2).collect()}
    assert got == want, (
        f"kill/restart diverged: {len(got - want)} extra, "
        f"{len(want - got)} missing vs the uninterrupted run"
    )
    assert len(want) > 0  # non-vacuous: windows actually finalized


def test_stateful_tws_kill_restart_equals_batch_twin(spark, sf_dir):
    """Kill the per-user running-count stateful stream (the
    stream_stateful_tws / stream_stateful_count semantics) after its first
    committed micro-batch, restart from the same checkpoint, and assert
    the LAST emission per user equals the batch groupBy count over the
    full table — the restored value state must carry the killed run's
    counts forward, exactly once."""
    import json as _json

    import pandas as pd
    import pytest
    from pyspark.sql.streaming.state import GroupStateTimeout

    from bigdatawork_spark.streaming.stream_ops import _stage

    ev = load(spark, sf_dir, "events")
    # three files → three update-mode micro-batches (maxFilesPerTrigger=1)
    src = _stage(
        [ev.filter(F.col("event_id") % 3 == r).coalesce(1) for r in range(3)],
        "twsk-src",
    )

    def count_events(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    def stream():
        return (
            _read_stream(spark, src, max_files=1)
            .groupBy("user_id")
            .applyInPandasWithState(
                count_events,
                outputStructType="user_id long, n_events long",
                stateStructType="n long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    chk, out = _fresh_dir("twsk-chk"), _fresh_dir("twsk-out")
    n1 = _drain_idempotent(
        spark, stream(), chk, out,
        stop_after_first_commit=True, output_mode="update",
    )
    assert n1 >= 1
    if n1 >= 3:
        pytest.skip("stop raced past every trigger — nothing left to recover")
    n2 = _drain_idempotent(spark, stream(), chk, out, output_mode="update")
    assert n2 >= 1, "the restart processed nothing — the kill was not mid-stream"

    # update mode emits a user's running count each batch it changes in;
    # after the last batch, each user's newest emission IS the final state
    got = spark.read.parquet(out)  # batch_id is the partition column
    w_latest = (
        got.groupBy("user_id")
        .agg(F.max_by("n_events", "batch_id").alias("n_events"))
    )
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    diff = (
        w_latest.join(want, "user_id")
        .filter(w_latest["n_events"] != want["n_events"])
        .count()
    )
    assert diff == 0, f"{diff} users' recovered counts diverge from the batch twin"
    assert w_latest.count() == want.count()  # every user emitted at least once


_SCRATCH_PROBE = """\
import os, sys
sys.path.insert(0, {root!r})
from bigdatawork_spark.sources import io_ops
from bigdatawork_spark.streaming import stream_ops

fresh = stream_ops._fresh_dir("t")
with open(os.path.join(fresh, "f"), "w") as f:
    f.write("x")
with open(io_ops._tmp("t"), "w") as f:
    f.write("x")
print(os.getpid(), fresh, io_ops._TMP_ROOT)
"""


def test_scratch_roots_are_per_process_and_removed_at_exit(tmp_path):
    """One scratch root: a stream dir from ``_fresh_dir`` lies under the io
    root, which is private to the process that made it and gone once it
    exits, so runs do not pile up sources, checkpoints and drained
    results.  The probe process imports the package without starting
    Spark."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run(
        [sys.executable, "-c", _SCRATCH_PROBE.format(root=root)],
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    pid, fresh, scratch = done.stdout.split()[-3:]
    assert os.path.dirname(fresh) == scratch, (fresh, scratch)
    assert scratch.startswith(str(tmp_path)), scratch
    assert scratch.endswith(f"-{pid}"), scratch
    assert not os.path.exists(scratch), f"{scratch} left behind"
