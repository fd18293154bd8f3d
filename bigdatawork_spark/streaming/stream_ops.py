"""§2-I Structured Streaming operators (SURVEY.md).  REF:∅.

All keys are rows-only (streaming results aren't DuckDB-expressible); the
windowing LOGIC is hash-verified through the batch twins in
``operators/windows.py`` (SURVEY §2-I evidence note).

Test harness pattern (§5.3 / §3.3): stage → read → run.  ``_stage``
writes a key's frames into a fresh dir in trigger order; ``_read_stream``
replays it as a file source; ``_run_stream`` starts the one foreachBatch
``trigger(availableNow=True)`` query, and ``_drain_to_parquet`` (its
parquet-writing caller) reads the result back as the final static table.
Shared shapes: ``_window_totals``, ``_interval_join``, ``_query_conf`` and
``curation._ledger``.  Every dir is a fresh ``_fresh_dir`` under the io
scratch root, so reruns never resume stale state.
At scale: same code with a real source (Kafka/files), RocksDB state store,
and a durable checkpoint dir.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..session import session_memo, spread_if_narrow
from ..sources.io_ops import _tmp


def _fresh_dir(tag: str) -> str:
    """A new, existing directory under the per-process io scratch root."""
    path = _tmp(f"{tag}-{uuid.uuid4().hex[:8]}")
    os.makedirs(path, exist_ok=True)
    return path


def _parquet_files(src: str) -> set[str]:
    return set(glob.glob(os.path.join(src, "*.parquet")))


def _stamp_trigger(files, i: int) -> None:
    """Give ``files`` trigger ``i``'s synthetic mtime (``i`` minutes past a
    fixed epoch).  FileStreamSource reads files in mtime order; write-time
    mtimes can TIE on a coarse-granularity filesystem and reorder triggers,
    which under a watermark late-drops earlier windows' events (ADVICE
    r12).  Explicit mtimes make trigger order a property of the data."""
    t = 1_700_000_000.0 + 60.0 * i
    for f in files:
        os.utime(f, (t, t))


def _stage(frames, tag: str) -> str:
    """Write each frame, in order, into a fresh dir and return it; frame
    i's files carry trigger i's mtime.  The caller lays out each frame:
    a one-partition frame is one file, i.e. one trigger under
    ``maxFilesPerTrigger=1``."""
    src = _fresh_dir(tag)
    done: set[str] = set()
    for i, frame in enumerate(frames):
        frame.write.mode("append").parquet(src)
        new = _parquet_files(src) - done
        _stamp_trigger(new, i)
        done |= new
    return src


def _staged_once(spark, key, frames) -> str:
    """``_stage(frames(), "src")`` memoized per session under ``key``: the
    staged dir is immutable input (every query still computes from it
    with a fresh checkpoint), and ~10 keys stage the IDENTICAL events copy
    — re-writing it per key cost 8.9 s cold / 2.1 s warm at sf1.0 (r16)."""
    memo = session_memo(spark, "stream_src")
    got = memo.get(key)
    # guard against a tmp reaper having removed the dir
    if got and _parquet_files(got):
        return got
    memo[key] = src = _stage(frames(), "src")
    return src


def _events_source_dir(spark, sf_dir, chunks: list | None = None) -> str:
    """Stage events (µs timestamps — streaming reader also rejects ns) as
    one file per chunk predicate, in order.  The default (single
    catch-all chunk) staging is memoized per (session, sf_dir).

    r17: the default staging is written at least CORE-WIDTH
    (``spread_if_narrow``): the staged file set is the scan split plan of
    every downstream drain, and one file made each consumer's scan a
    1-task stage (sink_stream_memory's drain 7.8-8.5 → 2.1-2.4 s at sf1.0;
    neutral on join/agg consumers — OPTIMIZATION_r17.md).  All its files
    share trigger 0's mtime and no consumer sets maxFilesPerTrigger, so it
    stays ONE micro-batch.  Chunked callers keep one file per chunk —
    their file boundaries ARE the trigger boundaries."""
    if chunks is None:
        return _staged_once(
            spark, sf_dir, lambda: [spread_if_narrow(load(spark, sf_dir, "events"))]
        )
    ev = load(spark, sf_dir, "events")
    return _stage([ev.filter(pred).coalesce(1) for pred in chunks], "src")


def _sentinel_events_source_dir(spark, sf_dir) -> str:
    """Staging shared by stream_session and stream_stream_left_join: the
    full events table as file 1, then two single-row far-future sentinel
    files (2024-02-15 / 2024-02-16) as files 2-3 — the two-sentinel
    watermark-advance lifecycle both keys replay one file per trigger.
    Memoized per (session, sf_dir) like the default staging (r17: ~2-4 s
    warm per call at sf1.0).  The events chunk stays ONE file: it must
    land in one trigger under maxFilesPerTrigger=1."""

    def frames():
        sentinels = [
            spark.sql(
                f"SELECT CAST({10**9 + i} AS LONG) AS event_id,"
                f" TIMESTAMP '2024-02-{day} 00:00:00' AS ts,"
                " CAST(-1 AS LONG) AS user_id, 'sentinel' AS event_type,"
                " CAST(0.0 AS DOUBLE) AS value, '{}' AS props"
            ).coalesce(1)
            for i, day in enumerate((15, 16))
        ]
        return [load(spark, sf_dir, "events").coalesce(1), *sentinels]

    return _staged_once(spark, (sf_dir, "__sentinel__"), frames)


def _read_stream(spark: SparkSession, src: str, max_files: int | None = None):
    ev_schema = spark.read.parquet(src).schema
    reader = spark.readStream.schema(ev_schema)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(src)


def _run_stream(sdf, batch_fn, tag: str, output_mode: str = "append", chk=None):
    """Start ``sdf`` as one foreachBatch ``availableNow`` query on a fresh
    checkpoint (or the shared ``chk``), wait for it to drain what is
    available, and return the finished query."""
    q = (
        sdf.writeStream.foreachBatch(batch_fn)
        .outputMode(output_mode)
        .option("checkpointLocation", chk or _fresh_dir(f"chk-{tag}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _drain_to_parquet(sdf, tag: str, output_mode: str = "append", chk=None, progress=None):
    """Drain an availableNow stream through a foreachBatch parquet sink and
    return the result read back as a static DataFrame — the one drain every
    availableNow key uses.  A memory sink collects every row into DRIVER
    memory, serves it from a LocalTableScan row by row (r16, sf1.0:
    stream_static_join 11.8 s there vs 2.8 s here) and leaves a temp view
    pinning the rows until the session ends; foreachBatch writes each batch
    executor-side in parallel and registers nothing.

    ``complete`` mode re-emits the full result every trigger, so each batch
    overwrites the last (as the memory sink clears its batches); every other
    mode appends.  ``chk`` shares a checkpoint across queries (restart);
    ``progress``, when given, is refilled with the query's
    ``recentProgress`` records.  The schema is preserved even when the
    stream emits zero rows."""
    out = _fresh_dir(f"out-{tag}")
    mode = "overwrite" if output_mode == "complete" else "append"

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode(mode).parquet(out)

    q = _run_stream(sdf, _write, tag, output_mode, chk)
    if progress is not None:
        progress[:] = [json.loads(p.json) for p in q.recentProgress]
    spark = sdf.sparkSession
    if not _parquet_files(out):
        return spark.createDataFrame([], sdf.schema)
    return spark.read.schema(sdf.schema).parquet(out)


@contextmanager
def _query_conf(spark, key: str, value: str):
    """Conf ``key`` = ``value`` for the queries started in the block."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@register("source_stream_file")
def source_stream_file(spark, sf_dir):
    """File-based streaming source over an events parquet dir → parquet."""
    src = _events_source_dir(spark, sf_dir)
    sdf = _read_stream(spark, src).filter(F.col("event_type") == "purchase")
    out = _drain_to_parquet(sdf, "srcfile")
    return out.select("event_id", "user_id", "value").orderBy("event_id")


@register("source_stream_rate")
def source_stream_rate(spark, sf_dir):
    """Synthetic rate source smoke: start, drain what's available, assert
    plumbing works.  Row count is wall-clock-dependent, so the result is a
    single schema-stable row."""
    sdf = spark.readStream.format("rate").option("rowsPerSecond", 500).load()
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 15
        while time.time() < deadline and spark.table(name).limit(1).count() == 0:
            time.sleep(0.3)
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).agg(
        F.when(F.count(F.lit(1)) > 0, 1).otherwise(0).alias("got_rows")
    )


@register("sink_stream_memory")
def sink_stream_memory(spark, sf_dir):
    """Stream → in-memory table; rows asserted after full drain."""
    src = _events_source_dir(spark, sf_dir)
    sdf = _read_stream(spark, src).select("event_id", "user_id", "event_type")
    name = f"t_{uuid.uuid4().hex[:8]}"
    (
        sdf.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", _fresh_dir(f"chk-{name}"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(name).orderBy("event_id")


@register("sink_stream_foreachbatch")
def sink_stream_foreachbatch(spark, sf_dir):
    """Stream → foreachBatch callback writing parquet per micro-batch; the
    sink dir is read back as the result (the escape hatch for arbitrary
    batch sinks)."""
    src = _events_source_dir(spark, sf_dir)
    sdf = _read_stream(spark, src).select("event_id", "user_id", "value")
    return _drain_to_parquet(sdf, "fb").orderBy("event_id")


def _window_totals(spark, sf_dir, tag: str, *window):
    """Event count and value total per (``F.window("ts", *window)``,
    event_type), update mode, over the default staging: one micro-batch,
    so the final table equals the batch twin."""
    src = _events_source_dir(spark, sf_dir)
    sdf = (
        _read_stream(spark, src)
        .groupBy(F.window("ts", *window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )
    return (
        _drain_to_parquet(sdf, tag, output_mode="update")
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@register("stream_tumbling")
def stream_tumbling(spark, sf_dir):
    """Streaming twin of win_time_tumbling: 1-hour windows, update mode
    (asserted in tests/test_streaming_twins.py)."""
    return _window_totals(spark, sf_dir, "tumbling", "1 hour")


@register("stream_watermark_late")
def stream_watermark_late(spark, sf_dir):
    """10-min watermark, append mode: batch 0 (recent data) advances the
    watermark; the old data then arrives entirely late and is dropped.
    Output = finalized windows built from the on-time batch only.

    Note (measured on PySpark 4.1.2): the aggregate's late-row filter
    applies the watermark one batch AFTER the progress log reports it, so
    an empty spacer batch sits between the on-time and late files."""
    cut = F.lit("2024-01-15").cast("timestamp")
    src = _events_source_dir(
        spark,
        sf_dir,
        chunks=[F.col("ts") >= cut, F.lit(False), F.col("ts") < cut],
    )
    sdf = (
        _read_stream(spark, src, max_files=1)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        _drain_to_parquet(sdf, "wmlate")
        .select(F.col("w.start").alias("window_start"), "n_events")
        .orderBy("window_start")
    )


@register("stream_dedup")
def stream_dedup(spark, sf_dir):
    """Duplicate events arrive in two micro-batches; state-backed
    dropDuplicatesWithinWatermark keeps one copy per event_id.

    r17 staging (guide §1.2): the second micro-batch is BY DEFINITION a
    byte-identical re-delivery of the first, so it is staged as a file
    COPY of chunk 1 instead of a second full Spark write of events —
    same rows in both triggers, one staged write instead of two
    (8.6 → ~4 s at sf1.0)."""
    src = _stage([load(spark, sf_dir, "events").coalesce(1)], "src")
    (f1,) = _parquet_files(src)
    replay = os.path.join(src, "replay-" + os.path.basename(f1))
    shutil.copyfile(f1, replay)
    _stamp_trigger([replay], 1)
    sdf = (
        _read_stream(spark, src, max_files=1)
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _drain_to_parquet(sdf, "dedup").orderBy("event_id")


@register("stream_stateful_count")
def stream_stateful_count(spark, sf_dir):
    """Arbitrary stateful per-user running event count via
    applyInPandasWithState (SURVEY §7.4.8 fallback API — stable in 4.1.2;
    transformWithStateInPandas is the newer equivalent).  State lives with
    the shuffle partition of user_id (§3.3)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = _events_source_dir(spark, sf_dir)

    def count_events(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    # r17 (guide §4.1): applyInPandasWithState is OPAQUE to the optimizer —
    # without the explicit select, all 6 event columns (including the fat
    # props JSON) crossed the REQUIRED_BY_STATEFUL_OPERATOR exchange, the
    # per-partition sort, AND the Arrow boundary, when count_events only
    # ever reads len(pdf).  Projecting to the grouping key alone shuffles
    # and ships 8 bytes/row: measured 4.0-4.4 s → 2.4 s warm (first
    # invocation 10.2 → 2.9 s) at sf1.0.  arrow.maxRecordsPerBatch A/B'd
    # at 10k/50k/200k on top: no effect (2.34-2.40 s), rejected.
    sdf = (
        _read_stream(spark, src)
        .select("user_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            count_events,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # r16 (guide §2.6 idle capacity): the per-group pandas dispatch is the
    # cost here (~15k groups, one Python worker per state partition), and
    # the session default of 8 shuffle partitions left 3/4 of the cores
    # idle during the drain — widen the stateful operator to core width
    # for THIS query only (shuffle partitions are read at query start;
    # restored after).  State stays bounded: one long per user either
    # way, just spread over more stores.  Measured 14 s → ~5 s at sf1.0.
    width = str(spark.sparkContext.defaultParallelism)
    with _query_conf(spark, "spark.sql.shuffle.partitions", width):
        out = _drain_to_parquet(sdf, "stateful", output_mode="update")
    return out.orderBy("user_id")


@register("stream_static_join")
def stream_static_join(spark, sf_dir):
    """Enrich the stream with a static dimension (event_type → weight) —
    stream-static joins need no state; the static side broadcasts."""
    src = _events_source_dir(spark, sf_dir)
    weights = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 5.0), ("signup", 3.0),
         ("error", 0.0)],
        "event_type string, weight double",
    )
    sdf = (
        _read_stream(spark, src)
        .join(F.broadcast(weights), "event_type")
        .select("event_id", "event_type", "value", "weight")
    )
    return _drain_to_parquet(sdf, "staticjoin").orderBy("event_id")


def _interval_join(spark, src, watermark: str, how: str, right_rows=None):
    """``src`` joined with itself, one file per trigger per side: left
    (first_id, user_id, ts_a) to the same user's right (second_id, uid_b,
    ts_b) with ts_a < ts_b <= ts_a + 10 min, both sides under
    ``watermark``; ``right_rows`` filters the right side."""
    left = (
        _read_stream(spark, src, max_files=1)
        .select(
            F.col("event_id").alias("first_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", watermark)
    )
    right = _read_stream(spark, src, max_files=1)
    if right_rows is not None:
        right = right.filter(right_rows)
    right = right.select(
        F.col("event_id").alias("second_id"),
        F.col("user_id").alias("uid_b"),
        F.col("ts").alias("ts_b"),
    ).withWatermark("ts_b", watermark)
    return left.join(
        right,
        (F.col("user_id") == F.col("uid_b"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 10 MINUTES")),
        how,
    )


@register("stream_stream_join")
def stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream inner join — both sides are unbounded, so
    Spark keeps per-side join state; the event-time range condition plus
    the watermarks is what lets it EVICT that state (a left row older than
    watermark-10min can never match again).  Replayed as two microbatches
    (maxFilesPerTrigger=1) so pairs spanning the batch boundary prove the
    state actually carries across triggers.  Semantics are exactly the
    batch ``join_interval`` twin (same-user pairs ≤10 min apart), which is
    hash-verified against DuckDB; the twin-equality test in
    tests/test_streaming_twins.py closes the loop.

    At 100 TB: same code over Kafka sources; state store → RocksDB; the
    watermark bounds state to (watermark + range) × per-user rate."""
    mid = F.expr("timestamp '2024-01-15 00:00:00'")
    src = _events_source_dir(
        spark, sf_dir, chunks=[F.col("ts") < mid, F.col("ts") >= mid]
    )
    joined = _interval_join(spark, src, "30 minutes", "inner").select(
        "first_id", "second_id", "user_id"
    )
    return _drain_to_parquet(joined, "ssjoin").orderBy("first_id", "second_id")


@register("stream_stream_left_join")
def stream_stream_left_join(spark, sf_dir):
    """Watermarked stream-stream LEFT OUTER join — the attribution shape
    ("did this event lead to a purchase ≤10 min later?").  Outer emission
    is the hard part: a NULL-extended left row may only emit once the
    watermark proves no future right match can arrive, so two far-future
    sentinel batches advance the watermark past every real row (the
    watermark application lags the progress log by one batch — same
    measured quirk as stream_session / stream_watermark_late).  The right
    side filters to purchases BUT keeps sentinels, otherwise its watermark
    would never advance and the NULL rows would never flush.  Twin-equal
    to the DuckDB-verified batch join_interval_left.  Source staging is
    the memoized sentinel layout shared with stream_session (r17)."""
    src = _sentinel_events_source_dir(spark, sf_dir)
    joined = _interval_join(
        spark,
        src,
        "10 minutes",
        "leftOuter",
        F.col("event_type").isin("purchase", "sentinel"),
    ).select("first_id", "user_id", "second_id")
    return (
        _drain_to_parquet(joined, "ssleft")
        .filter(F.col("user_id") >= 0)
        .orderBy("first_id", "second_id")
    )


@register("stream_stateful_tws")
def stream_stateful_tws(spark, sf_dir):
    """Per-user running count via Spark 4's transformWithStateInPandas
    (StatefulProcessor + value state).  Falls back to the
    applyInPandasWithState formulation if the new API/state-store provider
    is unavailable on this build (SURVEY §7.4.8) — identical semantics, so
    the batch-groupBy equivalence test covers both paths.

    Measured on this build (PySpark 4.1.2 local): the new API fails with
    'TransformWithStateInPySpark driver worker exited unexpectedly' —
    root cause is an ImportError of the protobuf state-message bindings
    (`google.protobuf` is absent here), which the separately-spawned
    driver worker hits in pre-init.  The worker runs the same Python
    environment as this process, so the SAME import is probed HERE first
    (r16 optimization, guide §1.2 "don't compute things you throw
    away"): on builds where it fails, the ~2 s doomed streaming-query
    start + crash + unwind is skipped and the fallback runs directly;
    on a build with working protobuf the probe passes and the real path
    is attempted — the try-first auto-upgrade is preserved.  The probe
    also keeps the doomed attempt's session-wide RocksDB providerClass
    set from leaking into every later streaming query (see the provider
    A/B note in OPTIMIZATION_r16.md §11)."""
    import pandas as pd

    src = _events_source_dir(spark, sf_dir)
    try:
        # Availability probe: the exact import the transformWithState
        # driver worker needs; ImportError here == guaranteed crash there.
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class CountProcessor(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._n = handle.getValueState("n", "n long")

            def handleInputRows(self, key, rows, timerValues):
                n = self._n.get()[0] if self._n.exists() else 0
                for pdf in rows:
                    n += len(pdf)
                self._n.update((n,))
                yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

            def close(self) -> None:
                pass

        # transformWithState requires the RocksDB provider — set it for
        # THIS query only and restore after: leaking it session-wide made
        # every later streaming key's state op run under RocksDB, which
        # the r16 provider A/B measured 3.6× SLOWER for the stream-stream
        # join state op locally (14.0 s vs 49.9 s warm at sf1.0;
        # OPTIMIZATION_r16.md §11).
        with _query_conf(
            spark,
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ):
            # same §4.1 projection as stream_stateful_count: only the
            # grouping key crosses the stateful exchange + Arrow boundary
            sdf = (
                _read_stream(spark, src)
                .select("user_id")
                .groupBy("user_id")
                .transformWithStateInPandas(
                    CountProcessor(),
                    outputStructType="user_id long, n_events long",
                    outputMode="Update",
                    timeMode="None",
                )
            )
            out = _drain_to_parquet(sdf, "tws", output_mode="update")
        return out.orderBy("user_id")
    except Exception:
        # fallback: classic arbitrary-state API, same semantics
        return stream_stateful_count(spark, sf_dir)


@register("stream_sliding")
def stream_sliding(spark, sf_dir):
    """Streaming twin of win_time_sliding: 1-hour windows every 15 min,
    update mode (asserted in tests/test_streaming_twins.py)."""
    return _window_totals(spark, sf_dir, "sliding", "1 hour", "15 minutes")


@register("stream_session")
def stream_session(spark, sf_dir):
    """Streaming twin of win_time_session: per-user 30-min-gap session
    windows (state-backed session merging).  Session aggregation only
    supports APPEND mode (update raises STREAMING_OUTPUT_MODE on 4.1.2),
    and append emits a session only once the watermark passes its close —
    so two sentinel micro-batches with far-future timestamps advance the
    watermark past every real session (the watermark application lags the
    progress log by one batch, hence TWO sentinels — same measured quirk
    as stream_watermark_late).  Sentinel rows are excluded from output.
    Equals the batch twin on real users (test_streaming_twins).

    r17 measured notes: source staging is the memoized sentinel layout
    shared with stream_stream_left_join (was ~2-4 s of per-call
    coalesce(1) re-staging); the session-window state op itself was
    A/B'd with ``sessionWindow.merge.sessionsInLocalPartition`` at
    sf1.0 (interleaved, 4 rounds: off 4.9-6.2 s, on 4.8-6.4 s — no
    reliable win, REJECTED); no pre-state select is needed because the
    session aggregate is a native operator, so the scan already prunes
    to (user_id, ts) — see the plan dump in plans/r17/."""
    src = _sentinel_events_source_dir(spark, sf_dir)
    sdf = (
        _read_stream(spark, src, max_files=1)
        .withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_event"),
        )
    )
    out = _drain_to_parquet(sdf, "session", output_mode="append")
    return (
        out.filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "last_event",
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "stream_union_sources",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def stream_union_sources(spark, sf_dir):
    """Multiplexed ingestion: TWO independent file-source streams (even /
    odd event halves — two topics, two landing dirs) union into one
    logical stream before a global aggregation in complete mode.  The
    final state must equal the batch aggregate over both halves,
    oracle-checked.  At scale this is the several-Kafka-topics-one-query
    pattern; each source keeps its own offsets in the shared
    checkpoint."""
    src_a = _events_source_dir(spark, sf_dir, chunks=[F.col("event_id") % 2 == 0])
    src_b = _events_source_dir(spark, sf_dir, chunks=[F.col("event_id") % 2 == 1])
    sdf = (
        _read_stream(spark, src_a)
        .unionByName(_read_stream(spark, src_b))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    return _drain_to_parquet(sdf, "union", output_mode="complete").orderBy(
        "event_type"
    )


@register(
    "stream_complete_topk",
    oracle="""
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
ORDER BY total_value DESC, user_id
LIMIT 10
""",
)
def stream_complete_topk(spark, sf_dir):
    """Streaming top-k — legal ONLY in complete mode (sorting an
    append-mode stream is undecidable; over the complete aggregate state
    it's just a query on the state table): per-user running spend, top 10
    by total with a deterministic (total DESC, user_id) tie-break.  Each
    trigger re-emits the full ranked state; the decimal sums keep ranking
    stable cross-engine.  At scale the state is the per-key aggregate
    (bounded by |users|), and the sort runs over state, not the stream."""
    src = _events_source_dir(spark, sf_dir)
    sdf = (
        _read_stream(spark, src)
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value")
        )
        .orderBy(F.col("total_value").desc(), "user_id")
        .limit(10)
    )
    out = _drain_to_parquet(sdf, "topk", output_mode="complete")
    return out.orderBy(F.col("total_value").desc(), "user_id")


@register(
    "stream_curate_to_table",
    oracle="""
WITH kept AS (
  SELECT source, n_chars FROM (
    SELECT source, n_chars,
           row_number() OVER (PARTITION BY text
                              ORDER BY doc_id % 2, doc_id) AS rn
    FROM documents
    WHERE n_chars >= 100
  ) WHERE rn = 1
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM kept GROUP BY source ORDER BY source
""",
)
def stream_curate_to_table(spark, sf_dir):
    """End-to-end STREAMING CURATION LANDING — the shape a production
    ingest pipeline actually runs: documents arrive as micro-batches
    (batch 1 = even doc_ids; batch 2 = odd doc_ids PLUS a replay of the
    doc_id%10==0 slice of batch 1 — an at-least-once source re-delivering
    data, which is the normal failure mode, not an edge case), and each
    batch passes a quality gate (n_chars ≥ 100), a WITHIN-batch exact
    dedup (min doc_id per text), a CROSS-batch dedup (anti-join on text
    against the already-landed table — re-delivered and replicated
    documents drop), and lands as an idempotent named commit in the
    manifest table format (batch id → commit name, the exactly-once
    handshake table_format_stream_sink locks down).  The final landed
    table must equal the batch-world curation of the full corpus — the
    oracle expresses keep-first-arrival as row_number ordered by
    (doc_id % 2, doc_id), i.e. batch order then in-batch order — so the
    whole streaming pipeline is hash-verified, not just smoke-tested.
    NON-VACUOUS by construction: the injected replay means a missing
    cross-batch anti-join double-counts ~10% of batch 1 and fails the
    hash at every SF (and the sf0.1 corpus's replicated texts exercise
    the within-batch and cross-parity paths on organic data too).

    100 TB: the gate is map-only; within-batch dedup shuffles one
    micro-batch; the cross-batch anti-join is the landing table's content
    hash set (at scale: a bloom/content-hash index partition-pruned by
    the manifest, not a full re-read); commits are manifest appends —
    metadata-sized."""
    from pyspark.sql import Window as _W

    from ..sources.manifest_format import ManifestTable

    d = load(spark, sf_dir, "documents")
    replayed = (F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 10 == 0)
    src = _stage(
        [d.filter(p).coalesce(1) for p in (F.col("doc_id") % 2 == 0, replayed)],
        "curate-src",
    )

    t = ManifestTable(spark, _fresh_dir("stream-curate"))

    def land(batch_df, batch_id):
        gated = batch_df.filter(F.col("n_chars") >= 100)
        w = _W.partitionBy("text").orderBy("doc_id")
        fresh = (
            gated.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .drop("rn")
        )
        if t.versions():  # cross-batch: drop texts already landed
            seen = t.read().select("text")
            fresh = fresh.join(seen, "text", "left_anti")
        if not fresh.isEmpty():
            t.append(fresh, n_files=2, name=f"curate-{batch_id}")

    _run_stream(_read_stream(spark, src, max_files=1), land, "curate")
    return (
        t.read()
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("source")
    )


@register("stream_restart_checkpoint", streaming=True)
def stream_restart_checkpoint(spark, sf_dir):
    """Exactly-once across a planned restart: a per-user purchase count
    stream runs against file batch 1, STOPS, the source gains batch 2,
    and a NEW query restarts from the SAME checkpoint — the state store
    restores batch-1 counts and processes only the unseen files, so the
    final counts equal the batch groupBy over both batches with no
    double-counting of batch 1.  This is the durability property that
    lets a 100 TB continuous-curation job survive deploys and
    preemptions; rows-only at the driver (wall-clock source lifecycle),
    value-pinned by tests/test_streaming_recovery.py::
    test_stream_restart_checkpoint_exactly_once."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cut = ev.agg(F.percentile_approx("event_id", 0.5)).collect()[0][0]
    src = _events_source_dir(
        spark, sf_dir, chunks=[F.col("event_id") <= F.lit(cut)]
    )
    chk = _fresh_dir("chk-restart")
    sdf = (
        _read_stream(spark, src)
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_purchases"))
    )
    _drain_to_parquet(sdf, "restart", output_mode="complete", chk=chk)

    # the source grows AFTER the first query finished and stopped
    grown = ev.filter(F.col("event_id") > F.lit(cut)).coalesce(1)
    grown.write.mode("append").parquet(src)

    out = _drain_to_parquet(sdf, "restart", output_mode="complete", chk=chk)
    return out.orderBy("user_id")


# ---------------------------------------------------------------------------
# stream_index_admission — the streaming twin of the admission family
# ---------------------------------------------------------------------------


def _corpus_index(spark, sf_dir):
    """The corpus hash index of both streaming admission keys, materialized
    once: every micro-batch re-evaluates a stream-static join's static
    side (r17 drain A/B at sf1.0: 4.2-4.4 → 3.1-3.2 s)."""
    from ..operators.curation import _split

    _, corpus = _split(spark, sf_dir, augmented=False)
    return corpus.select("h").distinct().localCheckpoint()


@register("stream_index_admission", streaming=True)  # rows-only: wall-clock source lifecycle
def stream_index_admission(spark, sf_dir):
    """Continuous admission as a STREAM: arriving documents are probed
    against the static corpus hash index (stream-static left_anti join —
    the index broadcasts or probes per micro-batch, no stream state) and
    then folded into a stateful per-hash admission LEDGER
    (``groupBy(h).agg(min(doc_id), count)`` in complete mode — state
    that merges re-arrivals ACROSS micro-batches).  The min-agg ledger
    is deliberately arrival-order-INVARIANT: ``dropDuplicates`` (the
    row-passing alternative, demonstrated by ``stream_dedup``) keeps an
    arbitrary row of a same-batch duplicate pair, so its admitted
    doc_ids depend on file order and intra-batch scheduling; the ledger
    admits min(doc_id) per hash no matter how arrivals are batched.
    The source is written as two files drained one per trigger: file 1
    is the natural batch, file 2 is all replica plants (copies of
    file-1 docs and of corpus docs), so the second micro-batch consists
    entirely of rows the join must drop or the ledger must MERGE rather
    than re-admit — cross-micro-batch, which is what distinguishes
    stateful streaming dedup from a per-batch distinct.

    The final ledger therefore equals ``dedup_incremental_exact``'s
    full (doc_id, text_hash, n_batch_copies) survivor relation (pinned
    in tests/test_admission.py).  Production note: unbounded per-hash
    state wants a watermark once a re-arrival horizon exists — that
    bounded-state variant is ``stream_index_admission_wm`` (r12), which
    pins the state-store eviction as a runtime metric; the index side
    stays a static relation, materialized once, i.e. the persisted-index
    shape."""
    from ..operators.curation import _ledger, _replica_plants, _split

    batch, _ = _split(spark, sf_dir, augmented=False)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # r17: repartition(1), not coalesce(1) — coalesce collapses the
    # parallel filter over the core-width _split cache back into ONE
    # task; the explicit 1-partition exchange keeps the filter parallel
    # and ships only the staged rows (wm staging A/B: 5.7-7.5 → 1.8-2.6 s)
    src = _stage(
        [
            batch.select("doc_id", "text").repartition(1),
            _replica_plants(docs).repartition(1),
        ],
        "src-adm",
    )

    sdf = _ledger(
        _read_stream(spark, src, max_files=1).withColumn("h", F.sha2("text", 256)),
        _corpus_index(spark, sf_dir),
    ).select("doc_id", "text_hash", "n_batch_copies")
    out = _drain_to_parquet(sdf, "adm", output_mode="complete")
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# stream_index_admission_wm — the BOUNDED-STATE admission ledger
# ---------------------------------------------------------------------------

# Event-time layout for the watermarked ledger: four source files drained
# one per trigger, each dated inside a distinct hour so the 30-minute
# watermark finalizes (emits + EVICTS) each admission window as the next
# one arrives.  Listed here so the engine test can rebuild the expected
# relation from the same constants.
_WM_BASE = "2024-03-01 00:10:00"
_WM_PLANT_TS = "2024-03-01 00:30:00"  # same hour window as _WM_BASE
_WM_W2_TS = "2024-03-01 03:10:00"  # advances watermark past window 1
_WM_FLUSH_TS = "2024-03-01 06:10:00"  # advances watermark past window 2
_WM_W2_SHIFT = 2000000
_WM_W2_SUFFIX = " w2marker"


def _wm_source_dir(spark, sf_dir) -> str:
    """Stage the four-trigger admission source (timeline in the builder
    docstring), one file per trigger.  Shared by the builder and the
    kill/restart recovery test so both drive the identical lifecycle."""
    from ..operators.curation import _replica_plants, _split

    batch, _ = _split(spark, sf_dir, augmented=False)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def at(df, ts):
        return df.withColumn("event_ts", F.lit(ts).cast("timestamp"))

    w2 = batch.select(
        (F.col("doc_id") + _WM_W2_SHIFT).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_WM_W2_SUFFIX)).alias("text"),
    )
    sentinel = spark.createDataFrame(
        [(-1, "wm flush sentinel 5f2a")], "doc_id long, text string"
    )
    # r17: repartition(1) for the same reason as stream_index_admission
    return _stage(
        [
            at(batch.select("doc_id", "text"), _WM_BASE).repartition(1),
            at(_replica_plants(docs), _WM_PLANT_TS).repartition(1),
            at(w2, _WM_W2_TS).repartition(1),
            at(sentinel, _WM_FLUSH_TS).coalesce(1),
        ],
        "src-admwm",
    )


def _wm_admission_stream(spark, sf_dir, src):
    """The watermarked admission streaming DataFrame over ``src`` —
    one-file-per-trigger read, anti-join against the corpus hash index,
    1-hour admission windows under a 30-minute watermark, append-mode
    finalized output.  Extracted so the checkpoint kill/restart test
    runs the EXACT pipeline the registered key runs (and the engine test
    reads the state-store trace from its own drain of it)."""
    from ..operators.curation import _ledger

    return _ledger(
        _read_stream(spark, src, max_files=1)
        .withColumn("h", F.sha2("text", 256))
        .withWatermark("event_ts", "30 minutes"),
        _corpus_index(spark, sf_dir),
        F.window("event_ts", "1 hour").alias("win"),
    ).select(
        F.col("win.start").alias("window_start"),
        "doc_id",
        "text_hash",
        "n_batch_copies",
    )


@register("stream_index_admission_wm", streaming=True)  # rows-only: wall-clock source lifecycle
def stream_index_admission_wm(spark, sf_dir):
    """Bounded-state streaming admission (VERDICT r11 item 5): the
    admission ledger of ``stream_index_admission`` with a RE-ARRIVAL
    HORIZON — a 30-minute event-time watermark over 1-hour admission
    windows, append mode — so per-hash state is EVICTED once the horizon
    passes instead of accumulating forever (the unbounded-ledger caveat
    that key's docstring conceded).

    Semantics: a replica arriving within its window's horizon MERGES
    (same min-doc_id/count ledger as the unbounded twin — window 1's
    emitted relation is pinned ≡ ``stream_index_admission``'s full
    ledger); a "re-arrival" past the horizon would be a NEW admission
    decision made against the persisted index, which at production scale
    has absorbed the earlier window's hashes by then (the index-update
    stage ``dedup_index_persisted`` demonstrates) — exactly the contract
    a continuous pipeline wants, with state bounded by arrival-rate ×
    horizon instead of corpus size.

    Source lifecycle (one file per trigger): file 1 the natural batch at
    00:10; file 2 all replica plants at 00:30 (inside window 1's horizon
    → must merge/drop via state); file 3 a later batch of NEW documents
    at 03:10 (watermark 02:40 > window-1 end 01:00 → window 1 is emitted
    and its state EVICTED); file 4 a single far-future sentinel at 06:10
    (flushes window 2 the same way; the default no-data micro-batch then
    performs the final emit).  The engine test pins both the emitted
    survivor relations AND the state-store ``numRowsTotal`` trace
    (rises, then DROPS after each horizon passes — bounded state as a
    runtime metric, not prose) of a drain of ``_wm_admission_stream``."""
    src = _wm_source_dir(spark, sf_dir)
    sdf = _wm_admission_stream(spark, sf_dir, src)
    # append emits a window only once finalized
    out = _drain_to_parquet(sdf, "admwm")
    return out.orderBy("window_start", "doc_id")
