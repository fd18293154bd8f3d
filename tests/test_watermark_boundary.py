"""Watermark BOUNDARY semantics, pinned event-by-event: Structured
Streaming's late-row filter for windowed aggregations is per-WINDOW
(drop iff window_end <= watermark), not per-row — a late row whose
event time is below the watermark still counts when its window's end
lies beyond it, and the boundary-EQUAL window (end == watermark
exactly) is dropped.  The corpus twins exercise bulk late-drop; this
pins the three boundary cases a regression (or a Spark upgrade) would
flip silently."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from bigdatawork_spark.streaming.stream_ops import (
    _drain_to_parquet,
    _read_stream,
    _stage,
)

_TS = pd.Timestamp


def _batch(spark, rows):
    """One trigger's file: ``rows`` as a one-partition frame."""
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
    sdf = (
        spark.createDataFrame(pdf)
        if len(rows)
        else spark.createDataFrame([], "event_id long, ts timestamp, user_id long")
    )
    return sdf.coalesce(1)


def test_watermark_window_end_boundary(spark):
    """1-hour watermark, 1-hour windows.  Batch 1 raises max event time
    to 13:00 (watermark 12:00).  The late batch then carries one row per
    boundary case:

    * 10:30 — window [10,11), end 11:00 <  wm → DROPPED
    * 11:30 — window [11,12), end 12:00 == wm → DROPPED (boundary-equal)
    * 12:05 — window [12,13), end 13:00 >  wm → COUNTED, even though a
      per-row filter would also have kept it; the per-window rule is
      what the 11:30 row distinguishes

    Batch 4 (15:00) advances the watermark past 13:00 so the last window
    finalizes into the append-mode output."""
    src = _stage(
        [
            _batch(
                spark,
                [(1, _TS("2024-01-01 10:15:00"), 1),
                 (2, _TS("2024-01-01 11:15:00"), 1),
                 (3, _TS("2024-01-01 13:00:00"), 1)],
            ),
            _batch(spark, []),  # watermark-application lag
            _batch(
                spark,
                [(10, _TS("2024-01-01 10:30:00"), 2),
                 (11, _TS("2024-01-01 11:30:00"), 2),
                 (12, _TS("2024-01-01 12:05:00"), 2)],
            ),
            _batch(spark, [(20, _TS("2024-01-01 15:00:00"), 3)]),
            _batch(spark, []),  # finalize lag
        ],
        "wm-boundary",
    )

    sdf = (
        _read_stream(spark, src, max_files=1)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = {
        r["start"].strftime("%H:%M"): r["n"]
        for r in _drain_to_parquet(sdf, "wm-boundary")
        .select(F.col("w.start").alias("start"), "n")
        .collect()
    }
    assert out.get("10:00") == 1, out  # late 10:30 row dropped
    assert out.get("11:00") == 1, out  # boundary-equal 11:30 row dropped
    assert out.get("12:00") == 1, out  # 12:05 late row counted (window open)
    assert out.get("13:00") == 1, out  # the 13:00 max-raiser, finalized by 15:00
    assert "15:00" not in out, out     # never finalized — wm stops at 14:00
