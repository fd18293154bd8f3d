"""Measurements taken from outside the package.

Everything here reads public surfaces only: ``/proc`` for memory, a walk
of the scratch directory for bytes written, the AQE-final physical plan and
``QueryExecution.tracker`` over py4j, a ``StreamingQueryListener``, and the
uncompressed Spark event log parsed with ``json``.  Nothing here imports
the package under test.
"""

from __future__ import annotations

import json
import os
import threading
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime

from stats import median

_MB = 1024 * 1024


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, read from /proc/<pid>/task/*/children."""
    out: list[int] = []
    stack = [pid]
    while stack:
        p = stack.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            stack.extend(kids)
    return out


def pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: resident memory with every shared page
    split between its sharers, so a forked worker's copy-on-write pages, or
    a JVM caught between fork and exec, are not counted twice."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            pass  # the process ended between listing and reading
    return total


def retained_bytes(spark) -> int:
    """Memory the session keeps: the JVM's heap and non-heap in use after
    a full GC, plus the Pss of every other child process (Python workers).

    Unlike a peak, this does not depend on when G1 chose to grow the heap,
    so it repeats from run to run and moves with caches and memos."""
    from pyspark import SparkContext

    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    jvm_pid = SparkContext._gateway.proc.pid
    return used + pss_bytes([p for p in descendants(os.getpid()) if p != jvm_pid])


def snapshot(root: str, skip: tuple[str, ...] = ()) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} for every regular file under ``root``."""
    out: dict[str, tuple[int, int]] = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if os.path.join(dirpath, d) not in skip]
        for name in filenames:
            path = os.path.join(dirpath, name)
            try:
                st = os.stat(path)
            except OSError:
                continue  # removed while walking
            out[path] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) of files that are new or changed between snapshots."""
    files = size = 0
    for path, stamp in after.items():
        if before.get(path) != stamp:
            files += 1
            size += stamp[0]
    return files, size


# --- the AQE-final plan -----------------------------------------------------

_SCANS = {"InMemoryTableScanExec", "FileSourceScanExec", "BatchScanExec"}
_PY_METRICS = ("pythonBootTime", "pythonTotalTime", "pythonDataSent", "pythonDataReceived")


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.length())]


def _metric(node, name: str) -> int:
    opt = node.metrics().get(name)
    return int(opt.get().value()) if opt.isDefined() else 0


def plan_metrics(jdf) -> dict[str, float]:
    """Catalyst phase times and per-node SQL metrics of an executed query.

    Walks the final physical plan through adaptive wrappers and query
    stages; a reused exchange is not descended twice."""
    qe = jdf.queryExecution()
    out: dict[str, float] = defaultdict(float)
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            out[f"catalyst.{phase}_ms"] += opt.get().durationMs()
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls in _SCANS:
            out["io.scan_rows"] += _metric(node, "numOutputRows")
        elif node.metrics().contains("pythonTotalTime"):
            boot, total, sent, received = (_metric(node, m) for m in _PY_METRICS)
            out["pyworker.boot_ms"] += boot
            out["pyworker.total_ms"] += total
            out["pyworker.sent_mb"] += sent / _MB
            out["pyworker.received_mb"] += received / _MB
        if cls != "ReusedExchangeExec":
            stack.extend(_seq(node.children()))
    return out


# --- streaming progress ------------------------------------------------------


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def progress_listener():
    """A StreamingQueryListener that keeps every progress event as a
    plain tuple: (trigger start ms, run id, durationMs, state rows, state bytes)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[tuple[float, str, dict, int, int]] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ops = p.stateOperators or []
            rec = (
                _epoch_ms(p.timestamp),
                str(p.runId),
                dict(p.durationMs or {}),
                sum(int(o.numRowsTotal) for o in ops),
                sum(int(o.memoryUsedBytes) for o in ops),
            )
            with self._lock:
                self.events.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressRecorder()


def streaming_per_pass(events, passes: list["Window"]) -> list[dict[str, float]]:
    out = [defaultdict(float) for _ in passes]
    last_state: list[dict[str, tuple[int, int]]] = [{} for _ in passes]
    for ts, run_id, dur, rows, size in sorted(events, key=lambda e: e[0]):
        i = _find(passes, ts)
        if i is None:
            continue
        m = out[i]
        m["streaming.microbatches"] += 1
        m["streaming.trigger_ms"] += dur.get("triggerExecution", 0)
        m["streaming.add_batch_ms"] += dur.get("addBatch", 0)
        m["streaming.commit_ms"] += dur.get("walCommit", 0) + dur.get("commitOffsets", 0)
        last_state[i][run_id] = (rows, size)
    for m, states in zip(out, last_state):
        m["streaming.state_rows"] = sum(r for r, _ in states.values())
        m["streaming.state_mb"] = sum(s for _, s in states.values()) / _MB
    return out


# --- the event log -----------------------------------------------------------


@dataclass
class Window:
    """One measured pass: its wall-clock span and the spans of its builds."""

    start_ms: float
    end_ms: float
    builds: list[tuple[float, float]] = field(default_factory=list)

    def in_build(self, t: float) -> bool:
        return any(a <= t <= b for a, b in self.builds)


def _find(passes: list[Window], t: float) -> int | None:
    for i, w in enumerate(passes):
        if w.start_ms <= t <= w.end_ms:
            return i
    return None


def read_event_log(log_dir: str) -> list[dict]:
    wanted = {
        "SparkListenerJobStart", "SparkListenerJobEnd",
        "SparkListenerStageCompleted", "SparkListenerTaskEnd",
    }
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                # cheap prefix test before paying for a full parse
                head = line[:64]
                if any(w in head for w in wanted):
                    events.append(json.loads(line))
    return events


def executor_per_pass(events: list[dict], passes: list[Window], cores: int) -> list[dict[str, float]]:
    out = [defaultdict(float) for _ in passes]
    job_pass: dict[int, int] = {}
    job_submit: dict[int, float] = {}
    stage_tasks: dict[tuple[int, int], list[float]] = defaultdict(list)
    stage_pass: dict[tuple[int, int], int] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"]
            i = _find(passes, t)
            if i is None:
                continue
            job_pass[ev["Job ID"]] = i
            out[i]["executor.jobs"] += 1
            if passes[i].in_build(t):
                out[i]["operators.eager_jobs"] += 1
                job_submit[ev["Job ID"]] = t
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_submit:
                out[job_pass[jid]]["operators.eager_job_s"] += (
                    ev["Completion Time"] - job_submit[jid]) / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            i = _find(passes, info.get("Submission Time", -1))
            if i is not None:
                out[i]["executor.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            i = _find(passes, ti["Launch Time"])
            if i is None:
                continue
            m = out[i]
            m["executor.tasks"] += 1
            m["executor.task_s"] += tm.get("Executor Run Time", 0) / 1000.0
            m["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["executor.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            m["executor.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / _MB
            sw = tm.get("Shuffle Write Metrics") or {}
            m["executor.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
            sr = tm.get("Shuffle Read Metrics") or {}
            m["executor.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
            stage = (ev["Stage ID"], ev["Stage Attempt ID"])
            stage_tasks[stage].append(ti["Finish Time"] - ti["Launch Time"])
            stage_pass[stage] = i
    for stage, durations in stage_tasks.items():
        if len(durations) > 1:
            skew = max(durations) / max(median(durations), 1.0)
            m = out[stage_pass[stage]]
            m["executor.task_skew"] = max(m["executor.task_skew"], skew)
    for w, m in zip(passes, out):
        wall_s = (w.end_ms - w.start_ms) / 1000.0
        m["executor.idle_core_s"] = wall_s * cores - m["executor.task_s"]
        m["executor.task_skew"] = m["executor.task_skew"] or 1.0
    return out
