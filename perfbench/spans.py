"""Spans, Spark event-log aggregation and stream progress for traced runs.

Spans are recorded by the benchmark around its own calls into the
program (never inside it), kept in memory and written out once at the end
of the run. Every span has a name, start and end (seconds on the
`time.perf_counter` clock), its parent span and the operation id it
belongs to; spans of one operation share that id.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """In-memory span recorder. With `enabled` false it still times
    (the untraced run needs the same walls) but sets no job groups."""

    def __init__(self, spark_context=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = 0

    def next_op(self) -> int:
        self.op_id += 1
        return self.op_id

    @contextmanager
    def span(self, name: str, op: int = 0, group: bool = False):
        """Record one span. `group` labels the Spark jobs started inside it
        with a job group `pb|<op>|<name>`, so the event log can be split
        per call."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "wall": time.time()}
        self.spans.append(rec)
        self._stack.append(sid)
        if group and self.enabled and self.sc is not None:
            self.sc.setJobGroup(f"pb|{op}|{name}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group and self.enabled and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the part of it that
        child spans cover (children never overlap here: one thread)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + dur
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "self_s": self.self_times(), "spans": self.spans}, fh)


def _events(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                yield json.loads(line)


def spark_metrics(log_dir: str, windows: list[tuple[float, float]], cores: int) -> dict[str, float]:
    """Aggregate the event log over the stages and jobs that ran inside
    `windows` (epoch-second intervals of the timed region). Stages are
    attributed by submission time, which also covers streaming jobs
    (their job group is the stream's run id, not ours)."""

    def inside(ms) -> bool:
        t = (ms or 0) / 1000.0
        return any(a <= t <= b for a, b in windows)

    jobs = construct_jobs = 0
    stages: dict[tuple, dict] = {}
    tasks: dict[tuple, dict] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart" and inside(ev.get("Submission Time")):
            jobs += 1
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            construct_jobs += group.startswith("pb|") and group.endswith(".construct")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if inside(info.get("Submission Time")):
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stages[key] = {
                    "tasks": info["Number of Tasks"],
                    "wall": (info.get("Completion Time", 0) - info["Submission Time"]) / 1000.0,
                }
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            t = tasks.setdefault(key, dict.fromkeys(
                ("n", "run", "cpu", "gc", "sw", "sr", "spill", "inp", "outp"), 0.0))
            sr = m.get("Shuffle Read Metrics") or {}
            t["n"] += 1
            t["run"] += m.get("Executor Run Time", 0) / 1000.0
            t["cpu"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc"] += m.get("JVM GC Time", 0) / 1000.0
            t["sw"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            t["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t["spill"] += m.get("Disk Bytes Spilled", 0)
            t["inp"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            t["outp"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    agg = dict.fromkeys(("n", "run", "cpu", "gc", "sw", "sr", "spill", "inp", "outp"), 0.0)
    for key in stages:
        for k, v in tasks.get(key, {}).items():
            agg[k] += v
    stage_wall = sum(s["wall"] for s in stages.values())
    return {
        "spark.jobs": jobs,
        "spark.stages": len(stages),
        "spark.tasks": agg["n"],
        "spark.run_s": agg["run"],
        "spark.cpu_s": agg["cpu"],
        "spark.gc_s": agg["gc"],
        "spark.shuffle_write_mb": agg["sw"] / MB,
        "spark.shuffle_read_mb": agg["sr"] / MB,
        "spark.spill_mb": agg["spill"] / MB,
        "spark.input_mb": agg["inp"] / MB,
        "spark.output_mb": agg["outp"] / MB,
        "spark.core_idle_frac": 1.0 - agg["run"] / (stage_wall * cores) if stage_wall else 0.0,
        "spark.one_task_stage_s": sum(s["wall"] for s in stages.values() if s["tasks"] == 1),
        "queries.construct_jobs": construct_jobs,
    }


def progress_listener():
    """A StreamingQueryListener that keeps each progress event as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def settle(self, quiet_s: float = 1.0, limit_s: float = 10.0) -> None:
            """Progress events arrive asynchronously; wait until none has
            arrived for `quiet_s`."""
            deadline = time.time() + limit_s
            n = -1
            while n != len(self.events) and time.time() < deadline:
                n = len(self.events)
                time.sleep(quiet_s)

    return Progress()


def stream_metrics(events: list[dict], windows: list[tuple[float, float]]) -> dict[str, float]:
    """Per-batch medians (ms) and state totals from progress events of
    batches that started inside `windows` (epoch seconds) and read rows."""
    from datetime import datetime

    def inside(e) -> bool:
        t = datetime.fromisoformat(e["timestamp"].replace("Z", "+00:00")).timestamp()
        return any(a <= t <= b for a, b in windows)

    busy = [e for e in events if e.get("numInputRows", 0) > 0 and inside(e)]
    if not busy:
        return {}

    def med(f) -> float:
        return statistics.median(f(e) for e in busy)

    def dur(e, *keys) -> float:
        return float(sum(e.get("durationMs", {}).get(k, 0) for k in keys))

    state = [op for e in busy for op in e.get("stateOperators", [])]
    return {
        "streaming.batches": len(busy),
        "streaming.trigger_ms": med(lambda e: dur(e, "triggerExecution")),
        "streaming.add_batch_ms": med(lambda e: dur(e, "addBatch")),
        "streaming.offset_ms": med(lambda e: dur(e, "latestOffset", "getBatch")),
        "streaming.commit_ms": med(lambda e: dur(e, "walCommit", "commitOffsets")),
        "streaming.state_rows": max((op.get("numRowsTotal", 0) for op in state), default=0),
        "streaming.state_commit_ms": statistics.median(
            op.get("commitTimeMs", 0) for op in state) if state else 0.0,
        "streaming.state_mb": max((op.get("memoryUsedBytes", 0) for op in state), default=0) / MB,
    }
