"""Per-query profile of registered queries (the local stand-in for the
Spark UI stage page, which session.py disables).

Times each query through bench.time_set (warm-up, then p50 of N noop
writes, each run split into a construction span and an action span) with
the event log on, then reads the log with perfbench/spans.spark_metrics
over each query's timed runs. Prints one JSON object per query:
`construct_s` and `action_s` (p50), then the event-log totals of its N
timed runs: `construct_jobs` (jobs started while the query function
ran), `jobs`, `stages`, `tasks`, `run_s`, `cpu_s`, `gc_s`,
`shuffle_write_mb`, `shuffle_read_mb`, `spill_mb`, `input_mb`,
`output_mb`, `one_task_stage_s` and `core_idle_frac`. Stream queries'
micro-batch jobs are counted too (stages are attributed by submission
time). With no query names it profiles the whole registry.

Usage: python tools/profile_query.py [sf_dir] [--runs N] [query ...]
Memory sweep (one process per query, so an OOM kills only its own JVM):
  SPARK_GRAFT_DRIVER_MEM=4g timeout 1800 python tools/profile_query.py .benchdata/sf1 <query>
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SQL_UI = "org.apache.spark.sql.execution.ui."


def _profile(tracer, name: str, log_dir: str, cores: int, errors: dict) -> dict:
    """One query's JSON object from its timed-run spans and event log."""
    from perfbench.spans import spark_metrics

    timed = {s["id"]: s for s in tracer.spans if s["name"] == f"queries.{name}"}
    out: dict = {"query": name, "runs": len(timed)}
    for part in ("construct", "action"):
        walls = [s["end"] - s["start"] for s in tracer.spans
                 if s["parent"] in timed and s["name"].endswith(f".{part}")]
        out[f"{part}_s"] = round(statistics.median(walls), 3) if walls else None
    windows = [(s["wall"], s["wall"] + s["end"] - s["start"]) for s in timed.values()]
    metrics = spark_metrics(log_dir, windows, cores)
    out["construct_jobs"] = metrics.pop("queries.construct_jobs")
    out.update({k.removeprefix("spark."): round(v, 4) for k, v in metrics.items()})
    if name in errors:
        out["error"] = errors[name]
    return out


def main() -> int:
    args = sys.argv[1:]
    runs = 1
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = next((a for a in args if "/" in a), "/root/testdata/sf0.1")
    names = [a for a in args if "/" not in a]

    from bench import time_set
    from perfbench.spans import Tracer
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.session import get_spark

    registry = load_all()
    names = names or sorted(registry)
    unknown = sorted(set(names) - set(registry))
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    log_dir = tempfile.mkdtemp(prefix="pls_profile_")
    spark = get_spark(
        app="profile",
        extra={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # one plain-JSON file: what spark_metrics reads
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # spark_metrics reads only job starts, stage completions and
            # task ends; the rest (AQE plan updates above all) is ~90% of
            # the log's bytes
            "spark.eventLog.excludedPatterns": ",".join(
                [f"{SQL_UI}SparkListenerSQLExecutionStart",
                 f"{SQL_UI}SparkListenerSQLAdaptiveExecutionUpdate",
                 "SparkListenerStageSubmitted", "SparkListenerTaskStart"]),
            "spark.eventLog.includeTaskMetricsAccumulators": "false",
        },
    )
    cores = spark.sparkContext.defaultParallelism
    bus = spark.sparkContext._jsc.sc().listenerBus()
    tracer = Tracer(spark.sparkContext, enabled=True)
    (log_name,) = os.listdir(log_dir)
    piece_dir = tempfile.mkdtemp(prefix="pls_profile_piece_")
    carry = b""
    with open(os.path.join(log_dir, log_name), "rb") as log:
        for name in names:
            _, errors = time_set(spark, {name: registry[name].fn}, [name], runs, sf_dir, tracer)
            # Hand spark_metrics only the log written during this query:
            # once the listener bus is drained its events are on disk, so
            # the whole registry parses in one pass over the log.
            bus.waitUntilEmpty()
            data = carry + log.read()
            end = data.rfind(b"\n") + 1
            data, carry = data[:end], data[end:]
            with open(os.path.join(piece_dir, "events"), "wb") as fh:
                fh.write(data)
            print(json.dumps(_profile(tracer, name, piece_dir, cores, errors)), flush=True)
    spark.stop()
    shutil.rmtree(log_dir, ignore_errors=True)
    shutil.rmtree(piece_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
