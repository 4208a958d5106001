"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

By default BOTH bench tiers run in the one session and the one JSON
line carries both (VERDICT r12 item 2 — tier 2 previously lived only
in SCALE.md prose, so heavy-tail regressions were invisible to the
driver's BENCH_r{N}.json): the top-level metric/value/queries stay the
frozen tier-1 headline set for round-over-round comparability, and a
`tier2` object carries the frozen TIER2 set of heavy-shuffle queries.

Each query is forced end-to-end with a noop write (full computation on
executors, no driver collect — measures the plan, not the pickle).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: kept deliberately stable across rounds so BENCH_r{N}.json
# trends are comparable. One representative per operator family.
HEADLINE = [
    "geo_flagship",
    "geo_project_points",
    "pipeline_enrich",
    "q1_pricing_summary",
    "join_region_revenue",
    "window_sessionize",
    "window_segments_producer",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_groups",
    "sim_topk_ivf",
    "sim_topk_bruteforce",
    "text_token_stats",
    "text_fingerprint",
    "json_funcs",
]

# Second tier (VERDICT r11 item 7): the frozen headline set covers 4% of
# the registry, so regressions in the heavy tail were invisible to BENCH.
# These are the 10 registry queries with the largest measured shuffle
# write (`shuffle_write_mb`, ties by name) in BREAKDOWN_r19.json (sf0.01,
# tools/profile_query.py over the whole registry); frozen like HEADLINE.
TIER2 = [
    "geo_dbscan_core",
    "graph_modularity",
    "graph_label_propagation",
    "dedup_sorted_neighborhood",
    "lake_hilbert_write",
    "basket_association_rules",
    "dedup_lsh_band_sweep",
    "graph_adamic_adar",
    "graph_linkpred_cap64",
    "graph_adamic_adar_capped",
]


def time_set(spark, qs, names: list[str], runs: int, sf_dir: str, tracer=None):
    """The registry-timing loop: a warm-up pass, then p50 of `runs`
    noop writes per query. Each run is a `queries.<name>` span holding a
    `.construct` span (the query function call) and an `.action` span
    (the noop write), both with job groups, so an event log splits by the
    perfbench rule (`pb|<op>|*.construct` jobs start at construction).
    Returns (timings, errors); failed queries are EXCLUDED from totals
    and reported so a crash can't flatter the headline number."""
    from perfbench.spans import Tracer

    tracer = tracer or Tracer(spark.sparkContext, enabled=True)

    def once(name: str) -> None:
        op = tracer.next_op()
        with tracer.span(f"queries.{name}.construct", op, group=True):
            df = qs[name](spark, sf_dir)
        with tracer.span(f"queries.{name}.action", op, group=True):
            df.write.format("noop").mode("overwrite").save()

    # Warmup pass (untimed): compiles codegen, JITs the hot loops, and
    # materializes per-process fixtures, so the timed pass measures
    # steady-state operator throughput — the number that scales to a real
    # cluster — rather than one-time driver-side compilation.
    if os.environ.get("SPARK_GRAFT_WARMUP", "1") != "0":
        for name in names:
            try:
                once(name)
            except Exception:  # noqa: BLE001
                pass

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        samples: list[float] = []
        for _ in range(runs):
            try:
                with tracer.span(f"queries.{name}") as rec:
                    once(name)
                samples.append(rec["end"] - rec["start"])
            except Exception as e:  # noqa: BLE001 — one bad query must not kill the bench
                print(f"# bench error in {name}: {e}", flush=True)
                errors[name] = str(e).splitlines()[0][:200] if str(e) else type(e).__name__
                break
        if samples:
            timings[name] = round(sorted(samples)[len(samples) // 2], 3)
    return timings, errors


def _cpu_marker_sec() -> float:
    """Fixed single-core CPU throughput marker (VERDICT r15 item 1).

    The loadavg contention guard measures queue depth, which misses
    hypervisor-level CPU sharing: round 15 recorded code-untouched
    queries uniformly 1.3-1.6x slower at ZERO load while this exact
    20M-iteration loop read 2.6 s vs the ~1.2 s a healthy core takes.
    Timing it BEFORE the Spark session and emitting it in the JSON line
    lets the driver/judge normalize or discard a degraded window.
    Additions-only: the timed region and JSON contract are unchanged.
    """
    t0 = time.time()
    s = 0
    for i in range(20_000_000):
        s += i
    return round(time.time() - t0, 3)


def main() -> None:
    import __spark_entry__ as entrymod
    from posting_lines_spark.session import get_spark

    # Host-contention telemetry (round-4 lesson: BENCH_r04 ran under an
    # external load-avg >11 and inflated every query ~1.7× uniformly; an
    # idle re-run matched round 3 within 5%). Record load before/after
    # and flag the run as contended when the pre-existing load exceeds
    # half our own parallelism — such a run measures the host, not the
    # engine, and the artifact of record should say so itself.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    load_entry = os.getloadavg()
    cpu_marker = _cpu_marker_sec()

    # Contention guard (round-6 lesson: r4 AND r6 both shipped artifacts
    # taken under external load >12 — uniformly inflated, useless for
    # trends). If the host is busy at entry (1-min load > cpus/4), wait
    # it out in 30 s steps up to a bounded cooldown, then proceed either
    # way; BOTH readings are recorded so the artifact shows whether the
    # guard fired and what it achieved.
    # cpus/8 (floor 2), tightened from cpus/4 in round 15: BENCH_r14 was
    # recorded at entry loadavg 3.85 — under the old threshold (8) the
    # guard never fired, yet six small queries read 1.3-1.4x with zero
    # code change while the loadavg-guarded close-gate p50s stayed flat
    # (VERDICT r14 finding 2). The committed artifact should BE the
    # guarded run.
    threshold = max(2.0, cpus / 8)
    cooldown_sec = 0
    max_cooldown = int(os.environ.get("SPARK_GRAFT_BENCH_COOLDOWN", "300"))
    while os.getloadavg()[0] > threshold and cooldown_sec < max_cooldown:
        print(
            f"# host busy (load {os.getloadavg()[0]:.1f} > {threshold:.0f}); "
            f"cooling down 30s ({cooldown_sec}/{max_cooldown}s)",
            flush=True,
        )
        time.sleep(30)
        cooldown_sec += 30
    load_before = os.getloadavg()

    spark = get_spark(app="bench")
    qs = entrymod.queries()
    # SPARK_GRAFT_BENCH_TIER: "both" (default) | "1" (headline only) |
    # "2" (heavy tier only — kept for iterating on one heavy query).
    tier = os.environ.get("SPARK_GRAFT_BENCH_TIER", "both")
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    # warm the JVM + parquet footer cache once with a trivial action
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1).count()

    t1_names = [n for n in HEADLINE if n in qs] or list(qs)
    t2_names = [n for n in TIER2 if n in qs]
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    tier2: dict | None = None
    if tier in ("1", "both"):
        timings, errors = time_set(spark, qs, t1_names, runs, SF_DIR)
    if tier in ("2", "both"):
        t2_timings, t2_errors = time_set(spark, qs, t2_names, runs, SF_DIR)
        tier2 = {
            "metric": "tier2_heavy_queries_total_wall",
            "value": round(sum(t2_timings.values()), 3),
            "queries": t2_timings,
            "errors": t2_errors,
        }
        if tier == "2":  # tier-2-only run: promote it to the top level
            timings, errors = t2_timings, t2_errors

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    load_after = os.getloadavg()
    # load_before is what OTHER processes were doing when we started
    # (our own Spark work legitimately drives load_after up to ~cpus);
    # a high 1-min load at entry means the timings are contended.
    contended = load_before[0] > threshold
    out = {
        "metric": (
            "tier2_heavy_queries_total_wall"
            if tier == "2"
            else "headline_queries_total_wall"
        ),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "errors": errors,
        "runs_per_query": runs,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "loadavg_entry": [round(x, 2) for x in load_entry],
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "cooldown_sec": cooldown_sec,
        "cpus": cpus,
        "contended": contended,
        "cpu_marker_sec": cpu_marker,
    }
    if tier == "both" and tier2 is not None:
        out["tier2"] = tier2
    if contended:
        print(
            f"# WARNING: pre-existing host load {load_before[0]:.1f} > "
            f"{threshold:.0f} after {cooldown_sec}s cooldown — timings "
            "measure host contention, not the engine; rerun idle for a "
            "trend-comparable number",
            flush=True,
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
