"""Skew-lever pressure measurements on the make_skew corpora (VERDICT
r12 item 1): every SCALE.md row before round 13 was measured on a
replica-constant corpus where the levers never engage (max co-purchase
degree ~6, uniform join keys, no boilerplate docs). This tool runs the
levers on corpora where they DO engage and prints one JSON line per
measurement for SCALE.md:

  python tools/skew_pressure.py wedge  .benchdata/skew01
  python tools/skew_pressure.py lsh    .benchdata/skew1
  python tools/skew_pressure.py join   .benchdata/skeworder1
  python tools/skew_pressure.py aqe    .benchdata/skeworder1

wedge — graph_linkpred_capped vs uncapped graph_link_prediction on the
  hub corpus: wall times, capped_nodes (cap BINDING), top-20 overlap
  (the documented down-bias made visible). The uncapped run is guarded
  by --timeout (default 900 s, cancelled via job group) because an
  unbounded wedge join on a hub graph is exactly the thing the cap
  exists to prevent; a timeout is reported as the result.

lsh — dedup.lsh_candidate_pairs hot_width=256 vs hot_width=None on the
  boilerplate corpus: max band-bucket width (proof the hot path is
  armed), wall times, pair-count equality (the operator's
  output-equivalence contract on real skew).

join — lineitem JOIN orders on the hot-order corpus, sort-merge with
  AQE skew-split OFF: plain vs salted_join(salt_n=8) wall times and
  max-task shuffle-read rows (straggler vs balanced).

aqe — same join with AQE skew-join ON and thresholds at their
  defaults-scaled-down; asserts `skew=true` appears in the final
  adaptive plan (the runtime lever firing on corpus data, not a
  hand-built fixture).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CAP_TIMEOUT_DEFAULT = 900.0


def _timed(spark, label: str, action, timeout_s: float | None = None):
    """Run `action()` under a job group; cancel at timeout. Returns
    (seconds_or_None, result_or_None, timed_out). timed_out is True
    ONLY when the timer actually fired — a genuinely failing
    measurement re-raises instead of masquerading as a cancellation."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    fired = threading.Event()

    def _cancel():
        fired.set()
        sc.cancelJobGroup(label)

    cancel = threading.Timer(timeout_s, _cancel) if timeout_s else None
    t0 = time.time()
    try:
        if cancel:
            cancel.start()
        res = action()
        return round(time.time() - t0, 2), res, False
    except Exception:  # noqa: BLE001
        if fired.is_set():
            return None, None, True
        raise  # genuine failure — surface it, don't report a timeout
    finally:
        if cancel:
            cancel.cancel()
        sc.setJobGroup("", "")


def measure_wedge(spark, sf_dir: str, timeout_s: float) -> dict:
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.graph_q import _linkpred_core
    from posting_lines_spark.sources.tables import load_table

    reg = load_all()
    out: dict = {"measurement": "wedge_cap", "sf_dir": sf_dir}

    t_cap, rows_cap, _ = _timed(
        spark, "capped", lambda: reg["graph_linkpred_capped"].fn(spark, sf_dir).collect()
    )
    out["capped_wall_sec"] = t_cap
    out["capped_rows"] = len(rows_cap) if rows_cap is not None else None
    out["capped_nodes"] = rows_cap[0]["capped_nodes"] if rows_cap else None
    out["neighbor_cap"] = rows_cap[0]["neighbor_cap"] if rows_cap else None

    # wider operating point: on a hub-dominated graph the parity-demo
    # cap=8 prunes so hard the candidate set can empty out (the
    # documented down-bias at its extreme) — cap=64 keeps the |V|·cap²
    # bound while retaining candidates
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    wide_sql = "WITH " + _linkpred_core("lineitem", 64)
    t_w, rows_w, _ = _timed(spark, "cap64", lambda: spark.sql(wide_sql).collect())
    out["cap64_wall_sec"] = t_w
    out["cap64_rows"] = len(rows_w) if rows_w is not None else None
    out["cap64_capped_nodes"] = rows_w[0]["capped_nodes"] if rows_w else None

    # The uncapped run is the one that EXPLODES on hub corpora — that is
    # the point of the cap. It can die faster than the timeout fires
    # (skew10: the uncapped wedge join filled 56 GiB of spill at ~10 min
    # < the 900 s cap). A genuine failure here is a RESULT (the uncapped
    # path is infeasible), not a reason to lose the capped rows — record
    # the exception instead of propagating it.
    try:
        t_unc, rows_unc, timed_out = _timed(
            spark,
            "uncapped",
            lambda: reg["graph_link_prediction"].fn(spark, sf_dir).collect(),
            timeout_s=timeout_s,
        )
    except Exception as e:  # noqa: BLE001
        t_unc, rows_unc, timed_out = None, None, False
        out["uncapped_error"] = str(e).splitlines()[0][:200]
    out["uncapped_wall_sec"] = t_unc
    out["uncapped_rows"] = len(rows_unc) if rows_unc is not None else None
    out["uncapped_timeout"] = timed_out
    if timed_out:
        out["uncapped_note"] = f"cancelled at {timeout_s:.0f}s"
    if rows_w and rows_unc:
        w_pairs = {(r["id_a"], r["id_b"]) for r in rows_w}
        unc_pairs = {(r["id_a"], r["id_b"]) for r in rows_unc}
        out["cap64_top20_overlap"] = len(w_pairs & unc_pairs)
    return out


def measure_lsh(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from posting_lines_spark.operators import dedup
    from posting_lines_spark.queries.dedup_q import BANDS, NUM_HASHES

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = dedup.minhash_signature(
        dedup.shingles(docs, "doc_id", "text", distinct=False), "doc_id", NUM_HASHES
    ).localCheckpoint()  # measure the PAIR stage, not signatures

    bands = dedup.band_signatures(sig, "doc_id", NUM_HASHES, BANDS)
    widest = (
        bands.groupBy("band_idx", "band_key")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )

    def pair_count(hot_width):
        return dedup.lsh_candidate_pairs(
            sig, "doc_id", NUM_HASHES, BANDS, hot_width=hot_width
        ).count()

    t_hot, n_hot, _ = _timed(spark, "lsh-hot", lambda: pair_count(256))
    t_plain, n_plain, _ = _timed(spark, "lsh-plain", lambda: pair_count(None))
    return {
        "measurement": "lsh_hot_band",
        "sf_dir": sf_dir,
        "max_band_bucket_width": widest,
        "hot_width": 256,
        "salted_wall_sec": t_hot,
        "unsalted_wall_sec": t_plain,
        "pairs_salted": n_hot,
        "pairs_unsalted": n_plain,
        "pairs_identical": n_hot == n_plain,
    }


def _join_inputs(spark, sf_dir: str):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    return li, o.withColumnRenamed("o_orderkey", "l_orderkey")


def measure_join(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from posting_lines_spark.operators.skew import salted_join

    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li, o = _join_inputs(spark, sf_dir)

        def run(df):
            return df.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()

        plain = li.join(o, "l_orderkey")
        t_plain, r_plain, _ = _timed(spark, "join-plain", lambda: run(plain))
        salted = salted_join(li, o, "l_orderkey", salt_n=8)
        t_salt, r_salt, _ = _timed(spark, "join-salted", lambda: run(salted))

        def max_part(df):
            sizes = df.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
            return max(sizes), sum(sizes)

        hot_max, total = max_part(plain)
        salt_max, total2 = max_part(salted)
        return {
            "measurement": "salted_join",
            "sf_dir": sf_dir,
            "plain_wall_sec": t_plain,
            "salted_wall_sec": t_salt,
            "rows_total": total,
            "max_partition_rows_plain": hot_max,
            "max_partition_rows_salted": salt_max,
            "results_identical": sorted(map(tuple, r_plain)) == sorted(map(tuple, r_salt)),
            "rows_identical": total == total2,
        }
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def measure_aqe(spark, sf_dir: str, stock: bool = False) -> dict:
    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )
    before = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        if not stock:
            # the hot order's partition is ~MBs at sf1; the stock 256 MB
            # threshold is sized for real clusters — scale it to the
            # fixture exactly as a 100 TB deployment leaves the default
            # alone
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "1MB",
            )
            spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
            spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512KB")
        # stock=True: leave the 256 MB threshold / factor 5 defaults in
        # place (VERDICT r13 item 6: does the split still engage one
        # decade up WITHOUT the scaled-down knobs?) — the honest record
        # either way, plus the hot partition's actual shuffle bytes so
        # the reader can see how far from the stock threshold it sits.
        li, o = _join_inputs(spark, sf_dir)
        # collect THIS DataFrame (count()/noop-write execute a DIFFERENT
        # plan instance and leave this one's adaptive plan unfinalized —
        # the test_skew.py lesson); slim projection keeps the collect small
        joined = li.join(o, "l_orderkey").select("l_orderkey")
        t, rows, _ = _timed(spark, "join-aqe", lambda: joined.collect())
        n = len(rows) if rows is not None else None
        plan = joined._jdf.queryExecution().executedPlan().toString()
        return {
            "measurement": "aqe_skew_join",
            "sf_dir": sf_dir,
            "thresholds": "stock(256MB,factor 5)" if stock else "scaled(1MB,factor 2)",
            "wall_sec": t,
            "rows": n,
            "final_plan": "isFinalPlan=true" in plan,
            "skew_split_fired": "skew=true" in plan,
        }
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def main() -> int:
    from posting_lines_spark.session import get_spark

    what = sys.argv[1]
    sf_dir = sys.argv[2]
    timeout_s = float(sys.argv[3]) if len(sys.argv) > 3 else CAP_TIMEOUT_DEFAULT
    spark = get_spark(app="skew_pressure")
    fn = {
        "wedge": lambda: measure_wedge(spark, sf_dir, timeout_s),
        "lsh": lambda: measure_lsh(spark, sf_dir),
        "join": lambda: measure_join(spark, sf_dir),
        "aqe": lambda: measure_aqe(spark, sf_dir),
        "aqe-stock": lambda: measure_aqe(spark, sf_dir, stock=True),
    }[what]
    print(json.dumps(fn()))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
