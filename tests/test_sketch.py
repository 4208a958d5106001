"""Semantic guarantees of the sketch family that the oracle harness
can't express: deterministic overcount, bounded sketch size, bloom
no-false-negatives + real selectivity."""

from __future__ import annotations

import math
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import SF0001, SF001, _docs, _md5_int, _run, _shingles, _tbl, row_key


def test_countmin_overcounts_only_and_is_bounded(spark):
    from posting_lines_spark.queries.sketch_q import (
        CM_DEPTH,
        CM_WIDTH,
        sketch_countmin_freq,
    )
    from posting_lines_spark.sources import load_table

    rows = sketch_countmin_freq(spark, SF0001).collect()
    assert rows, "no query keys"
    exact = {
        r["k"]: r["n"]
        for r in load_table(spark, SF0001, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert r.exact_n == exact.get(r.k, 0)
        # the count-min guarantee: collisions only ever ADD
        assert r.est_n >= r.exact_n, (r.k, r.est_n, r.exact_n)
        assert r.est_ge_exact
    # the sketch itself is d×w cells no matter the input size
    assert CM_DEPTH * CM_WIDTH == 2048


def test_bloom_prefilter_superset_and_selective(spark):
    from posting_lines_spark.queries.sketch_q import (
        BLOOM_WORDS,
        bloom_bitset,
        bloom_prefilter,
    )
    from posting_lines_spark.sources import load_table

    orders = load_table(spark, SF0001, "orders")
    dim = (
        load_table(spark, SF0001, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    words = bloom_bitset(dim, "c_custkey")
    assert len(words) == BLOOM_WORDS  # constant-size driver exchange

    pre = bloom_prefilter(orders, "o_custkey", words)
    n_total = orders.count()
    n_pre = pre.count()
    n_true = orders.join(F.broadcast(dim), orders["o_custkey"] == dim["c_custkey"], "left_semi").count()
    # no false negatives: every true match survives the prefilter
    missed = (
        orders.join(F.broadcast(dim), orders["o_custkey"] == dim["c_custkey"], "left_semi")
        .exceptAll(pre.join(F.broadcast(dim), pre["o_custkey"] == dim["c_custkey"], "left_semi"))
        .count()
    )
    assert missed == 0
    # and it actually reduces the fact side before the shuffle
    assert n_true <= n_pre < n_total
    # plan hygiene: the prefilter is scan+filter only — no exchange
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_hll_merge_equals_single_level(spark):
    """Merging shard partials must estimate the same cardinality class as
    one global sketch — and both land within the 3σ bound of exact."""
    from posting_lines_spark.sources import load_table

    li = load_table(spark, SF0001, "lineitem")
    exact = li.select("l_partkey").distinct().count()
    single = li.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey", F.lit(14))).alias("e")
    ).collect()[0]["e"]
    merged = (
        li.withColumn("shard", F.pmod("l_orderkey", F.lit(8)))
        .groupBy("shard")
        .agg(F.hll_sketch_agg("l_partkey", F.lit(14)).alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .collect()[0]["e"]
    )
    # HLL union of partials is lossless for HLL state: same estimate
    assert merged == single
    assert abs(merged - exact) <= 0.025 * exact


def test_kmv_estimate_matches_python_sketch_replay(spark):
    """The KMV sketch replayed in plain Python: per-source bottom-K of
    md5 shingle hashes, union-sketch intersection rule — the estimate
    column must match bit-for-bit, and the mergeability identity
    bottom-K(A ∪ B) == bottom-K(sketch(A) ∪ sketch(B)) is checked
    per pair (the property that makes the sketch shardable)."""
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.sketch_q import KMV_K

    docs = _docs(SF0001)
    full: dict[str, set] = {}
    for d in docs:
        full.setdefault(d["source"], set()).update(
            _md5_int(s, "kmv") for s in _shingles(d["text"])
        )
    sk = {src: set(sorted(hs)[:KMV_K]) for src, hs in full.items()}
    rows = load_all()["sketch_kmv_overlap"].fn(spark, SF0001).collect()
    assert rows
    for r in rows:
        a, b = r.source_a, r.source_b
        union_bottom = set(sorted(full[a] | full[b])[: r.k_used])
        merged_bottom = set(sorted(sk[a] | sk[b])[: r.k_used])
        assert union_bottom == merged_bottom, (a, b)
        n_shared = len(union_bottom & sk[a] & sk[b])
        assert r.n_shared == n_shared, (a, b)
        assert r.jaccard_est == n_shared / r.k_used, (a, b)


# --- Misra-Gries: superset guarantee on an adversarial zipf stream ---


def test_mg_candidates_superset_property():
    import numpy as np
    import pandas as pd

    from posting_lines_spark.queries.sketch_q import _mg_candidates

    rng = np.random.default_rng(7)
    # heavy-tail stream over a 5000-key domain, shuffled, cut into
    # uneven batches — the shapes that break naive counters
    keys = [f"k{int(z)}" for z in rng.zipf(1.3, size=200_000) % 5000]
    rng.shuffle(keys)
    cuts = sorted(rng.integers(0, len(keys), size=7))
    batches = [
        pd.DataFrame({"k": keys[a:b]})
        for a, b in zip([0, *cuts], [*cuts, len(keys)])
        if b > a
    ]
    (cand_df,) = list(_mg_candidates(iter(batches), k=200))
    cands = set(cand_df["k"])
    assert len(cands) < 200
    counts = Counter(keys)
    n = len(keys)
    heavy = {x for x, c in counts.items() if c * 200 > n}
    assert heavy, "test stream must actually contain heavy hitters"
    assert heavy <= cands, f"missed heavy hitters: {heavy - cands}"


def test_sketch_ams_f2_replay(spark):
    import hashlib
    from collections import Counter

    from posting_lines_spark.queries import load_all

    f = Counter(r["l_partkey"] for r in pq.read_table(SF001 + "/lineitem.parquet").to_pylist())
    zs = [0] * 16
    for k, c in f.items():
        h = int(hashlib.md5(f"ams|{k}".encode()).hexdigest()[:15], 16)
        for e in range(16):
            zs[e] += (((h >> e) & 1) * 2 - 1) * c
    exact = sum(c * c for c in f.values())
    est = sum(z * z for z in zs) / 16.0
    got = load_all()["sketch_ams_f2"].fn(spark, SF001).collect()[0]
    assert got["n_keys"] == len(f)
    assert got["exact_f2"] == exact
    assert got["est_f2"] == est
    # the sketch should be in the right ballpark (1/sqrt(16) regime)
    assert abs(got["rel_err"]) < 1.0


def test_bloom_fpr_audit_matches_python(spark):
    import hashlib

    from posting_lines_spark.queries import load_all

    M = 1 << 16
    rows = pq.read_table(SF001 + "/customer.parquet").to_pylist()

    def pos2(key: str) -> tuple[int, int]:
        return tuple(
            int(hashlib.md5(f"bloom|{key}".encode()).hexdigest()[1 + s * 15 - 1 : 15 + s * 15], 16) % M
            for s in (0, 1)
        )

    bits: set[int] = set()
    n_members = 0
    for r in rows:
        if r["c_mktsegment"] == "BUILDING":
            n_members += 1
            bits.update(pos2(str(r["c_custkey"])))
    fp = n_probes = 0
    for r in rows:
        if r["c_mktsegment"] != "BUILDING":
            n_probes += 1
            h0, h1 = pos2(str(r["c_custkey"]))
            if h0 in bits and h1 in bits:
                fp += 1
    got = load_all()["sketch_bloom_fpr_audit"].fn(spark, SF001).collect()[0]
    assert got["n_members"] == n_members
    assert got["n_probes"] == n_probes
    assert got["bits_set"] == len(bits)
    assert got["false_pos"] == fp
    assert got["observed_fpr"] == fp / n_probes
    # measured FPR should be in the ballpark of the load prediction
    load = (len(bits) / M) ** 2
    assert abs(got["load_fpr"] - load) < 1e-12


def test_linear_counting_matches_python(spark):
    import hashlib
    import math

    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.sketch_q import LC_M
    from tests.conftest import SF001

    users = {
        r["user_id"] for r in pq.read_table(SF001 + "/events.parquet").to_pylist()
    }
    occ = {
        int(hashlib.md5(f"lc|{u}".encode()).hexdigest()[:15], 16) % LC_M
        for u in users
    }
    v = LC_M - len(occ)
    want = LC_M * math.log(LC_M / v)
    got = load_all()["sketch_linear_counting"].fn(spark, SF001).collect()[0]
    assert (got["m_buckets"], got["v_empty"], got["n_exact"]) == (
        LC_M,
        v,
        len(users),
    )
    # kernel ln vs libm ln agree to ~1e-12 relative here
    assert abs(got["n_est"] - want) < 1e-6 * want
    assert got["rel_err"] < 0.25  # sketch actually estimates


def test_linear_counting_saturated_is_null(spark):
    """v_empty = 0 (every bucket occupied) must yield NULL n_est and
    rel_err — not the integer-ln kernel's finite-wrong value at 0."""
    from posting_lines_spark.functions.hashing import md5_int_spark
    from posting_lines_spark.queries.sketch_q import _linear_counting_sql

    spark.range(200_000).selectExpr("id AS user_id").createOrReplaceTempView(
        "events"
    )
    row = spark.sql(
        _linear_counting_sql(md5_int_spark("user_id", salt="lc"))
    ).collect()[0]
    assert row["v_empty"] == 0
    assert row["n_exact"] == 200_000
    assert row["n_est"] is None
    assert row["rel_err"] is None


def test_replay_topk_heavy_hitters_mg(spark):
    from posting_lines_spark.queries.sketch_q import HH_K

    grams = Counter()
    for d in _tbl("documents"):
        t = d["text"]
        if len(t) >= 3:
            grams.update(t[i : i + 3] for i in range(len(t) - 2))
    n = sum(grams.values())
    want = sorted(
        ((g, c) for g, c in grams.items() if c * HH_K > n),
        key=lambda t: (-t[1], t[0]),
    )
    got = [(r["gram"], r["n"]) for r in _run(spark, "topk_heavy_hitters_mg")]
    assert sorted(got, key=row_key) == sorted(want, key=row_key)
    # selective but non-vacuous: a strict subset of the gram domain
    # (sf0.001's 377-gram domain is tiny, so only strictness is safe)
    assert 0 < len(want) < len(grams)


def test_replay_sketch_quantile_hist(spark):
    from posting_lines_spark.queries.sketch_q import QH_BINS, QH_WIDTH

    prices = [o["o_totalprice"] for o in _tbl("orders")]
    bins = Counter(
        min(max(math.floor(p / QH_WIDTH), 0), QH_BINS - 1) for p in prices
    )
    cents = sorted(round(p * 100) for p in prices)
    total = len(prices)
    got = {r["p"]: r for r in _run(spark, "sketch_quantile_hist")}
    assert set(got) == {0.5, 0.9, 0.99}
    for p, r in got.items():
        rank = math.ceil(p * total)
        exact_q = cents[rank - 1] / 100.0
        run = 0
        for b in sorted(bins):
            run += bins[b]
            if run >= rank:
                qbin = b
                break
        assert r["n_rows"] == total
        assert r["est_q"] == (qbin + 1) * QH_WIDTH
        assert r["exact_q"] == exact_q
        assert bool(r["bound_ok"]) is (abs((qbin + 1) * QH_WIDTH - exact_q) <= QH_WIDTH)
        assert r["bound_ok"]  # the sketch's guarantee actually holds
