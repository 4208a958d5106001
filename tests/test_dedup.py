"""Near-duplicate family tests (`queries/dedup_q.py`): sorted-neighborhood,
MinHash audit and band-sweep queries against brute-force replays, and
the hot-key salted LSH against its unsalted twin.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

from tests.conftest import SF0001, SF001, _docs, _run, _shingles, _tbl, row_key


def _near_base(docs):
    """Mirror of dedup_q.NEAR_BASE_*: corpus + tail-truncated near-copies."""
    out = [(d["doc_id"], d["text"]) for d in docs]
    for d in docs:
        if d["doc_id"] % 5 == 0:
            toks = d["text"].split(" ")
            out.append((d["doc_id"] + 100000, " ".join(toks[: max(len(toks) - 2, 1)])))
    return out


def test_snm_matches_bruteforce_window_scan(spark):
    """Candidate completeness, independently: sort by the prefix key,
    brute-force compare EVERY pair within rank distance w, keep
    jaccard >= threshold — must equal the query's output exactly."""
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.dedup_q import JACCARD_T, SNM_KEYLEN, SNM_WINDOW

    base = _near_base(_docs(SF0001))
    ranked = sorted(base, key=lambda p: (p[1][:SNM_KEYLEN], p[0]))
    expected = {}
    for i, (id_a, ta) in enumerate(ranked):
        for j in range(i + 1, min(i + 1 + SNM_WINDOW, len(ranked))):
            id_b, tb = ranked[j]
            sa, sb = _shingles(ta), _shingles(tb)
            inter = len(sa & sb)
            union = len(sa) + len(sb) - inter
            if union and inter / union >= JACCARD_T:
                expected[(id_a, id_b)] = inter / union
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in load_all()["dedup_sorted_neighborhood"].fn(spark, SF0001).collect()
    }
    assert got == expected


def test_minhash_estimate_audit_bounds(spark):
    from posting_lines_spark.queries import load_all

    rows = load_all()["dedup_minhash_estimate_audit"].fn(spark, SF001).collect()
    assert len(rows) > 100  # candidate pairs exist (near-copy corpus)
    for r in rows:
        assert 0.0 < r["jaccard_exact"] <= 1.0
        assert 0.0 <= r["jaccard_est"] <= 1.0
        assert r["abs_err"] == abs(r["jaccard_est"] - r["jaccard_exact"])
    # every true near-copy pair (id, id+100000) must be a candidate with
    # high estimated similarity
    near = [r for r in rows if r["id_b"] == r["id_a"] + 100000]
    assert near and all(r["jaccard_est"] >= 0.5 for r in near)


def test_band_sweep_consistency(spark):
    """S-curve sanity: candidates decrease with fewer bands (finer
    keys = longer band rows), truth counts bounded, and the 4×3
    config's true pairs equal the registered dedup_minhash_lsh
    output (same signatures, same threshold)."""
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    reg = load_all()
    rows = {
        r["bands"]: r for r in reg["dedup_lsh_band_sweep"].fn(spark, SF001).collect()
    }
    assert set(rows) == {12, 6, 4, 2}
    # more, shorter bands => more candidates (permissive); monotone
    assert (
        rows[12]["n_candidates"]
        >= rows[6]["n_candidates"]
        >= rows[4]["n_candidates"]
        >= rows[2]["n_candidates"]
    )
    for r in rows.values():
        assert 0 <= r["n_true"] <= r["n_candidates"]
        assert r["n_true"] <= r["n_union_true"]
    lsh_pairs = reg["dedup_minhash_lsh"].fn(spark, SF001).count()
    assert rows[4]["n_true"] == lsh_pairs


def test_band_sweep_cap_ranking_equivalence(spark):
    """VERDICT-r9 item 1: a capped census must rank the 4 configs
    identically to the uncapped one (the sweep is a tuning audit).
    Force the cap to bind at sf0.01 and compare against cap=None."""
    from posting_lines_spark.queries.dedup_q import dedup_lsh_band_sweep

    exact = {
        r["bands"]: r
        for r in dedup_lsh_band_sweep(spark, SF001, cap=None).collect()
    }
    assert all(r["capped"] == 0 for r in exact.values())
    assert all(
        r["n_candidates"] == r["n_cand_sampled"] for r in exact.values()
    )
    assert all(
        r["n_pairs_bound"] >= r["n_candidates"] for r in exact.values()
    )

    cap = max(1, min(r["n_pairs_bound"] for r in exact.values()) // 2)
    capped = {
        r["bands"]: r
        for r in dedup_lsh_band_sweep(spark, SF001, cap=cap).collect()
    }
    assert all(r["capped"] == 1 for r in capped.values())
    # bounds are cap-independent; sampled counts respect the cap rate
    for b, r in capped.items():
        assert r["n_pairs_bound"] == exact[b]["n_pairs_bound"]
        assert r["n_cand_sampled"] <= exact[b]["n_candidates"]
        # unbiased estimate: generous 5σ binomial envelope
        n_kept = max(r["n_cand_sampled"], 1)
        rel = 5.0 / n_kept**0.5 + 0.02
        assert abs(r["n_candidates"] - exact[b]["n_candidates"]) <= max(
            rel * exact[b]["n_candidates"], 3
        )
    # THE equivalence the verdict asked for: identical config ranking
    rank_exact = sorted(exact, key=lambda b: (-exact[b]["n_candidates"], b))
    rank_capped = sorted(
        capped, key=lambda b: (-capped[b]["n_candidates"], b)
    )
    assert rank_exact == rank_capped


def test_band_sweep_cap_engine_oracle_parity(spark, duck):
    """The capped regime must hash-match across engines too: run the
    Spark query and the DuckDB oracle with the same binding cap at
    sf0.001 and compare every cell exactly."""
    from posting_lines_spark.queries.dedup_q import (
        _band_sweep_oracle,
        dedup_lsh_band_sweep,
    )

    probe = {
        r["bands"]: r
        for r in dedup_lsh_band_sweep(spark, "/root/testdata/sf0.001",
                                      cap=None).collect()
    }
    cap = max(1, min(r["n_pairs_bound"] for r in probe.values()) // 2)
    got = sorted(
        (
            tuple(r)
            for r in dedup_lsh_band_sweep(spark, SF0001, cap=cap).collect()
        ),
        key=row_key,
    )
    want = sorted(duck.execute(_band_sweep_oracle(cap=cap)).fetchall(), key=row_key)
    assert len(got) == len(want) == 4
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(gv, float) and gv is not None and wv is not None:
                assert gv == wv or abs(gv - wv) < 1e-15
            else:
                assert gv == wv


# ---- dedup_exact ----


def test_replay_dedup_exact(spark):
    docs = _tbl("documents")
    aug = [(d["doc_id"], d["text"]) for d in docs] + [
        (d["doc_id"] + 100000, d["text"]) for d in docs if d["doc_id"] % 2 == 0
    ]
    groups: dict[str, list[int]] = defaultdict(list)
    for did, text in aug:
        groups[hashlib.md5(text.encode()).hexdigest()].append(did)
    want = sorted(
        (min(ids), dig, len(ids)) for dig, ids in groups.items()
    )
    got = [
        (r["doc_id_kept"], r["content_digest"], r["n_copies"])
        for r in _run(spark, "dedup_exact")
    ]
    assert sorted(got, key=row_key) == sorted(want, key=row_key)
    assert any(n > 1 for _, _, n in want)  # non-vacuous: real duplicates


def test_hot_salted_lsh_census_and_equivalence(spark):
    """The hot path must genuinely run (buckets wider than hot_width by
    construction) and the blocked pair set must equal the plain
    quadratic one computed engine-side with hot_width=None."""
    from posting_lines_spark.operators import dedup
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.dedup_q import (
        _BOIL_SPARK,
        BANDS,
        HOT_WIDTH,
        NUM_HASHES,
    )
    from posting_lines_spark.sources import load_table

    from posting_lines_spark.queries.dedup_q import _BOIL_N

    (r,) = load_all()["dedup_lsh_hot_salted"].fn(spark, SF0001).collect()
    assert r["n_hot_buckets"] >= 1
    assert r["max_bucket_width"] > HOT_WIDTH
    # the boilerplate cluster is SF-independent and wider than hot_width
    assert _BOIL_N > HOT_WIDTH
    assert r["n_docs"] == 500 + _BOIL_N

    load_table(spark, SF0001, "documents").createOrReplaceTempView("documents")
    base = spark.sql(_BOIL_SPARK)
    sig = dedup.minhash_signature(
        dedup.shingles(base, "doc_id", "text", distinct=False), "doc_id", NUM_HASHES
    ).localCheckpoint()
    blocked = dedup.lsh_candidate_pairs(
        sig, "doc_id", NUM_HASHES, BANDS, hot_width=HOT_WIDTH
    )
    plain = dedup.lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BANDS, hot_width=None)
    b = {(x["id_a"], x["id_b"]) for x in blocked.collect()}
    p = {(x["id_a"], x["id_b"]) for x in plain.collect()}
    assert b == p
    assert r["n_candidate_pairs"] == len(p)


# ---- ADVICE r13: dedup_lsh_hot_salted twin offset derives from data ----


def test_hot_salted_twin_ids_never_collide(spark):
    """Twin doc_ids must live strictly above max(doc_id) regardless of
    the corpus id range (the fixed +100000 offset collided on >100k-doc
    or offset-id corpora, silently merging shingle sets)."""
    from pyspark.sql import functions as F

    from posting_lines_spark.queries.dedup_q import _BOIL_SPARK, _BOIL_N

    # offset ids far above 100000: the old constant would collide
    docs = spark.range(10**10, 10**10 + 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("unique body "), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    docs.createOrReplaceTempView("documents")
    out = spark.sql(_BOIL_SPARK)
    assert out.count() == 200 + _BOIL_N  # no doc_id merged two texts
    assert out.select("doc_id").distinct().count() == 200 + _BOIL_N
