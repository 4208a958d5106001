"""Semantic tests for the curation/search/vector-training queries — the
properties the oracle hash can't express (coverage, monotonicity,
convergence)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from tests.conftest import SF0001, SF001, _docs, _dsum, _md5_int, _run, _tbl, row_key


class TestChunks:
    def test_every_token_covered_and_overlap_correct(self, spark):
        from posting_lines_spark.queries.curation_q import (
            CHUNK_SIZE,
            CHUNK_STRIDE,
            curation_chunks,
        )
        from posting_lines_spark.sources import load_table

        chunks = curation_chunks(spark, SF0001).collect()
        docs = {
            r.doc_id: len(r.text.split(" "))
            for r in load_table(spark, SF0001, "documents").collect()
        }
        by_doc: dict[int, list] = {}
        for r in chunks:
            by_doc.setdefault(r.doc_id, []).append(r)
        assert set(by_doc) == set(docs)
        for doc_id, rows in by_doc.items():
            rows.sort(key=lambda r: r.chunk_id)
            n_tok = docs[doc_id]
            # chunk starts advance by the stride; the last chunk reaches
            # the final token exactly (full coverage, no overshoot)
            for i, r in enumerate(rows):
                start = i * CHUNK_STRIDE  # 0-based
                assert r.chunk_id == i
                assert r.n_chunk_tokens == min(CHUNK_SIZE, n_tok - start)
                assert r.n_chunk_tokens >= 1
            last = rows[-1]
            assert last.chunk_id * CHUNK_STRIDE + last.n_chunk_tokens == n_tok

    def test_chunk_text_digest_matches_python(self, spark):
        import hashlib

        from posting_lines_spark.queries.curation_q import (
            CHUNK_SIZE,
            CHUNK_STRIDE,
            curation_chunks,
        )
        from posting_lines_spark.sources import load_table

        texts = {
            r.doc_id: r.text.split(" ")
            for r in load_table(spark, SF0001, "documents").collect()
        }
        for r in curation_chunks(spark, SF0001).collect():
            toks = texts[r.doc_id]
            start = r.chunk_id * CHUNK_STRIDE
            expect = " ".join(toks[start : start + CHUNK_SIZE])
            assert r.chunk_digest == hashlib.md5(expect.encode()).hexdigest()


class TestDomainCapAndSampling:
    def test_domain_cap_bounds_and_determinism(self, spark):
        from posting_lines_spark.queries.curation_q import DOMAIN_CAP, curation_domain_cap

        rows = curation_domain_cap(spark, SF001).collect()
        per_source: dict[str, int] = {}
        for r in rows:
            per_source[r.source] = per_source.get(r.source, 0) + 1
            assert 1 <= r.rk <= DOMAIN_CAP
        assert all(n <= DOMAIN_CAP for n in per_source.values())
        again = curation_domain_cap(spark, SF001).collect()
        assert rows == again

    def test_weighted_sampling_prefers_heavier_docs(self, spark):
        """Priority sampling must skew the kept set toward long docs:
        the mean weight of winners should exceed the corpus mean."""
        from pyspark.sql import functions as F

        from posting_lines_spark.queries.curation_q import sample_weighted
        from posting_lines_spark.sources import load_table

        kept = sample_weighted(spark, SF001).collect()
        corpus_mean = (
            load_table(spark, SF001, "documents").agg(F.avg("n_chars")).collect()[0][0]
        )
        kept_mean = sum(r.weight for r in kept) / len(kept)
        assert kept_mean > corpus_mean


class TestSearch:
    def test_bm25_rewards_matches_and_brevity(self, spark):
        from posting_lines_spark.queries.search_q import QUERY_TERMS, search_bm25
        from posting_lines_spark.sources import load_table

        top = search_bm25(spark, SF001).collect()
        assert len(top) > 0
        # scores are positive, sorted desc, and every hit matches ≥1 term
        scores = [r.bm25_score for r in top]
        assert scores == sorted(scores, reverse=True)
        docs = {
            r.doc_id: r.text.split(" ")
            for r in load_table(spark, SF001, "documents").collect()
        }
        for r in top:
            assert r.n_terms_matched >= 1
            assert any(t in docs[r.doc_id] for t in QUERY_TERMS)
        # the top hit matches all query terms (on this corpus every term
        # is common enough that full matches exist)
        assert top[0].n_terms_matched == len(QUERY_TERMS)


class TestKMeans:
    def test_partition_is_total_and_inertia_improves(self, spark):
        from posting_lines_spark.queries.vectors_q import KM_K, sim_kmeans_ivf
        from posting_lines_spark.sources import load_table

        rows = sim_kmeans_ivf(spark, SF0001).collect()
        n_vecs = load_table(spark, SF0001, "embeddings").count()
        assert sum(r.n_members for r in rows) == n_vecs
        assert len(rows) <= KM_K
        # Lloyd iterations cannot increase total inertia: compare the
        # trained assignment against assigning every vector to the init
        # centroids (iteration 0): run the same SQL with c0 as the final
        # centroid set by truncating the CTE chain.
        from posting_lines_spark.functions.hashing import md5_int_spark
        from posting_lines_spark.queries.vectors_q import (
            _KM_LONG_SPARK,
            _kmeans_sql,
        )

        full = _kmeans_sql(
            _KM_LONG_SPARK, md5_int_spark("CAST(vec_id AS STRING)", salt="kmeans")
        )
        it0 = full.replace("a2 a JOIN", "a1 a JOIN")  # stats over round-1 assignment
        load_table(spark, SF0001, "embeddings").createOrReplaceTempView("embeddings")
        rows0 = spark.sql(it0).collect()
        inertia_trained = sum(float(r.mean_dist2) * r.n_members for r in rows)
        inertia_round1 = sum(float(r.mean_dist2) * r.n_members for r in rows0)
        assert inertia_trained <= inertia_round1 + 1e-9


class TestStreamStreamJoin:
    def test_attribution_pairs_match_batch_interval_join(self, spark):
        from pyspark.sql import functions as F

        from posting_lines_spark.queries.stream_q import stream_stream_join
        from posting_lines_spark.sources import load_table

        got = {(r.user_id, r.left_id, r.right_id) for r in stream_stream_join(spark, SF0001).collect()}
        ev = load_table(spark, SF0001, "events")
        a = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("u"), F.col("ts").alias("ta"), F.col("event_id").alias("la")
        )
        b = ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("u"), F.col("ts").alias("tb"), F.col("event_id").alias("rb")
        )
        want = {
            (r.u, r.la, r.rb)
            for r in a.join(b, "u")
            .filter((F.col("tb") >= F.col("ta")) & (F.col("tb") <= F.col("ta") + F.expr("INTERVAL 30 MINUTES")))
            .collect()
        }
        assert got == want


class TestChecksum:
    def test_checksum_is_order_independent_and_row_sensitive(self, spark):
        """Same rows in any order → identical digests; one changed row →
        both digest channels move."""
        from pyspark.sql import functions as F

        from posting_lines_spark.functions.hashing import md5_int_spark

        def digest(df):
            h = F.expr(md5_int_spark("concat(k, '|', v)"))
            row = df.select(h.alias("h")).agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(h)").alias("x"),
                F.sum(F.col("h") % 1000000007).alias("s"),
            ).collect()[0]
            return (row.n, row.x, row.s)

        rows = [(i, f"v{i}") for i in range(100)]
        df1 = spark.createDataFrame(rows, "k long, v string")
        df2 = spark.createDataFrame(list(reversed(rows)), "k long, v string").repartition(7)
        assert digest(df1) == digest(df2)
        mutated = [(i, "DIFFERENT" if i == 50 else f"v{i}") for i in range(100)]
        df3 = spark.createDataFrame(mutated, "k long, v string")
        d1, d3 = digest(df1), digest(df3)
        assert d1[0] == d3[0] and d1[1] != d3[1] and d1[2] != d3[2]


def test_leakage_safe_split_keeps_pairs_together(spark):
    """The guard's end-to-end property: every verified near-dup PAIR has
    both members in the same split (re-derived through the real pair
    pipeline, not the grp function), and the guard is load-bearing on
    this corpus (at least one multi-doc group exists)."""
    from pyspark.sql import functions as F

    from posting_lines_spark.functions.hashing import md5_int_spark
    from posting_lines_spark.operators import graph
    from posting_lines_spark.queries.curation_q import _split_expr
    from posting_lines_spark.queries.graph_q import _spark_pairs
    from tests.conftest import SF0001

    pairs = _spark_pairs(spark, SF0001).localCheckpoint(eager=False)
    assert pairs.count() > 0, "guard not load-bearing: no near-dup pairs"
    comp = graph.connected_components(pairs)
    assigned = comp.select(
        "node",
        F.expr(
            _split_expr(md5_int_spark("CAST(component AS STRING)", salt="split"))
        ).alias("split"),
    )
    a = assigned.select(F.col("node").alias("id_a"), F.col("split").alias("split_a"))
    b = assigned.select(F.col("node").alias("id_b"), F.col("split").alias("split_b"))
    straddling = (
        pairs.join(a, "id_a").join(b, "id_b").filter(F.col("split_a") != F.col("split_b"))
    )
    assert straddling.count() == 0, "a near-dup pair straddles splits"


# --- k-anonymity ---


def test_k_anonymity_matches_bruteforce(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.curation_q import K_ANON

    cust = pq.read_table(f"{SF0001}/customer.parquet").to_pylist()
    classes = Counter()
    for r in cust:
        band = math.floor(float(r["c_acctbal"]) / 1.0e3)
        classes[(r["c_nationkey"], r["c_mktsegment"], band)] += 1
    per_nation = defaultdict(lambda: [0, 0, 0, 0, 1 << 60])  # classes, small, rows, at_risk, min
    for (nk, _seg, _band), sz in classes.items():
        p = per_nation[nk]
        p[0] += 1
        p[1] += 1 if sz < K_ANON else 0
        p[2] += sz
        p[3] += sz if sz < K_ANON else 0
        p[4] = min(p[4], sz)
    got = {
        r.c_nationkey: (
            r.n_classes, r.n_small_classes, r.n_rows, r.rows_at_risk,
            r.risk_rate, r.min_class_size,
        )
        for r in load_all()["privacy_k_anonymity"].fn(spark, SF0001).collect()
    }
    expected = {
        nk: (p[0], p[1], p[2], p[3], float(p[3]) / p[2], p[4])
        for nk, p in per_nation.items()
    }
    assert got == expected


# --- t-closeness ---


def test_t_closeness_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.curation_q import T_CLOSENESS

    cust = pq.read_table(
        f"{SF0001}/customer.parquet",
        columns=["c_nationkey", "c_acctbal", "c_mktsegment"],
    ).to_pylist()
    cls: dict[tuple, Counter] = defaultdict(Counter)
    seg = Counter()
    for r in cust:
        band = math.floor(float(r["c_acctbal"]) / 1e3)
        cls[(r["c_nationkey"], band)][r["c_mktsegment"]] += 1
        seg[r["c_mktsegment"]] += 1
    nn = sum(seg.values())
    per_nation = defaultdict(lambda: [0, 0.0, 0, 0])  # classes, max_t, viol, rows
    for (nat, _band), c in cls.items():
        n = sum(c.values())
        t = sum(abs(c.get(s, 0) * nn - g * n) for s, g in seg.items()) / (
            2.0 * n * nn
        )
        e = per_nation[nat]
        e[0] += 1
        e[1] = max(e[1], t)
        if t > T_CLOSENESS:
            e[2] += 1
            e[3] += n
    rows = load_all()["privacy_t_closeness"].fn(spark, SF0001).collect()
    for row in rows:
        e = per_nation[row.c_nationkey]
        assert (row.n_classes, row.n_violating, row.rows_exposed) == (
            e[0],
            e[2],
            e[3],
        )
        assert math.isclose(row.max_t, e[1], rel_tol=1e-12)
    assert len(rows) == len(per_nation)


def test_dsir_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.curation_q import (
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
        DSIR_TOP_N,
    )

    docs = _docs()
    ct, cs = Counter(), Counter()
    for d in docs:
        for t in d["text"].split(" "):
            b = _md5_int(t, "dsir") % DSIR_BUCKETS
            cs[b] += 1
            if d["lang"] == DSIR_TARGET_LANG:
                ct[b] += 1
    tt, ts = sum(ct.values()), sum(cs.values())
    weights = {}
    for d in docs:
        # the engine aggregates (doc, bucket) BEFORE the log-ratio product,
        # so the scale-3 quantization applies per bucket row — mirror that
        buckets = Counter(
            _md5_int(t, "dsir") % DSIR_BUCKETS for t in d["text"].split(" ")
        )
        n_tok = sum(buckets.values())
        s = _dsum(
            (c * (math.log(ct[b] + 1) - math.log(cs[b] + 1)) for b, c in buckets.items()),
            3,
        )
        w = (
            s
            - n_tok
            * (math.log(tt + DSIR_BUCKETS) - math.log(ts + DSIR_BUCKETS))
        ) / n_tok
        weights[d["doc_id"]] = w
    expected = sorted(weights, key=lambda i: (-weights[i], i))[:DSIR_TOP_N]
    rows = load_all()["curation_importance_resample"].fn(spark, SF0001).collect()
    assert [r.doc_id for r in rows] == expected
    for r in rows:
        assert math.isclose(r.w, weights[r.doc_id], rel_tol=1e-6, abs_tol=1e-6)


# --- l-diversity: plain groupby replay ---


def test_l_diversity_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all

    rows = pq.read_table(f"{SF0001}/customer.parquet").to_pylist()
    cls = defaultdict(lambda: [set(), 0])
    for r in rows:
        band = math.floor(r["c_acctbal"] / 1000.0)
        c = cls[(r["c_nationkey"], band)]
        c[0].add(r["c_mktsegment"])
        c[1] += 1
    per_nation = defaultdict(lambda: [0, 0, 0, 99])
    for (nk, _), (sens, size) in cls.items():
        p = per_nation[nk]
        p[0] += 1
        if len(sens) < 3:
            p[1] += 1
            p[2] += size
        p[3] = min(p[3], len(sens))
    out = load_all()["privacy_l_diversity"].fn(spark, SF0001).collect()
    for r in out:
        p = per_nation[r.c_nationkey]
        assert (r.n_classes, r.n_undiverse_classes, r.rows_at_risk,
                r.min_diversity) == tuple(p)


# --- DP release: kernel + inverse-CDF replay ---


def test_dp_release_matches_python_replay(spark):
    from posting_lines_spark.functions.dmath import dln_int_py
    from posting_lines_spark.queries import load_all

    docs = pq.read_table(
        f"{SF0001}/documents.parquet", columns=["source"]
    ).to_pylist()
    counts = defaultdict(int)
    for d in docs:
        counts[d["source"]] += 1
    out = load_all()["privacy_dp_release"].fn(spark, SF0001).collect()
    assert len(out) == len(counts)
    for r in out:
        h = int(hashlib.md5(f"dplap|{r.source}".encode()).hexdigest()[:15], 16)
        k = h % 1999 - 999
        sgn = (k > 0) - (k < 0)
        noise = 2.0 * sgn * (dln_int_py(1000) - dln_int_py(1000 - abs(k)))
        assert r.n_true == counts[r.source]
        assert abs(r.released_count - (counts[r.source] + noise)) < 1e-9
        # the mechanism actually perturbs (not all-zero noise)
    assert any(abs(r.released_count - r.n_true) > 0.01 for r in out)


def test_randomized_response_matches_python(spark):
    """md5-flip replay: same flips, same Warner estimate."""
    import hashlib

    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.curation_q import FLIP_DEN, FLIP_NUM
    from tests.conftest import SF001

    truth = {}
    for r in pq.read_table(SF001 + "/events.parquet").to_pylist():
        truth[r["user_id"]] = max(
            truth.get(r["user_id"], 0),
            1 if r["event_type"] == "purchase" else 0,
        )
    y = 0
    for uid, t in truth.items():
        h = int(hashlib.md5(f"rrflip|{uid}".encode()).hexdigest()[:15], 16)
        y += (1 - t) if h % FLIP_DEN < FLIP_NUM else t
    n, t_true = len(truth), sum(truth.values())
    p = FLIP_NUM / FLIP_DEN
    t_est = (y - p * n) / (1 - 2 * p)
    got = load_all()["privacy_randomized_response"].fn(spark, SF001).collect()[0]
    assert (got["n"], got["y_obs"], got["t_true"]) == (n, y, t_true)
    assert abs(got["t_est"] - t_est) < 1e-9
    assert got["y_obs"] != got["t_true"]  # flips actually happened


def test_dp_gaussian_matches_python(spark):
    """Re-derive the Box-Muller release with the kernel Python mirrors
    and check zCDP bookkeeping; noise must be nonzero and vary by
    source (idempotence = same source, same noise)."""
    import hashlib
    import math

    import pyarrow.parquet as pq

    from posting_lines_spark.functions.dmath import dln_int_py
    from posting_lines_spark.functions.geo import dcos_py, dsin_py
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.curation_q import _DP_K, DP_RHO

    srcs = pq.read_table(
        SF0001 + "/documents.parquet", columns=["source"]
    ).column("source").to_pylist()
    counts = {}
    for s in srcs:
        counts[s] = counts.get(s, 0) + 1

    sigma = 1.0 / math.sqrt(2.0 * DP_RHO)
    ln_k = dln_int_py(_DP_K)

    def h(s, slot):
        hx = hashlib.md5(f"dpgauss|{s}".encode()).hexdigest()
        return int(hx[slot * 15 : slot * 15 + 15], 16)

    got = {
        r["source"]: r
        for r in load_all()["privacy_dp_gaussian"].fn(spark, SF0001).collect()
    }
    noises = set()
    for s, n in counts.items():
        k1 = h(s, 0) % _DP_K + 1
        k2 = h(s, 1) % _DP_K
        q = (4 * k2) // _DP_K
        u = (math.pi / 2.0) * ((4 * k2 - q * _DP_K) / _DP_K)
        cu, su = dcos_py(u), dsin_py(u)
        cos_t = [cu, -su, -cu, su][q]
        z = math.sqrt(-2.0 * (dln_int_py(k1) - ln_k)) * cos_t
        want = n + sigma * z
        r = got[s]
        assert r["n_true"] == n
        assert abs(r["released_count"] - want) < 1e-9
        assert (r["rho"], r["sigma"]) == (DP_RHO, sigma)
        noises.add(round(r["released_count"] - n, 6))
    assert len(noises) > 1 and all(abs(x) > 1e-9 for x in noises)


def test_dp_median_em_matches_python(spark):
    """Full pure-Python replay of the exponential mechanism: integer
    rank utility, md5 uniforms, deterministic-kernel Gumbel, argmax."""
    import hashlib
    from collections import Counter

    import pyarrow.parquet as pq

    from posting_lines_spark.functions.dmath import dln_int_py
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.curation_q import DP_EM_EPS, _EM_K

    docs = pq.read_table(f"{SF0001}/documents.parquet").to_pylist()
    counts = Counter(d["n_chars"] for d in docs)
    n = sum(counts.values())
    below = 0
    best = None
    true_median = None
    for v in sorted(counts):
        c = counts[v]
        if true_median is None and 2 * (below + c) >= n:
            true_median = v
        u2 = abs(2 * below + c - n)
        h = int(hashlib.md5(f"dpem|{v}".encode()).hexdigest()[:15], 16)
        k = h % (_EM_K - 1) + 1
        t = dln_int_py(_EM_K) - dln_int_py(k)  # -ln U > 0
        qt = round(t * 1e9)
        g = -(dln_int_py(qt) - dln_int_py(10**9))
        score = -(DP_EM_EPS / 4.0) * u2 + g
        key = (score, -v)  # ORDER BY score DESC, v → max score, min v
        if best is None or key > best[0]:
            best = (key, v)
        below += c
    (r,) = load_all()["privacy_dp_median_em"].fn(spark, SF0001).collect()
    assert r["n"] == n
    assert r["true_median"] == true_median
    assert r["released_median"] == best[1]
    assert r["abs_err"] == abs(best[1] - true_median)
    # utility sanity: the release is inside the value domain and the
    # mechanism concentrates (rank error far below worst case)
    assert min(counts) <= r["released_median"] <= max(counts)


# ---- sample_stratified ----


def test_replay_sample_stratified(spark):
    docs = _tbl("documents")
    per_source: dict[str, list] = defaultdict(list)
    for d in docs:
        per_source[d["source"]].append(d)
    got = {r["source"]: r for r in _run(spark, "sample_stratified")}
    assert set(got) == set(per_source)
    rates = set()
    for src, ds in per_source.items():
        rate = 100 + (_md5_int(src, salt="rate") % 400)
        kept = sum(
            1
            for d in ds
            if _md5_int(str(d["doc_id"]), salt="samp") % 1000 < rate
        )
        r = got[src]
        assert r["n_total"] == len(ds)
        assert r["n_kept"] == kept
        assert r["keep_per_mille"] == rate
        rates.add(rate)
    assert len(rates) > 1  # strata genuinely get different rates


def test_replay_curation_domain_cap(spark):
    from posting_lines_spark.queries.curation_q import DOMAIN_CAP

    docs = _tbl("documents")
    by_src = defaultdict(list)
    for d in docs:
        by_src[d["source"]].append(d["doc_id"])
    want = []
    for src, ids in by_src.items():
        ranked = sorted(ids, key=lambda i: (_md5_int(str(i), "cap"), i))
        for rk, did in enumerate(ranked[:DOMAIN_CAP], start=1):
            want.append((src, did, rk))
    want.sort(key=lambda t: (t[0], t[2]))
    got = [(r["source"], r["doc_id"], r["rk"]) for r in _run(spark, "curation_domain_cap")]
    assert sorted(got, key=row_key) == sorted(want, key=row_key)
    assert any(len(ids) > DOMAIN_CAP for ids in by_src.values())  # cap bites


def test_replay_sample_weighted(spark):
    from posting_lines_spark.queries.curation_q import WEIGHTED_K

    docs = _tbl("documents")
    # SQL casts the 60-bit hash to DOUBLE *before* dividing; Python's
    # int/int division rounds the exact rational instead — mirror the
    # cast-first order or the last ulp differs.
    pri = sorted(
        (
            float(_md5_int(str(d["doc_id"]), "wsamp")) / float(d["n_chars"]),
            d["doc_id"],
            d["source"],
            d["n_chars"],
        )
        for d in docs
    )[:WEIGHTED_K]
    got = [
        (r["priority"], r["doc_id"], r["source"], r["weight"])
        for r in _run(spark, "sample_weighted")
    ]
    assert got == pri
    # length-weighting is live: winners skew longer than the corpus mean
    mean_chars = sum(d["n_chars"] for d in docs) / len(docs)
    assert sum(w for _, _, _, w in pri) / WEIGHTED_K > 0.8 * mean_chars


def test_replay_sample_bottomk_per_group(spark):
    from posting_lines_spark.queries.curation_q import BOTTOMK_K

    by_src = defaultdict(list)
    for d in _tbl("documents"):
        by_src[d["source"]].append(d["doc_id"])
    want = []
    for src in sorted(by_src):
        ranked = sorted(by_src[src], key=lambda i: (_md5_int(str(i), "bk"), i))
        for rk, did in enumerate(ranked[:BOTTOMK_K], start=1):
            want.append((src, did, rk))
    got = [(r["source"], r["doc_id"], r["sample_rank"]) for r in _run(spark, "sample_bottomk_per_group")]
    assert sorted(got, key=row_key) == sorted(want, key=row_key)


def test_replay_curation_mixture_weights(spark):
    n = Counter(d["source"] for d in _tbl("documents"))
    # the normalizer is a decimal-routed sum of sqrt(count) doubles
    z = _dsum([math.sqrt(c) for c in n.values()])
    total = sum(n.values())
    got = {r["source"]: r for r in _run(spark, "curation_mixture_weights")}
    assert set(got) == set(n)
    for s, c in n.items():
        r = got[s]
        assert r["n_docs"] == c
        assert r["mix_weight"] == math.sqrt(c) / z
        assert r["expected_docs"] == math.sqrt(c) / z * total
    # temperature scaling never widens the spread (sf0.001's sources
    # are exactly uniform, so both spreads are 1 there — equality ok)
    ws = [got[s]["mix_weight"] for s in n]
    cs = [c / total for c in n.values()]
    assert (max(ws) / min(ws)) <= (max(cs) / min(cs))
    assert abs(sum(ws) - 1.0) < 1e-12


def test_replay_curation_shards_hrw(spark):
    from posting_lines_spark.queries.curation_q import _HRW_A, _HRW_B

    ids = [d["doc_id"] for d in _tbl("documents")]

    def assign(doc, n):
        return max(
            range(n), key=lambda s: (_md5_int(f"{doc}#{s}", "hrw"), -s)
        )

    moved = sum(1 for d in ids if assign(d, _HRW_A) != assign(d, _HRW_B))
    (r,) = _run(spark, "curation_shards_hrw")
    assert r["n_docs"] == len(ids)
    assert r["n_moved"] == moved
    assert r["moved_frac"] == moved / len(ids)
    assert bool(r["stability_ok"]) is (moved / len(ids) < 2.0 / _HRW_B)
    assert 0 < moved < len(ids) / 4  # rendezvous genuinely beats mod


def test_replay_curation_mixture_nucleus(spark):
    n = Counter(d["source"] for d in _tbl("documents"))
    ranked = sorted(n.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(n.values())
    want, cum = [], 0
    for src, c in ranked:
        if cum / total < 0.8:
            want.append((src, c, (cum + c) / total))
        cum += c
    got = [(r["source"], r["n_docs"], r["cum_share"]) for r in _run(spark, "curation_mixture_nucleus")]
    assert sorted(got, key=row_key) == sorted(want, key=row_key)
    assert 0 < len(want) <= len(n)
    # the crossing source is kept: last kept row's share >= 0.8
    assert want[-1][2] >= 0.8
