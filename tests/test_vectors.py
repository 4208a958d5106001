"""Vector-family tests (`queries/vectors_q.py`): k-means, IVF, PCA,
semantic dedup and range search against Python replays.
"""

from __future__ import annotations

import math
import os
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from tests.conftest import REPO, SF0001, SF001, _md5_int, _run, _tbl


# --- centroid silhouette ---


def test_silhouette_matches_bruteforce(spark):
    """Float replay (the engines quantize centroids to decimal(38,6);
    the replay uses raw float sums, so compare to 1e-4 — tight enough to
    catch any algorithmic divergence, loose enough for the quantization)."""
    from posting_lines_spark.queries import load_all

    emb = pq.read_table(f"{SF0001}/embeddings.parquet").to_pylist()
    by_label = defaultdict(list)
    for r in emb:
        by_label[r["label"]].append([float(x) for x in r["embedding"]])
    cents = {
        lb: [sum(col) / len(vecs) for col in zip(*vecs)]
        for lb, vecs in by_label.items()
    }
    sil_sum, sil_n = defaultdict(float), defaultdict(int)
    for r in emb:
        v = [float(x) for x in r["embedding"]]
        d = {
            lb: math.sqrt(sum((x - y) * (x - y) for x, y in zip(v, c)))
            for lb, c in cents.items()
        }
        a = d[r["label"]]
        b = min(dist for lb, dist in d.items() if lb != r["label"])
        s = 0.0 if a == b else (b - a) / max(a, b)
        sil_sum[r["label"]] += s
        sil_n[r["label"]] += 1
    got = {
        r.label: (r.n_vecs, r.mean_silhouette)
        for r in load_all()["embedding_silhouette"].fn(spark, SF0001).collect()
    }
    assert set(got) == set(sil_sum)
    for lb in sil_sum:
        assert got[lb][0] == sil_n[lb]
        assert abs(got[lb][1] - sil_sum[lb] / sil_n[lb]) < 1e-4


# --- PCA power iteration (exact integer replay) ---


def test_pca_power_matches_integer_replay(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.vectors_q import (
        DIMS,
        PCA_ITERS,
        PCA_MDIV,
        PCA_VSCALE,
    )

    embs = pq.read_table(f"{SF0001}/embeddings.parquet").to_pylist()
    qv = [
        [math.floor(float(x) * 1e4 + 0.5) if x >= 0 else -math.floor(-float(x) * 1e4 + 0.5)
         for x in r["embedding"]]
        for r in embs
    ]
    n = len(qv)
    s1 = [sum(v[i] for v in qv) for i in range(DIMS)]
    s2 = [
        [sum(v[i] * v[j] for v in qv) for j in range(DIMS)] for i in range(DIMS)
    ]
    m = [[n * s2[i][j] - s1[i] * s1[j] for j in range(DIMS)] for i in range(DIMS)]
    gmax = max(abs(x) for row in m for x in row)
    g = gmax // PCA_MDIV + 1

    def tdiv(a: int, b: int) -> int:  # truncate-toward-zero division
        return (1 if a >= 0 else -1) * (abs(a) // b)

    mp = [[tdiv(x, g) for x in row] for row in m]
    v = [PCA_VSCALE] * DIMS
    for _ in range(PCA_ITERS):
        y = [sum(mp[i][j] * v[j] for j in range(DIMS)) for i in range(DIMS)]
        mx = max(abs(x) for x in y)
        v = [tdiv(x * PCA_VSCALE, mx) for x in y]
    s = next(1 if x > 0 else -1 for x in v if x != 0)
    expected = [x * s for x in v]
    rows = sorted(
        load_all()["embedding_pca_power"].fn(spark, SF0001).collect(), key=lambda r: r.dim
    )
    assert [(r.dim, r.v_fp) for r in rows] == list(enumerate(expected))


# --- SemDeDup invariants ---


def test_semdedup_counts_consistent_and_nonzero(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.vectors_q import KM_K

    rows = load_all()["curation_semdedup"].fn(spark, SF0001).collect()
    assert 0 < len(rows) <= KM_K
    n_emb = pq.read_table(f"{SF0001}/embeddings.parquet").num_rows
    assert sum(r.n_members for r in rows) == n_emb
    for r in rows:
        assert r.n_kept == r.n_members - r.n_dropped
        assert 0 <= r.n_dropped < r.n_members  # at least one survivor per cluster


# --- MIPS: exactness + monotonicity properties ---


def test_mips_dots_exact_and_monotone(spark):
    from posting_lines_spark.queries import load_all

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in pq.read_table(f"{SF0001}/embeddings.parquet").to_pylist()
    }
    rows = load_all()["sim_mips_norm_augment"].fn(spark, SF0001).collect()
    assert rows
    m2 = max(sum(x * x for x in v) for v in emb.values())
    by_q = defaultdict(list)
    for r in rows:
        by_q[r.query_id].append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        qv = emb[q]
        qn = math.sqrt(sum(x * x for x in qv))
        prev = None
        for r in rs:
            # reported dot equals the exact dot of the raw vectors
            exact = sum(a * b for a, b in zip(qv, emb[r.vec_id]))
            assert abs(r.dot - exact) < 1e-9
            # ranks descend by dot
            assert prev is None or r.dot <= prev + 1e-12
            prev = r.dot
            # monotonicity of the reduction: augmented cosine ordering
            # == dot ordering (cos = dot / (|q|·M), a fixed positive scale)
            assert abs(
                (r.dot / (qn * math.sqrt(m2)))
                - (exact / (qn * math.sqrt(m2)))
            ) < 1e-12


def test_ivf_recall_audit_consistent_with_registered_queries(spark):
    """The audit's n_hit must equal the ID-set intersection of the two
    registered top-K queries it audits."""
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    reg = load_all()
    bf = {}
    for r in reg["sim_topk_bruteforce"].fn(spark, SF001).collect():
        bf.setdefault(r["query_id"], set()).add(r["vec_id"])
    ivf = {}
    for r in reg["sim_topk_ivf"].fn(spark, SF001).collect():
        ivf.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {
        r["query_id"]: r["n_hit"]
        for r in reg["sim_ivf_recall_audit"].fn(spark, SF001).collect()
    }
    want = {q: len(bf[q] & ivf.get(q, set())) for q in bf}
    assert got == want
    assert any(v > 0 for v in want.values())  # buckets actually recall


def test_semdedup_class_collapse_equals_pairwise(spark):
    """The r10 embedding-class collapse must reproduce the pairwise
    drop rule exactly: run both formulations in Spark at sf0.01 and
    compare every row."""
    from posting_lines_spark.functions.hashing import md5_int_spark
    from posting_lines_spark.operators.similarity import cosine_spark
    from posting_lines_spark.queries.vectors_q import (
        _KM_LONG_SPARK,
        _semdedup_sql,
    )
    from posting_lines_spark.sources import load_table

    load_table(spark, SF001, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    h = md5_int_spark("CAST(vec_id AS STRING)", salt="kmeans")

    def run(collapse):
        return sorted(
            tuple(r)
            for r in spark.sql(
                _semdedup_sql(
                    _KM_LONG_SPARK,
                    h,
                    lambda a, b: cosine_spark(a, b),
                    collapse=collapse,
                )
            ).collect()
        )

    got, want = run(True), run(False)
    assert got == want and len(got) > 0
    # non-vacuous: some cluster actually drops members
    assert any(r[2] > 0 for r in got)


def test_range_search_matches_python(spark):
    """Replay bucketization + threshold in Python over the raw
    embeddings; also assert the subset relation vs brute force."""
    import math

    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.vectors_q import (
        DIMS,
        NUM_PLANES,
        QUERY_IDS,
        RANGE_TAU,
    )
    import hashlib

    def plane_weight(p, d):
        h = int(hashlib.md5(f"plane{p}_{d}".encode()).hexdigest()[:15], 16)
        return ((h % 2001) - 1000) / 1000.0

    t = pq.read_table(SF0001 + "/embeddings.parquet")
    vecs = dict(
        zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
    )
    planes = [
        [plane_weight(p, d) for d in range(1, DIMS + 1)]
        for p in range(NUM_PLANES)
    ]

    def bucket(v):
        return sum(
            (1 << i)
            for i, w in enumerate(planes)
            if sum(a * b for a, b in zip(v, w)) > 0
        )

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        return d / (
            math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(b * b for b in v))
        )

    buckets = {vid: bucket(v) for vid, v in vecs.items()}
    want = set()
    for q in QUERY_IDS:
        for vid, v in vecs.items():
            if vid != q and buckets[vid] == buckets[q]:
                if cos(vecs[q], v) >= RANGE_TAU - 1e-12:
                    want.add((q, vid))
    got = {
        (r["query_id"], r["vec_id"])
        for r in load_all()["sim_range_search"].fn(spark, SF0001).collect()
    }
    assert got == want and len(got) > 0


def _dq(v, scale: int) -> Decimal:
    return Decimal(repr(float(v))).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
    )


def test_replay_embedding_centroids(spark):
    emb = _tbl("embeddings")
    sums = defaultdict(Decimal)
    cnts = Counter()
    for e in emb:
        for dim, val in enumerate(e["embedding"], start=1):
            key = (e["label"], dim)
            sums[key] += _dq(val, 6)
            cnts[key] += 1
    got = _run(spark, "embedding_centroids")
    assert len(got) == len(sums) > 0
    for r in got:
        key = (r["label"], r["dim"])
        assert r["n_vecs"] == cnts[key]
        assert r["centroid_val"] == float(str(sums[key])) / cnts[key]


def test_replay_sim_kmeans_ivf(spark):
    from posting_lines_spark.queries.vectors_q import KM_K

    emb = {e["vec_id"]: [float(v) for v in e["embedding"]] for e in _tbl("embeddings")}
    seeds = sorted(emb, key=lambda v: (_md5_int(str(v), "kmeans"), v))[:KM_K]
    cent = {c: dict(enumerate(emb[vid], start=1)) for c, vid in enumerate(seeds)}

    def assign(cent):
        out = {}
        for vid, vec in emb.items():
            best = None
            for c, cv in cent.items():
                d2 = sum(
                    (_dq((v - cv[dim]) * (v - cv[dim]), 5) for dim, v in enumerate(vec, start=1)),
                    Decimal(0),
                )
                if best is None or (d2, c) < best[:2]:
                    best = (d2, c)
            out[vid] = best
        return out

    def update(assignment):
        sums = defaultdict(Decimal)
        cnts = Counter()
        for vid, (_, c) in assignment.items():
            for dim, v in enumerate(emb[vid], start=1):
                sums[(c, dim)] += _dq(v, 6)
                cnts[(c, dim)] += 1
        return (
            {
                c: {
                    dim: float(str(sums[(c, dim)])) / cnts[(c, dim)]
                    for (cc, dim) in sums
                    if cc == c
                }
                for c in {cc for cc, _ in sums}
            },
            sums,
            cnts,
        )

    a1 = assign(cent)
    c1, _, _ = update(a1)
    a2 = assign(c1)
    _, sums2, cnts2 = update(a2)

    members = defaultdict(list)
    for vid, (d2, c) in a2.items():
        members[c].append(d2)
    got = {r["cluster_id"]: r for r in _run(spark, "sim_kmeans_ivf")}
    assert set(got) == set(members)
    for c, d2s in members.items():
        r = got[c]
        assert r["n_members"] == len(d2s)
        assert r["mean_dist2"] == float(str(sum(d2s, Decimal(0)))) / len(d2s)
        csum = sum(
            (sums2[(c, dim)] for (cc, dim) in sums2 if cc == c), Decimal(0)
        )
        cnt = max(v for (cc, _), v in cnts2.items() if cc == c)
        assert r["centroid_checksum"] == float(str(csum)) / cnt
    assert len(members) == KM_K  # no cluster died during training


# ---- hot-cell-balanced kmeans-IVF (the fix for the round-14 ANN
# frontier finding) ----


def test_ivf_hotsplit_identical_to_plain_on_skewed_cells(spark):
    """On the Zipf-clustered fixture (head cell ~23% of vectors — the
    hot-cell regime the salting targets) the salted cell join must
    return the EXACT top-k of the plain join, while bounding per-task
    width: the widest (cell, salt) group is a fraction of the widest
    (cell) group."""
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from ann_recall import make_skew_clustered

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.vectors_q import (
        _KM_LONG_SPARK,
        IVF_SALT_N,
        _km_chain,
    )
    from posting_lines_spark.functions.hashing import md5_int_spark

    sf_dir = make_skew_clustered(spark)
    reg = load_all()
    key = lambda rows: [  # noqa: E731
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"]) for r in rows
    ]
    plain = reg["sim_topk_ivf_kmeans"].fn(spark, sf_dir).collect()
    salted = reg["sim_topk_ivf_hotsplit"].fn(spark, sf_dir).collect()
    assert key(salted) == key(plain)

    # the balance claim, measured on the data: widest salted key group
    # strictly smaller than the widest raw cell
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").createOrReplaceTempView(
        "embeddings"
    )
    assign = spark.sql(
        f"""{_km_chain(_KM_LONG_SPARK, md5_int_spark("CAST(vec_id AS STRING)", salt="kmeans"))}
SELECT vec_id, cluster_id FROM a2"""
    ).cache()
    widest_cell = (
        assign.groupBy("cluster_id").count().agg(F.max("count")).collect()[0][0]
    )
    widest_salted = (
        assign.withColumn(
            "salt", F.pmod(F.xxhash64("vec_id", "cluster_id"), F.lit(IVF_SALT_N))
        )
        .groupBy("cluster_id", "salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assign.unpersist()
    # xxhash scatter is not exactly uniform; assert a real split (>=2x)
    assert widest_salted * 2 <= widest_cell
