"""ANN recall vs candidate-budget measurement (round-3 verdict #7).

Compares the repo's three index variants against brute-force ground
truth on the same embeddings table, reporting recall@K alongside the
candidate fraction each variant scans (the cost that matters at 100 TB:
candidates/query ≈ corpus_fraction × n). Run:

    python tools/ann_recall.py [sf_dir] [n_queries]

Writes one table to stdout; the round's numbers are recorded in
SCALE.md. On the synthetic random embeddings there is NO cluster
structure, so recall ≈ candidate fraction is the information-theoretic
expectation — the table shows each variant sits on that line and what
each probing rung buys.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from posting_lines_spark.operators import similarity as sim  # noqa: E402
from posting_lines_spark.queries.vectors_q import (  # noqa: E402
    _KM_LONG_SPARK,
    _km_chain,
    DIMS,
    KM_K,
    NUM_PLANES,
)
from posting_lines_spark.functions.hashing import md5_int_spark  # noqa: E402
from posting_lines_spark.session import get_spark  # noqa: E402
from posting_lines_spark.sources import load_table  # noqa: E402

K = 10


def kmeans_assignment(spark):
    """(vec_id, cluster_id) from the registered 2-round Lloyd training."""
    return spark.sql(
        f"""{_km_chain(_KM_LONG_SPARK, md5_int_spark("CAST(vec_id AS STRING)", salt="kmeans"))}
SELECT vec_id, cluster_id FROM a2"""
    )


def bucket_recall(emb, queries, truth, assign, n_queries):
    """Generic cell-index recall: join emb/queries on the cell id."""
    eb = emb.join(assign, "vec_id")
    qb = eb.filter(F.col("vec_id").isin([r for r in range(n_queries)])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "cluster_id",
    )
    cand = eb.join(qb, "cluster_id").filter(F.col("vec_id") != F.col("query_id"))
    n_cand = cand.count()
    scored = cand.withColumn(
        "cosine", F.expr(sim.cosine_spark("embedding", "qv"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    got = {
        (r.query_id, r.vec_id)
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .collect()
    }
    return len(got & truth) / len(truth), n_cand


CLUSTERED_DIR = os.path.join(REPO, ".benchdata", "emb_clustered")
CLUSTERED_N = 2000
CLUSTERED_C = 25
CLUSTERED_SIGMA = 0.25


def make_clustered(spark) -> str:
    """Deterministic mixture-of-Gaussians embeddings fixture (round-4
    verdict #5): the near-random synthetic table has no cluster
    structure, so recall ≈ candidate fraction is the information-
    theoretic floor for EVERY index and the variants can't separate.
    Real embedding corpora are clustered — this fixture is C unit-norm
    Gaussian centers with sigma-noise points (same schema as the
    testdata table: vec_id BIGINT, embedding FLOAT[], label INT =
    true cluster), fixed seed, written once and reused."""
    import numpy as np

    path = os.path.join(CLUSTERED_DIR, "embeddings.parquet")
    if not os.path.exists(path):
        rng = np.random.RandomState(20260814)
        centers = rng.randn(CLUSTERED_C, DIMS)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        labels = rng.randint(0, CLUSTERED_C, size=CLUSTERED_N)
        pts = centers[labels] + CLUSTERED_SIGMA * rng.randn(CLUSTERED_N, DIMS)
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "vec_id": np.arange(CLUSTERED_N, dtype=np.int64),
                "embedding": [row.astype(np.float32) for row in pts],
                "label": labels.astype(np.int32),
            }
        )
        os.makedirs(CLUSTERED_DIR, exist_ok=True)
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(path)
    return CLUSTERED_DIR


SKEWCLUSTERED_DIR = os.path.join(REPO, ".benchdata", "emb_skewclustered")
SKEWC_N = 4000
SKEWC_C = 25
SKEWC_ALPHA = 1.1
SKEWC_SIGMA = 0.25


def make_skew_clustered(spark) -> str:
    """SKEWED clustered embeddings (VERDICT r13 item 7): the balanced
    fixture above gives every IVF cell the same population, so probe
    cost is uniform and the recall-vs-cost frontier hides the hot-cell
    regime. Real corpora are dominated by a few dense modes (majority
    languages, boilerplate domains): here cluster sizes follow
    Zipf(alpha=1.1) over the same 25 unit-norm Gaussian centers — the
    head cluster holds ~23% of all points, the tail clusters ~1% each —
    so cell-routed variants pay wildly different candidate counts
    depending on which cell the query lands in. Same schema + seed
    discipline as make_clustered; the other testdata tables are
    symlinked from sf0.01 so every registered audit query runs on this
    dir unchanged (the re-certification path)."""
    import numpy as np

    path = os.path.join(SKEWCLUSTERED_DIR, "embeddings.parquet")
    if not os.path.exists(path):
        rng = np.random.RandomState(20260816)
        centers = rng.randn(SKEWC_C, DIMS)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        w = 1.0 / np.arange(1, SKEWC_C + 1) ** SKEWC_ALPHA
        sizes = np.maximum(1, np.round(w / w.sum() * SKEWC_N)).astype(int)
        labels = np.repeat(np.arange(SKEWC_C), sizes)
        pts = centers[labels] + SKEWC_SIGMA * rng.randn(len(labels), DIMS)
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "vec_id": np.arange(len(labels), dtype=np.int64),
                "embedding": [row.astype(np.float32) for row in pts],
                "label": labels.astype(np.int32),
            }
        )
        os.makedirs(SKEWCLUSTERED_DIR, exist_ok=True)
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(path)
        # symlink the sibling tables so oracle-paired queries (e.g.
        # sim_ivf_recall_audit) run against this dir via check_oracle
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents"):
            link = os.path.join(SKEWCLUSTERED_DIR, f"{t}.parquet")
            if not os.path.exists(link):
                os.symlink(f"/root/testdata/sf0.01/{t}.parquet", link)
    return SKEWCLUSTERED_DIR


def main() -> int:
    argv = [a for a in sys.argv[1:]]
    clustered = "--clustered" in argv
    skew_clustered = "--skew-clustered" in argv
    argv = [a for a in argv if not a.startswith("--")]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    n_queries = int(argv[1]) if len(argv) > 1 else 20
    spark = get_spark(app="ann_recall")
    if clustered:
        sf_dir = make_clustered(spark)
    if skew_clustered:
        sf_dir = make_skew_clustered(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("embeddings")
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < n_queries)
    truth = {
        (r.query_id, r.vec_id)
        for r in sim.brute_force_topk(emb, queries, k=K).collect()
    }
    planes = sim.hyperplanes(spark, NUM_PLANES, DIMS)

    import time as _time

    rows = []
    for probes in (0, 1, 2):
        got_df = sim.ivf_topk(
            emb, queries, planes, k=K, probes=probes, num_planes=NUM_PLANES
        )
        _t0 = _time.time()
        got = {(r.query_id, r.vec_id) for r in got_df.collect()}
        wall = _time.time() - _t0
        n_buckets = len(sim.probe_masks(NUM_PLANES, probes))
        # candidate count: emb joined on probed buckets
        eb = sim.bucketize(emb, planes)
        qb = sim.bucketize(queries, planes).select(
            F.col("vec_id").alias("query_id"), F.col("bucket").alias("qbucket")
        )
        masks = sim.probe_masks(NUM_PLANES, probes)
        probed = qb.select(
            "query_id",
            F.explode(
                F.array(*[F.expr(f"qbucket ^ {m}") for m in masks])
            ).alias("bucket"),
        )
        n_cand = (
            eb.join(probed, "bucket")
            .filter(F.col("vec_id") != F.col("query_id"))
            .count()
        )
        rows.append(
            (
                f"hyperplane B={NUM_PLANES} probes={probes} "
                f"({n_buckets}/{2**NUM_PLANES} buckets)",
                len(got & truth) / len(truth),
                n_cand / (n_queries * (n - 1)),
                wall,
            )
        )

    _t0 = _time.time()
    r, n_cand = bucket_recall(
        emb, queries, truth, kmeans_assignment(spark), n_queries
    )
    rows.append(
        (
            f"kmeans IVF K={KM_K} cells probes=0",
            r,
            n_cand / (n_queries * (n - 1)),
            _time.time() - _t0,
        )
    )

    # PQ ADC: rerank-budget candidates from the code scan, exact re-rank
    from posting_lines_spark.queries.vectors_q import (
        PQ_KPRIME,
        PQ_M,
        PQ_RERANK,
        PQ_SUBDIM,
    )

    subs = sim.pq_subvectors(emb, PQ_M, PQ_SUBDIM)
    codebook = subs.filter(F.col("vec_id") < PQ_KPRIME).select(
        "m", F.col("vec_id").alias("code"), F.col("sub").alias("cent")
    )
    codes = sim.pq_encode(subs, codebook)
    dtable = (
        subs.filter(F.col("vec_id") < n_queries)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(codebook), "m")
        .select("query_id", "m", "code",
                F.expr(sim.l2sq_spark("sub", "cent")).alias("qd"))
    )
    for rr in (16, PQ_RERANK, 64):
        _t0 = _time.time()
        got = {
            (r.query_id, r.vec_id)
            for r in sim.pq_adc_topk(
                codes, dtable, emb, queries, K, rr
            ).collect()
        }
        rows.append(
            (
                f"PQ M={PQ_M} K'={PQ_KPRIME} ADC rerank={rr}",
                len(got & truth) / len(truth),
                rr / (n - 1),
                _time.time() - _t0,
            )
        )

    # IVF-PQ composite: kmeans cells route, PQ codes rank, exact rerank.
    # Recall is CAPPED by the cell router (a neighbor outside the query's
    # cell is unreachable), so compare against the kmeans IVF row — the
    # delta is what ADC ranking loses inside the cell, the scan saving is
    # codes-only reads.
    from posting_lines_spark.queries.vectors_q import IVFPQ_RERANK

    km = kmeans_assignment(spark)
    qcells = km.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "cluster_id"
    )
    cand0 = (
        km.join(F.broadcast(qcells), "cluster_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    n_cand = cand0.count()
    for rerank in (16, IVFPQ_RERANK, PQ_RERANK, 64):
        _t0 = _time.time()
        got = {
            (r.query_id, r.vec_id)
            for r in sim.pq_adc_topk(
                codes, dtable, emb, queries, K, rerank, candidates=cand0
            ).collect()
        }
        rows.append(
            (
                f"IVF-PQ K={KM_K} cells, ADC rerank={rerank}",
                len(got & truth) / len(truth),
                n_cand / (n_queries * (n - 1)),
                _time.time() - _t0,
            )
        )

    # JL random projection: rerank-budget candidates by projected cosine
    from posting_lines_spark.queries.vectors_q import RP_DIM

    from pyspark.sql import Window as W

    wp = W.partitionBy("query_id").orderBy(
        F.col("cosine_proj").desc(), F.col("vec_id")
    )
    we = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    for rp_dim in (8, RP_DIM):
        proj = sim.rp_project(emb, sim.rp_matrix(spark, rp_dim, DIMS))
        qp = proj.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
            F.col("proj").alias("q_proj"),
        )
        _t0 = _time.time()
        got = {
            (r.query_id, r.vec_id)
            for r in proj.crossJoin(F.broadcast(qp))
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine_proj", F.expr(sim.cosine_spark("proj", "q_proj")))
            .withColumn("prank", F.row_number().over(wp))
            .filter(F.col("prank") <= PQ_RERANK)
            .withColumn("cosine", F.expr(sim.cosine_spark("embedding", "q_embedding")))
            .withColumn("rank", F.row_number().over(we))
            .filter(F.col("rank") <= K)
            .collect()
        }
        rows.append(
            (
                f"JL projection {DIMS}->{rp_dim} rerank={PQ_RERANK}",
                len(got & truth) / len(truth),
                PQ_RERANK / (n - 1),
                _time.time() - _t0,
            )
        )

    print(f"\nANN recall@{K} vs candidate budget — {sf_dir}, n={n}, "
          f"{n_queries} queries")
    print(f"{'variant':<46} {'recall@10':>9} {'cand_frac':>10} "
          f"{'ratio':>6} {'wall_s':>7}")
    for name, rec, frac, wall in rows:
        ratio = rec / frac if frac else float("nan")
        print(f"{name:<46} {rec:>9.3f} {frac:>10.3f} {ratio:>6.2f} "
              f"{wall:>7.2f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
