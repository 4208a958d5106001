"""Skewed-corpus generator (VERDICT r12 item 1): a Zipf/hub-heavy
variant of an existing sf dir, so the engine's skew levers can be
measured where they actually ENGAGE. Every scale row before round 13
was taken on make_sf's replica-constant corpus (max co-purchase degree
~6, uniform join keys, no boilerplate documents) — the wedge cap, the
salted join, LSH hot-band salting, and AQE skew-join splitting never
fired. This tool produces corpora where they do:

  python tools/make_skew.py path/to/sf0.1 .benchdata/skew01
  python tools/make_skew.py .benchdata/sf1 .benchdata/skew1
  python tools/make_skew.py SRC DST --mode order    # hot-join-key fixture

Default mode (`hub`) skews the ANALYTIC keys, leaving join keys alone:
  * lineitem.l_partkey  — re-drawn from the existing part-key domain
    under a bounded Zipf(alpha=1.1): the rank-1 part lands in ~6% of
    all lineitems, so the co-purchase graph grows real hubs and the
    wedge family's per-node neighbor cap finally BINDS;
  * events.user_id      — same draw over the user domain (hot-user
    pressure for sessionize windows and user-keyed aggregates);
  * documents.text      — 10% of docs become near-duplicate mutations
    of one base document (17 mutation variants), creating boilerplate
    LSH band buckets wider than the hot_width=256 salting threshold.

`--mode order` skews lineitem.l_orderkey instead (one order accretes
~6% of all lineitems) and copies everything else — the fixture for
salted-join and AQE-skew-join measurements. It is a SEPARATE fixture
because a mega-order would blow up the per-order basket self-join in
the co-purchase queries measured on the hub fixture.

Skewed values are re-drawn FROM the existing key domain, so all
foreign keys stay valid and every registered query still runs; these
corpora are pressure fixtures for SCALE.md rows, not correctness
inputs (the driver's oracle gate runs on the untouched uniform
testdata).

Determinism: the Zipf uniform comes from xxhash64 of the full
pre-remap row (the salted_join discipline) — same input dir, same
output, no RNG state.

Bounded-Zipf draw (closed form, pure Column math): with ranks 1..R and
alpha > 1, the continuous inverse CDF is
    r(u) = ceil( (1 + u * (R^(1-alpha) - 1)) ^ (1/(1-alpha)) )
clipped to [1, R] — the standard analytic approximation to discrete
Zipf, monotone in u, giving P(rank 1) ~= 1 - 2^(1-alpha) for large R.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ALPHA = 1.1
DOC_DUP_FRAC = 0.10  # fraction of docs replaced by near-dup mutations
DOC_VARIANTS = 17  # distinct mutation suffixes within the hot cluster
HUB_TABLES = {"lineitem": "l_partkey", "events": "user_id"}
ALL_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def zipf_rank_col(u_col, n_ranks: int, alpha: float = ALPHA):
    """Column expr: bounded-Zipf rank in [1, n_ranks] from uniform u."""
    from pyspark.sql import functions as F

    one_minus_a = 1.0 - alpha
    edge = float(n_ranks) ** one_minus_a - 1.0
    raw = F.ceil(F.pow(F.lit(1.0) + u_col * F.lit(edge), F.lit(1.0 / one_minus_a)))
    return F.least(F.greatest(raw, F.lit(1)), F.lit(n_ranks)).cast("long")


def _uniform(df, seed: str):
    """Deterministic uniform in [0,1) from the full row content."""
    from pyspark.sql import functions as F

    return (
        F.pmod(F.xxhash64(F.lit(seed), *df.columns), F.lit(1 << 30)).cast("double")
        / F.lit(float(1 << 30))
    )


def zipf_remap(spark, df, key: str, seed: str):
    """Replace `key` with a Zipf(ALPHA)-weighted draw from its own
    distinct-value domain. Rank 1 = smallest key value (deterministic);
    the rank->key table is domain-sized and broadcast."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ranks = (
        df.select(F.col(key).alias("__key"))
        .distinct()
        .withColumn("__rank", F.row_number().over(Window.orderBy("__key")))
    )
    n = ranks.count()
    out = (
        df.withColumn("__u", _uniform(df, seed))  # hash the PRE-remap row
        .drop(key)
        .withColumn("__rank", zipf_rank_col(F.col("__u"), n))
        .join(F.broadcast(ranks), "__rank")
        .withColumnRenamed("__key", key)
        .drop("__rank", "__u")
    )
    return out.select(*df.columns)  # original column order


def hot_documents(spark, df):
    """Replace DOC_DUP_FRAC of documents with near-dup mutations of one
    base text: shared 2000-char prefix + one of DOC_VARIANTS suffixes —
    a boilerplate cluster whose LSH band buckets exceed hot_width."""
    from pyspark.sql import functions as F

    base = (
        df.orderBy(F.desc("n_chars"), "doc_id")
        .select(F.substring("text", 1, 2000).alias("t"))
        .limit(1)
    )
    u = _uniform(df, "docdup")
    mutated = F.concat(
        F.col("__base"),
        F.lit(" variant "),
        (F.col("doc_id") % DOC_VARIANTS).cast("string"),
    )
    out = (
        df.crossJoin(F.broadcast(base.withColumnRenamed("t", "__base")))
        .withColumn("text", F.when(u < DOC_DUP_FRAC, mutated).otherwise(F.col("text")))
        .withColumn("n_chars", F.length("text").cast(df.schema["n_chars"].dataType))
        .drop("__base")
    )
    return out.select(*df.columns)


def main() -> int:
    from posting_lines_spark.session import get_spark

    argv = list(sys.argv[1:])
    mode = "hub"
    if "--mode" in argv:
        i = argv.index("--mode")
        mode = argv[i + 1]
        del argv[i : i + 2]
    src, dst = argv[0], argv[1]
    assert mode in ("hub", "order"), mode

    spark = get_spark(app="make_skew")
    for t in ALL_TABLES:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        what = "copied"
        if mode == "hub" and t in HUB_TABLES:
            df = zipf_remap(spark, df, HUB_TABLES[t], seed=f"zipf-{t}")
            what = f"zipf({ALPHA}) on {HUB_TABLES[t]}"
        elif mode == "hub" and t == "documents":
            df = hot_documents(spark, df)
            what = f"hot near-dup cluster ({DOC_DUP_FRAC:.0%})"
        elif mode == "order" and t == "lineitem":
            df = zipf_remap(spark, df, "l_orderkey", seed="zipf-order")
            what = f"zipf({ALPHA}) on l_orderkey"
        df.repartition(8).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        n = spark.read.parquet(f"{dst}/{t}.parquet").count()
        print(f"{t}: {n} rows — {what}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
