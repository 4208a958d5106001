"""Round-14 regressions: the production wedge cap (VERDICT r13 item 3),
the ADVICE r13 fixes, and the close_round gate changes.

Reference parity context: the reference (sql_to_line.py) has no graph
code at all — the wedge family is part of the declared extension
surface; these tests pin the two documented operating points of its
scale lever."""

from __future__ import annotations

import os

import pytest

from tests.conftest import REPO, SF0001


# ---- graph_linkpred cap=8 (parity demo) vs cap=64 (production) ----
#
# The skew01 measurement (SCALE.md skew row 1): on a hub-heavy graph
# cap=8 returns ZERO candidates — every node's strongest edges point at
# the same small head clique, so the capped adjacency is (head clique)
# + (everyone -> heads), every surviving wedge ends on a head, and
# every such endpoint pair is already an edge. cap=64 keeps enough of
# the heads' adjacency that tail-tail wedges (the real candidates)
# survive. This fixture reproduces that mechanism deterministically:
# 9 head parts that co-occur in EVERY order (pairwise weight = 2·|tails|,
# always each other's strongest edges) and |tails| tail parts that each
# co-occur with ALL 9 heads exactly LINKPRED_COOC times but NEVER with
# another tail. cap=8 prunes each head's adjacency to the other 8 heads
# -> the only candidates would be tail-head pairs, which are all
# existing edges -> empty. cap=64 keeps the heads' tail edges -> the
# tail-tail candidates (cn=9, Jaccard 9/(9+9-9)=1.0) come back.

N_HEADS = 9
N_TAILS = 30


def _hubclique_lineitem(spark):
    rows = []
    for t in range(N_TAILS):
        tail_part = 100 + t
        for o in (1000 + 2 * t, 1000 + 2 * t + 1):
            rows.append((o, tail_part))
            for h in range(1, N_HEADS + 1):
                rows.append((o, h))
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).createOrReplaceTempView("hubclique_li")


def test_cap8_empties_on_hub_clique_graph(spark):
    from posting_lines_spark.queries.graph_q import (
        GRAPH_NEIGHBOR_CAP,
        _linkpred_core,
    )

    _hubclique_lineitem(spark)
    rows = spark.sql(
        "WITH " + _linkpred_core("hubclique_li", GRAPH_NEIGHBOR_CAP)
    ).collect()
    assert rows == [], (
        "cap=8 must reproduce the skew01 failure mode (0 candidates) "
        "on the hub-clique fixture — if this starts returning rows the "
        "parity-demo/production-cap split no longer demonstrates "
        "anything"
    )


def test_cap64_returns_true_topk_on_hub_clique_graph(spark):
    from posting_lines_spark.queries.graph_q import (
        GRAPH_NEIGHBOR_CAP_PROD,
        _linkpred_core,
    )

    _hubclique_lineitem(spark)
    rows = spark.sql(
        "WITH " + _linkpred_core("hubclique_li", GRAPH_NEIGHBOR_CAP_PROD)
    ).collect()
    assert len(rows) == 20, "production cap must keep real candidates"
    # the real candidates are tail-tail pairs: 9 shared heads, no
    # direct edge, exact Jaccard 9/(9+9-9) = 1.0
    for r in rows:
        assert r["id_a"] >= 100 and r["id_b"] >= 100
        assert r["common_neighbors"] == N_HEADS
        assert r["jaccard"] == 1.0
        assert r["neighbor_cap"] == GRAPH_NEIGHBOR_CAP_PROD
    # truncation is still reported honestly: all 9 heads exceed cap=64
    # (degree 8 + 30 tails = 38 < 64 -> actually NOT truncated here);
    # capped_nodes must be exact either way
    assert all(r["capped_nodes"] == 0 for r in rows)
    # and the top-20 equals the UNCAPPED top-20 (cap wide enough that
    # nothing the ranking uses was pruned on this graph)
    uncapped = spark.sql("WITH " + _linkpred_core("hubclique_li")).collect()
    key = lambda rs: [  # noqa: E731
        (r["id_a"], r["id_b"], r["common_neighbors"], r["jaccard"]) for r in rs
    ]
    assert key(rows) == key(uncapped)


def test_cap64_registered_with_oracle_row(spark):
    """The production cap is a first-class registry entry (driver-gated
    every round), not SCALE.md prose."""
    from posting_lines_spark.queries import load_all

    reg = load_all()
    spec = reg["graph_linkpred_cap64"]
    assert spec.oracle is not None
    df = spec.fn(spark, SF0001)
    rows = df.collect()
    assert {"id_a", "id_b", "jaccard", "capped_nodes", "neighbor_cap"} <= set(
        df.columns
    )
    assert all(r["neighbor_cap"] == 64 for r in rows)


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


# ---- ADVICE r13: skew_pressure._timed distinguishes failure/timeout ----


def test_timed_reraises_genuine_failures(spark):
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from skew_pressure import _timed

    def boom():
        raise ValueError("genuine failure, not a timeout")

    with pytest.raises(ValueError, match="genuine failure"):
        _timed(spark, "t14-boom", boom, timeout_s=60.0)

    sec, res, timed_out = _timed(spark, "t14-ok", lambda: 42, timeout_s=60.0)
    assert res == 42 and timed_out is False and sec is not None


# ---- ADVICE r13: stats_ad_uniform emits the TRUE reference bounds ----


def test_ad_uniform_ref_bounds_are_continuity_corrected(spark):
    """ref_lo/ref_hi must be the endpoints of the reference actually
    tested against — Uniform[a-1/2, b+1/2] on the cents grid, i.e.
    (2a-1)/200 and (2b+1)/200 in dollars — not the bare sample min/max."""
    from posting_lines_spark.queries import load_all

    reg = load_all()
    row = reg["stats_ad_uniform"].fn(spark, SF0001).collect()[0]
    import duckdb

    con = duckdb.connect()
    a, b = con.execute(
        "SELECT min(CAST(round(value*100e0) AS BIGINT)),"
        "       max(CAST(round(value*100e0) AS BIGINT)) "
        f"FROM read_parquet('{SF0001}/events.parquet') "
        "WHERE event_type = 'purchase'"
    ).fetchone()
    assert row["ref_lo"] == (2 * a - 1) / 200.0
    assert row["ref_hi"] == (2 * b + 1) / 200.0


# ---- baseline JPEG codec (VERDICT r13 item 4: the boundary shrinks
# to MP3/H.264) ----


def _rand_coeff_blocks(seed: int, n_mcu: int, ncomp: int):
    """Deterministic pseudo-random quantized coefficient blocks that
    exercise every entropy path: DC diffs across categories, AC values,
    zero runs > 16 (ZRL), trailing zeros (EOB), and full-density blocks
    (no EOB)."""
    import random

    rng = random.Random(seed)
    comp_blocks = []
    for c in range(ncomp):
        blocks = []
        for m in range(n_mcu):
            block = [0] * 64
            block[0] = rng.randint(-500, 500)  # DC categories up to 9
            style = (m + c) % 4
            if style == 0:
                pass  # DC-only: immediate EOB
            elif style == 1:
                block[63] = rng.choice([-1, 1])  # 62-zero run: 3x ZRL
            elif style == 2:
                for k in range(1, 64):  # dense: no EOB emitted
                    block[k] = rng.randint(-255, 255) or 1
            else:
                for _ in range(8):
                    block[rng.randint(1, 63)] = rng.randint(-1023, 1023)
            blocks.append(block)
        comp_blocks.append(blocks)
    return comp_blocks


def test_jpeg_coefficient_roundtrip_all_entropy_paths():
    """encode -> parse recovers every quantized coefficient exactly —
    the Huffman layer (categories, ZRL, EOB, byte stuffing, DC
    prediction per component) is lossless by construction."""
    from posting_lines_spark.operators import multimodal as mm

    for seed in (1, 2, 3):
        blocks = _rand_coeff_blocks(seed, n_mcu=6 * 4, ncomp=3)
        payload = mm.encode_jpeg_baseline(blocks, 48, 32)
        w, h, ncomp, quant, got = mm.parse_jpeg(payload)
        assert (w, h, ncomp) == (48, 32, 3)
        assert all(q == [1] * 64 for q in quant)
        assert got == blocks


def test_jpeg_grayscale_roundtrip():
    from posting_lines_spark.operators import multimodal as mm

    blocks = [_rand_coeff_blocks(9, 4, 1)[0]]
    payload = mm.encode_jpeg_baseline(blocks, 16, 16)
    w, h, ncomp, _, got = mm.parse_jpeg(payload)
    assert (w, h, ncomp) == (16, 16, 1)
    assert got == blocks
    # full decode emits (L,L,L) and a DC-only block is pixel-exact
    dc = [[0] * 64 for _ in range(4)]
    dc[0][0] = 40  # dequant 40, IDCT plane 5.0, +128 -> 133
    w, h, px = mm.decode_jpeg(mm.encode_jpeg_baseline([dc], 16, 16))
    assert px[0][0] == (133, 133, 133)


def test_jpeg_dc_only_lane_is_pixel_exact():
    """The registered lane's contract: decode(encode(md5 blocks))
    equals the closed-form YCbCr->RGB of the md5 values — the exact
    arithmetic the DuckDB oracle replays."""
    import hashlib
    import math

    from posting_lines_spark.operators import multimodal as mm

    def conv(y, cb, cr):
        r = math.floor(y + 1.402 * (cr - 128) + 0.5)
        g = math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)
        b = math.floor(y + 1.772 * (cb - 128) + 0.5)
        cl = lambda v: 0 if v < 0 else (255 if v > 255 else v)  # noqa: E731
        return (cl(r), cl(g), cl(b))

    for doc_id in (0, 7, 123456789):
        comp_blocks, vals = [[], [], []], []
        for b in range(4):
            dg = hashlib.md5(f"{doc_id}:{b}:jpg".encode()).digest()
            vals.append((dg[0], dg[1], dg[2]))
            for c in range(3):
                block = [0] * 64
                block[0] = dg[c] - 128
                comp_blocks[c].append(block)
        payload = mm.encode_jpeg_baseline(
            comp_blocks, mm.JPG_W, mm.JPG_H, mm._JPG_QL, mm._JPG_QL
        )
        w, h, px = mm.decode_jpeg(payload)
        assert (w, h) == (mm.JPG_W, mm.JPG_H)
        for r in range(h):
            for p in range(w):
                assert px[r][p] == conv(*vals[(r // 8) * 2 + (p // 8)])


def test_jpeg_corrupt_and_nonbaseline_failures():
    import pytest as _pytest

    from posting_lines_spark.operators import multimodal as mm

    # garbage bytes after a JPEG magic: PARSE error, never the stub
    with _pytest.raises(ValueError):
        mm.decode_jpeg(b"\xff\xd8\xff\xe0....jpeg....")
    # flipped entropy bytes: Huffman/structure error, loud not silent
    blocks = _rand_coeff_blocks(4, 4, 3)
    payload = bytearray(mm.encode_jpeg_baseline(blocks, 16, 16))
    payload[-10] ^= 0x55
    with _pytest.raises(ValueError):
        mm.parse_jpeg(bytes(payload))
    # progressive (SOF2) is the residual documented stub
    good = mm.encode_jpeg_baseline(blocks, 16, 16)
    with _pytest.raises(NotImplementedError, match="progressive"):
        mm.decode_jpeg(good.replace(b"\xff\xc0", b"\xff\xc2", 1))
    # truncated scan
    with _pytest.raises(ValueError):
        mm.parse_jpeg(good[: len(good) // 2])


def test_replay_multimodal_jpeg_rgb(spark):
    """Pure-Python replay of the registered lane at sf0.001: re-derive
    every doc's stats from md5 directly (no JPEG bytes, no SQL) and
    compare to the lane output exactly."""
    import hashlib
    import math

    from posting_lines_spark.queries import load_all

    def conv(y, cb, cr):
        r = math.floor(y + 1.402 * (cr - 128) + 0.5)
        g = math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)
        b = math.floor(y + 1.772 * (cb - 128) + 0.5)
        cl = lambda v: 0 if v < 0 else (255 if v > 255 else v)  # noqa: E731
        return (cl(r), cl(g), cl(b))

    got = load_all()["multimodal_jpeg_rgb"].fn(spark, SF0001).collect()
    span = [sum(range(lo + 1, lo + 9)) for lo in (0, 8)]
    for row in got:
        doc_id = row["doc_id"]
        sr = sg = sb = wl = 0
        for b in range(4):
            dg = hashlib.md5(f"{doc_id}:{b}:jpg".encode()).digest()
            r, g, bl = conv(dg[0], dg[1], dg[2])
            sr += 64 * r
            sg += 64 * g
            sb += 64 * bl
            wl += span[b // 2] * span[b % 2] * (2 * r + 5 * g + bl)
        assert (
            row["width"], row["height"], row["sum_r"], row["sum_g"],
            row["sum_b"], row["weighted_luma"],
        ) == (16, 16, sr, sg, sb, wl)


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
