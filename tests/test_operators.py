"""Unit tests for the extension operators: dedup, similarity, temporal
joins, multimodal plumbing, sources."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from posting_lines_spark.operators import dedup, multimodal, similarity as sim, temporal
from posting_lines_spark.operators.multimodal import PHASH_BITS
from tests.conftest import SF001


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDedup:
    def test_exact_dedup_groups_copies(self, spark):
        df = docs_df(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z")])
        out = {r.doc_id_kept: r.n_copies for r in dedup.exact_dedup(df, ["text"], "doc_id").collect()}
        assert out == {1: 2, 3: 1}

    def test_shingles(self, spark):
        df = docs_df(spark, [(1, "a b c d")])
        got = {r.shingle for r in dedup.shingles(df, "doc_id", "text", k=3).collect()}
        assert got == {"a b c", "b c d"}

    def test_identical_docs_same_signature_and_lsh_pair(self, spark):
        df = docs_df(spark, [(1, "the quick brown fox jumps over dogs"),
                             (2, "the quick brown fox jumps over dogs"),
                             (3, "completely different words here folks again")])
        sh = dedup.shingles(df, "doc_id", "text")
        sig = dedup.minhash_signature(sh, "doc_id", num_hashes=8)
        rows = {r.doc_id: tuple(r[i] for i in range(1, 9)) for r in sig.collect()}
        assert rows[1] == rows[2] != rows[3]
        pairs = dedup.lsh_candidate_pairs(sig, "doc_id", num_hashes=8, bands=4)
        verified = dedup.jaccard_verify(pairs, sh, "doc_id", threshold=0.99).collect()
        assert [(r.id_a, r.id_b, r.jaccard) for r in verified] == [(1, 2, 1.0)]

    def test_simhash_identical_zero_hamming(self, spark):
        df = docs_df(spark, [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
                             (3, "epsilon zeta eta theta iota kappa")])
        sig = dedup.simhash(df, "doc_id", "text", bits=32)
        pairs = dedup.simhash_near_pairs(sig, "doc_id", bits=32, max_hamming=3).collect()
        assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, 0)]

    def test_shingles_short_doc_empty_not_crash(self, spark):
        # docs with < k tokens must shingle to [] (DuckDB range(1,1) parity),
        # not raise INVALID_ARRAY_INDEX_IN_ELEMENT_AT from sequence(1, 0)
        df = docs_df(spark, [(1, "one two"), (2, "solo"), (3, "a b c d")])
        got = dedup.shingles(df, "doc_id", "text", k=3).collect()
        assert {r.doc_id for r in got} == {3}
        sig = dedup.minhash_signature(
            dedup.shingles(df, "doc_id", "text", k=3, distinct=False), "doc_id", 4
        ).collect()
        assert {r.doc_id for r in sig} == {3}

    def test_prefix_filter_join_equals_brute_force(self, spark):
        """PPJoin candidates must recover EVERY pair with Jaccard ≥ t —
        verified against the all-pairs join on a corpus with heavy
        boilerplate overlap (the case where prefixes prune the most)."""
        from tests.conftest import SF0001

        from posting_lines_spark.sources import load_table

        t = 0.5
        sh = dedup.shingles(
            load_table(spark, SF0001, "documents"), "doc_id", "text"
        ).localCheckpoint(eager=False)
        exact = dedup.jaccard_verify(
            dedup.prefix_filter_candidates(sh, "doc_id", t), sh, "doc_id", t
        )
        a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
        all_pairs = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        brute = dedup.jaccard_verify(all_pairs, sh, "doc_id", t)
        got = {(r.id_a, r.id_b, r.n_common) for r in exact.collect()}
        want = {(r.id_a, r.id_b, r.n_common) for r in brute.collect()}
        assert got == want

    def test_prefix_filter_prunes_boilerplate_shingles(self, spark):
        """The hottest shingle must not appear in any prefix when every
        doc also has rarer shingles — the fanout bound in action."""
        boiler = "x y z"  # shared 3-token boilerplate → 1 hot shingle
        rows = [(i, f"{boiler} u{i} v{i} w{i}") for i in range(40)]
        sh = dedup.shingles(docs_df(spark, rows), "doc_id", "text", k=3)
        from posting_lines_spark.operators.dedup import prefix_filter_candidates

        # reconstruct the prefix internally: candidates must be empty
        # because each doc's rare shingles are unique to it
        cand = prefix_filter_candidates(sh, "doc_id", 0.5)
        assert cand.count() == 0

    def test_hot_band_salting_is_output_equivalent(self, spark):
        # 120 identical docs (one giant band bucket per band, width 120 >
        # hot_width 16) + a distinct pair: the blocked self-join must
        # produce exactly the plain join's candidate set
        rows = [(i, "the same boilerplate sentence repeated everywhere") for i in range(120)]
        rows += [(200, "rare unique words one"), (201, "rare unique words one")]
        sig = dedup.minhash_signature(
            dedup.shingles(docs_df(spark, rows), "doc_id", "text", distinct=False),
            "doc_id",
            num_hashes=8,
        )
        plain = {
            (r.id_a, r.id_b)
            for r in dedup.lsh_candidate_pairs(sig, "doc_id", 8, 4).collect()
        }
        salted = {
            (r.id_a, r.id_b)
            for r in dedup.lsh_candidate_pairs(sig, "doc_id", 8, 4, hot_width=16).collect()
        }
        assert salted == plain
        assert (120 * 119) // 2 + 1 == len(plain)

    def test_stop_shingle_cap_bounds_boilerplate_fanout(self, spark):
        # 10 docs sharing ONLY a boilerplate footer shingle: uncapped, the
        # inverted index fans the footer out to 45 candidate pairs; with
        # the cap the footer is dropped and no candidates survive, while a
        # genuine near-dup pair (docs 100/101, all shingles shared) stays.
        rows = [(i, f"u{i}a u{i}b u{i}c legal footer text") for i in range(10)]
        rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta")]
        sh = dedup.shingles(docs_df(spark, rows), "doc_id", "text", k=3)
        capped = dedup.stop_shingle_cap(sh, "doc_id", max_df=5)
        pairs = dedup.jaccard_verify(
            capped.select(F.col("doc_id").alias("id_a"), "shingle")
            .join(capped.select(F.col("doc_id").alias("id_b"), "shingle"), "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct(),
            capped,
            "doc_id",
            threshold=0.01,
        ).collect()
        assert [(p.id_a, p.id_b) for p in pairs] == [(100, 101)]
        # uncapped, the boilerplate shingle alone creates 45 candidates
        uncapped_cands = (
            sh.select(F.col("doc_id").alias("id_a"), "shingle")
            .join(sh.select(F.col("doc_id").alias("id_b"), "shingle"), "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .count()
        )
        assert uncapped_cands == 45 + 1

    @pytest.mark.parametrize(
        "query",
        [
            "dedup_minhash_lsh",
            "dedup_incremental",
            "dedup_ppjoin",
            "dedup_minhash_estimate_audit",
            "dedup_lsh_band_sweep",
            "near_dup_pairs_writer",
        ],
    )
    def test_minhash_family_shingles_once(self, spark, monkeypatch, query):
        # every MinHash-family query reads ONE distinct shingle set:
        # signatures derive from it (MIN is duplicate-insensitive), so a
        # second explode+md5 pass would be wasted work
        from posting_lines_spark import fixtures
        from posting_lines_spark.queries import load_all
        from posting_lines_spark.queries.graph_q import _spark_pairs
        from tests.conftest import SF0001

        calls = []
        real = dedup.shingles

        def counted(*args, **kwargs):
            calls.append(kwargs.get("distinct", True))
            return real(*args, **kwargs)

        monkeypatch.setattr(dedup, "shingles", counted)
        if query == "near_dup_pairs_writer":
            # an empty fixture cache forces the pair table to be rewritten
            monkeypatch.setattr(fixtures, "_CACHE", {})
            _spark_pairs(spark, SF0001)
        else:
            load_all()[query].fn(spark, SF0001)
        assert calls == [True]

    def test_simhash_long_doc_matches_unpacked_python(self, spark):
        # 1500 distinct tokens/doc overflowed the old 10-bit vote lanes;
        # verify the packed 20-bit computation against an unpacked replay.
        import hashlib

        bits, toks = 16, [f"tok{i}" for i in range(1500)]
        df = docs_df(spark, [(1, " ".join(toks))])
        got = dedup.simhash(df, "doc_id", "text", bits=bits).collect()[0].simhash
        hashes = [int(hashlib.md5(f"simhash|{t}".encode()).hexdigest()[:15], 16) for t in toks]
        want = sum(
            1 << b
            for b in range(bits)
            if 2 * sum((h >> b) & 1 for h in hashes) > len(toks)
        )
        assert got == want


class TestSimilarity:
    def test_duplicate_vector_is_top1(self, spark):
        emb = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0]), (4, [0.5, 0.5, 0.0])],
            "vec_id long, embedding array<float>",
        )
        q = emb.filter("vec_id = 1")
        top = sim.brute_force_topk(emb, q, k=2).collect()
        assert top[0].vec_id == 2 and top[0].rank == 1
        assert abs(top[0].cosine - 1.0) < 1e-12

    def test_multiprobe_improves_recall(self, spark):
        from posting_lines_spark.sources import load_table
        from tests.conftest import SF0001

        emb = load_table(spark, SF0001, "embeddings")
        queries = emb.filter(F.col("vec_id") < 20)
        planes = sim.hyperplanes(spark, num_planes=6, dims=64)
        truth = {
            (r.query_id, r.vec_id)
            for r in sim.brute_force_topk(emb, queries, k=10).collect()
        }

        def recall(probes):
            got = {
                (r.query_id, r.vec_id)
                for r in sim.ivf_topk(
                    emb, queries, planes, k=10, probes=probes, num_planes=6
                ).collect()
            }
            return len(got & truth) / len(truth)

        r0, r1, r2 = recall(0), recall(1), recall(2)
        # deterministic data + deterministic planes → stable values
        assert r1 > r0, f"multi-probe recall {r1} not above single-probe {r0}"
        assert r2 > r1, f"Hamming-2 recall {r2} not above Hamming-1 {r1}"

    def test_ivf_bucket_join_contains_duplicate(self, spark):
        emb = spark.createDataFrame(
            [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2), 0.5]) for i in range(12)]
            + [(100, [1.0, 0.0, 0.0, 0.5])],
            "vec_id long, embedding array<float>",
        )
        planes = sim.hyperplanes(spark, num_planes=3, dims=4)
        q = emb.filter("vec_id = 100")
        out = sim.ivf_topk(emb, q, planes, k=5).collect()
        assert out, "query bucket should not be empty"
        assert out[0].vec_id in (0, 3, 6, 9)  # identical-direction vectors


class TestTemporal:
    def _events(self, spark):
        base = datetime.datetime(2024, 1, 1)
        mk = lambda s: base + datetime.timedelta(seconds=s)
        left = spark.createDataFrame(
            [(1, 1, mk(10)), (2, 1, mk(100)), (3, 2, mk(50))], "event_id long, user_id long, ts timestamp"
        )
        right = spark.createDataFrame(
            [(11, 1, mk(5), 1.5), (12, 1, mk(60), 2.5), (13, 3, mk(1), 9.9)],
            "event_id long, user_id long, ts timestamp, value double",
        )
        return left, right

    def test_as_of_join_latest_prior(self, spark):
        left, right = self._events(spark)
        out = {r.event_id: r.asof_value for r in
               temporal.as_of_join(left, right, "user_id", "ts", ["value"]).collect()}
        # event 1 (t=10) ← right t=5 (1.5); event 2 (t=100) ← right t=60 (2.5);
        # event 3 (user 2) has no right rows → NULL
        assert out == {1: 1.5, 2: 2.5, 3: None}

    def test_as_of_join_tolerance(self, spark):
        left, right = self._events(spark)
        out = {r.event_id: r.asof_value for r in
               temporal.as_of_join(left, right, "user_id", "ts", ["value"],
                                   tolerance_us=10_000_000).collect()}
        # event 1: 5s old → within 10s tolerance; event 2: 40s old → dropped
        assert out == {1: 1.5, 2: None, 3: None}

    def test_as_of_join_left_column_collision_preserved(self, spark):
        # a left column named like an entry of right_cols must come back
        # untouched (the old implementation clobbered it to NULL)
        base = datetime.datetime(2024, 1, 1)
        mk = lambda s: base + datetime.timedelta(seconds=s)
        left = spark.createDataFrame(
            [(1, 1, mk(10), 111.0)], "event_id long, user_id long, ts timestamp, value double"
        )
        right = spark.createDataFrame(
            [(1, mk(5), 1.5)], "user_id long, ts timestamp, value double"
        )
        row = temporal.as_of_join(left, right, "user_id", "ts", ["value"]).collect()[0]
        assert row.value == 111.0 and row.asof_value == 1.5

    def test_range_join_half_open(self, spark):
        base = datetime.datetime(2024, 1, 1)
        mk = lambda s: base + datetime.timedelta(seconds=s)
        left = spark.createDataFrame([(1, mk(0))], "lid long, lts timestamp")
        right = spark.createDataFrame(
            [(10, mk(0)), (11, mk(59)), (12, mk(60)), (13, mk(-1))], "rid long, rts timestamp"
        )
        out = temporal.range_join_bucketed(left, right, "lts", "rts", 0, 60_000_000)
        got = sorted(r.rid for r in out.collect())
        assert got == [10, 11]  # [lower, upper): 60s excluded, -1s excluded


class TestMultimodal:
    def test_feature_extraction_matches_bytes(self, spark):
        df = spark.createDataFrame([(1, "hi"), (2, "abc")], "doc_id long, text string")
        media = multimodal.attach_payload(df)
        feats = {r.doc_id: (r.n_bytes, r.first_byte, r.last_byte)
                 for r in multimodal.extract_features(media).collect()}
        assert feats == {1: (2, ord("h"), ord("i")), 2: (3, ord("a"), ord("c"))}

    def test_decode_mode_is_stubbed(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(NotImplementedError):
            multimodal.extract_features(multimodal.attach_payload(df), mode="decode")


class TestSources:
    def test_csv_roundtrip(self, spark, tmp_path):
        from posting_lines_spark.sources import load_csv

        p = str(tmp_path / "t.csv")
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").write.option(
            "header", "true"
        ).csv(p)
        back = load_csv(spark, p, schema="id long, s string")
        assert sorted((r.id, r.s) for r in back.collect()) == [(1, "a"), (2, "b")]


class TestSkew:
    def test_salted_join_equals_plain_join(self, spark):
        from posting_lines_spark.operators.skew import salted_join

        left = spark.createDataFrame(
            [(1, i) for i in range(100)] + [(2, 0), (3, 7)], "k long, payload long"
        )
        right = spark.createDataFrame([(1, "hot"), (2, "warm"), (4, "unused")], "k long, tag string")
        plain = left.join(right, "k").select("k", "payload", "tag")
        salted = salted_join(left, right, "k", salt_n=4).select("k", "payload", "tag")
        assert plain.exceptAll(salted).count() == 0
        assert salted.exceptAll(plain).count() == 0


class TestBucketing:
    def test_bucketed_join_avoids_shuffle(self, spark, tmp_path):
        """bucketBy co-locates join keys at write time so the later join
        plans without a shuffle on either side (SURVEY.md P6-adjacent;
        pyspark guide 'Partitioning & shuffle')."""
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
        try:
            a = spark.range(0, 10000).withColumnRenamed("id", "k")
            b = spark.range(0, 10000).withColumnRenamed("id", "k")
            a.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_a")
            b.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_b")
            joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan[:2000]
            assert joined.count() == 10000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
            spark.sql("DROP TABLE IF EXISTS bkt_a")
            spark.sql("DROP TABLE IF EXISTS bkt_b")


class TestGraph:
    def test_connected_components_chain_and_triangle(self, spark):
        from posting_lines_spark.operators.graph import connected_components, dedup_groups

        # chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
            "id_a long, id_b long",
        )
        comp = {r.node: r.component for r in connected_components(edges).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
        groups = {r.component: (r.n_members, r.survivor, r.n_drops)
                  for r in dedup_groups(connected_components(edges)).collect()}
        assert groups == {1: (4, 1, 3), 10: (3, 10, 2), 20: (2, 20, 1)}


def test_stream_stream_join_multibatch_watermark_eviction(spark, tmp_path):
    """Pin the eviction semantics the stream-stream join documents — and
    their exact boundary, measured on the engine: with
    maxFilesPerTrigger=1 each source file is its own micro-batch. The
    watermark advanced by batch 1 evicts join state, so a late click
    arriving in batch 2 cannot match its purchase arriving in batch 3
    (cross-batch match against evicted state) — that drop is the bounded-
    state guarantee. NOTE a late PAIR arriving together in ONE batch
    still matches (symmetric hash join probes same-batch rows before
    eviction; verified in round 3) — cross-batch eviction, not late-input
    filtering, is the contract. The batch interval join would emit all
    four pairs; streaming must emit exactly three."""
    import os
    import time

    from posting_lines_spark.streaming import incremental

    def ev(eid, uid, etype, minute):
        return (eid, uid, etype, datetime.datetime(2026, 1, 1, 0, 0) + datetime.timedelta(minutes=minute))

    schema = "event_id long, user_id long, event_type string, ts timestamp"
    # batch 1: pairs (1,2), (3,4); watermark (10 min) after it ≈ 01:50
    # (min over sides: clicks max 02:00, purchases max 02:04)
    batches = [
        [ev(1, 10, "click", 0), ev(2, 10, "purchase", 2),
         ev(3, 11, "click", 120), ev(4, 11, "purchase", 124)],
        # batch 2: click 5 @00:01 is far behind the watermark (its state
        # is evicted at batch end); click 7 @02:30 is on time
        [ev(5, 12, "click", 1), ev(7, 13, "click", 150)],
        # batch 3: purchase 6 @00:03 finds click 5's state gone → no
        # match; purchase 8 @02:32 matches retained click 7
        [ev(6, 12, "purchase", 3), ev(8, 13, "purchase", 152)],
    ]
    src = str(tmp_path / "src")
    seen: set[str] = set()
    base_t = time.time()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).repartition(1).write.mode("append").parquet(src)
        # FileStreamSource replays files oldest-mtime-first: pin each
        # write's new part files to a strictly increasing mtime
        for name in os.listdir(src):
            p = os.path.join(src, name)
            if name.endswith(".parquet") and name not in seen:
                os.utime(p, (base_t + 10 * i, base_t + 10 * i))
                seen.add(name)

    res = incremental.stream_stream_join_append_parquet(
        spark,
        None,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        horizon="5 minutes",
        watermark="10 minutes",
        src_dir=src,
        max_files_per_trigger=1,
    )
    pairs = {(r.left_id, r.right_id) for r in res.collect()}
    assert pairs == {(1, 2), (3, 4), (7, 8)}, pairs  # (5, 6) dropped by eviction


def test_stream_quantile_hist_batching_invariance(spark, tmp_path):
    """The mergeable-sketch claim, pinned end to end: because each
    micro-batch appends a PARTIAL histogram and the merge is plain
    integer addition (exact, associative, commutative), the final
    quantile rows must be BIT-IDENTICAL no matter how the stream was
    batched. Drain the same values as 1 micro-batch and as 8, compare
    the full result rows bit-for-bit (round-3 verdict #9)."""
    from pyspark.sql import functions as F

    from posting_lines_spark.queries.stream_q import _SQH_BIN, _sqh_tail
    from posting_lines_spark.sources import load_table
    from tests.conftest import SF0001

    events = load_table(spark, SF0001, "events")
    events.createOrReplaceTempView("events")

    def drain(n_files: int) -> list:
        src = str(tmp_path / f"src_{n_files}")
        out = str(tmp_path / f"out_{n_files}")
        ckpt = str(tmp_path / f"ckpt_{n_files}")
        events.select("value").repartition(n_files).write.parquet(src)
        schema = spark.read.parquet(src).schema

        def per_batch(batch_df, epoch_id):
            (
                batch_df.selectExpr(f"{_SQH_BIN} AS bin")
                .groupBy("bin")
                .agg(F.count(F.lit(1)).alias("n"))
                .write.mode("append")
                .parquet(out)
            )

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(per_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_batches = spark.read.parquet(out).groupBy("bin").count().agg(
            F.max("count")
        ).first()[0]
        spark.read.parquet(out).createOrReplaceTempView("sqh_partials")
        rows = spark.sql(
            _sqh_tail(
                "SELECT bin, CAST(sum(n) AS BIGINT) AS n "
                "FROM sqh_partials GROUP BY bin"
            )
        ).collect()
        return n_batches, [tuple(r) for r in rows]

    n1, one_batch = drain(1)
    n8, eight_batches = drain(8)
    assert n1 == 1 and n8 > 1, "the 8-file drain must really multi-batch"
    assert one_batch == eight_batches  # bit-for-bit, incl. the bound flag


def test_cw_minhash_sql_matches_python_mirror(spark):
    """The Spark-side CW mix (limbs from md5, integer mix) must equal the
    pure-Python mirror bit-for-bit — the same property the DuckDB oracle
    relies on, pinned engine-side."""
    import hashlib

    from posting_lines_spark.functions.hashing import (
        CW_MOD,
        cw_constants,
        cw_mix_sql,
        md5_limb_spark,
    )

    toks = ["alpha beta", "x", "", "Straße-ascii-not", "VESSEL_42"]
    df = spark.createDataFrame([(t,) for t in toks], "shingle string")
    d = df.withColumn("__d", F.expr("md5(concat('mh|', shingle))")).withColumns(
        {f"__l{i}": F.expr(md5_limb_spark("__d", i)) for i in range(4)}
    )
    limbs = [f"__l{i}" for i in range(4)]
    out = d.select(
        "shingle", *[F.expr(cw_mix_sql(limbs, j)).alias(f"h{j}") for j in range(12)]
    ).collect()

    for row in out:
        dig = hashlib.md5(f"mh|{row.shingle}".encode()).hexdigest()
        lm = [int(dig[i * 8 : (i + 1) * 8], 16) for i in range(4)]
        for j in range(12):
            a = cw_constants(j)
            want = (sum(a[i] * lm[i] for i in range(4)) + j) % CW_MOD
            assert row[f"h{j}"] == want, (row.shingle, j)


class TestPQ:
    def test_pq_full_rerank_equals_brute_force(self, spark):
        """With rerank >= n the ADC stage is a pure candidate pass-through
        and the exact re-rank must reproduce brute force bit-for-bit —
        pins that PQ's join/fold plumbing loses no candidates and scores
        with the same cosine kernel (data-independent property)."""
        from posting_lines_spark.queries.vectors_q import PQ_KPRIME, PQ_M, PQ_SUBDIM
        from posting_lines_spark.sources import load_table
        from tests.conftest import SF0001

        emb = load_table(spark, SF0001, "embeddings")
        n = emb.count()
        queries = emb.filter(F.col("vec_id") < 5)
        subs = sim.pq_subvectors(emb, PQ_M, PQ_SUBDIM)
        codebook = subs.filter(F.col("vec_id") < PQ_KPRIME).select(
            "m", F.col("vec_id").alias("code"), F.col("sub").alias("cent")
        )
        codes = sim.pq_encode(subs, codebook)
        dtable = (
            subs.filter(F.col("vec_id") < 5)
            .withColumnRenamed("vec_id", "query_id")
            .join(F.broadcast(codebook), "m")
            .select("query_id", "m", "code",
                    F.expr(sim.l2sq_spark("sub", "cent")).alias("qd"))
        )
        got = sorted(
            (r.query_id, r.vec_id, r.cosine, r.rank)
            for r in sim.pq_adc_topk(codes, dtable, emb, queries, 10, rerank=n).collect()
        )
        want = sorted(
            (r.query_id, r.vec_id, r.cosine, r.rank)
            for r in sim.brute_force_topk(emb, queries, k=10).collect()
        )
        assert got == want

    def test_pq_beats_random_candidate_floor(self, spark):
        """ADC recall at a 10% rerank budget must clearly beat the 10%
        random-candidate expectation (measured ~5× above it; asserted
        loosely so the pin survives testdata regeneration)."""
        from posting_lines_spark.queries.vectors_q import PQ_KPRIME, PQ_M, PQ_SUBDIM
        from posting_lines_spark.sources import load_table
        from tests.conftest import SF0001

        emb = load_table(spark, SF0001, "embeddings")
        queries = emb.filter(F.col("vec_id") < 20)
        truth = {
            (r.query_id, r.vec_id)
            for r in sim.brute_force_topk(emb, queries, k=10).collect()
        }
        subs = sim.pq_subvectors(emb, PQ_M, PQ_SUBDIM)
        codebook = subs.filter(F.col("vec_id") < PQ_KPRIME).select(
            "m", F.col("vec_id").alias("code"), F.col("sub").alias("cent")
        )
        codes = sim.pq_encode(subs, codebook)
        dtable = (
            subs.filter(F.col("vec_id") < 20)
            .withColumnRenamed("vec_id", "query_id")
            .join(F.broadcast(codebook), "m")
            .select("query_id", "m", "code",
                    F.expr(sim.l2sq_spark("sub", "cent")).alias("qd"))
        )
        got = {
            (r.query_id, r.vec_id)
            for r in sim.pq_adc_topk(codes, dtable, emb, queries, 10, rerank=50).collect()
        }
        recall = len(got & truth) / len(truth)
        assert recall > 0.25, f"PQ recall {recall} not above the random floor"


def test_minhash_index_stream_batching_invariance(spark, tmp_path):
    """Continuous index maintenance must be batching-invariant: every
    pair is discovered exactly once (when its later member arrives), so
    draining the corpus as 1 file or as 5 files yields the SAME verified
    pair rows bit-for-bit — and both equal the one-shot batch pipeline."""
    from posting_lines_spark.operators import dedup
    from posting_lines_spark.queries.dedup_q import (
        BANDS,
        JACCARD_T,
        NEAR_BASE_SPARK,
        NUM_HASHES,
    )
    from posting_lines_spark.sources import load_table
    from posting_lines_spark.streaming import incremental
    from tests.conftest import SF0001

    load_table(spark, SF0001, "documents").createOrReplaceTempView("documents")
    base = spark.sql(NEAR_BASE_SPARK).filter(F.col("doc_id") % 7 < 2)

    def drain(n_files: int, tag: str):
        src = str(tmp_path / f"src_{tag}")
        for k in range(n_files):
            base.filter(F.col("doc_id") % n_files == k).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        pairs = incremental.minhash_index_stream(
            spark,
            src,
            str(tmp_path / f"state_{tag}"),
            str(tmp_path / f"ckpt_{tag}"),
            NUM_HASHES,
            BANDS,
            JACCARD_T,
        )
        return sorted((r.id_a, r.id_b, r.n_common, r.jaccard) for r in pairs.collect())

    one, five = drain(1, "one"), drain(5, "five")
    assert one == five and len(one) > 0

    sig = dedup.minhash_signature(
        dedup.shingles(base, "doc_id", "text", distinct=False), "doc_id", NUM_HASHES
    )
    cand = dedup.lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BANDS)
    sh = dedup.shingles(base, "doc_id", "text")
    batch = sorted(
        (r.id_a, r.id_b, r.n_common, r.jaccard)
        for r in dedup.jaccard_verify(cand, sh, "doc_id", JACCARD_T).collect()
    )
    assert one == batch


def test_cdc_chunking_is_insertion_tolerant():
    """The content-defined property, pinned: inserting one byte mid-doc
    re-chunks only the neighborhood of the edit — the digest multisets
    before/after differ in a handful of chunks, not everything after the
    edit (fixed-offset chunking would shift every later chunk). Runs the
    same SQL the oracle uses, on DuckDB only (no session needed)."""
    import duckdb

    from posting_lines_spark.functions.hashing import md5_int_duck
    from posting_lines_spark.queries.stream_q import _CDC_GRAMS_DUCK, _cdc_sql

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW base AS SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet') WHERE doc_id = 7"
    )
    # per-chunk digests (not the registered summary): reuse the chain up
    # to `content` by rewriting the tail
    chain = _cdc_sql(_CDC_GRAMS_DUCK, md5_int_duck("gram", salt="cdc"))
    chain = chain[: chain.index("uniq AS")] + "x AS (SELECT 1)\nSELECT digest FROM content"

    def digests(view_sql: str) -> list[str]:
        con.sql(f"CREATE OR REPLACE VIEW documents AS {view_sql}")
        return sorted(r[0] for r in con.sql(chain).fetchall())

    before = digests("SELECT * FROM base")
    after = digests(
        "SELECT doc_id, substr(text, 1, 200) || 'X' || substr(text, 201) AS text FROM base"
    )
    assert len(before) > 6, "doc too short to exercise chunking"
    from collections import Counter

    diff = Counter(before) - Counter(after) | Counter(after) - Counter(before)
    changed = sum(diff.values())
    assert changed <= 6, (
        f"insertion changed {changed} chunks of {len(before)} — boundaries "
        "are not content-defined"
    )
    # and most chunks survived verbatim
    assert len(Counter(before) & Counter(after)) >= len(before) - 4


def test_stateful_attribution_state_writes_scale_with_touched_users(spark):
    """Pins the scale property of stream_attribution_stateful (round-4
    verdict #7): the state store persists per-batch DELTAS, so each
    micro-batch's numRowsUpdated is bounded by the users that batch
    actually TOUCHED — never the full user corpus the foreachBatch twin
    rewrites every epoch. Slices are mtime-ordered, so progress batch i
    corresponds to slice file i."""
    import os

    from posting_lines_spark.fixtures import scratch_dir
    from posting_lines_spark.queries.stream_q import (
        _ATTR_TOUCH_TYPES,
        _attr_stateful_run,
        _event_slices_src,
    )
    from posting_lines_spark.sources import load_table
    from tests.conftest import SF0001

    src = _event_slices_src(spark, SF0001)
    _credits, q = _attr_stateful_run(
        spark, src, scratch_dir("pls_attrscale_ckpt_"), scratch_dir("pls_attrscale_out_")
    )
    batches = [
        p for p in q.recentProgress if p.get("stateOperators") and p["numInputRows"] > 0
    ]
    assert len(batches) == 4, f"expected 4 slice batches, got {len(batches)}"

    events = load_table(spark, SF0001, "events")
    total_users = events.select("user_id").distinct().count()
    # per-slice touched-user counts, in slice (mtime) order
    files = sorted(
        (os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    assert len(files) == 4
    touched = [
        spark.read.parquet(f)
        .filter(F.col("event_type").isin(list(_ATTR_TOUCH_TYPES)))
        .select("user_id")
        .distinct()
        .count()
        for f in files
    ]
    updated = [b["stateOperators"][0]["numRowsUpdated"] for b in batches]
    for i, (u, t) in enumerate(zip(updated, touched)):
        assert u <= t, f"batch {i}: {u} state writes > {t} touched users"
    # and the corpus-shaped cost the twin avoids: later batches must NOT
    # rewrite all users (only first-touch movers update after batch 0)
    assert sum(updated) < 4 * total_users
    assert updated[0] > 0


def test_global_row_number_equals_window_and_parallelizes(spark):
    """The two-pass distributed ranker must produce EXACTLY the
    single-partition window's ranks on a total order, and its plan must
    rank inside range partitions (no Exchange SinglePartition feeding
    the row_number window)."""
    from pyspark.sql import functions as F

    from posting_lines_spark.operators.ranking import global_row_number

    df = spark.range(0, 10000).selectExpr(
        "id", "CAST(id % 977 AS STRING) AS k"  # dense dup keys, id tiebreak
    )
    got = global_row_number(df, ["k", "id"], num_partitions=7)
    expected = df.selectExpr(
        "id", "k", "CAST(row_number() OVER (ORDER BY k, id) AS BIGINT) AS rnk"
    )
    assert got.select("id", "rnk").exceptAll(expected.select("id", "rnk")).count() == 0
    assert got.count() == 10000
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan[:2000]
    assert "Window" in plan


# --- distributed running sums ---


def test_global_running_sums_matches_sequential(spark):
    import random

    from posting_lines_spark.operators.ranking import global_running_sums

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 5), rng.randint(-3, 3)) for i in range(1000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["k", "a", "b"]).repartition(8)
    out = {
        r.k: (r.run_a, r.run_b)
        for r in global_running_sums(df, ["k"], ["a", "b"]).collect()
    }
    ca = cb = 0
    for k, a, b in sorted(rows):
        ca += a
        cb += b
        assert out[k] == (ca, cb)


def _phash_py(payload: bytes) -> int:
    """Independent replay of operators/multimodal.phash48 byte math."""
    n = len(payload)
    if n == 0:
        return 0
    pos = [k * (n - 1) // (PHASH_BITS - 1) for k in range(PHASH_BITS)]
    smp = [payload[p] for p in pos]
    s = sum(smp)
    h = 0
    for k, v in enumerate(smp):
        if v * PHASH_BITS > s:
            h |= 1 << k
    return h


def test_phash48_matches_python_replay(spark):
    from posting_lines_spark.operators import multimodal
    from posting_lines_spark.sources import load_table

    d = load_table(spark, SF001, "documents").limit(200)
    got = {
        r["doc_id"]: r["phash"]
        for r in multimodal.phash48(multimodal.attach_payload(d)).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in d.select("doc_id", "text").collect()}
    assert got and set(got) == set(texts)
    for doc_id, text in texts.items():
        assert got[doc_id] == _phash_py(text.encode("utf-8")), doc_id


# ---- real BMP/WAV decode (VERDICT r11 item 5: the codec stub shrinks
# to compressed formats only) ----


def test_bmp_roundtrip_with_padding_and_flip():
    from posting_lines_spark.operators import multimodal as mm

    # width 3 -> 9-byte rows padded to 12: pad bytes must be stripped
    px = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
        [(1, 2, 3), (4, 5, 6), (7, 8, 9)],
    ]
    blob = mm.encode_bmp(px)
    w, h, out = mm.decode_bmp(blob)
    assert (w, h) == (3, 2)
    assert out == px  # top-down order restored from bottom-up storage
    # the stored raster really is bottom-up: first stored pixel is the
    # LAST top-down row's first pixel, as B,G,R
    import struct

    (off,) = struct.unpack("<I", blob[10:14])
    assert blob[off : off + 3] == bytes((3, 2, 1))


def test_bmp_decode_rejects_compressed():
    import struct

    from posting_lines_spark.operators import multimodal as mm

    blob = bytearray(mm.encode_bmp([[(0, 0, 0)]]))
    blob[30:34] = struct.pack("<I", 1)  # BI_RLE8
    with pytest.raises(NotImplementedError):
        mm.decode_bmp(bytes(blob))
    with pytest.raises(ValueError):
        mm.decode_bmp(b"PNG....")


def test_wav_roundtrip_and_chunk_walking():
    import struct

    from posting_lines_spark.operators import multimodal as mm

    samples = [0, 1, -1, 32767, -32768, 1234]
    blob = mm.encode_wav(samples, rate=8000)
    assert mm.decode_wav(blob) == (8000, samples)

    # real parsers must SKIP unknown chunks (word-aligned): splice an
    # odd-sized LIST chunk between fmt and data
    fmt_end = 12 + 8 + 16
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad byte
    spliced = blob[:fmt_end] + junk + blob[fmt_end:]
    spliced = (
        spliced[:4]
        + struct.pack("<I", len(spliced) - 8)
        + spliced[8:]
    )
    assert mm.decode_wav(spliced) == (8000, samples)


def test_wav_decode_rejects_compressed():
    import struct

    from posting_lines_spark.operators import multimodal as mm

    blob = bytearray(mm.encode_wav([1, 2, 3]))
    blob[20:22] = struct.pack("<H", 85)  # fmt code 85 = MP3
    with pytest.raises(NotImplementedError):
        mm.decode_wav(bytes(blob))
    with pytest.raises(ValueError):
        mm.decode_wav(b"OggS....")


def test_bmp_luma_weighted_checksum_detects_row_flip(spark):
    """If the decoder forgot the bottom-up flip, sum_r/g/b would still
    match (order-invariant) but weighted_luma would not — verify the
    weights genuinely distinguish orientations."""
    from posting_lines_spark.operators import multimodal as mm

    px = [[(9, 0, 0)], [(1, 0, 0)]]  # 1×2: top row != bottom row
    w, h, out = mm.decode_bmp(mm.encode_bmp(px))
    top_down = sum(
        (r + 1) * 1 * (2 * out[r][0][0]) for r in range(h)
    )
    flipped = sum(
        (r + 1) * 1 * (2 * out[h - 1 - r][0][0]) for r in range(h)
    )
    assert top_down != flipped


def test_png_roundtrip_all_filters_rgb_rgba():
    import hashlib

    from posting_lines_spark.operators.multimodal import decode_png, encode_png

    for bpp in (3, 4):
        px = [
            [
                tuple(hashlib.md5(f"{r}:{p}:{bpp}".encode()).digest()[:bpp])
                for p in range(5)
            ]
            for r in range(8)
        ]
        for filters in ([0] * 8, [1] * 8, [2] * 8, [3] * 8, [4] * 8,
                        [r % 5 for r in range(8)]):
            data = encode_png(px, list(filters))
            w, h, out = decode_png(data)
            assert (w, h) == (5, 8) and out == px, (bpp, filters)


def test_png_crc_corruption_rejected():
    from posting_lines_spark.operators.multimodal import decode_png, encode_png

    data = bytearray(encode_png([[(1, 2, 3)] * 4] * 4))
    data[40] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(data))


def test_png_unsupported_shapes_raise_not_implemented():
    import struct
    import zlib

    from posting_lines_spark.operators.multimodal import (
        _png_chunk,
        decode_png,
    )

    # palette PNG (color type 3) — requires PLTE handling we honestly
    # don't implement; must hit the documented boundary, not misparse
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        decode_png(payload)
    with pytest.raises(ValueError):
        decode_png(b"GIF89a not a png")


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


@pytest.mark.parametrize("mode", ["lazy", "eager", "durable"])
def test_cut_is_lazy_or_eager_and_truncates(spark, mode):
    """`cut` must cut lineage (LogicalRDD), materialize only when asked
    to (`eager`, implied by `durable`), store a local cut serialized and
    spillable, write a durable cut under the session's checkpoint dir,
    and preserve rows exactly."""
    from posting_lines_spark.operators.cuts import cut

    df = spark.range(100).selectExpr("id AS u", "id % 7 AS v")
    out = cut(df, eager=mode == "eager", durable=mode == "durable")
    plan = out._jdf.queryExecution().analyzed()
    assert "LogicalRDD" in plan.toString()
    rdd = plan.rdd()
    assert rdd.isCheckpointed() == (mode != "lazy")
    if mode == "durable":
        ckpt_dir = spark.sparkContext.getCheckpointDir()
        assert rdd.getCheckpointFile().get().startswith(ckpt_dir + "/")
    else:
        level = rdd.getStorageLevel()
        assert level.useMemory() and level.useDisk() and not level.deserialized()
    assert sorted(r["v"] for r in out.collect()) == sorted(
        r["v"] for r in df.collect()
    )
    assert rdd.isCheckpointed()
