"""Text-family tests (`queries/text_q.py`, `functions/strdist.py`):
tokenizers, BPE, string distances, language and vocabulary statistics
replayed in plain Python.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from tests.conftest import SF0001, _docs, _dsum, _md5_int, _run, _tbl, row_key


def test_feature_hashing_matches_hashlib_replay(spark):
    """The signed hashing trick replayed with hashlib: same index, same
    sign, same cancelled-out zero weights."""
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import FH_DIM

    docs = _docs(SF0001)
    expected: dict = {}
    for d in docs:
        if d["doc_id"] % 10 != 0:
            continue
        for tok in d["text"].split(" "):
            hx = hashlib.md5(f"fh|{tok}".encode()).hexdigest()
            idx = int(hx[:15], 16) % FH_DIM
            sgn = 1 if int(hx[15:30], 16) % 2 == 0 else -1
            k = (d["doc_id"], idx)
            expected[k] = expected.get(k, 0) + sgn
    expected = {k: v for k, v in expected.items() if v != 0}
    got = {
        (r.doc_id, r.idx): r.w
        for r in load_all()["feature_hashing"].fn(spark, SF0001).collect()
    }
    assert got == expected and got


# --- winnowing ---


def _winnow_expected(text: str, k: int, w: int) -> set[tuple[int, int]]:
    toks = text.split(" ")
    if len(toks) < k:
        return set()
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [_md5_int(g, "wn") for g in grams]
    n = len(grams)
    out = set()
    for t in range(w - 1, n):  # 0-based window end
        window = [(hs[p], -p) for p in range(t - w + 1, t + 1)]
        h, negp = min(window)
        out.add((-negp + 1, h))  # 1-based pos
    return out


def test_winnow_matches_bruteforce(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import WNW_K, WNW_W

    docs = pq.read_table(f"{SF0001}/documents.parquet").to_pylist()
    expected = set()
    for d in docs:
        for pos, h in _winnow_expected(d["text"], WNW_K, WNW_W):
            expected.add((d["doc_id"], pos, h))
    got = {
        (r.doc_id, r.pos, r.fingerprint)
        for r in load_all()["text_winnow_fingerprint"].fn(spark, SF0001).collect()
    }
    assert got == expected
    # density sanity: guarantee bound says ~2/(w+1) of k-grams selected
    n_grams = sum(max(len(d["text"].split(" ")) - WNW_K + 1, 0) for d in docs)
    assert 0 < len(got) < n_grams


# --- BPE pair counts ---


def test_bpe_pairs_match_bruteforce(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import BPE_TOP

    docs = pq.read_table(f"{SF0001}/documents.parquet", columns=["text"]).to_pylist()
    words = Counter()
    for d in docs:
        for w in d["text"].split(" "):
            if len(w) >= 2:
                words[w] += 1
    pairs = Counter()
    for w, freq in words.items():
        for i in range(len(w) - 1):
            pairs[w[i : i + 2]] += freq
    expected = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP]
    got = [
        (r.pair, r.n_occurrences)
        for r in load_all()["text_bpe_pair_counts"].fn(spark, SF0001).collect()
    ]
    assert got == expected


# --- PMI collocations ---


def test_pmi_matches_bruteforce(spark):
    from posting_lines_spark.functions.dmath import dln_int_py
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import PMI_MIN_COUNT, PMI_TOP

    docs = pq.read_table(f"{SF0001}/documents.parquet", columns=["text"]).to_pylist()
    big = Counter()
    for d in docs:
        toks = d["text"].split(" ")
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] += 1
    left, right = Counter(), Counter()
    for (a, b), c in big.items():
        left[a] += c
        right[b] += c
    tt = sum(big.values())
    rows = []
    for (a, b), c in big.items():
        if c >= PMI_MIN_COUNT:
            pmi = (dln_int_py(c) + dln_int_py(tt)) - (dln_int_py(left[a]) + dln_int_py(right[b]))
            rows.append((a, b, c, pmi))
    expected = sorted(rows, key=lambda r: (-r[3], r[0], r[1]))[:PMI_TOP]
    got = [
        (r.w1, r.w2, r.c12, r.pmi)
        for r in load_all()["text_pmi_collocations"].fn(spark, SF0001).collect()
    ]
    assert got == expected  # bit-exact: integer-ln kernel + fixed parens


# --- winnowing MOSS guarantee (property) ---


def test_winnow_guarantee_property():
    """Schleimer et al. Theorem: any shared token run of length
    ≥ w + k − 1 yields at least one common selected fingerprint — tested
    on randomized sequences with a planted shared run (pure-Python
    replay of the exact query algorithm; no engine needed)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from posting_lines_spark.queries.text_q import WNW_K, WNW_W

    token = st.integers(0, 30).map(lambda i: f"t{i}")

    @settings(max_examples=150, deadline=None)
    @given(
        st.lists(token, min_size=0, max_size=20),  # prefix A
        st.lists(token, min_size=0, max_size=20),  # suffix A
        st.lists(token, min_size=0, max_size=20),  # prefix B
        st.lists(token, min_size=0, max_size=20),  # suffix B
        st.lists(token, min_size=WNW_W + WNW_K - 1, max_size=WNW_W + WNW_K + 4),
    )
    def run(pa, sa, pb, sb, shared):
        ta = " ".join(pa + shared + sa)
        tb = " ".join(pb + shared + sb)
        fa = {h for _, h in _winnow_expected(ta, WNW_K, WNW_W)}
        fb = {h for _, h in _winnow_expected(tb, WNW_K, WNW_W)}
        assert fa & fb, "planted shared run produced no common fingerprint"

    run()


# --- naive Bayes confusion matrix ---


def test_naive_bayes_confusion_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import NB_LANGS

    docs = _docs()
    cnt: dict[str, Counter] = {g: Counter() for g in NB_LANGS}
    nd = Counter()
    for d in docs:
        nd[d["lang"]] += 1
        cnt[d["lang"]].update(d["text"].split(" "))
    vocab = set()
    for c in cnt.values():
        vocab |= set(c)
    v = len(vocab)
    ntot = sum(nd.values())
    tot = {g: sum(cnt[g].values()) for g in NB_LANGS}
    conf = Counter()
    for d in docs:
        toks = Counter(d["text"].split(" "))
        n_tok = sum(toks.values())
        scores = {}
        for g in NB_LANGS:
            # replicate the engine: per-(token,class) products quantized
            # at scale 3 and summed exactly, constants in plain doubles
            s = _dsum((c * math.log(cnt[g][t] + 1) for t, c in toks.items()), 3)
            scores[g] = (
                math.log(nd[g])
                - math.log(ntot)
                + s
                - n_tok * math.log(tot[g] + v)
            )
        # alphabetical-first tie-break: NB_LANGS is sorted, use >= cascade
        best = NB_LANGS[-1]
        for g in NB_LANGS:
            if scores[g] >= max(scores[h] for h in NB_LANGS if h != g):
                best = g
                break
        conf[(d["lang"], best)] += 1
    got = {
        (r.true_lang, r.pred_lang): r.n_docs
        for r in load_all()["text_naive_bayes_lang"].fn(spark, SF0001).collect()
    }
    assert got == dict(conf)


# --- TextRank ---


def test_textrank_matches_integer_replay(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import (
        TEXTRANK_ITERS,
        TEXTRANK_TOP_K,
    )

    SCALE = 1_000_000_000_000
    edges = Counter()
    for d in _docs():
        toks = d["text"].split(" ")
        for w1, w2 in zip(toks, toks[1:]):
            edges[(w1, w2)] += 1
            edges[(w2, w1)] += 1
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    outw = Counter()
    for (u, _v), w in edges.items():
        outw[u] += w
    rank = {u: SCALE // n for u in nodes}
    for _ in range(TEXTRANK_ITERS):
        contrib = Counter()
        for (u, v), w in edges.items():
            r, o = rank[u], outw[u]
            contrib[v] += (r // o) * w + ((r % o) * w) // o
        rank = {
            u: (15 * SCALE) // (100 * n) + (85 * contrib.get(u, 0)) // 100
            for u in nodes
        }
    expected = sorted(nodes, key=lambda u: (-rank[u], u))[:TEXTRANK_TOP_K]
    rows = load_all()["text_textrank_keywords"].fn(spark, SF0001).collect()
    assert [(r.word, r.rank_fp) for r in rows] == [
        (u, rank[u]) for u in expected
    ]


# --- burstiness: pure-Python VMR replay ---


def test_burstiness_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all

    docs = pq.read_table(
        f"{SF0001}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    per_doc = Counter()
    for d in docs:
        for tok in d["text"].split(" "):
            per_doc[(tok, d["doc_id"])] += 1
    ndocs = len({d["doc_id"] for d in docs})
    tot, df_, sc2 = Counter(), Counter(), Counter()
    for (tok, _), c in per_doc.items():
        tot[tok] += c
        df_[tok] += 1
        sc2[tok] += c * c
    got = load_all()["text_burstiness"].fn(spark, SF0001).collect()
    for r in got:
        assert (r.n_total, r.doc_freq) == (tot[r.tok], df_[r.tok])
        vmr = (sc2[r.tok] - tot[r.tok] ** 2 / ndocs) / tot[r.tok]
        assert abs(r.vmr - vmr) < 1e-9


# --- readability: regex replay ---


def test_readability_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all

    docs = pq.read_table(
        f"{SF0001}/documents.parquet", columns=["source", "text"]
    ).to_pylist()
    agg = defaultdict(lambda: [0, 0.0, 0.0, 0])  # n, sum_wps, sum_score, easy
    for d in docs:
        words = len(d["text"].split(" "))
        if words == 0:
            continue
        sents = max(len(re.findall(r"[.!?]+", d["text"])), 1)
        syll = len(re.findall(r"[aeiouy]+", d["text"].lower()))
        score = 206.835 - 1.015 * (words / sents) - 84.6 * (syll / words)
        a = agg[d["source"]]
        a[0] += 1
        a[1] += words / sents
        a[2] += score
        a[3] += 1 if score >= 60.0 else 0
    out = load_all()["text_readability"].fn(spark, SF0001).collect()
    for r in out:
        n, swps, ssc, easy = agg[r.source]
        assert r.n_docs == n
        assert abs(r.avg_words_per_sentence - swps / n) < 1e-6
        assert abs(r.avg_flesch - ssc / n) < 1e-6
        assert r.n_easy == easy


def test_langid_agreement_matches_python(spark):
    from decimal import ROUND_HALF_UP, Decimal

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import MARKERS, NB_LANGS
    from tests.conftest import SF0001

    docs = pq.read_table(f"{SF0001}/documents.parquet").to_pylist()

    # NB predictions (the test_seventhwave replay, per doc)
    cnt: dict[str, Counter] = {g: Counter() for g in NB_LANGS}
    nd = Counter()
    for d in docs:
        nd[d["lang"]] += 1
        cnt[d["lang"]].update(d["text"].split(" "))
    vocab = set()
    for c in cnt.values():
        vocab |= set(c)
    v, ntot = len(vocab), sum(nd.values())
    tot = {g: sum(cnt[g].values()) for g in NB_LANGS}
    q3 = Decimal("0.001")

    def nb_pred(text: str) -> str:
        toks = Counter(text.split(" "))
        n_tok = sum(toks.values())
        scores = {}
        for g in NB_LANGS:
            s = float(
                sum(
                    Decimal(repr(c * math.log(cnt[g][t] + 1))).quantize(
                        q3, rounding=ROUND_HALF_UP
                    )
                    for t, c in toks.items()
                )
            )
            scores[g] = (
                math.log(nd[g]) - math.log(ntot) + s - n_tok * math.log(tot[g] + v)
            )
        for g in NB_LANGS:
            if scores[g] >= max(sc for h, sc in scores.items() if h != g):
                return g
        return NB_LANGS[-1]

    def heur_pred(text: str) -> str:
        toks = text.split(" ")
        score = {g: sum(1 for t in toks if t in MARKERS[g]) for g in MARKERS}
        langs = list(MARKERS)
        for i, g in enumerate(langs[:-1]):
            if all(score[g] >= score[h] for h in langs[i + 1 :]):
                return g
        return langs[-1]

    cells = Counter()
    for d in docs:
        cells[(nb_pred(d["text"]), heur_pred(d["text"]))] += 1
    n = sum(cells.values())
    agree = sum(c for (a, b), c in cells.items() if a == b)
    rm, cm = Counter(), Counter()
    for (a, b), c in cells.items():
        rm[a] += c
        cm[b] += c
    src = float(sum(rm[k] * cm[k] for k in rm if k in cm))
    got = load_all()["text_langid_agreement"].fn(spark, SF0001).collect()[0]
    assert (got["n"], got["agree"]) == (n, agree)
    assert got["po"] == agree / n
    want_kappa = (float(agree) * float(n) - src) / (float(n) * float(n) - src)
    assert abs(got["kappa"] - want_kappa) < 1e-12


def test_bpe_merge_rounds_matches_python(spark):
    """Pure-Python BPE trainer (Sennrich alg. 1 on distinct words with
    frequencies, greedy left-to-right non-overlapping merge) vs the
    engine's 3 unrolled rounds."""
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import BPE_ROUNDS
    from tests.conftest import SF0001

    docs = pq.read_table(f"{SF0001}/documents.parquet").to_pylist()
    freq: Counter = Counter()
    for d in docs:
        for w in d["text"].split(" "):
            if len(w) >= 2 and "|" not in w:
                freq[w] += 1
    seqs = {w: tuple(w) for w in freq}  # word -> symbol tuple
    want = []
    for k in range(1, BPE_ROUNDS + 1):
        pairs: Counter = Counter()
        for w, syms in seqs.items():
            f = freq[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        (pa, pb), n = min(
            pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]}|{kv[0][1]}")
        )
        want.append((k, f"{pa}|{pb}", n))
        merged = pa + pb
        new_seqs = {}
        for w, syms in seqs.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == pa and syms[i + 1] == pb:
                    out.append(merged)
                    i += 2  # greedy non-overlapping, left to right
                else:
                    out.append(syms[i])
                    i += 1
            new_seqs[w] = tuple(out)
        seqs = new_seqs
    got = sorted(
        (r["round"], r["merged_pair"], r["n_occ"])
        for r in load_all()["text_bpe_merge_rounds"].fn(spark, SF0001).collect()
    )
    assert got == want


def _greedy_bpe_python(word_freqs, rounds):
    """Sennrich alg. 1 reference replay: greedy left-to-right
    non-overlapping merge, argmax under (count DESC, pair ASC)."""
    seqs = {w: tuple(w) for w, _ in word_freqs}
    freq = dict(word_freqs)
    out = []
    for k in range(1, rounds + 1):
        pairs: Counter = Counter()
        for w, syms in seqs.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq[w]
        (pa, pb), n = min(
            pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]}|{kv[0][1]}")
        )
        out.append((k, f"{pa}|{pb}", n))
        merged = pa + pb
        new_seqs = {}
        for w, syms in seqs.items():
            acc = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == pa and syms[i + 1] == pb:
                    acc.append(merged)
                    i += 2
                else:
                    acc.append(syms[i])
                    i += 1
            new_seqs[w] = tuple(acc)
        seqs = new_seqs
    return out


def test_bpe_back_to_back_pair_merges_greedily(spark):
    """The round-7 ADVICE medium finding: when the winning pair abuts
    itself ('aaaa' with pair (a,a), 'abab' with (a,b)), the single-
    sentinel replace dropped every second merge. The per-symbol-wrapped
    representation must match the pure-Python greedy replay exactly —
    this corpus is built so rounds 2–3 DIVERGE under the old semantics
    ('aaaa' old → [aa,a,a]; greedy → [aa,aa])."""
    from posting_lines_spark.queries.text_q import BPE_ROUNDS, _bpe_train

    word_freqs = [("aaaa", 10), ("abab", 6), ("banana", 4), ("aerie", 3)]
    w0 = spark.createDataFrame(word_freqs, "word string, freq long")
    got = [
        (r["round"], r["merged_pair"], r["n_occ"])
        for r in _bpe_train(spark, w0).collect()
    ]
    want = _greedy_bpe_python(word_freqs, BPE_ROUNDS)
    assert got == want
    # the corpus actually exercises the back-to-back path: round 1 must
    # pick (a,a) and round 2 must see the (aa,aa) pair that only exists
    # under true greedy semantics
    assert want[0][1] == "a|a"
    assert any(p == "aa|aa" for _, p, _ in want)


def test_bpe_oracle_matches_spark_on_documents(spark, duck):
    """Engine vs DuckDB oracle on the real sf0.001 corpus after the
    representation change (both sides moved together)."""
    from posting_lines_spark.queries import load_all

    reg = load_all()["text_bpe_merge_rounds"]
    got = [
        (r["round"], r["merged_pair"], r["n_occ"])
        for r in reg.fn(spark, SF0001).collect()
    ]
    want = [tuple(r) for r in duck.execute(reg.oracle).fetchall()]
    assert sorted(got) == sorted((int(a), b, int(c)) for a, b, c in want)


def test_heaps_law_matches_python(spark):
    """Checkpoint V/T replay on word TRIGRAMS + log-log OLS with
    math.log (the kernel agrees with libm to ~1e-13 here)."""
    import math

    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import HEAPS_POINTS
    from tests.conftest import SF001

    docs = pq.read_table(SF001 + "/documents.parquet").to_pylist()
    ntok = {}
    first = {}
    for r in docs:
        toks = r["text"].split(" ")
        grams = [
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        ]
        ntok[r["doc_id"]] = len(grams)
        for g in grams:
            if g not in first or r["doc_id"] < first[g]:
                first[g] = r["doc_id"]
    md = max(ntok)
    pts = []
    for i in range(1, HEAPS_POINTS + 1):
        cp = (i * md) // HEAPS_POINTS
        t_n = sum(v for d, v in ntok.items() if d <= cp)
        v_n = sum(1 for f in first.values() if f <= cp)
        if t_n >= 1 and v_n >= 1:
            pts.append((t_n, v_n))
    m = len(pts)
    xs = [math.log(t) for t, _ in pts]
    ys = [math.log(v) for _, v in pts]
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    beta = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    got = load_all()["text_heaps_law"].fn(spark, SF001).collect()[0]
    assert got["n_points"] == m
    assert abs(got["beta"] - beta) < 1e-6
    assert 0.0 < got["beta"] < 1.0  # sublinear type growth


def test_bpe_tokenize_apply_consistent(spark):
    """Token accounting replay: train greedy BPE in Python, apply the
    merges, count frequency-weighted tokens."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import BPE_ROUNDS

    docs = pq.read_table(SF0001 + "/documents.parquet").to_pylist()
    freq = {}
    for d in docs:
        for w in d["text"].split(" "):
            if len(w) >= 2 and "|" not in w:
                freq[w] = freq.get(w, 0) + 1
    merges = _greedy_bpe_python(list(freq.items()), BPE_ROUNDS)
    seqs = {w: tuple(w) for w in freq}
    for _, pair, _ in merges:
        pa, pb = pair.split("|")
        for w, syms in list(seqs.items()):
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == pa and syms[i + 1] == pb:
                    out.append(pa + pb)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = tuple(out)
    tokens_char = sum(f * len(w) for w, f in freq.items())
    tokens_bpe = sum(f * len(seqs[w]) for w, f in freq.items())
    got = load_all()["text_bpe_tokenize_apply"].fn(spark, SF0001).collect()[0]
    assert got["n_distinct_words"] == len(freq)
    assert got["tokens_char"] == tokens_char
    assert got["tokens_bpe"] == tokens_bpe
    assert got["tokens_bpe"] < got["tokens_char"]  # merges actually fired


def test_jaro_winkler_matches_duckdb_bitexact():
    """The load-bearing claim of text_jaro_winkler_join: the pure-Python
    kernel and DuckDB's C++ builtin agree BIT-FOR-BIT, so engine and
    oracle doubles hash-match and the threshold filter cannot straddle.
    Random + adversarial (1-edit, reversed) pairs."""
    import random

    import duckdb

    from posting_lines_spark.functions.strdist import jaro, jaro_winkler

    rng = random.Random(20260815)
    words = [
        "".join(rng.choice("abcdef ") for _ in range(rng.randint(1, 14)))
        for _ in range(1000)
    ]
    pairs = [(rng.choice(words), rng.choice(words)) for _ in range(4000)]
    for _ in range(2000):
        w = rng.choice(words)
        i = rng.randrange(len(w))
        pairs.append((w, w[:i] + rng.choice("abcdef") + w[i + 1:]))
        pairs.append((w, w[::-1]))
    pairs.append(("", ""))
    pairs.append(("", "abc"))
    con = duckdb.connect()
    con.execute("CREATE TABLE p(a VARCHAR, b VARCHAR)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    rows = con.execute(
        "SELECT a, b, jaro_winkler_similarity(a, b), jaro_similarity(a, b) FROM p"
    ).fetchall()
    con.close()
    for a, b, d_jw, d_j in rows:
        assert jaro_winkler(a, b) == d_jw, (a, b)
        assert jaro(a, b) == d_j, (a, b)


def test_jaro_winkler_join_matches_python(spark):
    """End-to-end replay of the JW record linkage at sf0.001: same md5
    transposition typos, same blocking, kernel scores, same (jw DESC,
    match_id) argmax — identical winners and scores."""
    import hashlib

    import pyarrow.parquet as pq

    from posting_lines_spark.functions.strdist import jaro_winkler
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import JW_PROBE_MOD
    from tests.conftest import SF0001

    def blocksig(name):
        t1 = len(name.split(" ")[0])
        return (name.split(" ")[0], "".join(sorted(name[t1 + 1:])))

    parts = pq.read_table(
        SF0001 + "/part.parquet", columns=["p_partkey", "p_name"]
    ).to_pylist()
    blocks = {}
    for r in parts:
        blocks.setdefault(blocksig(r["p_name"]), []).append(
            (r["p_partkey"], r["p_name"])
        )
    want = {}
    n_self = 0
    for r in parts:
        key, name = r["p_partkey"], r["p_name"]
        if key % JW_PROBE_MOD != 0:
            continue
        h = int(hashlib.md5(f"jwp|{key}".encode()).hexdigest()[:15], 16)
        t1 = len(name.split(" ")[0])
        pos = t1 + 2 + h % (len(name) - t1 - 3)  # 1-based SQL position
        i = pos - 1
        probe = name[:i] + name[i + 1] + name[i] + name[i + 2:]
        best = None
        for mid, mname in blocks.get(blocksig(probe), []):
            jw = jaro_winkler(probe, mname)
            if best is None or jw > best[1] or (jw == best[1] and mid < best[0]):
                best = (mid, jw)
        want[key] = best
        if best and best[0] == key:
            n_self += 1
    got = {
        r["probe_id"]: (r["match_id"], r["jw"], r["matched_self"])
        for r in load_all()["text_jaro_winkler_join"].fn(spark, SF0001).collect()
    }
    assert set(got) == set(want)
    for k, (mid, jw) in want.items():
        assert got[k][0] == mid, (k, got[k], mid, jw)
        assert got[k][1] == jw
        assert got[k][2] == (1 if mid == k else 0)
    assert n_self > 0  # the typo is usually recoverable — non-vacuous


def test_good_turing_matches_python(spark):
    """Trigram count-of-counts and the Turing estimates re-derived in
    pure Python."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import GT_MAX_R

    texts = pq.read_table(
        SF0001 + "/documents.parquet", columns=["text"]
    ).column("text").to_pylist()
    counts = {}
    total = 0
    for t in texts:
        toks = t.split(" ")
        for i in range(len(toks) - 2):
            g = " ".join(toks[i : i + 3])
            counts[g] = counts.get(g, 0) + 1
            total += 1
    coc = {}
    for r in counts.values():
        coc[r] = coc.get(r, 0) + 1

    rows = sorted(
        load_all()["text_good_turing"].fn(spark, SF0001).collect(), key=lambda r: r["r"]
    )
    want_rs = sorted(r for r in coc if r <= GT_MAX_R)
    assert [r["r"] for r in rows] == want_rs
    for row in rows:
        r = row["r"]
        assert row["n_r"] == coc[r]
        assert row["n_r_next"] == coc.get(r + 1, 0)
        if coc.get(r + 1):
            assert abs(
                row["r_star"] - (r + 1) * coc[r + 1] / coc[r]
            ) < 1e-12 * max(1.0, row["r_star"])
        else:
            assert row["r_star"] is None
        assert row["t_tokens"] == total
        assert row["v_types"] == len(counts)
        assert abs(row["p0_mass"] - coc.get(1, 0) / total) < 1e-15
    # non-vacuous: singleton mass exists (else GT has nothing to smooth)
    assert coc.get(1, 0) > 0


def test_sttr_matches_python(spark):
    """Re-derive segment TTRs and the per-source rollup."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import STTR_SEG

    t = pq.read_table(
        SF0001 + "/documents.parquet", columns=["doc_id", "source", "text"]
    )
    per_src = {}
    for src, text in zip(
        t.column("source").to_pylist(), t.column("text").to_pylist()
    ):
        toks = text.split(" ")
        ttrs = []
        for i in range(len(toks) // STTR_SEG):
            seg = toks[i * STTR_SEG : (i + 1) * STTR_SEG]
            ttrs.append(round(len(set(seg)) / STTR_SEG, 6))
        if ttrs:
            per_src.setdefault(src, []).append(
                (len(ttrs), round(sum(ttrs) / len(ttrs), 12))
            )
    got = {
        r["source"]: r
        for r in load_all()["text_sttr"].fn(spark, SF0001).collect()
    }
    assert sorted(got) == sorted(per_src)
    for src, docs in per_src.items():
        r = got[src]
        assert r["n_docs"] == len(docs)
        assert r["n_segments"] == sum(n for n, _ in docs)
        mean = sum(s for _, s in docs) / len(docs)
        assert abs(r["mean_sttr"] - mean) < 1e-9
        assert abs(r["min_sttr"] - min(s for _, s in docs)) < 1e-9
        assert abs(r["max_sttr"] - max(s for _, s in docs)) < 1e-9
        assert 0.0 < r["mean_sttr"] <= 1.0
    # non-vacuous: diversity varies across sources
    assert len({round(v["mean_sttr"], 4) for v in got.values()}) > 1


def test_tokenizer_fertility_matches_python(spark):
    """Replay the per-source rollup over the ENGINE's trained seq table
    (the trainer itself has its own oracle-paired queries + replays):
    word freqs per source, sentinel token counts, both ratios."""
    from collections import Counter, defaultdict

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import BPE_ROUNDS, _bpe_train

    from posting_lines_spark.sources import load_table

    load_table(spark, SF0001, "documents").createOrReplaceTempView("documents")
    w0 = spark.sql(
        """
SELECT word, CAST(count(*) AS BIGINT) AS freq
FROM (SELECT explode(split(text, ' ')) AS word FROM documents) toks
WHERE length(word) >= 2 AND word NOT LIKE '%|%'
GROUP BY word
"""
    )
    _, seq = _bpe_train(spark, w0, return_seq=True)
    toks = {
        r["word"]: (len(r["seq"]) - len(r["seq"].replace("|", ""))) // 2
        for r in seq.collect()
    }
    freq = defaultdict(Counter)
    for d in _tbl("documents"):
        for w in d["text"].split(" "):
            if len(w) >= 2 and "|" not in w:
                freq[d["source"]][w] += 1
    got = {r["source"]: r for r in load_all()["text_tokenizer_fertility"].fn(spark, SF0001).collect()}
    assert set(got) == set(freq)
    ferts = []
    for src, words in freq.items():
        n_words = sum(words.values())
        n_tokens = sum(c * toks[w] for w, c in words.items())
        n_chars = sum(c * len(w) for w, c in words.items())
        r = got[src]
        assert r["n_words"] == n_words
        assert r["n_tokens"] == n_tokens
        assert r["fertility"] == n_tokens / n_words
        assert r["chars_per_token"] == n_chars / n_tokens
        ferts.append(n_tokens / n_words)
        # after 3 merges fertility sits between 1 (fully merged) and
        # the mean word length (no merges)
        assert 1.0 <= r["fertility"] <= r["chars_per_token"] * 10
    assert len(set(round(f, 6) for f in ferts)) > 1  # strata differ


# ---- text_normalize ----


def test_replay_text_normalize(spark):
    docs = _tbl("documents")
    per_source: dict[str, list[str]] = defaultdict(list)
    for d in docs:
        dirty = f"  {d['text']}   x  {d['text'].upper()}".lower()
        norm = re.sub(" +", " ", dirty).strip()
        per_source[d["source"]].append(norm)
    got = _run(spark, "text_normalize")
    assert len(got) == len(per_source)
    for r in got:
        texts = per_source[r["source"]]
        digs = sorted(hashlib.md5(t.encode()).hexdigest() for t in texts)
        assert r["n_docs"] == len(texts)
        assert r["total_chars"] == sum(len(t) for t in texts)
        assert r["min_digest"] == digs[0]
        assert r["max_digest"] == digs[-1]


def test_replay_text_vocab_oov(spark):
    from posting_lines_spark.queries.text_q import OOV_VOCAB_K

    grams = []
    for d in _tbl("documents"):
        t = d["text"]
        if len(t) >= 3:
            grams.extend((d["source"], t[i : i + 3]) for i in range(len(t) - 2))
    counts = Counter(g for _, g in grams)
    vocab = {
        g
        for g, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            :OOV_VOCAB_K
        ]
    }
    stats = defaultdict(lambda: [0, 0, set()])
    for src, g in grams:
        s = stats[src]
        s[0] += 1
        if g not in vocab:
            s[1] += 1
            s[2].add(g)
    got = {r["source"]: r for r in _run(spark, "text_vocab_oov")}
    assert set(got) == set(stats)
    for src, (n, oov, types) in stats.items():
        r = got[src]
        assert r["n_tokens"] == n
        assert r["n_oov"] == oov
        assert r["oov_rate"] == oov / n
        assert r["n_oov_types"] == len(types)
        assert 0.0 < r["oov_rate"] < 1.0  # vocab neither trivial nor total


def test_replay_text_pii_redact(spark):
    stats = defaultdict(lambda: [0, 0, 0, 0])
    email = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+")
    phone = re.compile(r"555-[0-9]+")
    for d in _tbl("documents"):
        text = (
            f"{d['text']} contact user{d['doc_id']}@mail.example "
            f"or call 555-0{d['doc_id']}"
        )
        red = phone.sub("<PHONE>", email.sub("<EMAIL>", text))
        s = stats[d["source"]]
        s[0] += 1
        s[1] += 1 if red != text else 0
        s[2] += len(text)
        s[3] += len(red)
    got = {r["source"]: r for r in _run(spark, "text_pii_redact")}
    assert set(got) == set(stats)
    for src, (nd, nr, cb, ca) in stats.items():
        r = got[src]
        assert (r["n_docs"], r["n_redacted"], r["chars_before"], r["chars_after"]) == (
            nd, nr, cb, ca
        )
        assert nr == nd  # the synthetic PII fires on every row
        assert ca < cb


def test_replay_text_zipf_fit(spark):
    from posting_lines_spark.functions.dmath import dln_int_py
    from posting_lines_spark.queries.text_q import ZIPF_TOP

    grams = Counter()
    for d in _tbl("documents"):
        t = d["text"]
        if len(t) >= 3:
            grams.update(t[i : i + 3] for i in range(len(t) - 2))
    top = sorted(grams.items(), key=lambda kv: (-kv[1], kv[0]))[:ZIPF_TOP]
    xs = [dln_int_py(r) for r in range(1, len(top) + 1)]
    ys = [dln_int_py(c) for _, c in top]
    m = float(len(top))
    sx, sy = _dsum(xs), _dsum(ys)
    sxx = _dsum([x * x for x in xs])
    sxy = _dsum([x * y for x, y in zip(xs, ys)])
    syy = _dsum([y * y for y in ys])
    slope = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    (r,) = _run(spark, "text_zipf_fit")
    assert r["n_points"] == len(top)
    assert r["slope"] == slope
    assert r["intercept"] == (sy - slope * sx) / m
    assert r["r2"] == ((m * sxy - sx * sy) ** 2) / (
        (m * sxx - sx * sx) * (m * syy - sy * sy)
    )
    assert -3.0 < slope < -0.1  # Zipf-ish: decisively negative


def test_replay_fuzzy_join_levenshtein(spark):
    from posting_lines_spark.queries.text_q import FUZZY_K

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, start=1):
            cur = [i]
            for j, cb in enumerate(b, start=1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    names = {}
    for i in range(300):
        names[i] = f"VESSEL_{i}"
        if i % 3 == 0:
            names[i + 1000] = f"VESSEL{i}"
        elif i % 3 == 1:
            names[i + 1000] = f"VESSEL#{i}"
        else:
            names[i + 1000] = f"XVESSEL_{i}"
    want = []
    for a in range(300):
        for b in range(1000, 1300):
            d = lev(names[a], names[b])
            if d <= FUZZY_K:
                want.append((a, b, names[a], names[b], d))
    want.sort()
    got = [
        (r["id_a"], r["id_b"], r["name_a"], r["name_b"], r["lev"])
        for r in _run(spark, "fuzzy_join_levenshtein")
    ]
    assert sorted(got, key=row_key) == sorted(want, key=row_key)
    # every corruption mode contributes matches
    assert len(want) >= 300
