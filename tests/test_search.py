"""Search-family tests (`queries/search_q.py`): retrieval scores replayed
in plain Python.
"""

from __future__ import annotations

import math
from collections import Counter

from tests.conftest import SF0001, _docs


# --- query likelihood (Dirichlet) ---


def test_query_likelihood_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.search_q import QL_MU, QUERY_TERMS, TOP_K

    docs = _docs()
    dl = {d["doc_id"]: len(d["text"].split(" ")) for d in docs}
    cc = sum(dl.values())
    ctf = Counter()
    tf: dict[tuple[int, str], int] = Counter()
    for d in docs:
        for t in d["text"].split(" "):
            if t in QUERY_TERMS:
                ctf[t] += 1
                tf[(d["doc_id"], t)] += 1
    scores = {}
    nmatch = {}
    for i, n in dl.items():
        s = 0.0
        m = 0
        for t in QUERY_TERMS:
            tfd = tf.get((i, t), 0)
            if tfd:
                m += 1
            s += math.log((tfd * cc + QL_MU * ctf[t]) / (cc * (n + QL_MU)))
        scores[i] = s
        nmatch[i] = m
    expected = sorted(scores, key=lambda i: (-scores[i], i))[:TOP_K]
    rows = load_all()["search_query_likelihood"].fn(spark, SF0001).collect()
    assert [r.doc_id for r in rows] == expected
    for r in rows:
        assert r.n_matched == nmatch[r.doc_id]
        assert r.dl == dl[r.doc_id]
        assert math.isclose(r.score, scores[r.doc_id], rel_tol=1e-9)


def test_term_proximity_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.search_q import PROX_SLOP, PROX_TERMS
    from tests.conftest import SF001

    import pyarrow.parquet as pq

    w1, w2 = PROX_TERMS
    rows = []
    for r in pq.read_table(SF001 + "/documents.parquet").to_pylist():
        toks = r["text"].split(" ")
        p1 = [i for i, t in enumerate(toks) if t == w1]
        p2 = [i for i, t in enumerate(toks) if t == w2]
        if p1 and p2:
            dists = [abs(a - b) for a in p1 for b in p2]
            rows.append(
                (
                    r["doc_id"],
                    len(p1),
                    len(p2),
                    min(dists),
                    sum(1 for x in dists if x <= PROX_SLOP),
                )
            )
    rows.sort(key=lambda x: (x[3], x[0]))
    want = rows[:20]
    got = [
        (r["doc_id"], r[f"n_{w1}"], r[f"n_{w2}"], r["min_dist"], r["n_within_slop"])
        for r in load_all()["search_term_proximity"].fn(spark, SF001).collect()
    ]
    assert got == want
