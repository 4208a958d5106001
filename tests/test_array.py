"""Array-family tests (`queries/array_q.py`): the map and array function
queries replayed in plain Python.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from tests.conftest import _run, _tbl


def test_replay_map_funcs(spark):
    lc = Counter((d["source"], d["lang"]) for d in _tbl("documents"))
    per_src = defaultdict(dict)
    for (s, lang), n in lc.items():
        per_src[s][lang] = n
    got = {r["source"]: r for r in _run(spark, "map_funcs")}
    assert set(got) == set(per_src)
    for s, langs in per_src.items():
        assert got[s]["n_langs"] == len(langs)
        assert got[s]["lang_counts"] == "|".join(
            f"{k}:{langs[k]}" for k in sorted(langs)
        )
        assert len(langs) > 1  # multi-language sources: map is non-trivial
