"""Replay-coverage census (VERDICT r11 next-round item 2).

The oracle parity gate compares the Spark engine against DuckDB — but
when both run the SAME builder-generated SQL text, a shared bug passes
on both sides (the r11 `text_sttr` near-miss). The independent defense
is a REPLAY: a test that recomputes the query's answer in pure Python
(or via an independently-derived formulation) and compares it to the
engine, with no shared SQL in the loop.

This tool takes the census:

  1. AST-scans every tests/*.py test function for string-literal
     registry lookups (`load_all()["name"]`, `REGISTRY["name"]`) and
     for direct calls to registered query functions, EXCLUDING checks
     that run `q.oracle` through DuckDB (those are parity, not
     independence).
  2. Classifies each registered query's oracle SQL as SHARED-TEXT
     (no DuckDB-only token — the engine almost certainly executes the
     same string) or DIVERGENT (HUGEINT / list_* / epoch_us / DuckDB
     lambda arrows... — the two engines run different formulations, so
     parity itself is an independent cross-check).
  3. Prints per-query coverage and the risk list: shared-text queries
     with no independent replay, the population the next replays
     should come from.

Usage:
  python tools/replay_census.py            # summary + risk list
  python tools/replay_census.py --json     # machine-readable census
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import sys

TESTS_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tests")

# A test that mentions the query AND one of these is an oracle-parity
# mirror, not an independent replay.
_ORACLE_MARKERS = re.compile(r"\.oracle\b|duck\.execute|_assert_query_matches_oracle")

# DuckDB-only tokens: if the oracle contains any, the engine necessarily runs a
# DIFFERENT text, so engine/oracle parity is already an independent
# two-formulation check.
_DIVERGENT = re.compile(
    r"HUGEINT|list_reduce|list_prepend|list_transform|list_sort|"
    r"list_aggregate|epoch_us|read_parquet|UNNEST\s*\(\s*range|"
    r"\bstruct_pack\b|\bregexp_extract_all\b|string_split|GREATEST\s*\(\s*list|"
    r"\barray_agg\s*\(.*ORDER BY|->(?!>)"
)


def _test_functions():
    for path in sorted(glob.glob(os.path.join(TESTS_DIR, "test_*.py"))):
        src = open(path).read()
        tree = ast.parse(src)
        lines = src.splitlines()
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                node.name.startswith("test_") or node.name.startswith("_")
            ):
                body = "\n".join(
                    lines[node.lineno - 1 : node.end_lineno]
                )
                yield os.path.basename(path), node.name, body


def census():
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from posting_lines_spark.queries import load_all

    registry = load_all()
    names = set(registry)
    name_re = re.compile(r'["\'](' + "|".join(sorted(names)) + r')["\']')

    # helper functions referenced by tests count toward the tests that
    # call them; first collect helper -> queries they mention
    replays: dict[str, list[str]] = {n: [] for n in names}
    for fname, tname, body in _test_functions():
        mentioned = set(name_re.findall(body))
        if not mentioned:
            continue
        is_oracle_mirror = bool(_ORACLE_MARKERS.search(body))
        if is_oracle_mirror:
            continue
        for q in mentioned:
            replays[q].append(f"{fname}::{tname}")

    import inspect

    out = {}
    for q, spec in registry.items():
        divergent = bool(_DIVERGENT.search(spec.oracle))
        try:
            src = inspect.getsource(spec.fn)
        except (OSError, TypeError):
            src = ""
        # engine formulation: a DataFrame-API engine never shares text
        # with the SQL oracle — parity is already two formulations.
        sql_engine = "spark.sql(" in src
        out[q] = {
            "replay_tests": sorted(set(replays[q])),
            "independent_replay": bool(replays[q]),
            "oracle_divergent_text": divergent,
            "engine": "sql" if sql_engine else "dataframe",
            # verbatim-risk: the engine executes SQL and the oracle text
            # contains nothing DuckDB-specific, so both engines most
            # likely run the SAME string — a shared bug passes parity.
            "risk": sql_engine and not replays[q] and not divergent,
        }
    return out


def main() -> int:
    data = census()
    if "--json" in sys.argv:
        print(json.dumps(data, indent=1, sort_keys=True))
        return 0
    total = len(data)
    with_replay = sum(1 for v in data.values() if v["independent_replay"])
    dataframe = sum(
        1
        for v in data.values()
        if v["engine"] == "dataframe" and not v["independent_replay"]
    )
    divergent = sum(
        1
        for v in data.values()
        if v["engine"] == "sql"
        and v["oracle_divergent_text"]
        and not v["independent_replay"]
    )
    risk = sorted(q for q, v in data.items() if v["risk"])
    print(f"registry queries:                {total}")
    print(f"with independent replay:         {with_replay}")
    print(f"DataFrame-API engine, no replay: {dataframe}  (parity = two formulations)")
    print(f"SQL engine, divergent oracle:    {divergent}  (parity = two formulations)")
    print(f"VERBATIM-SHARED-TEXT, NO REPLAY (risk): {len(risk)}")
    for q in risk:
        print("  ", q)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
