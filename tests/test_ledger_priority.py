"""Drift test for the generated _LEDGER_PRIORITY block.

Regenerates the list from the INPUTS RECORDED IN THE BLOCK (correctness
files + head sha at generation), so the check is deterministic even
after later commits land; structural invariants are checked on top.
"""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import REPO


def test_ledger_priority_no_drift():
    r = subprocess.run(
        [sys.executable, "tools/ledger_priority.py", "--check"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr


def test_ledger_priority_is_total_permutation():
    """Every registered query appears exactly once — a priority that
    drops a name silently exempts it from the driver draw."""
    import __spark_entry__ as m
    from posting_lines_spark.queries import load_all

    assert sorted(m._LEDGER_PRIORITY) == sorted(load_all())
    assert len(set(m._LEDGER_PRIORITY)) == len(m._LEDGER_PRIORITY)


def test_readme_count_matches_registry():
    """README's headline query count must track load_all() — the r8
    VERDICT caught a hand-maintained count three waves stale."""
    import re

    from posting_lines_spark.queries import load_all

    text = open(os.path.join(REPO, "README.md")).read()
    counts = re.findall(r"(\d+) registered queries", text)
    assert counts, "README lost its registry-count sentence"
    assert all(int(c) == len(load_all()) for c in counts), (
        f"README says {counts}, registry has {len(load_all())}"
    )
