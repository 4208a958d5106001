"""Degeneracy/vacuity gate (VERDICT r11 next-round item 1).

Parity cannot see a query that is wrong in the SAME way on both
engines (shared SQL text) — round 11 proved it live twice. The gate
pins, for every registered query, the exact output row count and
per-column distinct/null profile at sf0.001 and sf0.01
(tools/degeneracy_manifest.json, regenerated deliberately with
`check_degeneracy.py --pin` whose review report is human-adjudicated);
any silent collapse to empty/constant/all-NULL output then fails
loudly even while parity stays green.

These tests keep the manifest honest without re-running all 370+
queries in pytest (the full sweep is the closing-gate run):

  * the manifest must cover the registry EXACTLY — adding a query
    without pinning it fails here, forcing the deliberate-review step;
  * zero-row pins are only legal on the documented EXPECTED_EMPTY
    list (each with its adjudication);
  * a deterministic sample of queries re-runs through the live gate;
  * the one verdict function (`check_profile`) fails each collapse
    shape, and `profile` groups values as Spark's aggregate does.

The de-vacuization the gate's first pin surfaced —
stream_watermark_late_audit's late branch was dead code against the
perfectly-ordered corpus — is fixed in round 12 (md5-jitter arrival
model) and regression-tested in test_round12.py.
"""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import REPO

MANIFEST = os.path.join(REPO, "tools", "degeneracy_manifest.json")

# Adjudicated zero-row pins: (query, sf_label) -> why empty is correct.
EXPECTED_EMPTY = {
    ("geo_bbox_filter", "sf0001"): "bbox is selective; sf0.001 has no "
    "events inside it (non-empty at sf0.01 — checked below)",
    ("q7_volume_shipping", "sf0001"): "nation-pair + year filter too "
    "selective for 1k-row lineitem (non-empty at sf0.01)",
    ("q11_important_stock", "sf0001"): "group-value > fraction-of-total "
    "threshold has no qualifying parts at sf0.001 (non-empty at sf0.01)",
    ("q20_part_promotion", "sf0001"): "half-of-stock threshold has no "
    "qualifying suppliers at sf0.001 (non-empty at sf0.01)",
    ("multimodal_phash_dedup", "sf0001"): "the real corpus has no "
    "phash-near pairs at any SF (both engines agree since r8); the "
    "_synth variant exists precisely to exercise the non-empty path "
    "(144 pairs — asserted non-empty below)",
    ("multimodal_phash_dedup", "sf001"): "see sf0001 entry",
}

# Empty at every SF but covered by a non-empty twin query.
_EMPTY_BOTH_WITH_TWIN = {"multimodal_phash_dedup": "multimodal_phash_dedup_synth"}


@pytest.fixture(scope="module")
def manifest():
    with open(MANIFEST) as fh:
        return json.load(fh)["queries"]


def test_manifest_covers_registry_exactly(manifest):
    from posting_lines_spark.queries import load_all

    registry = set(load_all())
    pinned = set(manifest)
    assert registry - pinned == set(), (
        f"queries registered but not pinned — run "
        f"`python tools/check_degeneracy.py --pin <names>` and review "
        f"the report: {sorted(registry - pinned)}"
    )
    assert pinned - registry == set(), (
        f"manifest has stale entries: {sorted(pinned - registry)}"
    )


def test_manifest_entries_are_clean_profiles(manifest):
    for name, entry in manifest.items():
        for sf in ("sf0001", "sf001"):
            prof = entry.get(sf)
            assert prof and "error" not in prof, f"{name}@{sf} has no clean pin"
            assert prof["rows"] >= 0
            assert set(prof["distinct"]) == set(prof["cols"])


def test_zero_row_pins_are_all_adjudicated(manifest):
    zero = {
        (name, sf)
        for name, entry in manifest.items()
        for sf in ("sf0001", "sf001")
        if entry[sf]["rows"] == 0
    }
    assert zero == set(EXPECTED_EMPTY), (
        "zero-row pins changed — adjudicate each in EXPECTED_EMPTY: "
        f"unexpected={sorted(zero - set(EXPECTED_EMPTY))} "
        f"vanished={sorted(set(EXPECTED_EMPTY) - zero)}"
    )
    # every sf0.001-empty query must be non-empty at sf0.01 and vice
    # versa — empty at EVERY SF means dead code, unless a registered
    # twin query exercises the non-empty path
    for name, sf in EXPECTED_EMPTY:
        if name in _EMPTY_BOTH_WITH_TWIN:
            continue
        other = "sf001" if sf == "sf0001" else "sf0001"
        assert manifest[name][other]["rows"] > 0, (
            f"{name} is empty at BOTH SFs — dead query"
        )
    for name, twin in _EMPTY_BOTH_WITH_TWIN.items():
        assert manifest[twin]["sf0001"]["rows"] > 0, (
            f"{name}'s covering twin {twin} is itself empty"
        )


def test_late_audit_vacuity_fixed_in_manifest(manifest):
    """The gate's first catch, pinned fixed: max_lateness_us must be
    populated (was all-NULL while the late branch was dead code)."""
    for sf in ("sf0001", "sf001"):
        prof = manifest["stream_watermark_late_audit"][sf]
        assert prof["nonnull"]["max_lateness_us"] > 0


# Deterministic live sample: one per family, biased toward the
# shared-text risk class the gate exists for.
_SAMPLE = [
    "q1_pricing_summary",
    "dedup_exact",
    "geo_flagship",
    "window_analytics",
    "funnel_analysis",
    "text_sttr",  # the r11 near-miss itself
    "stats_welch_anova",
    "timeseries_spectral_entropy",
    "stream_watermark_late_audit",
    "graph_linkpred_capped",
    "multimodal_bmp_luma",
    "events_active_users_hll",
]


def test_live_gate_on_sample(manifest, spark):
    from posting_lines_spark.queries import load_all
    from tools.check_degeneracy import SF_DIRS, check_profile, profile

    registry = load_all()
    for name in _SAMPLE:
        df = registry[name].fn(spark, SF_DIRS["sf0001"])
        assert check_profile(manifest[name]["sf0001"], profile(df.collect(), df.schema)) == [], name


def test_check_profile_fails_each_collapse(manifest):
    """The sweep's one verdict, on the text_sttr pin (the r11
    near-miss): it holds against itself and names every collapse."""
    from tools.check_degeneracy import check_profile

    pin = manifest["text_sttr"]["sf001"]
    cases = {
        "rows 20 -> 1": ("rows", 1),
        "column mean_sttr collapsed to constant": ("distinct", {**pin["distinct"], "mean_sttr": 1}),
        "column min_sttr collapsed to all-NULL": ("nonnull", {**pin["nonnull"], "min_sttr": 0}),
        "cols [": ("cols", [c.replace("mean_sttr", "sttr_mean") for c in pin["cols"]]),
    }
    assert check_profile(pin, pin) == []
    for line, (key, value) in cases.items():
        assert any(line in bad for bad in check_profile(pin, {**pin, key: value})), line
    assert check_profile(manifest.get("no_such_query", {}).get("sf001"), pin) != []


def test_profile_groups_as_spark_does():
    """As count_distinct/count on Spark: in an atomic column NaN is one
    value, -0.0 is 0.0 and NULL is not counted; a non-atomic column goes
    through to_json, so NULL is a value, -0.0 is not 0.0 and timestamps
    keep milliseconds."""
    from datetime import datetime

    from pyspark.sql import types as T

    from tools.check_degeneracy import profile

    ts = T.StructType([T.StructField("ts", T.TimestampType())])
    schema = T.StructType([T.StructField("d", T.DoubleType()),
                           T.StructField("a", T.ArrayType(T.DoubleType())),
                           T.StructField("s", ts)])
    us = [datetime(2020, 1, 1, 0, 0, 0, u) for u in (123456, 123999, 124000)]
    # each NaN a distinct object, as a collect returns them
    rows = [(float("nan"), [0.0], (us[0],)), (float("nan"), [-0.0], (us[1],)),
            (-0.0, [float("nan")], (us[2],)), (0.0, [float("nan")], None),
            (None, [float("nan")], None)]
    assert profile(rows, schema) == {"rows": 5, "cols": ["d", "a", "s"],
                                     "distinct": {"d": 2, "a": 3, "s": 3},
                                     "nonnull": {"d": 4, "a": 5, "s": 5}}
