"""One-command round-closing gate (VERDICT r12 item 7): the close
ritual was six manual invocations documented in prose — full oracle
sweep at two SFs, degeneracy check, replay census, ledger-priority
drift check, both bench tiers, full pytest. This runs all of them as
subprocesses (each step's stdout tail is captured), writes ONE
CLOSING.json artifact the next judge can diff, and exits non-zero if
any gate fails.

  python tools/close_round.py              # everything (~45-60 min)
  python tools/close_round.py --skip-sf01-sweep --skip-bench   # quick

Steps (name, command, pass criterion):
  oracle_sf0001  check_oracle.py at sf0.001               "ALL PASS" (parity
  oracle_sf001   check_oracle.py at sf0.01                and the degeneracy
  oracle_sf01    check_oracle.py at sf0.1                 pins at that SF)
  replay_census  replay_census.py                        risk == 0
  ledger         ledger_priority.py --check              exit 0
  bench          bench.py (both tiers)                   valid JSON, no errors,
                 per-query p50s recorded; >1.5x vs prior uncontended
                 reading requires a `regression: <name>` line in SCALE.md
  skew_parity    make_skew.py (hub+order from sf0.1) then
                 check_oracle.py on a pinned skew-sensitive subset
                                                         both ALL PASS
  pytest         python -m pytest tests/ -q -rfE         exit 0; passed and
                 failed counts per test file recorded
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLOSING = os.path.join(REPO, "CLOSING.json")


def _run(cmd: list[str], timeout: int = 7200) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable] + cmd,
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    return p.returncode, (p.stdout or "") + ("\n" + p.stderr if p.returncode else "")


def _per_file_counts(junit_xml: str) -> dict[str, dict[str, int]]:
    """Passed and failed (failures + errors) test counts per test file,
    from one pytest run's JUnit XML report."""
    import xml.etree.ElementTree as ET

    counts: dict[str, dict[str, int]] = {}
    for case in ET.parse(junit_xml).getroot().iter("testcase"):
        module = next(p for p in case.get("classname", "").split(".") if p.startswith("test_"))
        c = counts.setdefault(f"{module}.py", {"passed": 0, "failed": 0})
        if case.find("failure") is not None or case.find("error") is not None:
            c["failed"] += 1
        elif case.find("skipped") is None:
            c["passed"] += 1
    return dict(sorted(counts.items()))


def _git_head() -> str:
    return subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()


def main() -> int:
    args = set(sys.argv[1:])
    results: dict[str, dict] = {}
    ok_all = True
    run_head = _git_head()

    def step(name: str, fn):
        nonlocal ok_all
        t0 = time.time()
        try:
            ok, detail = fn()
        except Exception as e:  # noqa: BLE001
            ok, detail = False, f"exception: {e}"
        results[name] = {
            "pass": ok,
            "sec": round(time.time() - t0, 1),
            "detail": detail,
            # per-step head (ADVICE r13): --merge keeps prior steps, so
            # without this a step run against an older commit would be
            # certified under the merged artifact's newer head
            "head": run_head,
        }
        ok_all = ok_all and ok
        print(f"[close_round] {name}: {'PASS' if ok else 'FAIL'} "
              f"({results[name]['sec']}s) {str(detail)[:150]}", flush=True)

    def sweep(sf_dir: str):
        rc, out = _run(["tools/check_oracle.py", sf_dir])
        # report the FAIL lines themselves, not the raw tail — on rc!=0
        # stderr is appended and its last line is WARN noise
        fail_lines = re.findall(r"^FAIL.*", out, re.M)
        pins = re.findall(r"^degeneracy pins checked.*", out, re.M)
        ok = rc == 0 and "ALL PASS" in out
        return ok, fail_lines[:10] if fail_lines else (
            ["ALL PASS"] + pins if ok else out.strip().splitlines()[-3:]
        )

    from check_degeneracy import SF01_DIR, SF_DIRS

    step("oracle_sf0001", lambda: sweep(SF_DIRS["sf0001"]))
    if "--skip-sf001-sweep" not in args:
        step("oracle_sf001", lambda: sweep(SF_DIRS["sf001"]))
    if "--skip-sf01-sweep" not in args:
        step("oracle_sf01", lambda: sweep(SF01_DIR))

    def census():
        rc, out = _run(["tools/replay_census.py"])
        m = re.search(r"NO REPLAY \(risk\): (\d+)", out)
        risk = int(m.group(1)) if m else -1
        return rc == 0 and risk == 0, out.strip().splitlines()[-5:]

    step("replay_census", census)

    def ledger():
        rc, out = _run(["tools/ledger_priority.py", "--check"])
        return rc == 0, out.strip().splitlines()[-1:]

    step("ledger", ledger)

    if "--skip-bench" not in args:
        def bench():
            rc, out = _run(["bench.py"])
            line = next(
                (l for l in reversed(out.strip().splitlines())
                 if l.startswith("{")), None
            )
            if rc != 0 or line is None:
                return False, out.strip().splitlines()[-3:]
            d = json.loads(line)
            ok = not d.get("errors") and not d.get("tier2", {}).get("errors")
            # Per-query p50s recorded IN THE ARTIFACT (VERDICT r13 item
            # 1): BENCH_r{N}.json is driver-taken and can be
            # contention-poisoned (r13: graph_label_propagation read
            # 1.56x its r12 value at loadavg 3.3), while tier TOTALS
            # alone can't adjudicate the ">1.5x gets a named
            # explanation" rule. These numbers come from bench.py's
            # loadavg-guarded run; `contended` records whether the
            # guard lost.
            detail = {
                "headline": d.get("value"),
                "tier2": d.get("tier2", {}).get("value"),
                "contended": d.get("contended"),
                # single-core throughput marker (VERDICT r15 item 1):
                # loadavg can be clean while the hypervisor halves CPU
                # throughput; the close artifact should carry the
                # marker so a >1.5x case is adjudicable from it alone
                "cpu_marker_sec": d.get("cpu_marker_sec"),
                "loadavg_before": d.get("loadavg_before"),
                "runs_per_query": d.get("runs_per_query"),
                "queries_tier1": d.get("queries"),
                "queries_tier2": d.get("tier2", {}).get("queries"),
            }
            # Regression rule: vs the PRIOR close's uncontended
            # per-query readings, any query >1.5x (and above the 0.2 s
            # noise floor) must be named in SCALE.md with a line
            # containing `regression: <query_name>` — unexplained
            # regressions FAIL the gate. Both sides must be
            # uncontended; the comparison self-bootstraps (first run
            # after this lands has no prior per-query record).
            prior_q: dict[str, float] = {}
            if os.path.exists(CLOSING):
                with open(CLOSING) as fh:
                    pb = json.load(fh).get("steps", {}).get("bench", {})
                pdet = pb.get("detail")
                if isinstance(pdet, dict) and not pdet.get("contended"):
                    for k in ("queries_tier1", "queries_tier2"):
                        prior_q.update(pdet.get(k) or {})
            cur_q = {
                **(d.get("queries") or {}),
                **(d.get("tier2", {}).get("queries") or {}),
            }
            regressions = []
            if not d.get("contended"):
                for qn, t in cur_q.items():
                    p = prior_q.get(qn)
                    if p is not None and p >= 0.2 and t > 1.5 * p:
                        regressions.append(
                            {"query": qn, "prior": p, "now": t,
                             "ratio": round(t / p, 2)}
                        )
            if regressions:
                try:
                    with open(os.path.join(REPO, "SCALE.md")) as fh:
                        scale_txt = fh.read()
                except OSError:
                    scale_txt = ""
                unexplained = [
                    r["query"] for r in regressions
                    if f"regression: {r['query']}" not in scale_txt
                ]
                detail["regressions"] = regressions
                detail["unexplained_regressions"] = unexplained
                if unexplained:
                    ok = False
            return ok, detail

        step("bench", bench)

    # Skew-parity gate (VERDICT r13 item 2): the r13 skew-lever
    # measurements were one-off SCALE.md rows — nothing re-verified
    # correctness ON SKEW afterwards. Regenerate both fixtures from
    # sf0.1 (deterministic: uniforms are xxhash64 of the pre-remap
    # row, so same input -> same corpus) and exact-compare a pinned
    # skew-sensitive subset against the DuckDB oracle on them.
    SKEW_SRC = "/root/testdata/sf0.1"
    SKEW_HUB_SUBSET = [
        "dedup_minhash_lsh",        # hot LSH buckets genuinely engage
        "dedup_lsh_hot_salted",     # blocked self-join under real skew
        "graph_linkpred_capped",    # wedge cap binds on real hubs
        "graph_linkpred_cap64",     # production cap: non-empty on hubs
        "window_sessionize",        # hot users -> skewed session keys
        "curation_domain_cap",      # dominant-domain cap engages
    ]
    SKEW_ORDER_SUBSET = [
        "join_salted",              # one order = ~10% of lineitems
        "q1_pricing_summary",       # AQE skew path on the hot shuffle
    ]

    SKEW_EMB_SUBSET = [
        "sim_topk_ivf_hotsplit",    # salted cell join ≡ plain, hot cell engaged
        "sim_topk_ivf_kmeans",      # the plain formulation it must match
        "sim_ivf_recall_audit",     # recall audit on imbalanced cells
    ]

    def _build_emb_fixture() -> tuple[int, str]:
        """(Re)build the Zipf-clustered embeddings fixture in-process
        (deterministic seed; a no-op if already on disk)."""
        return _run([
            "-c",
            "import sys; sys.path.insert(0, 'tools'); "
            "from ann_recall import make_skew_clustered; "
            "from posting_lines_spark.session import get_spark; "
            "s = get_spark(app='emb_fixture'); "
            "print(make_skew_clustered(s)); s.stop()",
        ])

    if "--skip-skew" not in args:
        def skew_parity():
            tails = []
            for mode, rel, subset in (
                ("hub", ".benchdata/skew01", SKEW_HUB_SUBSET),
                ("order", ".benchdata/skeworder01", SKEW_ORDER_SUBSET),
                ("emb", ".benchdata/emb_skewclustered", SKEW_EMB_SUBSET),
            ):
                dst = os.path.join(REPO, rel)
                if mode == "emb":
                    rc, out = _build_emb_fixture()
                else:
                    cmd = ["tools/make_skew.py", SKEW_SRC, dst]
                    if mode == "order":
                        cmd += ["--mode", "order"]
                    rc, out = _run(cmd)
                if rc != 0:
                    return False, (
                        [f"fixture build ({mode}) failed"]
                        + out.strip().splitlines()[-3:]
                    )
                rc, out = _run(["tools/check_oracle.py", dst] + subset)
                fail_lines = re.findall(r"^FAIL.*", out, re.M)
                if rc != 0 or "ALL PASS" not in out:
                    return False, [f"{mode}:"] + (
                        fail_lines[:8] or out.strip().splitlines()[-3:]
                    )
                tails.append(f"{mode}: ALL PASS ({len(subset)} queries)")
            return True, tails

        step("skew_parity", skew_parity)

    if "--skip-pytest" not in args:
        def pytest_step():
            with tempfile.TemporaryDirectory() as tmp:
                xml = os.path.join(tmp, "pytest.xml")
                rc, out = _run(["-m", "pytest", "tests/", "-q", "-rfE", f"--junitxml={xml}"])
                per_file = _per_file_counts(xml)
            return rc == 0, {
                "summary": out.strip().splitlines()[-1:],
                "failed": re.findall(r"^(?:FAILED|ERROR) (\S+)", out, re.M),
                "per_file": per_file,
            }

        step("pytest", pytest_step)

    head = _git_head()
    if "--merge" in args and os.path.exists(CLOSING):
        # re-run of a subset after a fix: keep the prior run's passed
        # steps, overwrite the re-run ones, recompute all_pass. Each
        # kept step RETAINS the head it actually ran against (ADVICE
        # r13: stamping the current head over prior steps certified
        # them against a commit they never saw); a head mismatch is
        # warned loudly and recorded in the artifact.
        with open(CLOSING) as fh:
            prior_doc = json.load(fh)
        prior = prior_doc.get("steps", {})
        prior_head = prior_doc.get("head", "")
        for s in prior.values():
            s.setdefault("head", prior_head)
        stale = sorted(
            {s["head"] for n, s in prior.items()
             if n not in results and s.get("head") and s["head"] != head}
        )
        if stale:
            print(
                f"[close_round] WARNING: --merge keeps steps from "
                f"other head(s) {[h[:9] for h in stale]} != current "
                f"{head[:9]} — those steps certify the OLDER commit; "
                "re-run them for a single-head artifact",
                flush=True,
            )
        prior.update(results)
        results = prior
        ok_all = all(s.get("pass") for s in results.values())
    mixed = sorted({s.get("head", head) for s in results.values()})
    with open(CLOSING, "w") as fh:
        json.dump(
            {
                "head": head,
                "single_head": mixed == [head],
                "all_pass": ok_all,
                "steps": results,
            },
            fh,
            indent=1,
        )
    print(f"[close_round] wrote {CLOSING} — "
          f"{'ALL GATES PASS' if ok_all else 'GATE FAILURES PRESENT'}")
    return 0 if ok_all else 1


if __name__ == "__main__":
    raise SystemExit(main())
