"""Repo-hygiene gates that keep generated artifacts honest.

The round-5 verdict found COVERAGE.md's proof ledger stale (it said
162/244 while the truth was 212/244) because nothing enforced
regeneration after a CORRECTNESS_r{N}.json landed.  These tests make
staleness fail the suite.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_proof_ledger_fresh():
    """COVERAGE.md's generated ledger must match the CORRECTNESS files."""
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "proof_ledger.py"), "--check"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stdout + r.stderr


def test_proof_ledger_pending_vs_drift():
    """A driver artifact newer than the last rotation is PENDING (exit 0
    — the expected between-rounds state that red-flagged rounds 6–8),
    while a hand-edited ledger still fails even in that state."""
    import re

    check = [sys.executable, os.path.join(REPO, "tools", "proof_ledger.py"), "--check"]
    reg = os.path.join(REPO, "dww_data_pipeline_spark", "plans", "registry.py")
    hi = int(re.search(r"latest seen: r(\d+)", open(reg).read()).group(1))
    fake = os.path.join(REPO, f"CORRECTNESS_r{hi + 90}.json")
    cov = os.path.join(REPO, "COVERAGE.md")
    cov_text = open(cov).read()
    assert not os.path.exists(fake)
    try:
        # pick any real green row so the fake artifact parses as proof
        import glob
        import json

        src = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))[-1]
        rows = json.load(open(src))
        json.dump(dict(list(rows.items())[:2]), open(fake, "w"))
        r = subprocess.run(check, capture_output=True, text=True, timeout=600)
        assert r.returncode == 0 and "PENDING" in r.stdout, r.stdout + r.stderr
        # hand-edit on top of the pending artifact must still fail
        open(cov, "w").write(cov_text.replace("| 0 | `", "| 0 | `HANDEDIT", 1))
        r = subprocess.run(check, capture_output=True, text=True, timeout=600)
        assert r.returncode == 1 and "STALE" in r.stdout, r.stdout + r.stderr
    finally:
        open(cov, "w").write(cov_text)
        if os.path.exists(fake):
            os.remove(fake)


def test_bench_set_partitions_registry():
    """Every registered query is either benched (HEADLINE + EXTRA) or
    explicitly excluded with a reason category in bench.BENCH_EXCLUDED
    — the bench-set rule is a checkable property, not a curated list
    (round-8 verdict ask #7)."""
    sys.path.insert(0, REPO)
    import bench

    from dww_data_pipeline_spark.plans.registry import all_queries

    registered = set(all_queries())
    benched = set(bench.HEADLINE) | set(bench.EXTRA)
    excluded = set(bench.BENCH_EXCLUDED)
    assert not (benched & excluded), (
        f"queries both benched and excluded: {sorted(benched & excluded)}"
    )
    unaccounted = registered - benched - excluded
    assert not unaccounted, (
        f"queries neither benched nor explicitly excluded: "
        f"{sorted(unaccounted)} — add to bench.EXTRA or BENCH_EXCLUDED"
    )
    ghosts = (benched | excluded) - registered
    assert not ghosts, f"bench lists reference unregistered queries: {sorted(ghosts)}"


def test_registry_prefix_spends_sample_on_unproven():
    """No unproven query may wait BEHIND the ~50-slot driver prefix while
    an already-proven query occupies a prefix slot (the round-4 rotation
    defect).  Re-verification picks in the prefix are fine once every
    unproven query is already inside it."""
    sys.path.insert(0, REPO)
    from tools.proof_ledger import _proof_rounds

    from dww_data_pipeline_spark.plans.registry import REGISTRY, all_queries

    order = list(all_queries())
    proved = _proof_rounds({n for n in order if REGISTRY[n].oracle is not None})
    waiting = [n for n in order[50:] if n not in proved]
    wasted = [n for n in order[:50] if n in proved]
    assert not (waiting and wasted), (
        f"rotation defect: {len(waiting)} unproven queries wait beyond the "
        f"prefix ({waiting[:5]}…) while proven ones occupy prefix slots "
        f"({wasted[:5]}…) — rotate registry._PRIORITY"
    )


def test_tools_have_no_round_scaffolding():
    """tools/ holds parameterised tools, not per-round copies: a new
    measurement is a mode or a query list of an existing tool (scale
    artifacts: ``tools/scaling.py --scale-artifact``; per-query timing:
    ``python -m dww_data_pipeline_spark profile``)."""
    import re

    pattern = re.compile(r"r\d+_|tier\d+_|_proto")
    tools = os.listdir(os.path.join(REPO, "tools"))
    assert [n for n in tools if pattern.search(n)] == []
