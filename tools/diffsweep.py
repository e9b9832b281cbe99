"""Three-SF differential sweep -> recorded artifact DIFFCHECK_r{N}.json.

Round 5 caught a real cross-engine divergence (ext_merge_upsert .xx5
rounding) only at sf0.1 — so "green at all three SFs" must be a
committed, checkable artifact each round, not a claim.  This runs the
tools/diffcheck.py comparison for every registry query at sf0.001,
sf0.01 and sf0.1 and writes a compact summary JSON
(per-SF ok/rows_only/fail counts + failure names + per-SF wall time)
to the repo root.

Usage:  python tools/diffsweep.py [sf_dir ...]   # default: all three
Round number: one past the newest driver CORRECTNESS_r{N}.json
(overridable via SPARK_GRAFT_ROUND), matching bench.py's convention.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def _current_round() -> int:
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    matches = (
        re.search(r"_r(\d+)\.json$", p)
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    )
    rounds = [int(m.group(1)) for m in matches if m]
    return (max(rounds) + 1) if rounds else 1


def sweep(sf_dirs: list[str]) -> dict:
    sys.path.insert(0, REPO)
    import tools.diffcheck as dc
    from tools.diffcheck import canon, duck_conn, run_spark_side, values_match
    from dww_data_pipeline_spark.plans.registry import REGISTRY, _load_all
    from dww_data_pipeline_spark.session import get_spark

    _load_all()
    spark = get_spark("diffsweep")
    out: dict = {
        "metric": "diffcheck_three_sf_sweep",
        "n_queries": len(REGISTRY),
        "sfs": {},
    }
    for sf_dir in sf_dirs:
        t0 = time.perf_counter()
        ok = rows_only = 0
        fails: list[str] = []
        duck_retries: list[str] = []
        retries_before = len(dc.RETRIES)
        for name, q in sorted(REGISTRY.items()):
            try:
                sdf = run_spark_side(q, spark, sf_dir)
            except Exception as e:  # noqa: BLE001
                fails.append(f"{name}: spark error: {e}")
                continue
            if q.oracle is None:
                rows_only += 1
                continue
            try:
                # fresh connection per query: a long-lived sweep
                # connection accumulates its buffer pool across 270+
                # MATERIALIZED-heavy oracles and eventually fails hard
                # allocations while the 32-thread Spark JVM holds the
                # box (round-9 sweep: s16/pr1 OOM, green in isolation;
                # duck_conn also caps memory_limit + enables spill)
                con = duck_conn(sf_dir)
                try:
                    ddf = con.execute(q.oracle).df()
                finally:
                    con.close()
            except Exception as e:  # noqa: BLE001
                # One retry on another fresh connection.  Same audit
                # discipline as run_spark_side: the first error is
                # printed and recorded; a VALUE mismatch is computed
                # downstream and never retried.
                first = f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:200]}"
                print(f"RETRY(duck) {first}", flush=True)
                try:
                    con2 = duck_conn(sf_dir)
                    try:
                        ddf = con2.execute(q.oracle).df()
                    finally:
                        con2.close()
                    duck_retries.append(first)
                except Exception as e2:  # noqa: BLE001
                    fails.append(f"{name}: duckdb error: {e2}")
                    continue
            good, why = values_match(canon(sdf), canon(ddf))
            if good:
                ok += 1
            else:
                fails.append(f"{name}: {why}")
        sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        out["sfs"][sf] = {
            "hash_ok": ok,
            "rows_only": rows_only,
            "failures": fails,
            "spark_retries": dc.RETRIES[retries_before:],
            "duck_retries": duck_retries,
            "wall_s": round(time.perf_counter() - t0, 1),
        }
        print(
            f"sf{sf}: {ok} hash-ok, {rows_only} rows-only, "
            f"{len(fails)} failures ({out['sfs'][sf]['wall_s']}s)",
            flush=True,
        )
    out["all_green"] = all(not s["failures"] for s in out["sfs"].values())
    return out


def repair(path: str) -> int:
    """Re-run ONLY the recorded failures of an existing artifact.

    An infrastructure flake (e.g. the DuckDB OOM above) leaves a
    failure row that a clean isolated rerun contradicts.  This re-runs
    exactly the recorded failures on their own SF; a pass MOVES the
    row into `rerun_ok` with the original error preserved — never
    deletes it — so the flake stays auditable.  A repeat failure (and
    any genuine value mismatch, which reproduces deterministically)
    stays in `failures`, and all_green stays false.
    """
    sys.path.insert(0, REPO)
    from tools.diffcheck import canon, duck_conn, run_spark_side, values_match
    from dww_data_pipeline_spark.plans.registry import REGISTRY, _load_all
    from dww_data_pipeline_spark.session import get_spark

    with open(path) as f:
        out = json.load(f)
    _load_all()
    spark = get_spark("diffsweep-repair")
    for sf, entry in out["sfs"].items():
        if not entry["failures"]:
            continue
        sf_dir = f"/root/testdata/sf{sf}"
        con = duck_conn(sf_dir)
        still: list[str] = []
        for fail in entry["failures"]:
            name = fail.split(":", 1)[0]
            q = REGISTRY[name]
            try:
                sdf = run_spark_side(q, spark, sf_dir)
                ddf = con.execute(q.oracle).df()
                good, why = values_match(canon(sdf), canon(ddf))
            except Exception as e:  # noqa: BLE001
                good, why = False, f"{type(e).__name__}: {e}"
            if good:
                entry.setdefault("rerun_ok", []).append(
                    {"name": name, "first_error": fail}
                )
                entry["hash_ok"] += 1
                print(f"REPAIR OK  sf{sf} {name} (was: {fail})", flush=True)
            else:
                still.append(f"{name}: {why}")
                print(f"REPAIR FAIL sf{sf} {name}: {why}", flush=True)
        entry["failures"] = still
        con.close()
    out["all_green"] = all(not s["failures"] for s in out["sfs"].values())
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"rewrote {path} (all_green={out['all_green']})")
    return 0 if out["all_green"] else 1


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--repair":
        return repair(
            sys.argv[2]
            if len(sys.argv) > 2
            else os.path.join(REPO, f"DIFFCHECK_r{_current_round():02d}.json")
        )
    sf_dirs = sys.argv[1:] or DEFAULT_SFS
    out = sweep(sf_dirs)
    path = os.path.join(REPO, f"DIFFCHECK_r{_current_round():02d}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({k: v for k, v in out.items() if k != "sfs"}))
    print(f"wrote {path}")
    return 0 if out["all_green"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
