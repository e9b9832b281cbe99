"""Turn one run's raw records into the benchmark's metrics."""

from __future__ import annotations

import json
import os

from metrics import COUNTERS, backlog_max, median, open_loop, percentile, tail_percentile, write_amp

END_TO_END = {
    "op_cpu_p50_s": "s",
    "work_per_cpu_s": "1/s",
    "setup_s": "s",
}
PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_share": "share",
    "plans.build_jobs": "count",
    "plans.first_call_s": "s",
    "plans.repeat_call_s": "s",
    "plans.admit_s": "s",
    "session.exec_s": "s",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.shuffle_read_bytes": "bytes",
    "session.shuffle_write_bytes": "bytes",
    "session.spill_bytes": "bytes",
    "session.exchanges": "count",
    "session.task_busy_share": "share",
    "session.task_cpu_s": "s",
    "session.jvm_cpu_s": "s",
    "session.storage_mb": "MiB",
    "session.peak_rss_mb": "MiB",
    "sources.input_bytes": "bytes",
    "sources.output_bytes": "bytes",
    "sources.write_amp": "ratio",
    "sources.space_amp": "ratio",
    "sources.lake_files": "count",
    "streaming.upsert_s": "s",
    "streaming.shard_ingest_s": "s",
    "streaming.compact_s": "s",
    "streaming.late_s": "s",
    "streaming.backlog_max": "count",
    "streaming.read_p50_s": "s",
    "host.cpu_probe_s": "s",
    "host.steal_share": "share",
    "trace.overhead_share": "share",
}
PRIMARY = {"serve": "request", "ingest": "batch"}
# a probe this far from the median of earlier runs in the same checkout
# marks the run as measured in a drifted window
DRIFT = 1.25


def _counter_sum(ops, name: str | None = None, spans=None) -> dict:
    """Counters summed over ``ops``, optionally only over spans ``name``."""
    tot = dict.fromkeys(COUNTERS, 0)
    for o in ops:
        for sid, c in o.get("span_counters", {}).items():
            if name is None or spans[sid]["name"] == name:
                for k in COUNTERS:
                    tot[k] += c[k]
    return tot


def end_to_end(workload: str, raw: dict) -> tuple[dict, dict]:
    ops = raw["ops"]
    prim = [o for o in ops if o["kind"] == PRIMARY[workload]]
    if workload == "ingest":
        lat, _ = open_loop([o["due"] for o in prim], [o["start"] for o in prim], [o["end"] for o in prim])
    else:
        lat = [o["end"] - o["start"] for o in prim]
    # work completed: rows committed (ingest) or requests answered (serve)
    work = sum(o["rows"] if workload == "ingest" else 1 for o in prim)
    # a tail is reported only where at least 10 samples lie beyond it; a
    # run's 15 requests or 3 batches support none, so it is not bounded
    cycles = sorted({o["cycle"] for o in prim})
    busy = [sum(o["end"] - o["start"] for o in prim if o["cycle"] == c) for c in cycles]
    p = tail_percentile(len(lat))
    info = {"n": len(lat), "cycles": busy, "tail": f"p{p} {percentile(lat, p)} s" if p else
            f"none (a tail needs 20 samples); slowest {max(lat)} s",
            # wall-clock figures, printed but not bounded: CPU stolen by
            # the hypervisor stretches them by up to 2x from run to run
            "op_p50_s": median(lat), "throughput": work / sum(busy)}
    # the bounded figures are CPU seconds of the run's processes, which
    # leave stolen time out
    return {
        "op_cpu_p50_s": median([o["cpu"] for o in prim]),
        "work_per_cpu_s": work / sum(o["cpu"] for o in prim),
        "setup_s": median(raw["setup_s"]) + raw["warm_s"],
    }, info


def per_layer(workload: str, raw: dict, cores: int) -> dict:
    """Per-layer metrics of a traced run. Only cycle 1 is traced: its
    operations are the window for the exact counters and the per-layer
    times. Untraced cycle 0 holds first calls in the session; untraced
    cycle 2 repeats cycle 1's work and prices the tracing."""
    ops, spans = raw["ops"], raw["spans"]
    by_op: dict[int, list] = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    kind = PRIMARY[workload]
    traced = [o for o in ops if o["traced"]]
    prim = [o for o in traced if o["kind"] == kind]
    n = len(prim)
    busy = sum(o["end"] - o["start"] for o in prim)
    first, later = ([o for o in ops if o["kind"] == kind and o["cycle"] == c] for c in (0, 2))

    def span_s(o, name):
        return sum(s["end"] - s["start"] for s in by_op.get(o["id"], ()) if s["name"] == name)

    def med_or_0(xs):
        return median(xs) if xs else 0.0

    build = [span_s(o, "plans.build") for o in prim]
    win = _counter_sum(traced)
    m = {
        "plans.build_s": median(build),
        "plans.build_share": sum(build) / busy,
        "plans.build_jobs": _counter_sum(traced, "plans.build", spans)["jobs"] / n,
        "session.exec_s": median([span_s(o, "session.exec") for o in prim]),
        "session.jobs": win["jobs"] / n,
        "session.stages": win["stages"] / n,
        "session.tasks": win["tasks"] / n,
        "session.shuffle_read_bytes": win["shuffle_read_bytes"] / n,
        "session.shuffle_write_bytes": win["shuffle_write_bytes"] / n,
        "session.spill_bytes": win["spill_bytes"] / n,
        "session.exchanges": win["exchanges"] / n,
        "session.task_busy_share": win["run_ms"] / 1000.0 / (cores * sum(o["end"] - o["start"] for o in traced)),
        "session.task_cpu_s": win["cpu_ns"] / 1e9 / n,
        "session.jvm_cpu_s": raw["jvm_cpu_s"] / sum(1 for o in ops if o["kind"] == kind),
        "session.storage_mb": max(o["storage_mb"] for o in traced),
        "session.peak_rss_mb": raw["peak_rss_mb"],
        "sources.input_bytes": win["input_bytes"] / n,
        "sources.output_bytes": win["output_bytes"] / n,
        "host.cpu_probe_s": median(raw["probes"]),
        "host.steal_share": raw["steal_share"],
        "trace.overhead_share": busy / sum(o["end"] - o["start"] for o in later) - 1.0,
    }
    if workload == "serve":
        gaps = [b["start"] - a["end"] for a, b in zip(ops, ops[1:])]
        m.update({
            # each deck holds every shape once
            "plans.first_call_s": median([o["end"] - o["start"] for o in first]),
            "plans.repeat_call_s": median([o["end"] - o["start"] for o in later]),
            "plans.admit_s": 0.0,
            "sources.write_amp": 0.0,
            "sources.space_amp": 0.0,
            "sources.lake_files": 0,
            "streaming.upsert_s": 0.0,
            "streaming.shard_ingest_s": 0.0,
            "streaming.compact_s": 0.0,
            # closed loop: the time from one reply to the next request
            "streaming.late_s": median(gaps),
            "streaming.backlog_max": 0,
            "streaming.read_p50_s": 0.0,
        })
    else:
        compacts = [o for o in traced if o["kind"] == "compact"]
        batches = [o for o in ops if o["kind"] == kind]
        due, start = [o["due"] for o in batches], [o["start"] for o in batches]
        m.update({
            "plans.first_call_s": span_s(first[0], "plans.admit"),
            "plans.repeat_call_s": median([span_s(o, "plans.admit") for o in later]),
            "plans.admit_s": median([span_s(o, "plans.admit") for o in prim]),
            "sources.write_amp": write_amp(sum(o["written"] for o in prim + compacts),
                                           sum(o["user_bytes"] for o in prim)),
            "sources.space_amp": med_or_0([o["space_amp"] for o in compacts]),
            "sources.lake_files": med_or_0([o["lake_files"] for o in compacts]),
            "streaming.upsert_s": median([span_s(o, "streaming.upsert") for o in prim]),
            "streaming.shard_ingest_s": median([span_s(o, "streaming.shard_ingest") for o in prim]),
            "streaming.compact_s": med_or_0([o["end"] - o["start"] for o in compacts]),
            "streaming.late_s": max(open_loop(due, start, [o["end"] for o in batches])[1]),
            "streaming.backlog_max": backlog_max(due, start),
            "streaming.read_p50_s": med_or_0([o["end"] - o["start"] for o in traced if o["kind"] == "read"]),
        })
    return m


def _drift(cache: str, workload: str, probe: float) -> str:
    """Compare this run's probe with earlier runs in the same checkout
    and record it. Runs are flagged, never normalized."""
    path = os.path.join(cache, f"probes-{workload}.json")
    hist = []
    if os.path.exists(path):
        with open(path) as f:
            hist = json.load(f)
    verdict = "no history"
    if hist:
        ratio = probe / median(hist)
        verdict = f"probe {ratio:.2f}x the median of {len(hist)} earlier runs"
        if not 1 / DRIFT <= ratio <= DRIFT:
            verdict += " -- OUTLIER: this run was measured in a drifted window"
    os.makedirs(cache, exist_ok=True)
    with open(path, "w") as f:
        json.dump((hist + [probe])[-50:], f)
    return verdict


def summarize(workload: str, raw: dict, trace: bool, cores: int, cache: str) -> dict:
    e2e, info = end_to_end(workload, raw)
    layer = per_layer(workload, raw, cores) if trace else {}
    attempted = len(raw["ops"])
    failed = min(len(raw["errors"]), attempted)
    p0, p1 = raw["probes"]
    lines = [
        f"workload={workload} trace={int(trace)} cores={cores} "
        + " ".join(f"{k}={v}" for k, v in raw["versions"].items()),
        f"samples={info['n']} tail: {info['tail']}",
        f"wall: op_p50_s = {info['op_p50_s']} s, throughput = {info['throughput']} 1/s (per second of busy time)",
        "busy per cycle: " + ", ".join(f"{x:.3f}s" for x in info["cycles"]),
        "set-ups: " + ", ".join(f"{x:.3f}s" for x in raw["setup_s"]) + f"; warm-up {raw['warm_s']:.3f}s",
        f"failed_ratio={failed / attempted} ({failed} of {attempted} operations)",
        f"peak RSS {raw['peak_rss_mb']:.1f} MiB (driver JVM + Python, VmHWM)",
        f"host: cpu probe {p0:.3f}s before, {p1:.3f}s after; steal {raw['steal_share']:.3f} of CPU time "
        f"in the loop; {_drift(cache, workload, median(raw['probes']))}",
    ]
    lines += [f"  {e}" for e in raw["errors"][:20]]
    lines += [f"{k} = {v} {END_TO_END[k]}" for k, v in e2e.items()]
    lines += [f"{k} = {v} {PER_LAYER[k]}" for k, v in layer.items()]
    chosen, units = (layer, PER_LAYER) if trace else (e2e, END_TO_END)
    result = {
        "correct": not raw["errors"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in chosen.items()},
    }
    return {"lines": lines, "result": result}
