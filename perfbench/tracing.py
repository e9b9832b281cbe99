"""Spans and Spark counters taken at the benchmark's call boundaries.

Each span is one call into an engine layer, made from the benchmark's
own code. When tracing is on, every span runs under its own Spark job
group, so the jobs it launched can be read back from the status store
once the listener bus has drained. Spans are kept in memory and
written out at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from metrics import aggregate_by_group


def _stage_counters(store, sid: int) -> dict | None:
    """Counters of the last attempt of stage ``sid``; None for a stage
    that was skipped (its output was reused) or is unknown."""
    try:
        s = store.lastStageAttempt(sid)
    except Py4JJavaError:  # NoSuchElementException: the store has no attempt
        return None
    if s.status().toString() == "SKIPPED":
        return None
    return {
        "stages": 1,
        "tasks": s.numCompleteTasks(),
        "run_ms": s.executorRunTime(),
        "cpu_ns": s.executorCpuTime(),
        "input_bytes": s.inputBytes(),
        "output_bytes": s.outputBytes(),
        "shuffle_read_bytes": s.shuffleReadBytes(),
        "shuffle_write_bytes": s.shuffleWriteBytes(),
        "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        "exchanges": 1 if s.shuffleWriteRecords() > 0 else 0,
    }


class Tracer:
    """Records spans; with ``on`` also tags each span's Spark jobs."""

    def __init__(self, sc, on: bool):
        self.sc = sc
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc._jsc.clearJobGroup()
        else:
            span = self.spans[sid]
            self.sc.setJobGroup(span["group"], span["name"], False)

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op, "parent": parent,
               "group": f"perfbench-{op}-{sid}-{name}", "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.on:
            self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.on:
                self._set_group(parent)

    def counters(self, span_ids) -> dict[int, dict]:
        """Spark counters per span (jobs, stages, tasks, bytes), read
        from the status store after the listener bus has drained."""
        if not self.on:
            return {}
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        rows = []
        for sid in span_ids:
            group = self.spans[sid]["group"]
            seen = set()
            rows.append({"group": group, "jobs": 0})
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                rows.append({"group": group, "jobs": 1})
                for st in info.stageIds if info else ():
                    if st not in seen:
                        seen.add(st)
                        c = _stage_counters(store, st)
                        if c:
                            rows.append({"group": group, **c})
        agg = aggregate_by_group(rows)
        return {sid: agg[self.spans[sid]["group"]] for sid in span_ids}

    def op_spans(self, op: int) -> list[int]:
        return [s["id"] for s in self.spans if s["op"] == op]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
