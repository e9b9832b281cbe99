"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout: the engine package
``dww_data_pipeline_spark`` must sit next to ``perfbench/``. Every file
the run writes goes under ``perfbench/.work/``. With ``--trace 0`` the
last line of standard output is one JSON object with the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics of a
traced run instead. Lines before it are for people.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


class Run:
    """One run: the session, the workload, and what was measured."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
        self.cache = os.path.join(HERE, ".work", "cache")
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.jvm_pid = None
        from workloads import WORKLOADS

        self.wl = WORKLOADS[workload](self)

    def session(self):
        """Start the engine's session sized to this box, stopping the
        previous one, as every set-up does."""
        from dww_data_pipeline_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", cpus=str(self.cores))
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def after_op(self, op: dict, tracer, i: int) -> None:
        """Number op ``i`` and read its Spark counters if it was traced
        (outside its timing)."""
        op["id"] = i
        if not op["traced"]:
            return
        per_span = tracer.counters(tracer.op_spans(i))
        op["span_counters"] = per_span
        op["storage_mb"] = sum(r.memSize() for r in self.spark.sparkContext._jsc.sc().getRDDStorageInfo()) / 2**20

    def execute(self) -> dict:
        import host
        from tracing import Tracer

        # set-up proper (session start, inputs, the workload's own state)
        # is repeated; the warm-up that follows it runs once, in the
        # session that is then measured
        setup_s = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.wl.setup(rep)
            setup_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.wl.warm()
        warm_s = time.perf_counter() - t0
        sc = self.spark.sparkContext
        probes = [host.cpu_probe(self.spark, self.cores)]
        steal0, jvm0 = host.cpu_times(), host.proc_cpu_s(self.jvm_pid)
        tracer = Tracer(sc, False)
        # a traced run traces cycle 1 only, between an untraced cycle 0
        # (first calls in the session) and an untraced cycle 2 (its baseline)
        ops = self.wl.loop(self.seconds, tracer, lambda cycle: self.trace and cycle == 1)
        steal1, jvm1 = host.cpu_times(), host.proc_cpu_s(self.jvm_pid)
        probes.append(host.cpu_probe(self.spark, self.cores))
        peak_rss = host.vm_hwm_mb(self.jvm_pid) + host.vm_hwm_mb(os.getpid())
        errors = self.wl.check()
        if self.trace:
            tracer.dump(os.path.join(HERE, ".work", f"trace-{self.wl.name}-{self.seed}.json"))
        return {
            "ops": ops, "setup_s": setup_s, "warm_s": warm_s, "probes": probes, "errors": errors,
            "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "jvm_cpu_s": jvm1 - jvm0, "peak_rss_mb": peak_rss, "spans": tracer.spans,
            "versions": {"spark": self.spark.version, "pyspark": __import__("pyspark").__version__,
                         "java": sc._jvm.java.lang.System.getProperty("java.version"),
                         "python": platform.python_version()},
        }

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None and getattr(gateway, "proc", None) is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()  # the JVM exits when its stdin closes
                gateway.proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the engine's driver-heap knob: bounded, so a run stays small on a
    # shared host and its peak memory has a ceiling
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # C1 only: with the tiered compiler the JVM still spends about half
    # its CPU on C2 compilation two decks into a run, a cost a long-lived
    # process amortises to nothing and that varies from run to run
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData '
        f'-XX:TieredStopAtLevel=1" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dww_data_pipeline_spark", "__init__.py")):
        print(f"perfbench: no engine package dww_data_pipeline_spark in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import report

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    _env(run.work)
    try:
        raw = run.execute()
    finally:
        run.close()
    out = report.summarize(args.workload, raw, bool(args.trace), run.cores, run.cache)
    for line in out["lines"]:
        print(line)
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
