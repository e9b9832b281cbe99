"""The benchmark's workloads, driven through the engine's public calls.

``serve``  closed loop, one client: seeded stream of the serving and
           analytics query shapes over fixed tables, each result
           handed to the client with ``toArrow()``.
``ingest`` open loop: micro-batches due every ``INGEST_INTERVAL_S``;
           each batch upserts events into a gold table, appends
           documents to the shard lake and admits them against a
           cached corpus index; reads and compactions interleave.

Every call into the engine is wrapped in a span (see ``tracing``).
A workload records one dict per operation and checks its outputs
after the measured loop, outside every timed region.
"""

from __future__ import annotations

import math
import os
import time
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import host
import oracles
from metrics import space_amp
from tracing import Tracer

SERVE_SHAPES = (
    "a1_pricing_summary a3_search_mappings a5_density a6_density_report "
    "w1_jumps w2_run_lengths w3_consecutive_pairs w4_directional_in "
    "w4_directional_out w5_dummy_departures w8_nested_documents "
    "o5_first_per_group j1_star_join q3_shipping_priority "
    "a7_merge_sum_by_cleaned_key"
).split()
SERVE_SF = 0.02
SERVE_TABLE_SEED = 20240101  # the serving tables are fixed; the seed draws the request stream
SERVE_DOCS, SERVE_VECS = 500, 200
# the nominal time of one warm deck on a 4-core host: ``--seconds`` buys
# a fixed number of whole decks, never a number that depends on speed
SERVE_DECK_S = 10.0

INGEST_INTERVAL_S = 8.0
INGEST_EVENTS, INGEST_DOCS = 2000, 100
INGEST_CORPUS, INGEST_USERS = 2000, 2000
# a cycle is three batches: batch, read, batch, compaction, batch; the
# read and the compaction each run behind a batch and ahead of the next
CYCLE = 3
INGEST_SHARDS = 4


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Serve:
    name = "serve"

    def __init__(self, run):
        self.run = run
        self.rng = np.random.default_rng(run.seed)
        self.tables = None
        self.checks: list[tuple[str, str]] = []
        # whole decks measured at least; a traced run measures a traced
        # deck between two untraced ones
        self.min_cycles = 3 if run.trace else 1

    def setup(self, rep: int) -> None:
        from dww_data_pipeline_spark.plans.registry import all_queries

        self.builders = all_queries()
        self.tables = os.path.join(self.run.work, f"serve-tables-{rep}")
        gen.write_tables(self.tables, gen.tables(SERVE_TABLE_SEED, SERVE_SF, SERVE_DOCS, SERVE_VECS))
        self.run.session()

    def warm(self) -> None:
        for q in SERVE_SHAPES:
            self.builders[q](self.run.spark, self.tables).toArrow()

    def stream(self):
        """Seeded request stream: shuffled decks of every shape, so any
        prefix of whole decks has the same mix."""
        while True:
            yield from (SERVE_SHAPES[i] for i in self.rng.permutation(len(SERVE_SHAPES)))

    def loop(self, seconds: float, tracer, cycle_traced) -> list[dict]:
        spark, ops = self.run.spark, []
        decks = max(round(seconds / SERVE_DECK_S), self.min_cycles)
        for i, q in enumerate(self.stream()):
            deck = i // len(SERVE_SHAPES)
            if deck == decks:
                break
            tracer.on = cycle_traced(deck)
            cpu = host.tree_cpu_s(os.getpid())
            start = time.perf_counter()
            with tracer.span("plans.build", i):
                df = self.builders[q](spark, self.tables)
            with tracer.span("session.exec", i):
                tbl = df.toArrow()
            end = time.perf_counter()
            cpu = host.tree_cpu_s(os.getpid()) - cpu
            ops.append({"kind": "request", "name": q, "cycle": deck, "due": start, "start": start,
                        "end": end, "cpu": cpu, "traced": tracer.on, "rows": tbl.num_rows})
            self.run.after_op(ops[-1], tracer, i)
            self.checks.append((q, oracles.result_hash(tbl.to_pandas())))
        tracer.on = False
        return ops

    def check(self) -> list[str]:
        from dww_data_pipeline_spark.plans.registry import all_oracles
        from dww_data_pipeline_spark.sources.catalog import TABLES

        sql = all_oracles()
        want = oracles.oracle_hashes({q: sql[q] for q in SERVE_SHAPES}, self.tables, self.run.cache, TABLES)
        return [f"{q}: result {got} != oracle {want[q]}" for q, got in self.checks if got != want[q]]


class Ingest:
    name = "ingest"

    def __init__(self, run):
        self.run = run
        self.batches: list[dict] = []
        self.reads: list[dict] = []
        self.compactions: list[dict] = []
        # whole cycles measured at least; a traced run measures a traced
        # cycle between two untraced ones
        self.min_cycles = 3 if run.trace else 1

    def _generate(self, root: str, n_batches: int) -> None:
        rng = np.random.default_rng(self.run.seed)
        corpus = gen.documents_table(rng, np.arange(INGEST_CORPUS))
        os.makedirs(root)
        self.corpus_path = os.path.join(root, "corpus.parquet")
        pq.write_table(corpus, self.corpus_path)
        pool = corpus.column("text").to_pylist()
        self.batches = []
        for b in range(n_batches):
            ev = gen.events_table(rng, INGEST_EVENTS * b + np.arange(INGEST_EVENTS), INGEST_USERS,
                                  gen.EVENTS_T0_US, gen.EVENTS_SPAN_US)
            docs = gen.documents_table(rng, INGEST_CORPUS + INGEST_DOCS * b + np.arange(INGEST_DOCS),
                                       pool, exact=0.02)
            paths = {k: os.path.join(root, f"{k}-{b}.parquet") for k in ("events", "docs")}
            pq.write_table(ev, paths["events"])
            pq.write_table(docs, paths["docs"])
            self.batches.append({**paths, "events_t": ev, "docs_t": docs,
                                 "user_bytes": sum(os.path.getsize(p) for p in paths.values())})

    def setup(self, rep: int) -> None:
        from dww_data_pipeline_spark.plans.dedup_plans import build_corpus_index

        # one warm-up batch plus every batch the measured window makes due
        self.root = os.path.join(self.run.work, f"ingest-{rep}")
        self._generate(os.path.join(self.root, "inputs"), self.n_batches() + 1)
        spark = self.run.session()
        self.index = build_corpus_index(spark.read.parquet(self.corpus_path))
        for df in self.index.values():
            df.cache().count()

    def warm(self) -> None:
        """One batch, read and compaction into scratch tables."""
        self._paths("warmup")
        untraced = Tracer(None, False)
        self._batch(self.batches.pop(0), 0, untraced, 0)
        self._read(untraced, 0)
        self._compact(untraced, 0)
        self._paths("live")

    def n_batches(self) -> int:
        return max(math.ceil(self.run.seconds / INGEST_INTERVAL_S), self.min_cycles * CYCLE)

    def _paths(self, tag: str) -> None:
        base = os.path.join(self.root, tag)
        self.gold, self.lake, self.decisions = (os.path.join(base, k) for k in ("gold", "lake", "decisions"))

    def _batch(self, batch: dict, b: int, tracer, op) -> None:
        from dww_data_pipeline_spark.plans.dedup_plans import incremental_decisions
        from dww_data_pipeline_spark.streaming.ingest import shard_ingest_batch
        from dww_data_pipeline_spark.streaming.sinks import upsert_batch

        spark = self.run.spark
        with tracer.span("streaming.upsert", op):
            upsert_batch(spark.read.parquet(batch["events"]), self.gold, ["user_id"], "ts", "event_id")
        docs = spark.read.parquet(batch["docs"])
        with tracer.span("streaming.shard_ingest", op):
            shard_ingest_batch(docs, self.lake, b, n_shards=INGEST_SHARDS)
        with tracer.span("plans.admit", op):
            with tracer.span("plans.build", op):
                dec = incremental_decisions(docs, index=self.index)
            with tracer.span("session.exec", op):
                dec.write.parquet(os.path.join(self.decisions, f"batch={b}"))

    def _read(self, tracer, op) -> tuple:
        from pyspark.sql import functions as F

        from dww_data_pipeline_spark.streaming.ingest import read_shard_lake

        spark = self.run.spark
        with tracer.span("streaming.read", op):
            agg = (spark.read.parquet(self.gold).groupBy("event_type")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
                   .collect())
            n_lake = read_shard_lake(spark, self.lake).count()
        return sorted((r["event_type"], r["n"], str(r["v"])) for r in agg), n_lake

    def _compact(self, tracer, op) -> int:
        from dww_data_pipeline_spark.streaming.ingest import compact_shard_lake

        with tracer.span("streaming.compact", op):
            return compact_shard_lake(self.run.spark, self.lake, n_shards=INGEST_SHARDS)

    def loop(self, seconds: float, tracer, cycle_traced) -> list[dict]:
        ops: list[dict] = []
        n = self.n_batches()
        t0 = time.perf_counter() + 0.05
        for b in range(n):
            due = t0 + b * INGEST_INTERVAL_S
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            tracer.on = cycle_traced(b // CYCLE)
            batch, i = self.batches[b], len(ops)
            cpu = host.tree_cpu_s(os.getpid())
            start = time.perf_counter()
            self._batch(batch, b, tracer, i)
            end = time.perf_counter()
            cpu = host.tree_cpu_s(os.getpid()) - cpu
            ops.append({"kind": "batch", "cycle": b // CYCLE, "due": due, "start": start,
                        "end": end, "cpu": cpu, "traced": tracer.on, "rows": INGEST_EVENTS + INGEST_DOCS,
                        "user_bytes": batch["user_bytes"], "written": self._written(b) if tracer.on else 0})
            self.run.after_op(ops[-1], tracer, i)
            if b % CYCLE == 0:
                i, start = len(ops), time.perf_counter()
                got = self._read(tracer, i)
                ops.append({"kind": "read", "cycle": b // CYCLE, "start": start,
                            "end": time.perf_counter(), "traced": tracer.on})
                self.run.after_op(ops[-1], tracer, i)
                self.reads.append({"after": b, "got": got})
            if b % CYCLE == 1:
                before = _dir_bytes(self.lake)
                i, start = len(ops), time.perf_counter()
                n_rows = self._compact(tracer, i)
                after = _dir_bytes(self.lake)
                ops.append({"kind": "compact", "cycle": b // CYCLE, "start": start,
                            "end": time.perf_counter(), "traced": tracer.on, "lake_files": before[1],
                            "space_amp": space_amp(before[0], after[0]), "written": after[0]})
                self.run.after_op(ops[-1], tracer, i)
                self.compactions.append({"after": b, "rows": n_rows})
        tracer.on = False
        self.n_done = n
        return ops

    def _written(self, b: int) -> int:
        """Bytes batch ``b`` put on disk: the rewritten gold table, its
        lake partitions and its decisions."""
        lake = sum(_dir_bytes(os.path.join(self.lake, s, f"batch={b}"))[0]
                   for s in os.listdir(self.lake) if s.startswith("shard="))
        return (_dir_bytes(self.gold)[0] + lake
                + _dir_bytes(os.path.join(self.decisions, f"batch={b}"))[0])

    def check(self) -> list[str]:
        from dww_data_pipeline_spark.streaming.ingest import read_shard_lake

        errors = []
        done = self.batches[: self.n_done]
        events = pa.concat_tables([b["events_t"] for b in done]).to_pandas()
        docs = pa.concat_tables([b["docs_t"] for b in done]).to_pandas()

        # gold == latest event per user, recomputed from the batches
        want = events.sort_values(["ts", "event_id"]).groupby("user_id").tail(1)
        gold = pq.read_table(self.gold).to_pandas()
        if sorted(zip(gold.user_id, gold.event_id)) != sorted(zip(want.user_id, want.event_id)):
            errors.append("gold table != latest event per user")

        # every interleaved read saw the state committed before it
        for r in self.reads:
            upto = pa.concat_tables([b["events_t"] for b in done[: r["after"] + 1]]).to_pandas()
            g = upto.sort_values(["ts", "event_id"]).groupby("user_id").tail(1)
            exp = sorted(
                (t, len(x), str(Decimal(sum(round(v * 100) for v in x.value)).scaleb(-2)))
                for t, x in g.groupby("event_type")
            )
            got = r["got"][0]
            if got != exp:
                errors.append(f"gold read after batch {r['after']}: {got} != {exp}")
            if r["got"][1] != INGEST_DOCS * (r["after"] + 1):
                errors.append(f"lake read after batch {r['after']}: {r['got'][1]} rows")
        for c in self.compactions:
            if c["rows"] != INGEST_DOCS * (c["after"] + 1):
                errors.append(f"compaction after batch {c['after']} kept {c['rows']} rows")

        # lake rows == ingested documents
        lake = read_shard_lake(self.run.spark, self.lake).select("doc_id").toPandas()
        if sorted(lake.doc_id) != sorted(docs.doc_id):
            errors.append("lake rows != ingested documents")

        # one decision per document; exact_dup iff the content
        # fingerprint (first 10 tokens) matches a corpus document
        corpus = pq.read_table(self.corpus_path).column("text").to_pylist()
        prefix_n: dict[str, int] = {}
        for t in corpus:
            k = " ".join(t.split()[:10])
            prefix_n[k] = prefix_n.get(k, 0) + 1
        dec = pq.read_table(self.decisions).to_pandas()
        if sorted(dec.doc_id) != sorted(docs.doc_id):
            errors.append("decisions are not one per document")
        text = dict(zip(docs.doc_id, docs.text))
        for d, decision, n in zip(dec.doc_id, dec.decision, dec.n_matches):
            k = " ".join(text[d].split()[:10])
            if (decision == "exact_dup") != (k in prefix_n) or (k in prefix_n and n != prefix_n[k]):
                errors.append(f"doc {d}: decision {decision}/{n}")
        return errors


WORKLOADS = {"serve": Serve, "ingest": Ingest}
