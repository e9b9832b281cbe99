"""Scaling harness: grow the threads or grow the data under registered
queries and report how their wall-clock follows.

    python tools/scaling.py [sf_dir] [--threads 4,8,16,32] [--multiply N]
    python tools/scaling.py [sf_dir] --scale-artifact OUT.json \
        [--multiples 1,16,64] [--queries q1,q2,...]

Every timing is ``session.best_of``: the query runs into the noop sink
twice and keeps the min (the first run pays codegen).

Thread scaling (the default mode): each thread count gets a FRESH
SparkSession (local[N], shuffle partitions = N — the same sizing rule
session.py applies). Output: one JSON line per thread count plus a
speedup table vs the smallest N. At sf0.1 the queries are
OVERHEAD-bound (sub-2s) and scaling saturates; ``--multiply N`` runs
against a key-shifted N× replica of the fact tables (dimension tables
nation/region stay canonical so join semantics hold), which is where
throughput-bound scaling becomes visible. This is the local stand-in
for executor-count scaling on a cluster: a query whose wall-clock
refuses to drop with N is serialized somewhere (single-partition
window, driver loop, unsplittable Python group).

Data scaling (``--scale-artifact``): threads fixed at 32, the data
grows instead. Each query runs at every multiple of ``sf_dir`` and
the artifact records t{m}x plus ratio_{m}x = t{m}x / t1x against the
ideal linear ratio; a ratio well above ideal is a super-linear term
the plan-shape argument missed. ``--queries`` names the queries; by
default the five slowest of the newest BENCH_LOCAL_r{N}.json. When
``d28_ppjoin_exact`` is among them the artifact also carries
``d28_stages_v3``: PPJoin candidate counts and the wall split
candidate-gen / suffix-filter / verify at each multiple.

These replicas are CONTENT-shifted as well as key-shifted: a key-only
replica duplicates every string, which collapses under DISTINCT (j15
would measure nothing) or turns the whole corpus into one giant
near-dup cluster (candidate generators would measure the duplication
pathology, not data growth) — so documents.text gets per-replica
token prefixes and customer.c_name a per-replica suffix whose
cross-replica edit distance is >= 2 by construction. Replicas are
PERFORMANCE fixtures only — correctness stays pinned to the original
parquet. 64× data on an 8 GiB local JVM shows fake super-linear
ratios from GC pressure, so any run that touches a >= 64× replica
defaults the driver heap to 16 GiB.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# per-table integer key columns to shift per replica so keys stay
# globally unique AND cross-table references stay consistent
_KEY_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_KEY_OFFSET = 1_000_000_000

# Largest multiple a query is timed at in the data-scaling artifact.
# s26's production bucket-kNN init is per-bucket brute force, and on
# its clustered corpus the LSH buckets align with the 8 planted
# clusters, so the init grows with cluster size squared (a first s25
# prototype of the same init measured 255 s at 16×; 64× means ~4 B
# cosine pairs).
_MAX_MULTIPLE = {"s26_serving_clustered_recall": 16}


def _content_shift_cols(t: str, i: int):
    """Per-replica string perturbations for the data-scaling fixture
    (see module docstring): (col_name, expr) pairs for replica i."""
    from pyspark.sql import functions as F

    if t == "documents":
        # prefix EVERY token so no shingle/gram collides across
        # replicas — a genuinely-larger corpus, not 64 copies of one
        return [
            (
                "text",
                F.regexp_replace(F.col("text"), r"(\S+)", f"r{i}$1"),
            )
        ]
    if t == "customer":
        # doubled two-digit tag: any two replicas differ in >= 2
        # character positions, so no cross-replica pair enters the
        # levenshtein<=1 result (the study measures growth, not
        # fabricated fuzzy matches)
        return [
            ("c_name", F.concat(F.col("c_name"), F.lit(f"{i:02d}{i:02d}")))
        ]
    return []


def build_replica(sf_dir: str, n: int, content_shift: bool = False) -> str:
    """Materialize an n× key-shifted copy of the fact tables (tiny
    canonical dims copied as-is). Cached by (sf_dir, n, shift)."""
    import shutil

    from pyspark.sql import functions as F

    from dww_data_pipeline_spark.session import get_spark
    from dww_data_pipeline_spark.sources.catalog import TABLES, load_table

    tag = os.path.basename(sf_dir.rstrip("/"))
    out = f"/tmp/dww_scale_{tag}_x{n}" + ("_cs" if content_shift else "")
    if os.path.isdir(out) and os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    spark = get_spark("replica-build")
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        keys = _KEY_COLS.get(t)
        if not keys:  # nation/region: canonical dimensions
            df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
            continue
        parts = []
        for i in range(n):
            rep = df
            for k in keys:
                rep = rep.withColumn(k, F.col(k) + F.lit(i * _KEY_OFFSET))
            if content_shift:
                for col, expr in _content_shift_cols(t, i):
                    rep = rep.withColumn(col, expr)
            parts.append(rep)
        full = parts[0]
        for p in parts[1:]:
            full = full.unionByName(p)
        # enough files that every thread count under test gets input
        # splits — a single large row group reads as ONE task and
        # silently serializes the scan no matter the parallelism
        full.repartition(64).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    spark.stop()
    open(os.path.join(out, "_DONE"), "w").close()
    return out


QUERIES = [
    "a1_pricing_summary",   # scan + agg: should scale with cores
    "j1_star_join",         # broadcast star join
    "d2_minhash_lsh_pairs", # expression-heavy map + tiny shuffle
    "t2_quality_scores",    # pure per-row text expressions
    "e5_embedding_gram",    # Arrow partial-agg reduction
    "ev7_market_basket",    # in-place pair-gen + bounded pair counts
    "pr4_triangle_count",   # thresholded graph census (checkpointed)
    "c1_curation_pipeline", # composed gate -> dedup -> shard flow
    "s10_pq_ann_topk",      # PQ train + encode + ADC scan
    "j14_spatial_grid_join",  # cell-bucketed spatial candidates
    # m9 is excluded: its clip set is bounded by design (doc_id < 150),
    # so replica size never changes its work
    "d19_url_dedup",        # per-row canonicalization + key groupBy
    "t31_classifier_filter",  # vocab model train + broadcast score
    "ev14_retention_matrix",  # per-user anchors + distinct activity
    "d20_substring_spans",  # gram-fp shuffle + doc-partitioned islands
    "ev17_pattern_match",   # one user shuffle + per-row regex scans
    "dq20_hll_merge_gate",  # partial sketches + union rollup
    "t34_kneser_ney_score",   # vocab-bounded model + doc-bigram join
    "d23_cdc_chunking",       # doc-partitioned token window + chunk aggs
    "st15_stream_lm_score",   # frozen-model scoring (batch core)
]


def _warm_up(spark, sf_dir: str) -> None:
    from dww_data_pipeline_spark.plans.registry import all_queries
    from dww_data_pipeline_spark.session import best_of

    best_of(spark, all_queries()["a10_distinct"], sf_dir, 1)


def thread_scaling(sf_dir: str, threads: list[int]) -> None:
    from dww_data_pipeline_spark.plans.registry import all_queries
    from dww_data_pipeline_spark.session import best_of, get_spark

    results: dict[int, dict[str, float]] = {}
    for n in threads:
        spark = get_spark(f"scaling-{n}", cpus=str(n))
        queries = all_queries()
        _warm_up(spark, sf_dir)
        timings = {
            name: best_of(spark, queries[name], sf_dir, 2)["best_sec"]
            for name in QUERIES
        }
        results[n] = timings
        print(json.dumps({"threads": n, "queries": timings, "sf_dir": sf_dir}))
        spark.stop()

    base = threads[0]
    print(f"\nspeedup vs local[{base}] (ideal = N/{base}):")
    for name in QUERIES:
        row = " ".join(
            f"{n}t={results[base][name] / results[n][name]:.2f}x" for n in threads
        )
        print(f"  {name:28s} {row}")


def _top_bench_queries(top_n: int = 5) -> tuple[str, list[str]]:
    """The ``top_n`` slowest queries of the newest BENCH_LOCAL_r{N}.json."""
    import glob
    import re

    def rnum(p):
        m = re.search(r"BENCH_LOCAL_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    cands = [
        p for p in glob.glob(os.path.join(REPO, "BENCH_LOCAL_r*.json"))
        if rnum(p) >= 0
    ]
    if not cands:
        raise SystemExit("no BENCH_LOCAL_r*.json found — run bench.py first")
    path = max(cands, key=rnum)
    with open(path) as f:
        timings = json.load(f)["queries"]
    top = sorted(timings, key=lambda n: -timings[n])[:top_n]
    return os.path.basename(path), top


def d28_stage_study(spark, sf_dir: str) -> dict:
    """Candidate counts + wall split for the PPJoin pipeline (stages
    mirror ppjoin_exact): candidate-gen (prefix join + length +
    positional), suffix filter (hash-partition min-count bound),
    array-intersect verify.  Counts force each stage, so timings are
    stage-inclusive scan-to-count."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dww_data_pipeline_spark.plans.text_exprs import exploded_kgrams
    from dww_data_pipeline_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    sh = (
        exploded_kgrams(d.select("doc_id", "text"), "text", 3,
                        carry=("doc_id",), out="s")
        .select("doc_id", "s")
        .distinct()
    )
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    ranked = (
        sh.join(dfreq.hint("merge"), "s")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    prefix = ranked.filter(
        F.col("rn") <= F.floor(F.col("n") / 2) + 1
    ).select("doc_id", "s", "rn", "n")

    t0 = time.perf_counter()
    cand = (
        prefix.select(F.col("doc_id").alias("id_a"), "s",
                      F.col("rn").alias("_ra"), F.col("n").alias("na"))
        .join(
            prefix.select(F.col("doc_id").alias("id_b"), "s",
                          F.col("rn").alias("_rb"), F.col("n").alias("nb"))
            .hint("merge"),
            "s",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.greatest("na", "nb") <= 2 * F.least("na", "nb"))
        )
        .withColumn(
            "_ub",
            F.least("_ra", "_rb")
            + F.least(F.col("na") - F.col("_ra"), F.col("nb") - F.col("_rb")),
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.min("_ub").alias("_min_ub"))
        .filter(3 * F.col("_min_ub") >= F.col("na") + F.col("nb"))
        .select("id_a", "id_b", "na", "nb")
    )
    cand = cand.localCheckpoint()  # materialize: split gen from filter
    post_positional = cand.count()
    t_cand = time.perf_counter() - t0

    t0 = time.perf_counter()
    _K = 64
    hists = (
        sh.withColumn("_b", F.pmod(F.xxhash64("s"), F.lit(_K)))
        .groupBy("doc_id")
        .agg(
            F.array(
                *[
                    F.sum(
                        F.when(F.col("_b") == i, F.lit(1)).otherwise(F.lit(0))
                    ).cast("int")
                    for i in range(_K)
                ]
            ).alias("hist")
        )
    )
    _bound = F.aggregate(
        F.zip_with("_ha", "_hb", lambda x, y: F.least(x, y)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    pruned = (
        cand.join(
            hists.select(F.col("doc_id").alias("id_a"),
                         F.col("hist").alias("_ha")).hint("merge"),
            "id_a",
        )
        .join(
            hists.select(F.col("doc_id").alias("id_b"),
                         F.col("hist").alias("_hb")).hint("merge"),
            "id_b",
        )
        .filter(3 * _bound >= F.col("na") + F.col("nb"))
        .select("id_a", "id_b", "na", "nb")
    )
    pruned = pruned.localCheckpoint()  # materialize: split filter from verify
    post_suffix = pruned.count()
    t_suffix = time.perf_counter() - t0

    t0 = time.perf_counter()
    arrs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("s")).alias("sha")
    )
    survivors = (
        pruned.join(
            arrs.select(F.col("doc_id").alias("id_a"),
                        F.col("sha").alias("_sa")).hint("merge"),
            "id_a",
        )
        .join(
            arrs.select(F.col("doc_id").alias("id_b"),
                        F.col("sha").alias("_sb")).hint("merge"),
            "id_b",
        )
        .select(
            "id_a", "id_b", "na", "nb",
            F.size(F.array_intersect("_sa", "_sb")).alias("ni"),
        )
        .filter(3 * F.col("ni") >= F.col("na") + F.col("nb"))
        .count()
    )
    t_verify = time.perf_counter() - t0
    return {
        "post_positional_candidates": post_positional,
        "post_suffix_candidates": post_suffix,
        "suffix_prune_pct": round(
            100.0 * (1 - post_suffix / max(post_positional, 1)), 2
        ),
        "survivors": survivors,
        "t_candidate_gen": round(t_cand, 3),
        "t_suffix_filter": round(t_suffix, 3),
        "t_verify": round(t_verify, 3),
    }


def scale_artifact(
    sf_dir: str, out_path: str, multiples: list[int], names: list[str] | None
) -> None:
    """Time ``names`` (default: the five slowest benched queries) at
    each data multiple, fixed local[32], and write one JSON artifact —
    SCALE_r{N}.json — so a new super-linear term shows up as a diff
    against the previous round's columns."""
    from dww_data_pipeline_spark.plans.registry import all_queries
    from dww_data_pipeline_spark.session import best_of, get_spark

    artifact: dict = {
        "threads": 32,
        "multiples": multiples,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "sf": os.path.basename(sf_dir.rstrip("/")),
    }
    if not names:
        artifact["source_bench"], names = _top_bench_queries()
    print(f"# queries: {names}", flush=True)
    dirs = {
        m: sf_dir if m == 1 else build_replica(sf_dir, m, content_shift=True)
        for m in multiples
    }
    for m, d in dirs.items():
        print(f"# {m}x -> {d}", flush=True)

    spark = get_spark("scale-artifact", cpus="32")
    queries = all_queries()
    _warm_up(spark, sf_dir)
    tier: dict[str, dict] = {}
    for name in names:
        cap = _MAX_MULTIPLE.get(name, multiples[-1])
        ms = [m for m in multiples if m <= cap]
        rec: dict = {}
        for m in ms:
            rec[f"t{m}x"] = best_of(spark, queries[name], dirs[m], 2)["best_sec"]
            print(json.dumps({"query": name, "multiple": m, "sec": rec[f"t{m}x"]}),
                  flush=True)
        for m in ms[1:]:
            rec[f"ratio_{m}x"] = round(rec[f"t{m}x"] / rec[f"t{ms[0]}x"], 3)
        if len(ms) > 1:
            rec["ratio"] = rec[f"ratio_{ms[-1]}x"]
        rec["ideal"] = round(ms[-1] / ms[0], 1)
        if len(ms) < len(multiples):
            rec["skipped"] = [m for m in multiples if m > cap]
        tier[name] = rec
    artifact["tier"] = tier
    if "d28_ppjoin_exact" in names:
        stages = artifact["d28_stages_v3"] = {}
        for m, d in dirs.items():
            stages[f"{m}x"] = d28_stage_study(spark, d)
            print(json.dumps({"d28_stages_v3": m, **stages[f"{m}x"]}), flush=True)
    spark.stop()

    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"# wrote {out_path}", flush=True)


def _ints(s: str) -> list[int]:
    return [int(x) for x in s.split(",")]


def main() -> None:
    sys.path.insert(0, REPO)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "sf_dir", nargs="?",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--threads", type=_ints, default=[4, 8, 16, 32])
    ap.add_argument("--multiply", type=int, default=0)
    ap.add_argument("--scale-artifact", metavar="OUT")
    ap.add_argument("--multiples", type=_ints, default=[1, 16, 64])
    ap.add_argument(
        "--queries", type=lambda s: s.split(","), default=None,
        help="comma list for --scale-artifact (default: top-5 benched)",
    )
    args = ap.parse_args()

    if args.multiply >= 64 or (args.scale_artifact and max(args.multiples) >= 64):
        # driver memory can only be set before the first session launches
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    if args.scale_artifact:
        scale_artifact(args.sf_dir, args.scale_artifact, args.multiples, args.queries)
        return
    sf_dir = args.sf_dir
    if args.multiply > 1:
        sf_dir = build_replica(sf_dir, args.multiply)
        print(f"# running against {args.multiply}x replica: {sf_dir}")
    thread_scaling(sf_dir, args.threads)


if __name__ == "__main__":
    main()
