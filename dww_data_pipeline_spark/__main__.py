"""Command-line entry point — the engine's answer to the reference's
batch driver (``python2 GetWeta.py --run``, GetWeta.py:648-676) and
parameterized serving queries (``GET /list/jumps?...``,
dwwRoutes.js:38-60): every registered query is runnable from a shell,
with results printed or written as parquet/csv/json.

    python -m dww_data_pipeline_spark list [--grep PAT]
    python -m dww_data_pipeline_spark run QUERY [QUERY ...]
        [--sf-dir DIR] [--out PATH] [--format parquet|csv|json]
        [--show N]
    python -m dww_data_pipeline_spark oracle QUERY
    python -m dww_data_pipeline_spark profile QUERY [QUERY ...]
        [--runs N] [--sf-dir DIR]
    python -m dww_data_pipeline_spark sql "SELECT ..." [--sf-dir DIR]

``run`` executes the named registry queries; with ``--out`` the
result is written (directory per query for multi-query runs), without
it the first ``--show`` rows print to stdout. ``profile`` times each
query into the noop sink and prints one JSON line per query:
``best_sec`` (min of ``--runs``), ``times`` and ``jobs_last_run``
(Spark jobs the last run submitted). ``sql`` registers the
test tables as views and runs an ad-hoc statement — the serving-tier
workflow without an HTTP server in front.
"""

from __future__ import annotations

import argparse
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m dww_data_pipeline_spark",
        description="Run engine queries from the shell.",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    ls = sub.add_parser("list", help="list registered queries")
    ls.add_argument("--grep", default=None, help="substring filter on name")

    run = sub.add_parser("run", help="run one or more registered queries")
    run.add_argument("queries", nargs="+", metavar="QUERY")
    run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    run.add_argument("--out", default=None, help="output path (dir per query)")
    run.add_argument(
        "--format", default="parquet", choices=["parquet", "csv", "json"]
    )
    run.add_argument("--show", type=int, default=20, help="rows to print")

    prof = sub.add_parser("profile", help="time queries and count their jobs")
    prof.add_argument("queries", nargs="+", metavar="QUERY")
    prof.add_argument("--runs", type=int, default=3)
    prof.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    orc = sub.add_parser("oracle", help="print a query's DuckDB oracle SQL")
    orc.add_argument("query", metavar="QUERY")

    ex = sub.add_parser("explain", help="print a query's physical plan")
    ex.add_argument("query", metavar="QUERY")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ex.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "cost"],
    )

    sql = sub.add_parser("sql", help="run ad-hoc SQL over the test tables")
    sql.add_argument("statement", metavar="SQL")
    sql.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sql.add_argument("--show", type=int, default=20)

    idx = sub.add_parser(
        "index", help="build / query / compact the persisted IVF ANN index"
    )
    idx.add_argument(
        "action", choices=["build", "query", "compact"], metavar="ACTION"
    )
    idx.add_argument("index_dir", metavar="DIR")
    idx.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    idx.add_argument("--n-lists", type=int, default=16)
    idx.add_argument("--k", type=int, default=5)
    idx.add_argument("--nprobe", type=int, default=2)
    idx.add_argument(
        "--query-mod",
        type=int,
        default=100,
        help="use embeddings with vec_id %% MOD == 0 as queries",
    )
    idx.add_argument("--show", type=int, default=20)

    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    from dww_data_pipeline_spark.plans.registry import REGISTRY, all_queries

    all_queries()  # trigger plan-module loading

    if args.cmd == "list":
        for name, q in REGISTRY.items():
            if args.grep and args.grep not in name:
                continue
            kind = "oracle" if q.oracle else "rows-only"
            desc = (q.description or "").split(":")[0][:72]
            print(f"{name:32s} [{kind}] {desc}")
        return 0

    if args.cmd == "oracle":
        q = REGISTRY.get(args.query)
        if q is None:
            print(f"unknown query {args.query!r}", file=sys.stderr)
            return 2
        if q.oracle is None:
            print(f"{args.query} is rows-only (no oracle)", file=sys.stderr)
            return 1
        print(q.oracle.strip())
        return 0

    # validate query names BEFORE paying Spark session startup
    if args.cmd == "explain" and args.query not in REGISTRY:
        print(f"unknown query {args.query!r}", file=sys.stderr)
        return 2
    if args.cmd in ("run", "profile"):
        unknown = [n for n in args.queries if n not in REGISTRY]
        if unknown:
            print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
            return 2

    # run / sql / explain need a session
    from dww_data_pipeline_spark.session import get_spark

    spark = get_spark("cli")

    if args.cmd == "explain":
        REGISTRY[args.query].spark(spark, args.sf_dir).explain(args.mode)
        return 0

    if args.cmd == "profile":
        import json

        from dww_data_pipeline_spark.session import best_of

        # untimed warm-up: JVM, codegen caches and parquet footers
        best_of(spark, REGISTRY["a10_distinct"].spark, args.sf_dir, 1)
        for name in args.queries:
            rec = best_of(spark, REGISTRY[name].spark, args.sf_dir, args.runs)
            print(json.dumps({"query": name, **rec}), flush=True)
        return 0

    if args.cmd == "sql":
        from dww_data_pipeline_spark.sql import register_all

        register_all(spark, args.sf_dir)
        spark.sql(args.statement).show(args.show, truncate=False)
        return 0

    if args.cmd == "index":
        from pyspark.sql import functions as F

        from dww_data_pipeline_spark.sources.ann_index import (
            build_ivf_index,
            ivf_index_topk,
        )
        from dww_data_pipeline_spark.sources.catalog import load_table

        if args.action == "build":
            emb = load_table(spark, args.sf_dir, "embeddings")
            n = build_ivf_index(
                emb, "vec_id", "embedding", args.index_dir, n_lists=args.n_lists
            )
            print(f"built IVF index with {n} lists -> {args.index_dir}")
            return 0
        if args.action == "compact":
            from dww_data_pipeline_spark.streaming.ann_ingest import (
                compact_ann_delta,
            )

            n = compact_ann_delta(spark, args.index_dir)
            print(f"folded {n} delta segments -> {args.index_dir}/vectors")
            return 0
        queries = (
            load_table(spark, args.sf_dir, "embeddings")
            .filter(F.col("vec_id") % args.query_mod == 0)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        ivf_index_topk(
            spark,
            args.index_dir,
            queries,
            "vec_id",
            "embedding",
            k=args.k,
            nprobe=args.nprobe,
        ).show(args.show, truncate=False)
        return 0

    for name in args.queries:
        df = REGISTRY[name].spark(spark, args.sf_dir)
        if args.out:
            path = (
                args.out
                if len(args.queries) == 1
                else f"{args.out.rstrip('/')}/{name}"
            )
            w = df.write.mode("overwrite")
            if args.format == "csv":
                w.option("header", "true").csv(path)
            elif args.format == "json":
                w.json(path)
            else:
                w.parquet(path)
            print(f"{name}: wrote {args.format} -> {path}")
        else:
            print(f"== {name}")
            df.show(args.show, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
