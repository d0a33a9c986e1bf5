#!/usr/bin/env python
"""spark-submit entrypoint for the PageRank engine.

This is the deployment path BASELINE.json's north rule names: the engine
runs "via spark-submit --py-files on a multi-executor cluster". Nothing
is installed on the executors — the whole package ships as one zip:

    python submit/make_pyfiles.py dist/nga_spark.zip
    spark-submit --master local-cluster[4,2,4096] \
        --py-files dist/nga_spark.zip \
        submit/pagerank_submit.py --edges /data/edges --tol 1e-6

(`local-cluster[N,C,MEM]` spawns N REAL executor JVMs with C cores each —
the in-sandbox stand-in for an N-executor cluster; on a real cluster the
same command line runs with `--master yarn|k8s://...` unchanged.)

Input modes:
  --edges DIR   read a deduplicated (src, dst) parquet edge table
  --pages N     flagship e2e path: synthesize an N-page Common-Crawl-style
                table (url, warc_ts, html, text, lang), extract the link
                graph with the vectorized Arrow UDFs, id-map, then rank

Prints ONE JSON line: graph size, executor count, supersteps, wall
seconds of the superstep loop, edges/sec/superstep. With --output the
ranks are written as parquet (the property write-back sink).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# Under spark-submit the package arrives via --py-files; when run as plain
# `python submit/pagerank_submit.py` fall back to the repo checkout.
try:
    import neo4j_graph_algorithms_spark  # noqa: F401
except ImportError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))


def _parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--edges", help="parquet dir with (src,dst) columns")
    src.add_argument("--pages", type=int,
                     help="synthesize this many pages and extract the graph")
    p.add_argument("--tol", type=float, default=0.0,
                   help="convergence tolerance (0 = fixed iterations)")
    p.add_argument("--max-iters", type=int, default=20)
    p.add_argument("--unroll", type=int, default=8)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--warmup-iters", type=int, default=0,
                   help="untimed prefix run (JIT + cache warm)")
    p.add_argument("--output", help="write ranks parquet here")
    p.add_argument("--checkpoint-dir",
                   help="durable checkpoint dir (crash-resumable runs)")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> None:
    args = _parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("nga-pagerank").getOrCreate()
    if args.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(args.shuffle_partitions))

    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    if args.edges:
        e = spark.read.parquet(args.edges).select("src", "dst")
        v = (e.select(F.col("src").alias("id"))
             .union(e.select(F.col("dst").alias("id"))).distinct())
    else:
        from neo4j_graph_algorithms_spark.graph import id_map
        from neo4j_graph_algorithms_spark.sources import (
            extract_edges,
            generate_pages,
        )

        pages = generate_pages(spark, args.pages)
        raw = extract_edges(pages, dedup=True).persist()
        raw.count()
        ids = id_map(
            raw.select(F.col("src_url").alias("src"),
                       F.col("dst_url").alias("dst")),
            node_col="url",
        ).persist()
        e = (
            raw.join(ids.withColumnRenamed("url", "src_url"), "src_url")
            .withColumnRenamed("id", "src")
            .join(ids.withColumnRenamed("url", "dst_url"), "dst_url")
            .withColumnRenamed("id", "dst")
            .select("src", "dst")
        )
        v = ids.select("id")

    e = e.persist()
    n_edges = e.count()
    n_nodes = v.count()

    if args.warmup_iters:
        pagerank(v, e, max_iterations=args.warmup_iters, tol=0.0,
                 unroll=args.unroll)

    t0 = time.time()
    res = pagerank(v, e, max_iterations=args.max_iters, tol=args.tol,
                   unroll=args.unroll, checkpoint_dir=args.checkpoint_dir)
    dt = time.time() - t0

    if args.output:
        res.ranks.write.mode("overwrite").parquet(args.output)

    # driver + one entry per executor JVM in cluster modes
    n_execs = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
    print(json.dumps({
        "master": spark.sparkContext.master,
        "executors_incl_driver": n_execs,
        "nodes": n_nodes,
        "edges": n_edges,
        "supersteps": res.iterations,
        "converged": res.converged,
        "wall_sec": round(dt, 2),
        "sec_per_superstep": round(dt / max(res.iterations, 1), 3),
        "edges_per_sec_per_superstep":
            round(n_edges * res.iterations / dt, 1) if dt > 0 else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
