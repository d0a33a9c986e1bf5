"""Link-graph engine benchmark: one command, one workload per process.

    python3 linkbench/run.py --workload rank-converge --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository, on
``local[<cores>]`` with shuffle partitions = cores, one client and one
call at a time. Prints progress on stderr and, as the last line of
stdout, one JSON object::

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones: ``pass_cpu_s``,
the median over the run's passes of the CPU seconds the process tree
(Python driver, driver JVM, Python workers) spent in the timed calls;
``peak_rss_mb``, the tree's peak resident memory over the run; and
``setup_s``, process start to the first timed call. Pass CPU rather than
pass wall time is the gated cost because wall time on a shared host
swings with hypervisor steal; the wall time of every pass is kept in
``linkbench/out/runs.jsonl``. With ``--trace 1`` the Spark UI
is on, the package's public functions are wrapped in spans, and the
metrics are the per-layer ones, with a span file written under
``linkbench/out/``. End-to-end figures come from untraced runs only;
the traced run reports its own pass time against the median of the
untraced runs recorded in the same checkout as ``trace.overhead_s``.

Every run writes and reads only under ``linkbench/out/`` (Spark local
dirs, temp files, stream state, cached references, run records).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_PROCESS = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

END_TO_END = {"pass_cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}

PER_LAYER = {
    "sources.wall_s": "s", "sources.executor_cpu_s": "s", "sources.rows_out": "count",
    "graph.wall_s": "s", "graph.shuffle_mb": "MB", "graph.executor_cpu_s": "s",
    "pagerank.call_s": "s", "pagerank.supersteps": "count", "pagerank.jobs": "count",
    "pagerank.stages": "count", "pagerank.tasks": "count", "pagerank.prep_s": "s",
    "pagerank.s_per_superstep": "s", "pagerank.edges_per_s_per_superstep": "1/s",
    "pagerank.driver_gap_s": "s", "pagerank.sched_delay_s": "s",
    "pagerank.shuffle_mb_per_superstep": "MB", "pagerank.executor_cpu_s": "s",
    "pagerank.gc_s": "s", "pagerank.task_skew": "ratio",
    "labelprop.call_s": "s", "labelprop.iterations": "count", "labelprop.jobs": "count",
    "labelprop.driver_gap_s": "s", "labelprop.shuffle_mb": "MB",
    "labelprop.spill_mb": "MB", "labelprop.task_skew": "ratio",
    "wcc.call_s": "s", "wcc.rounds": "count", "wcc.jobs": "count",
    "wcc.driver_gap_s": "s", "wcc.shuffle_mb": "MB", "wcc.executor_cpu_s": "s",
    "wcc.task_skew": "ratio",
    "triangles.call_s": "s", "triangles.jobs": "count", "triangles.shuffle_mb": "MB",
    "triangles.spill_mb": "MB", "triangles.executor_cpu_s": "s", "triangles.gc_s": "s",
    "triangles.task_skew": "ratio",
    "streaming.wcc_batch_s": "s", "streaming.triangle_batch_s": "s",
    "streaming.jobs_per_batch": "count", "streaming.driver_gap_s": "s",
    "streaming.delta_edges": "count",
    "checkpoint.state_mb": "MB", "checkpoint.edge_store_mb": "MB",
    "checkpoint.files": "count", "checkpoint.self_s": "s",
    "host.steal_pct": "%", "host.speed_s": "s",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}


def start_spark(run_dir: str, traced: bool):
    """A session on every core this process may use; all scratch under
    ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that builds the driver command, too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_UI"] = "true" if traced else "false"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from neo4j_graph_algorithms_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    retained = "100000"
    return get_spark(
        app_name="linkbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.retainedJobs": retained,
            "spark.ui.retainedStages": retained,
            "spark.ui.retainedTasks": retained,
            "spark.sql.ui.retainedExecutions": retained,
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and every worker it started, and
    wait for all of them to exit."""
    from pyspark import SparkContext

    from linkbench.trace import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — escalate below
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while descendants() and time.time() < deadline:
        time.sleep(0.2)


def _untraced_median(workload: str, scale: str) -> float:
    from linkbench.trace import median

    path = os.path.join(OUT, "runs.jsonl")
    if not os.path.exists(path):
        return 0.0
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return median([r["pass_s"] for r in rows
                   if r["workload"] == workload and r["scale"] == scale
                   and not r["trace"] and r["correct"]])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["rank-converge", "crawl-delta"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is for the smoke test")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "neo4j_graph_algorithms_spark")):
        print("linkbench: run from a checkout of the repository "
              "(neo4j_graph_algorithms_spark/ not found)", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)

    from linkbench import trace, workloads

    run_dir = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    traced = bool(args.trace)
    cpu0 = trace.cpu_sample()
    spark = start_spark(run_dir, traced)
    tracer = trace.Tracer(spark, traced=traced)
    run = workloads.Run(
        spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
        scale=args.scale, work_dir=run_dir, cache_dir=os.path.join(OUT, "cache"),
        t_process=T_PROCESS)
    try:
        with trace.RssSampler() as rss:
            run.attempt("workload", lambda: workloads.WORKLOADS[args.workload](run))
        steal = trace.steal_pct(cpu0, trace.cpu_sample())
        speed = trace.host_speed_s()
    finally:
        stop_spark(spark)
        if traced:
            tracer.write(os.path.join(
                OUT, "spans", f"{args.workload}-{args.seed}-{tracer.run_id}.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = max(1, len(run.ops))
    failed = sum(1 for _, ok in run.ops if not ok)
    correct = failed == 0 and bool(run.pass_s)
    pass_s = trace.median(run.pass_s)
    pass_cpu_s = trace.median(run.pass_cpu_s)
    record = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "trace": traced, "correct": correct, "setup_s": run.setup_s,
        "pass_s": pass_s, "passes": run.pass_s, "pass_cpu_s": pass_cpu_s,
        "peak_rss_mb": rss.peak_mb,
        "host.steal_pct": steal, "host.speed_s": speed, **run.info,
    }
    if traced:
        base = _untraced_median(args.workload, args.scale)
        run.layer.update({
            "host.steal_pct": steal, "host.speed_s": speed, "trace.pass_s": pass_s,
            "trace.overhead_s": pass_s - base if base else 0.0,
        })
        values = {k: float(run.layer.get(k, 0.0)) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values = {"pass_cpu_s": pass_cpu_s, "peak_rss_mb": rss.peak_mb,
                  "setup_s": run.setup_s}
        units = END_TO_END
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    print(f"[linkbench] {args.workload} seed={args.seed}: "
          f"failed_frac={failed / attempted:.3f} ({failed}/{attempted}) "
          f"passes={len(run.pass_s)} steal={steal:.1f}% host_speed={speed:.3f}s "
          + " ".join(f"{k}={v}" for k, v in run.info.items()),
          flush=True)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
