"""The benchmark's workloads.

Both are closed loops with one client: the next call starts when the
previous one returned. A *pass* is one unit of the workload's timed
work; passes repeat until ``--seconds`` would be exceeded (at least one
runs), and each pass works on an input no earlier call in the process
has seen, so no call can reuse another's cached results.

``rank-converge``
    pages → extraction → id map → edge table (set-up), then per pass one
    ``pagerank`` call to tol 1e-6. At this size its time goes to the
    driver loop — per-superstep jobs, stages and scheduling — not to edge
    bytes, and no other operator runs to hide a change there. The edge
    table drops self-links: a page whose only link points at itself is a
    rank sink that converges at exactly the damping rate, and whether a
    seed draws one decides 76 or 108 supersteps. Pass ``k > 0`` shifts
    every id by ``k·2⁴⁰`` (even, so LPA's red-black parity and every id
    order are unchanged) to give a fresh input. The traced run also calls
    ``label_propagation`` once on a fresh shift after the passes, for the
    labelprop layer; a cold call costs ~10 s, which the untraced runs
    cannot afford within their time budget.

``crawl-delta``
    one crawl of the same generator: pages below 90% of the range form
    batch 0, folded during set-up through the WCC and triangle
    maintenance calls (a full ``connected_components`` and
    ``triangle_count``); the remaining pages land as five parquet delta
    batches, and per pass one batch lands and is folded by
    ``run_component_maintenance`` and ``run_triangle_maintenance``. Each
    call resumes its stream position and state from its state dir, as a
    crawl job started once per batch would. Time goes to delta-sized
    joins, durable parquet checkpoints and edge-store writes; no PageRank
    or LPA runs here.

Every output is checked after the timed window against the NumPy
references in :mod:`oracles`.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

from . import oracles
from .trace import StageLog, Tracer, median, tree_cpu_s

PR_TOL = 1e-6
PR_MAX_ITERATIONS = 150
LPA_MAX_ITERATIONS = 10
# |rank − float64 fixpoint| once the engine stops at a 4-superstep block
# delta below 1e-6: observed at most ~1e-6; the bound leaves 20x
RANK_ATOL = 2e-5
COEF_ATOL = 1e-9
ID_SHIFT = 1 << 40

SIZES = {
    # n_pages, max_degree
    "rank-converge": {"full": (3000, 64), "tiny": (300, 16)},
    "crawl-delta": {"full": (3000, 64), "tiny": (400, 16)},
}
CRAWL_BASE_FRAC = 0.9
CRAWL_DELTAS = 5


def log(msg: str) -> None:
    print(f"[linkbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Run:
    """One benchmark run's state and record."""

    spark: Any
    tracer: Tracer
    seed: int
    seconds: float
    scale: str
    work_dir: str
    cache_dir: str
    t_process: float
    setup_s: float = 0.0
    pass_s: list[float] = field(default_factory=list)
    pass_cpu_s: list[float] = field(default_factory=list)
    ops: list[tuple[str, bool]] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    info: dict[str, Any] = field(default_factory=dict)

    def op(self, name: str, ok: bool, detail: str = "") -> None:
        self.ops.append((name, bool(ok)))
        if not ok:
            log(f"FAILED {name} {detail}")

    def attempt(self, name: str, fn: Callable[[], Any]) -> Any:
        """Run ``fn``; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 — the run reports and goes on
            self.op(name, False, traceback.format_exc())
            return None

    def passes(self, n_max: int, body: Callable[[int], tuple[float, float]]) -> None:
        """Closed loop: run ``body(k)``, which returns the pass's timed wall
        and CPU seconds, until another pass would end past ``seconds``."""
        t0 = time.perf_counter()
        for k in range(n_max):
            if k and (time.perf_counter() - t0) + max(self.pass_s) > self.seconds:
                break
            t = self.attempt(f"pass{k}", lambda: body(k))
            if t is None:
                break
            self.pass_s.append(t[0])
            self.pass_cpu_s.append(t[1])


def _timed(tracer: Tracer, name: str, fn: Callable[[], Any], **attrs: Any
           ) -> tuple[float, float, Any]:
    """(wall seconds, process-tree CPU seconds, result) of one call."""
    with tracer.span(name, **attrs):
        c0, t0 = tree_cpu_s(), time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, tree_cpu_s() - c0, out


# ---------------------------------------------------------------------------
# rank-converge
# ---------------------------------------------------------------------------


def rank_converge(run: Run) -> None:
    from pyspark.sql import functions as F

    from neo4j_graph_algorithms_spark.graph import id_map
    from neo4j_graph_algorithms_spark.operators.labelprop import label_propagation
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank
    from neo4j_graph_algorithms_spark.sources import extract_edges, generate_pages

    spark, tr = run.spark, run.tracer
    n_pages, max_degree = SIZES["rank-converge"][run.scale]

    with tr.span("sources") as sp:
        pages = generate_pages(spark, n_pages, seed=run.seed, max_degree=max_degree)
        raw = extract_edges(pages, dedup=True).persist()
        sp["rows_out"] = raw.count()
    with tr.span("graph"):
        ids = id_map(
            raw.select(F.col("src_url").alias("src"), F.col("dst_url").alias("dst")),
            node_col="url",
        ).persist()
        e = (
            raw.join(ids.withColumnRenamed("url", "src_url"), "src_url")
            .withColumnRenamed("id", "src")
            .join(ids.withColumnRenamed("url", "dst_url"), "dst_url")
            .withColumnRenamed("id", "dst")
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .persist()
        )
        v = ids.select("id").persist()
        n_edges, n_vertices = e.count(), v.count()
    with tr.span("warmup"):
        # a 64-vertex ring with chords, unlike any workload input
        ring = [(i, (i + 1) % 64) for i in range(64)] + [(i, (i * 7 + 3) % 64) for i in range(64)]
        pagerank(spark.range(64), spark.createDataFrame(ring, "src long, dst long"),
                 tol=PR_TOL, max_iterations=4)
    run.setup_s = time.time() - run.t_process

    def shifted(k: int):
        shift = k * ID_SHIFT
        return shift, v.select((F.col("id") + shift).alias("id")), e.select(
            (F.col("src") + shift).alias("src"), (F.col("dst") + shift).alias("dst"))

    outputs: list[dict[str, Any]] = []

    def one_pass(k: int) -> tuple[float, float]:
        shift, vk, ek = shifted(k) if k else (0, v, e)
        t, c, pr = _timed(tr, "pagerank", lambda: pagerank(
            vk, ek, damping=0.85, tol=PR_TOL, max_iterations=PR_MAX_ITERATIONS))
        # outside the timed window: collect the ranks of this pass
        outputs.append({"shift": shift, "pr": pr, "s": t, "ranks": pr.ranks.toPandas()})
        return t, c

    run.passes(64, one_pass)
    lpa: dict[str, Any] = {}
    if tr.traced:
        lpa["shift"], vk, ek = shifted(len(outputs) + 1)
        lpa["s"], _, lpa["lp"] = _timed(tr, "labelprop", lambda: label_propagation(
            vk, ek, max_iterations=LPA_MAX_ITERATIONS, partition_col=None,
            node_weight_col=None))
        lpa["labels"] = lpa["lp"].labels.toPandas()

    # ---- checks (untimed) ----
    g = oracles.cached(
        os.path.join(run.cache_dir, f"rank-converge-{run.scale}-{run.seed}.npz"),
        lambda: _rank_refs(n_pages, run.seed, max_degree))
    n = len(g["urls"])
    got_ids = ids.toPandas().sort_values("id")
    edges = e.toPandas()
    ok = (n_vertices == n and n_edges == len(g["src"])
          and np.array_equal(got_ids["id"].to_numpy(), np.arange(n))
          and np.array_equal(got_ids["url"].to_numpy(dtype=str), g["urls"])
          and np.array_equal(np.sort(edges["src"].to_numpy() * n + edges["dst"].to_numpy()),
                             np.sort(g["src"] * n + g["dst"])))
    run.op("build", ok, f"V={n_vertices}/{n} E={n_edges}/{len(g['src'])}")
    errs = []
    for k, o in enumerate(outputs):
        r = o["ranks"].sort_values("id")
        rid = r["id"].to_numpy() - o["shift"]
        err = (float(np.abs(r["rank"].to_numpy() - g["pr"]).max())
               if np.array_equal(rid, np.arange(n)) else float("inf"))
        errs.append(err)
        run.op(f"pagerank{k}", o["pr"].converged and err <= RANK_ATOL,
               f"converged={o['pr'].converged} max_err={err}")
    if lpa:
        lab = lpa["labels"].sort_values("id")
        ok = (np.array_equal(lab["id"].to_numpy() - lpa["shift"], np.arange(n))
              and np.array_equal(lab["label"].to_numpy() - lpa["shift"], g["lpa"])
              and lpa["lp"].ran_iterations == int(g["lpa_it"])
              and lpa["lp"].did_converge == bool(g["lpa_conv"]))
        run.op("labelprop", ok,
               f"iterations={lpa['lp'].ran_iterations}/{int(g['lpa_it'])}")

    run.info.update(vertices=n_vertices, edges=n_edges, max_err=errs,
                    pagerank_s=[o["s"] for o in outputs],
                    supersteps=[o["pr"].iterations for o in outputs],
                    max_delta=[o["pr"].max_delta for o in outputs])
    if tr.traced and outputs:
        _rank_layers(run, outputs[0], lpa, n_edges)


def _rank_refs(n_pages: int, seed: int, max_degree: int) -> dict[str, np.ndarray]:
    g = oracles.crawl_graph(n_pages, seed, max_degree)
    keep = g.src != g.dst
    src, dst = g.src[keep], g.dst[keep]
    labels, it, conv = oracles.lpa_ref(g.n, src, dst, LPA_MAX_ITERATIONS)
    return {"urls": g.urls.astype(str), "src": src, "dst": dst,
            "pr": oracles.pagerank_ref(g.n, src, dst),
            "lpa": labels, "lpa_it": np.array(it), "lpa_conv": np.array(conv)}


def _rank_layers(run: Run, o: dict[str, Any], lpa: dict[str, Any], n_edges: int) -> None:
    tr, L = run.tracer, run.layer
    stages = StageLog(run.spark)
    for layer in ("sources", "graph"):
        st = stages.stats(tr.named(layer))
        L[f"{layer}.wall_s"] = st["wall_s"]
        L[f"{layer}.executor_cpu_s"] = st["executor_cpu_s"]
        L[f"{layer}.shuffle_mb"] = st["shuffle_mb"]
    L["sources.rows_out"] = float(tr.named("sources")[0]["rows_out"])
    st = stages.stats(tr.named("pagerank")[:1])
    steps = max(o["pr"].iterations, 1)
    loop_s = o["pr"].metrics[-1]["wall_s"] if o["pr"].metrics else o["s"]
    L.update({
        "pagerank.call_s": o["s"],
        "pagerank.supersteps": float(o["pr"].iterations),
        "pagerank.jobs": st["jobs"], "pagerank.stages": st["stages"],
        "pagerank.tasks": st["tasks"],
        "pagerank.prep_s": o["s"] - loop_s,
        "pagerank.s_per_superstep": loop_s / steps,
        "pagerank.edges_per_s_per_superstep": n_edges * steps / o["s"],
        "pagerank.driver_gap_s": st["driver_gap_s"],
        "pagerank.sched_delay_s": st["sched_delay_s"],
        "pagerank.shuffle_mb_per_superstep": st["shuffle_mb"] / steps,
        "pagerank.executor_cpu_s": st["executor_cpu_s"],
        "pagerank.gc_s": st["gc_s"], "pagerank.task_skew": st["task_skew"],
    })
    st = stages.stats(tr.named("labelprop"))
    L.update({
        "labelprop.call_s": lpa["s"],
        "labelprop.iterations": float(lpa["lp"].ran_iterations),
        "labelprop.jobs": st["jobs"], "labelprop.driver_gap_s": st["driver_gap_s"],
        "labelprop.shuffle_mb": st["shuffle_mb"], "labelprop.spill_mb": st["spill_mb"],
        "labelprop.task_skew": st["task_skew"],
    })


# ---------------------------------------------------------------------------
# crawl-delta
# ---------------------------------------------------------------------------


def _land(deltas_dir: str, b: int, src: np.ndarray, dst: np.ndarray) -> None:
    """Write one delta batch, then move it into the watched dir whole."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = os.path.join(os.path.dirname(deltas_dir), f".landing-{b:02d}.parquet")
    pq.write_table(pa.table({"src": pa.array(src, pa.int64()),
                             "dst": pa.array(dst, pa.int64())}), tmp)
    os.replace(tmp, os.path.join(deltas_dir, f"batch-{b:02d}.parquet"))


def _du(path: str) -> tuple[float, int]:
    size, files = 0, 0
    for d, _, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(d, name))
            files += 1
    return size / 1e6, files


FOLDS = ("wcc", "triangle")


def crawl_delta(run: Run) -> None:
    from neo4j_graph_algorithms_spark.plans import checkpoint
    from neo4j_graph_algorithms_spark.streaming import graph_maintenance as gm

    spark, tr = run.spark, run.tracer
    n_pages, max_degree = SIZES["crawl-delta"][run.scale]
    g = oracles.crawl_graph(n_pages, run.seed, max_degree)
    base = int(n_pages * CRAWL_BASE_FRAC)
    cuts = np.linspace(base, n_pages, CRAWL_DELTAS + 1).astype(np.int64)
    batch_of_edge = np.searchsorted(cuts, g.src_page, side="right")  # 0 = base
    deltas = os.path.join(run.work_dir, "deltas")
    os.makedirs(deltas)
    state_dirs = {f: os.path.join(run.work_dir, f"{f}_state") for f in FOLDS}
    maintain = {"wcc": gm.run_component_maintenance,
                "triangle": gm.run_triangle_maintenance}

    if tr.traced:
        tr.wrap(gm, "connected_components", "wcc", lambda r: {"rounds": r.iterations})
        tr.wrap(gm, "triangle_count", "triangles")
        tr.wrap(checkpoint.CheckpointManager, "maybe_checkpoint", "checkpoint")

    state: dict[str, Any] = {}

    def fold(b: int) -> tuple[float, float]:
        sel = batch_of_edge == b
        _land(deltas, b, g.src[sel], g.dst[sel])
        wall = cpu = 0.0
        for f in FOLDS:
            t, c, state[f] = _timed(
                tr, f"streaming.{f}_fold",
                lambda: maintain[f](spark, deltas, state_dirs[f]),
                batch=b, delta_edges=int(sel.sum()))
            wall, cpu = wall + t, cpu + c
        state["landed"] = b
        return wall, cpu

    with tr.span("fold0"):
        fold(0)
    run.setup_s = time.time() - run.t_process
    run.op("fold0", True)

    run.passes(CRAWL_DELTAS, lambda k: fold(k + 1))

    # ---- checks (untimed): final state == full recompute over the landed batches ----
    last = state["landed"]
    landed = batch_of_edge <= last
    src, dst = g.src[landed], g.dst[landed]
    verts = np.unique(np.concatenate([src, dst]))

    def refs() -> dict[str, np.ndarray]:
        tri, coef = oracles.triangles_ref(g.n, src, dst)
        return {"wcc": oracles.wcc_ref(g.n, src, dst), "tri": tri, "coef": coef}

    ref = oracles.cached(
        os.path.join(run.cache_dir, f"crawl-delta-{run.scale}-{run.seed}-{last}.npz"),
        refs)
    wcc = state["wcc"].toPandas().sort_values("id")
    ok = (np.array_equal(wcc["id"].to_numpy(), verts)
          and np.array_equal(wcc["component"].to_numpy(), ref["wcc"][verts]))
    run.op("wcc_state", ok, f"vertices={len(wcc)}/{len(verts)}")
    tri = state["triangle"].toPandas().sort_values("id")
    ok = (np.array_equal(tri["id"].to_numpy(), verts)
          and np.array_equal(tri["triangles"].to_numpy(), ref["tri"][verts])
          and float(np.abs(tri["coefficient"].to_numpy() - ref["coef"][verts]).max(
              initial=0.0)) <= COEF_ATOL)
    run.op("triangle_state", ok,
           f"triangles={int(tri['triangles'].sum()) // 3}/{int(ref['tri'].sum()) // 3}")
    run.info.update(vertices=int(len(verts)), edges=int(landed.sum()),
                    triangles=int(ref["tri"].sum()) // 3, batches_folded=last)

    if tr.traced:
        tr.unwrap()
        _crawl_layers(run, state_dirs)


def _crawl_layers(run: Run, state_dirs: dict[str, str]) -> None:
    tr, L = run.tracer, run.layer
    stages = StageLog(run.spark)
    st = stages.stats(tr.named("wcc"))
    L.update({
        "wcc.call_s": st["wall_s"],
        "wcc.rounds": float(sum(s.get("rounds", 0) for s in tr.named("wcc"))),
        "wcc.jobs": st["jobs"], "wcc.driver_gap_s": st["driver_gap_s"],
        "wcc.shuffle_mb": st["shuffle_mb"], "wcc.executor_cpu_s": st["executor_cpu_s"],
        "wcc.task_skew": st["task_skew"],
    })
    st = stages.stats(tr.named("triangles"))
    L.update({
        "triangles.call_s": st["wall_s"],
        "triangles.jobs": st["jobs"], "triangles.shuffle_mb": st["shuffle_mb"],
        "triangles.spill_mb": st["spill_mb"],
        "triangles.executor_cpu_s": st["executor_cpu_s"],
        "triangles.gc_s": st["gc_s"], "triangles.task_skew": st["task_skew"],
    })
    folds = {f: [s for s in tr.named(f"streaming.{f}_fold") if s["batch"] > 0]
             for f in FOLDS}
    per_pass = [stages.stats(list(spans)) for spans in zip(*folds.values())]
    L.update({
        "streaming.wcc_batch_s": median([s["end"] - s["start"] for s in folds["wcc"]]),
        "streaming.triangle_batch_s": median(
            [s["end"] - s["start"] for s in folds["triangle"]]),
        "streaming.jobs_per_batch": median([p["jobs"] for p in per_pass]),
        "streaming.driver_gap_s": median([p["driver_gap_s"] for p in per_pass]),
        "streaming.delta_edges": median([float(s["delta_edges"]) for s in folds["wcc"]]),
    })
    state_mb, files, store_mb = 0.0, 0, 0.0
    for path in state_dirs.values():
        mb, k = _du(path)
        state_mb, files = state_mb + mb, files + k
        store_mb += _du(os.path.join(path, "edges"))[0]
    L.update({
        "checkpoint.state_mb": state_mb - store_mb,
        "checkpoint.edge_store_mb": store_mb,
        "checkpoint.files": float(files),
        "checkpoint.self_s": sum(tr.self_time(s) for s in tr.named("checkpoint")),
    })


WORKLOADS: dict[str, Callable[[Run], None]] = {
    "rank-converge": rank_converge,
    "crawl-delta": crawl_delta,
}
