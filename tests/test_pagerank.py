"""PageRank fixtures — goldens from the reference's own tests
(PageRankTest.java:126-174, PageRankWikiTest.java:63-166) re-expressed
per FIXTURES.md §1–2, plus float64-oracle convergence checks."""

import numpy as np
import pytest

from tests.conftest import make_edges
from tests.oracles import pagerank_oracle
from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

LABEL1_NAMES = list("abcdefghij")
LABEL1_EDGES = [
    ("b", "c"), ("c", "b"), ("d", "a"), ("d", "b"), ("e", "b"),
    ("e", "d"), ("e", "f"), ("f", "b"), ("f", "e"),
]
LABEL1_GOLDEN = {
    "a": 0.243007, "b": 1.9183995, "c": 1.7806315, "d": 0.21885,
    "e": 0.243007, "f": 0.21885, "g": 0.15, "h": 0.15, "i": 0.15, "j": 0.15,
}

WIKI_NAMES = list("abcdefghijk")
WIKI_EDGES = [
    ("b", "c"), ("c", "b"), ("d", "a"), ("d", "b"), ("e", "b"), ("e", "d"),
    ("e", "f"), ("f", "b"), ("f", "e"), ("g", "b"), ("g", "e"), ("h", "b"),
    ("h", "e"), ("i", "b"), ("i", "e"), ("j", "e"), ("k", "e"),
]
WIKI_GOLDEN = {
    "a": 0.3040965, "b": 3.5658695, "c": 3.180981, "d": 0.3625935,
    "e": 0.7503465, "f": 0.3625935, "g": 0.15, "h": 0.15, "i": 0.15,
    "j": 0.15, "k": 0.15,
}


def _vertices(spark, names):
    return spark.createDataFrame([(i,) for i in range(len(names))], "id long")


def _run(spark, names, edge_pairs, golden, **kw):
    v = _vertices(spark, names)
    e = make_edges(spark, edge_pairs, names)
    res = pagerank(v, e, max_iterations=40, **kw)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    for i, n in enumerate(names):
        assert got[i] == pytest.approx(golden[n], abs=1e-2), (n, got[i], golden[n])
    return res


def test_pr_label1_golden(spark):
    _run(spark, LABEL1_NAMES, LABEL1_EDGES, LABEL1_GOLDEN)


def test_pr_wiki_golden_with_dangling(spark):
    # node a is dangling — pushes nothing (NonWeightedComputeStep.java:54)
    _run(spark, WIKI_NAMES, WIKI_EDGES, WIKI_GOLDEN)


def test_pr_tolerance_convergence_vs_oracle(spark):
    names = WIKI_NAMES
    v = _vertices(spark, names)
    e = make_edges(spark, WIKI_EDGES, names)
    res = pagerank(v, e, max_iterations=200, tol=1e-8)
    assert res.converged
    idx = {n: i for i, n in enumerate(names)}
    oracle = pagerank_oracle(
        len(names), [(idx[s], idx[d]) for s, d in WIKI_EDGES],
        iterations=500, tol=1e-12,
    )
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    for i in range(len(names)):
        assert got[i] == pytest.approx(oracle[i], abs=1e-6)


def test_weighted_pagerank(spark):
    # weighted: f = w/Σw(src); w<=0 skipped (WeightedComputeStep.java:70)
    names = list("abcd")
    pairs = [("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 1.0),
             ("c", "a", 2.0), ("d", "a", -5.0)]
    v = _vertices(spark, names)
    e = make_edges(spark, pairs, names)
    res = pagerank(v, e, max_iterations=100, tol=1e-10, weighted=True)
    idx = {n: i for i, n in enumerate(names)}
    oracle = pagerank_oracle(
        4, [(idx[s], idx[d]) for s, d, _ in pairs],
        weights=[w for _, _, w in pairs], iterations=500, tol=1e-12,
    )
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    for i in range(4):
        assert got[i] == pytest.approx(oracle[i], abs=1e-6)


def test_personalized_pagerank(spark):
    names = WIKI_NAMES
    idx = {n: i for i, n in enumerate(names)}
    v = _vertices(spark, names)
    e = make_edges(spark, WIKI_EDGES, names)
    srcs = [idx["e"], idx["b"]]
    res = pagerank(v, e, max_iterations=100, tol=1e-10, source_ids=srcs)
    oracle = pagerank_oracle(
        len(names), [(idx[s], idx[d]) for s, d in WIKI_EDGES],
        sources=srcs, iterations=500, tol=1e-12,
    )
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    for i in range(len(names)):
        assert got[i] == pytest.approx(oracle[i], abs=1e-6)
    # non-source, unreachable-from-source nodes stay at 0
    assert got[idx["k"]] == pytest.approx(0.0, abs=1e-9)


def test_pagerank_checkpoint_resume(spark, tmp_path):
    names = LABEL1_NAMES
    v = _vertices(spark, names)
    e = make_edges(spark, LABEL1_EDGES, names)
    ckdir = str(tmp_path / "pr_ck")
    res1 = pagerank(v, e, max_iterations=10, checkpoint_dir=ckdir,
                    checkpoint_interval=5)
    # resume continues from iteration 10's committed state
    res2 = pagerank(v, e, max_iterations=40, checkpoint_dir=ckdir,
                    checkpoint_interval=5)
    full = pagerank(v, e, max_iterations=40)
    got2 = {r["id"]: r["rank"] for r in res2.ranks.collect()}
    gotf = {r["id"]: r["rank"] for r in full.ranks.collect()}
    assert res1.iterations == 10
    for i in gotf:
        assert got2[i] == pytest.approx(gotf[i], abs=1e-12)


def test_pagerank_metrics_recorded(spark):
    v = _vertices(spark, LABEL1_NAMES)
    e = make_edges(spark, LABEL1_EDGES, LABEL1_NAMES)
    res = pagerank(v, e, max_iterations=5, tol=1e-12)
    # one metrics row per materialized block (unroll=4 → blocks of 4+1)
    assert res.iterations == 5
    assert len(res.metrics) == 2
    assert all("max_delta" in m for m in res.metrics)
    # unroll=1 records per-superstep
    res1 = pagerank(v, e, max_iterations=3, tol=1e-12, unroll=1)
    assert len(res1.metrics) == 3


def test_pagerank_hub_split_equivalence(spark):
    """hub_threshold splits hot sources into replica sub-vertices; the
    message sums must match the unsplit run up to float re-ordering.

    Fixture: a Zipf-ish star — one hub with out-degree 60 (over the
    threshold), a mid vertex over it too, plus a cold tail — exercising
    hot- and cold-path joins together.
    """
    edges = []
    for d in range(1, 61):
        edges.append((0, d, 1.0))            # hub: deg 60
    for d in range(20, 45):
        edges.append((1, d, 1.0))            # mid: deg 25
    for s in range(2, 10):
        edges.append((s, (s * 7) % 61, 1.0))  # cold tail
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    v = spark.createDataFrame([(i,) for i in range(61)], "id long")

    base = pagerank(v, e, max_iterations=15)
    split = pagerank(v, e, max_iterations=15, hub_threshold=10,
                     hub_replicas=4)
    a = {r["id"]: r["rank"] for r in base.ranks.collect()}
    b = {r["id"]: r["rank"] for r in split.ranks.collect()}
    assert set(a) == set(b)
    for i in a:
        assert a[i] == pytest.approx(b[i], abs=1e-12), i


def test_pagerank_hub_split_weighted_and_tol(spark):
    e = make_edges(spark, WIKI_EDGES, WIKI_NAMES,)
    v = _vertices(spark, WIKI_NAMES)
    base = pagerank(v, e, max_iterations=60, tol=1e-7, weighted=True)
    split = pagerank(v, e, max_iterations=60, tol=1e-7, weighted=True,
                     hub_threshold=1, hub_replicas=3)
    a = {r["id"]: r["rank"] for r in base.ranks.collect()}
    b = {r["id"]: r["rank"] for r in split.ranks.collect()}
    for i in a:
        assert a[i] == pytest.approx(b[i], abs=1e-9), i


def test_pr_incremental_matches_full_recompute(spark):
    """Warm-started re-rank after an edge delta converges to the
    perturbed graph's fixed point."""
    from neo4j_graph_algorithms_spark.operators.pagerank import (
        pagerank_incremental,
    )

    names = WIKI_NAMES
    idx = {n: i for i, n in enumerate(names)}
    v = _vertices(spark, names)
    e0 = make_edges(spark, WIKI_EDGES, names)
    prev = pagerank(v, e0, max_iterations=200, tol=1e-9)
    # delta: drop (e,b), add (a,k) and (c,d)
    new_pairs = [p for p in WIKI_EDGES if p != ("e", "b")] + [
        ("a", "k"), ("c", "d")]
    e1 = make_edges(spark, new_pairs, names)
    inc = pagerank_incremental(v, e1, prev.ranks,
                               max_iterations=200, tol=1e-9)
    full = pagerank(v, e1, max_iterations=200, tol=1e-9)
    gi = {r["id"]: r["rank"] for r in inc.ranks.collect()}
    gf = {r["id"]: r["rank"] for r in full.ranks.collect()}
    assert inc.converged
    for i in range(len(names)):
        assert gi[i] == pytest.approx(gf[i], abs=1e-7)
    assert idx  # names fixture used


def test_pr_incremental_unchanged_graph_stops_immediately(spark):
    from neo4j_graph_algorithms_spark.operators.pagerank import (
        pagerank_incremental,
    )

    v = _vertices(spark, WIKI_NAMES)
    e = make_edges(spark, WIKI_EDGES, WIKI_NAMES)
    prev = pagerank(v, e, max_iterations=300, tol=1e-10)
    # warm start from a converged solution stops at the first block
    # boundary
    inc_std = pagerank_incremental(v, e, prev.ranks,
                                   max_iterations=300, tol=1e-8)
    assert inc_std.converged and inc_std.iterations <= 4
    gp = {r["id"]: r["rank"] for r in prev.ranks.collect()}
    gi = {r["id"]: r["rank"] for r in inc_std.ranks.collect()}
    for i in gp:
        assert gi[i] == pytest.approx(gp[i], abs=1e-8)


def test_pr_incremental_new_nodes_start_at_base(spark):
    """Vertices absent from prev_ranks (newly crawled pages) are seeded
    at base and ranked correctly."""
    from neo4j_graph_algorithms_spark.operators.pagerank import (
        pagerank_incremental,
    )

    names = WIKI_NAMES
    v0 = spark.createDataFrame([(i,) for i in range(len(names))], "id long")
    e0 = make_edges(spark, WIKI_EDGES, names)
    prev = pagerank(v0, e0, max_iterations=200, tol=1e-9)
    # grow the graph: one new node (id 11) pointing at b, e pointing at it
    v1 = spark.createDataFrame([(i,) for i in range(len(names) + 1)],
                               "id long")
    extra = spark.createDataFrame([(11, 1, 1.0), (4, 11, 1.0)],
                                  "src long, dst long, weight double")
    e1 = e0.unionByName(extra.select(*e0.columns))
    inc = pagerank_incremental(v1, e1, prev.ranks,
                               max_iterations=200, tol=1e-9)
    full = pagerank(v1, e1, max_iterations=200, tol=1e-9)
    gi = {r["id"]: r["rank"] for r in inc.ranks.collect()}
    gf = {r["id"]: r["rank"] for r in full.ranks.collect()}
    assert set(gi) == set(gf)
    for i in gf:
        assert gi[i] == pytest.approx(gf[i], abs=1e-7)


def test_batch_personalized_matches_single_runs(spark):
    # each register column of the batch loop must equal the
    # single-source personalized run bit-for-bit (same formula, same
    # association order, same join shape)
    from neo4j_graph_algorithms_spark.operators.pagerank import (
        pagerank, pagerank_batch_personalized,
    )

    n = 30
    edges = [(i, (i * 7 + 3) % n) for i in range(n)] + \
            [(i, (i * 11 + 5) % n) for i in range(n)]
    e = spark.createDataFrame(edges, "src long, dst long").dropDuplicates()
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    sets = [[0], [1, 2], [3, 4, 5]]
    batch = pagerank_batch_personalized(v, e, sets, max_iterations=8, tol=0.0)
    wide = {r["id"]: (r["r0"], r["r1"], r["r2"])
            for r in batch.ranks.collect()}
    for s, ss in enumerate(sets):
        single = pagerank(v, e, max_iterations=8, tol=0.0, source_ids=ss)
        got = {r["id"]: r["rank"] for r in single.ranks.collect()}
        for i in range(n):
            assert wide[i][s] == got[i], f"set {s} node {i}"
    assert batch.iterations == 8


@pytest.mark.parametrize("iters", [8, 9])
def test_batch_personalized_removes_checkpoint_dir(spark, tmp_path,
                                                  monkeypatch, iters):
    # the loop writes a durable snapshot every 8 iterations: at 8 the
    # final ranks ARE that snapshot, at 9 they are one step past it
    import tempfile

    from neo4j_graph_algorithms_spark.operators.pagerank import (
        pagerank_batch_personalized,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    n = 30
    edges = [(i, (i * 7 + 3) % n) for i in range(n)]
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    batch = pagerank_batch_personalized(v, e, [[0], None],
                                        max_iterations=iters, tol=0.0)
    assert not list(tmp_path.glob("batchppr_ckpt_*"))
    wide = {r["id"]: (r["r0"], r["r1"]) for r in batch.ranks.collect()}
    for s, ss in enumerate([[0], None]):
        single = pagerank(v, e, max_iterations=iters, tol=0.0, source_ids=ss)
        for r in single.ranks.collect():
            assert wide[r["id"]][s] == r["rank"], (s, r["id"])


def test_batch_personalized_tolerance_and_validation(spark):
    import pytest as _pt
    from neo4j_graph_algorithms_spark.operators.pagerank import (
        pagerank_batch_personalized,
    )

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(3)], "id long")
    # delta decays by 0.85/iter from 0.15 on a cycle: 1e-3 needs ~32
    # supersteps, comfortably under the cap (1e-10 would need ~129)
    res = pagerank_batch_personalized(v, e, [[0]], max_iterations=50,
                                      tol=1e-3)
    assert res.converged and res.iterations < 50
    with _pt.raises(ValueError):
        pagerank_batch_personalized(v, e, [])


def test_spam_mass_semantics(spark):
    """The None register equals global pagerank bit-for-bit; trust
    rescale makes the sums equal; seeds have low relative spam mass."""
    from neo4j_graph_algorithms_spark.operators.pagerank import (
        pagerank, pagerank_batch_personalized, spam_mass,
    )

    # trusted core {0,1} linking each other + out; 5..7 a spam-ish
    # clique pointed at by nothing trusted
    edges = [(0, 1), (1, 0), (0, 2), (2, 3), (3, 4),
             (5, 6), (6, 7), (7, 5), (5, 4)]
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.range(8).toDF("id")

    sm = {r["id"]: r for r in spam_mass(
        v, e, [0, 1], max_iterations=12).collect()}
    pr = {r["id"]: r["rank"] for r in pagerank(
        v, e, max_iterations=12, tol=0.0).ranks.collect()}
    for i in range(8):
        assert sm[i]["pagerank"] == pytest.approx(pr[i], abs=1e-12), i
    s_pr = sum(r["pagerank"] for r in sm.values())
    s_tr = sum(r["trust"] for r in sm.values())
    assert s_tr == pytest.approx(s_pr, rel=1e-9)
    # trusted-core pages score far lower spam mass than the clique
    assert max(sm[i]["spam_mass_rel"] for i in (0, 1, 2)) < \
        min(sm[i]["spam_mass_rel"] for i in (5, 6, 7))

    # a None register equals pagerank() exactly at fixed iterations
    b = pagerank_batch_personalized(v, e, [None], max_iterations=12)
    got = {r["id"]: r["r0"] for r in b.ranks.collect()}
    for i in range(8):
        assert got[i] == pr[i], i


def _np_pagerank_redistribute(n, pairs, iters, d=0.85):
    """Per-node formulation with uniform dangling redistribution:
    r = 0.15 + d*(A^T (r/deg) + S/n), S = sum of dangling ranks."""
    deg = np.zeros(n)
    for s, t in pairs:
        deg[s] += 1
    r = np.full(n, 1 - d)
    for _ in range(iters):
        msg = np.zeros(n)
        for s, t in pairs:
            msg[t] += r[s] / deg[s]
        dangle = r[deg == 0].sum()
        r = (1 - d) + d * (msg + dangle / n)
    return r


def test_pr_dangling_redistribute_vs_numpy(spark):
    # wiki graph has dangling node 'a' (and others with out-deg 0)
    names = WIKI_NAMES
    v = _vertices(spark, names)
    e = make_edges(spark, WIKI_EDGES, names)
    pairs = [(names.index(s), names.index(t)) for s, t in WIKI_EDGES]
    res = pagerank(v, e, max_iterations=25, dangling="redistribute")
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    exp = _np_pagerank_redistribute(len(names), pairs, 25)
    for i in range(len(names)):
        assert got[i] == pytest.approx(exp[i], abs=1e-9), i


def test_pr_dangling_mass_invariant(spark):
    # at the fixpoint total mass = n exactly (the per-node-formulation
    # invariant of the redistributing variant)
    names = WIKI_NAMES
    v = _vertices(spark, names)
    e = make_edges(spark, WIKI_EDGES, names)
    res = pagerank(v, e, max_iterations=200, tol=1e-12,
                   dangling="redistribute")
    total = sum(r["rank"] for r in res.ranks.collect())
    assert total == pytest.approx(len(names), abs=1e-6)
    assert res.converged


def test_pr_dangling_validation(spark):
    v = _vertices(spark, LABEL1_NAMES)
    e = make_edges(spark, LABEL1_EDGES, LABEL1_NAMES)
    with pytest.raises(ValueError):
        pagerank(v, e, dangling="bogus")
    with pytest.raises(NotImplementedError):
        pagerank(v, e, dangling="redistribute", source_ids=[0])


def test_anti_trust_rank_flows_to_predecessors_only(spark):
    from neo4j_graph_algorithms_spark.operators.pagerank import (
        anti_trust_rank,
    )

    # chain 0 -> 1 -> 2 -> 3(spam) <- 4; 5 isolated from spam
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 3), (3, 5)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(6)], "id long")
    at = {r["id"]: r["anti_trust"] for r in anti_trust_rank(
        verts, edges, [3], max_iterations=20).collect()}
    # distrust at the seed, decaying UP the chain; none downstream
    assert at[3] > at[2] > at[1] > at[0] > 0
    assert at[4] > 0            # links directly to spam
    assert at[5] == 0.0         # only linked FROM spam — not distrusted
