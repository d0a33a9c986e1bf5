"""Operator registry — the ``algo.list`` / ``algo.version`` equivalent
(reference: ListProc.java / VersionProc: enumerate every installed
procedure so a user can discover the surface).

``list_algorithms()`` maps each reference procedure name to the Python
entry point that re-expresses it, so a reference user can locate the
replacement for every call they make today. Kept in sync with
SURVEY.md §2 — tests assert every entry imports and is callable.
"""

from __future__ import annotations

from importlib import import_module

__all__ = ["list_algorithms", "resolve", "version"]

_P = "neo4j_graph_algorithms_spark"

# reference procedure -> "module:callable"
_REGISTRY: dict[str, str] = {
    "algo.pageRank": f"{_P}.operators.pagerank:pagerank",
    "algo.articleRank": f"{_P}.operators.centrality_variants:articlerank",
    "algo.eigenvector": f"{_P}.operators.centrality_variants:eigenvector_centrality",
    "algo.degree": f"{_P}.operators.degree:degree_centrality",
    "algo.closeness": f"{_P}.operators.closeness:closeness_centrality",
    "algo.closeness.harmonic": f"{_P}.operators.closeness:harmonic_centrality",
    "algo.closeness.dangalchev": f"{_P}.operators.closeness:dangalchev_centrality",
    "algo.betweenness": f"{_P}.operators.betweenness:betweenness_centrality",
    "algo.betweenness.sampled": f"{_P}.operators.betweenness:betweenness_centrality",
    "algo.unionFind": f"{_P}.operators.wcc:connected_components",
    "algo.labelPropagation": f"{_P}.operators.labelprop:label_propagation",
    "algo.louvain": f"{_P}.operators.louvain:louvain",
    "algo.infoMap": f"{_P}.operators.infomap:infomap",
    "algo.scc": f"{_P}.operators.scc:strongly_connected_components",
    "algo.triangleCount": f"{_P}.operators.triangles:triangle_count",
    "algo.triangle.stream": f"{_P}.operators.triangles:triangle_stream",
    "algo.balancedTriads": f"{_P}.operators.triangles:balanced_triads",
    "algo.mst": f"{_P}.operators.spanning:spanning_tree",
    "algo.spanningTree": f"{_P}.operators.spanning:spanning_tree",
    "algo.spanningTree.kmin": f"{_P}.operators.spanning:k_spanning_tree",
    "algo.spanningTree.kmax": f"{_P}.operators.spanning:k_spanning_tree",
    "algo.bfs.stream": f"{_P}.operators.traversal:bfs_distances",
    "algo.dfs.stream": f"{_P}.operators.traversal:dfs_order",
    "algo.shortestPath": f"{_P}.operators.traversal:shortest_path",
    "algo.shortestPath.astar.stream": f"{_P}.operators.traversal:shortest_path_astar",
    "algo.shortestPath.deltaStepping": f"{_P}.operators.traversal:sssp",
    "algo.shortestPaths": f"{_P}.operators.traversal:sssp",
    "algo.allShortestPaths.stream": f"{_P}.operators.traversal:all_shortest_paths",
    "algo.kShortestPaths": f"{_P}.operators.yens:k_shortest_paths",
    "algo.randomWalk.stream": f"{_P}.operators.traversal:random_walks",
    "algo.similarity.jaccard": f"{_P}.operators.similarity:jaccard_categories",
    "algo.similarity.overlap": f"{_P}.operators.similarity:overlap_categories",
    "algo.similarity.cosine": f"{_P}.operators.similarity:cosine_vectors",
    "algo.similarity.euclidean": f"{_P}.operators.similarity:euclidean_vectors",
    "algo.similarity.pearson": f"{_P}.operators.similarity:pearson_vectors",
    "algo.similarity.asVector": f"{_P}.operators.similarity:as_vector",
    "algo.linkprediction.adamicAdar": f"{_P}.operators.linkprediction:link_prediction_for_pairs",
    "algo.linkprediction.resourceAllocation": f"{_P}.operators.linkprediction:link_prediction_for_pairs",
    "algo.linkprediction.commonNeighbors": f"{_P}.operators.linkprediction:link_prediction_for_pairs",
    "algo.linkprediction.preferentialAttachment": f"{_P}.operators.linkprediction:link_prediction_for_pairs",
    "algo.linkprediction.totalNeighbors": f"{_P}.operators.linkprediction:link_prediction_for_pairs",
    "algo.linkprediction.sameCommunity": f"{_P}.operators.linkprediction:same_community_for_pairs",
    "algo.ml.oneHotEncoding": f"{_P}.functions.scalars:one_hot",
    "algo.graph.load": f"{_P}.catalog:GraphCatalog",
    "algo.graph.remove": f"{_P}.catalog:GraphCatalog",
    "algo.graph.info": f"{_P}.catalog:GraphCatalog",
    # engine extensions (no reference procedure — web-pipeline surface)
    "ext.pageRank.incremental": f"{_P}.operators.pagerank:pagerank_incremental",
    "ext.unionFind.incremental": f"{_P}.operators.wcc:connected_components_incremental",
    "ext.hostGraph": f"{_P}.operators.hostgraph:host_graph",
    "ext.triangleCount.incremental": f"{_P}.operators.triangles:triangle_count_incremental",
    "ext.domainGraph": f"{_P}.operators.hostgraph:domain_graph",
    "ext.mirrorHosts": f"{_P}.operators.hostgraph:mirror_hosts",
    "ext.crawlFrontier": f"{_P}.operators.hostgraph:crawl_frontier",
    "ext.stream.wcc": f"{_P}.streaming.graph_maintenance:run_component_maintenance",
    "ext.stream.pageRank": f"{_P}.streaming.graph_maintenance:run_pagerank_maintenance",
    "ext.stream.triangleCount": f"{_P}.streaming.graph_maintenance:run_triangle_maintenance",
    "ext.stream.labelPropagation": f"{_P}.streaming.graph_maintenance:run_labelprop_maintenance",
    "ext.kCore": f"{_P}.operators.kcore:k_core",
    "ext.coreness": f"{_P}.operators.kcore:coreness",
    "ext.hyperBall": f"{_P}.operators.hyperball:hyperball",
    "ext.hyperBall.anf": f"{_P}.operators.hyperball:approx_neighborhood_function",
    "ext.hyperBall.effectiveDiameter": f"{_P}.operators.hyperball:approx_effective_diameter",
    "ext.closeness.hyperball": f"{_P}.operators.hyperball:closeness_hyperball",
    "ext.hits": f"{_P}.operators.centrality_variants:hits",
    "ext.triangleCount.sampled": f"{_P}.operators.triangles:triangle_count_sampled",
    "ext.sample.documents": f"{_P}.pipeline.sampling:sample_documents",
    "ext.sample.stratified": f"{_P}.pipeline.sampling:stratified_sample_exact",
    "ext.pageRank.batchPersonalized":
        f"{_P}.operators.pagerank:pagerank_batch_personalized",
    "ext.trustRank.spamMass": f"{_P}.operators.pagerank:spam_mass",
    "ext.antiTrustRank": f"{_P}.operators.pagerank:anti_trust_rank",
    "ext.anchorText.stats": f"{_P}.sources.extraction:anchor_stats",
    "ext.kmeans": f"{_P}.pipeline.kmeans:kmeans_fit",
    "ext.dedup.semantic": f"{_P}.pipeline.kmeans:semantic_dedup",
    "ext.text.repetition": f"{_P}.pipeline.text:repetition_scores",
    "ext.decontaminate": f"{_P}.pipeline.decontam:ngram_decontaminate",
    "ext.filter.pii": f"{_P}.pipeline.filtering:pii_scrub",
    "ext.filter.c4": f"{_P}.pipeline.filtering:c4_quality_filter",
    "ext.sample.mixCorpus": f"{_P}.pipeline.sampling:mix_corpus",
    "ext.pack.sequences": f"{_P}.pipeline.packing:pack_sequences",
    "ext.index.vocab": f"{_P}.pipeline.index:build_vocab",
    "ext.index.tfidf": f"{_P}.pipeline.index:tfidf_top_terms",
    "ext.index.inverted": f"{_P}.pipeline.index:inverted_index",
    "ext.stream.dedup": f"{_P}.streaming.dedup:run_dedup_maintenance",
    "ext.stream.urlDedup": f"{_P}.streaming.dedup:run_url_dedup_maintenance",
    "ext.pca.covariance": f"{_P}.pipeline.pca:covariance_matrix",
    "ext.pca.fit": f"{_P}.pipeline.pca:pca_fit",
    "ext.pca.project": f"{_P}.pipeline.pca:pca_project",
    "ext.index.cooccurrencePmi": f"{_P}.pipeline.index:cooccurrence_pmi",
    "ext.graph.degreeHistogram": f"{_P}.operators.graphstats:degree_histogram",
    "ext.graph.summary": f"{_P}.operators.graphstats:graph_summary",
    "ext.url.canonicalize": f"{_P}.pipeline.urlnorm:canonicalize_url",
    "ext.url.dedup": f"{_P}.pipeline.urlnorm:url_dedup",
    "ext.dedup.lines": f"{_P}.pipeline.lines:line_dedup",
    "ext.text.boilerplate": f"{_P}.pipeline.lines:boilerplate_scores",
    "ext.simRank": f"{_P}.operators.simrank:simrank",
    "ext.project.random": f"{_P}.pipeline.projection:random_project",
    "ext.community.refine": f"{_P}.operators.refinement:split_disconnected_communities",
    "ext.walks.skipgramPairs": f"{_P}.operators.traversal:walk_skipgram_pairs",
    "ext.salsa": f"{_P}.operators.centrality_variants:salsa",
    "ext.whoToFollow": f"{_P}.operators.wtf:who_to_follow",
    "ext.maximalMatching": f"{_P}.operators.matching:maximal_matching",
    "ext.coarsen": f"{_P}.operators.matching:coarsen_graph",
    "ext.vertexCover": f"{_P}.operators.matching:vertex_cover_2approx",
    "ext.partition.bisect": f"{_P}.operators.partitioning:multilevel_bisect",
    "ext.partition.refine": f"{_P}.operators.partitioning:refine_bisection",
    "ext.partition.kway": f"{_P}.operators.partitioning:partition_kway",
    "ext.sketch.hll": f"{_P}.pipeline.sketches:hll_group_sketches",
    "ext.sketch.hllMerge": f"{_P}.pipeline.sketches:hll_merge_sketches",
    "ext.sketch.hllCardinality": f"{_P}.pipeline.sketches:hll_cardinality",
    "ext.stream.sketch": f"{_P}.streaming.dedup:run_sketch_maintenance",
    "ext.dedup.lshEval": f"{_P}.pipeline.dedup:lsh_recall_eval",
    "ext.sample.weighted": f"{_P}.pipeline.sampling:weighted_sample_exact",
    "ext.text.lmScore": f"{_P}.pipeline.text:ngram_lm_score",
    "ext.text.perplexityBuckets": f"{_P}.pipeline.text:perplexity_buckets",
    "ext.bpe.train": f"{_P}.pipeline.bpe:bpe_train",
    "ext.bpe.encode": f"{_P}.pipeline.bpe:bpe_encode",
    "ext.sample.temperatureMix": f"{_P}.pipeline.sampling:temperature_mix",
    "ext.dedup.duplicateSpans": f"{_P}.pipeline.dedup:duplicate_span_scores",
    "ext.cocitation": f"{_P}.operators.cocitation:cocitation_pairs",
    "ext.coupling": f"{_P}.operators.cocitation:coupling_pairs",
    "ext.butterflyCount": f"{_P}.operators.cocitation:butterfly_count",
    "ext.nullModel.rewire": f"{_P}.operators.nullmodel:rewire_configuration_model",
    "ext.nullModel.motifZscore": f"{_P}.operators.nullmodel:motif_zscore",
    "ext.kTruss": f"{_P}.operators.ktruss:k_truss",
    "ext.stream.nearDup": f"{_P}.streaming.dedup:run_near_dup_maintenance",
    "ext.densestSubgraph": f"{_P}.operators.densest:densest_subgraph",
    "ext.mis": f"{_P}.operators.mis:maximal_independent_set",
    "ext.coloring": f"{_P}.operators.mis:greedy_coloring",
    "ext.resolveRedirects": f"{_P}.operators.redirects:resolve_redirects",
    "ext.graph.powerlawFit": f"{_P}.operators.graphstats:powerlaw_fit",
    "ext.graph.diameterSweep": f"{_P}.operators.graphstats:diameter_double_sweep",
    "ext.randomWalk.weighted": f"{_P}.operators.traversal:random_walks_weighted",
    "ext.community.compare": f"{_P}.operators.metrics:community_compare",
    "ext.community.conductance": f"{_P}.operators.metrics:community_conductance",
    "ext.katz": f"{_P}.operators.centrality_variants:katz_centrality",
    "ext.localCluster.sweepCut": f"{_P}.operators.local_cluster:sweep_cut",
    "ext.localCluster.pprNibble": f"{_P}.operators.local_cluster:ppr_local_cluster",
    "ext.hyperBall.eccentricity": f"{_P}.operators.hyperball:approx_eccentricity",
    "ext.landmarks.index": f"{_P}.operators.landmarks:landmark_distance_index",
    "ext.landmarks.estimate": f"{_P}.operators.landmarks:estimate_distances",
    "ext.source.warc": f"{_P}.sources.warc:read_warc",
    "ext.source.warcPages": f"{_P}.sources.warc:warc_pages",
    "ext.dedup.keepLatest": f"{_P}.pipeline.dedup:keep_latest",
    "ext.dedup.containment": f"{_P}.pipeline.dedup:containment_pairs",
}

# The reference exposes each algorithm under several procedure names:
# `.stream` twins return rows instead of writing node properties, and
# queue/forkJoin/forkJoinMerge/mscoloring (unionFind), the scc impl
# family, and triangleCount.forkJoin pick a JVM THREAD strategy — an
# axis Spark owns (parallelism is partitioning, not a procedure name).
# Every alias resolves to the same DataFrame operator; write-mode =
# persist the returned DataFrame (sources/iceberg.py). The full
# reference @Procedure surface is pinned by
# tests/test_registry_surface.py against the grep of the reference tree.
_ALIASES: dict[str, str] = {
    "algo.unionFind.queue": "algo.unionFind",
    "algo.unionFind.forkJoin": "algo.unionFind",
    "algo.unionFind.forkJoinMerge": "algo.unionFind",
    "algo.unionFind.mscoloring": "algo.unionFind",
    "algo.scc.recursive.tarjan": "algo.scc",
    "algo.scc.recursive.tunedTarjan": "algo.scc",
    "algo.scc.iterative": "algo.scc",
    "algo.scc.multistep": "algo.scc",
    "algo.scc.forwardBackward.stream": "algo.scc",
    "algo.triangleCount.forkJoin": "algo.triangleCount",
    "algo.spanningTree.minimum": "algo.spanningTree",
    "algo.spanningTree.maximum": "algo.spanningTree",
}
for _alias, _target in _ALIASES.items():
    _REGISTRY[_alias] = _REGISTRY[_target]

# .stream twins (write mode differs only in the sink)
_STREAM_TWINS = [
    "algo.pageRank", "algo.articleRank", "algo.eigenvector", "algo.degree",
    "algo.closeness", "algo.closeness.harmonic", "algo.closeness.dangalchev",
    "algo.betweenness", "algo.betweenness.sampled", "algo.unionFind",
    "algo.unionFind.queue", "algo.unionFind.forkJoin",
    "algo.unionFind.forkJoinMerge", "algo.unionFind.mscoloring",
    "algo.labelPropagation", "algo.louvain", "algo.infoMap", "algo.scc",
    "algo.scc.iterative", "algo.scc.recursive.tunedTarjan",
    "algo.scc.multistep", "algo.triangleCount", "algo.triangleCount.forkJoin",
    "algo.kShortestPaths", "algo.shortestPath", "algo.shortestPaths",
    "algo.shortestPath.deltaStepping", "algo.balancedTriads",
    "algo.similarity.jaccard", "algo.similarity.overlap",
    "algo.similarity.cosine", "algo.similarity.euclidean",
    "algo.similarity.pearson",
]
for _base in _STREAM_TWINS:
    _REGISTRY[f"{_base}.stream"] = _REGISTRY[_base]

# catalog/meta procedures implemented by this module itself
_REGISTRY.setdefault("algo.list", f"{_P}.registry:list_algorithms")
_REGISTRY.setdefault("algo.asPath", f"{_P}.functions.scalars:as_path")


def list_algorithms() -> dict[str, str]:
    """Reference procedure name → ``module:callable`` entry point."""
    return dict(_REGISTRY)


def resolve(proc_name: str):
    """Import and return the callable for a reference procedure name."""
    target = _REGISTRY[proc_name]
    mod, _, attr = target.partition(":")
    return getattr(import_module(mod), attr)


def version() -> str:
    """Engine version string (``algo.version`` equivalent)."""
    return "spark-linkgraph 0.3 (round 3)"
