from graph_python_spark.algorithms.pagerank import pagerank, pagerank_fixed
from graph_python_spark.algorithms.components import connected_components, cc_fixed_rounds
from graph_python_spark.algorithms.labelprop import label_propagation
from graph_python_spark.algorithms.triangles import (
    clustering_coefficients,
    triangle_count,
    triangles_incremental,
    triangles_per_vertex,
)
from graph_python_spark.algorithms.traversal import bfs_levels, bfs_parents, sssp
from graph_python_spark.algorithms.louvain import louvain_levels, louvain_sweeps
from graph_python_spark.algorithms.kcore import coreness_rounds, kcore, s_core
from graph_python_spark.algorithms.ktruss import ktruss
from graph_python_spark.algorithms.mis import maximal_independent_set
from graph_python_spark.algorithms.metrics import (
    normalized_mutual_information, spearman_correlation)
from graph_python_spark.algorithms.matching import (maximal_matching,
                                                    weighted_matching)
from graph_python_spark.algorithms.centrality import (
    betweenness_sources,
    harmonic_centrality,
    hits_fixed,
    katz_fixed,
    ppr_fixed,
    salsa_fixed,
)
from graph_python_spark.algorithms.scc import strongly_connected_components
from graph_python_spark.algorithms.vertexsim import (
    cocitation_scores,
    jaccard_neighbors,
    link_prediction_scores,
)
from graph_python_spark.algorithms.metrics import (
    degree_assortativity,
    modularity,
    degree_quantiles,
    reciprocity,
    rich_club,
    transitivity,
    vertex_features,
)
from graph_python_spark.algorithms.contract import contract_graph
from graph_python_spark.algorithms.wl import wl_fingerprints, wl_label_histogram
from graph_python_spark.algorithms.simrank import simrank
from graph_python_spark.algorithms.relabel import degree_relabel, relabel_locality
from graph_python_spark.algorithms.trustrank import spam_mass, trustrank_fixed
from graph_python_spark.algorithms.influence import influence_spread
from graph_python_spark.algorithms.bowtie import bowtie_decomposition, reach_from
from graph_python_spark.algorithms.walks import (deterministic_walks,
                                                 neighbor_sample,
                                                 ranked_adjacency)
from graph_python_spark.algorithms.anf import (anf_sketches, effective_diameter,
                                               hyperball_harmonic)
from graph_python_spark.algorithms.traversal import dag_longest_path_levels
from graph_python_spark.algorithms.scc import condensation
from graph_python_spark.algorithms.densest import densest_subgraph
from graph_python_spark.algorithms.spectral import spectral_gap
from graph_python_spark.algorithms.partition import partition_assign, partition_quality

__all__ = [
    "pagerank",
    "pagerank_fixed",
    "connected_components",
    "cc_fixed_rounds",
    "label_propagation",
    "triangle_count",
    "triangles_incremental",
    "triangles_per_vertex",
    "effective_diameter",
    "weighted_matching",
    "normalized_mutual_information",
    "spearman_correlation",
    "spectral_gap",
    "s_core",
    "clustering_coefficients",
    "bfs_levels",
    "bfs_parents",
    "sssp",
    "louvain_levels",
    "louvain_sweeps",
    "kcore",
    "coreness_rounds",
    "ktruss",
    "maximal_independent_set",
    "hits_fixed",
    "katz_fixed",
    "betweenness_sources",
    "ppr_fixed",
    "salsa_fixed",
    "strongly_connected_components",
    "jaccard_neighbors",
    "link_prediction_scores",
    "modularity",
    "degree_assortativity",
    "deterministic_walks",
    "neighbor_sample",
    "ranked_adjacency",
    "harmonic_centrality",
    "cocitation_scores",
    "reciprocity",
    "anf_sketches",
    "dag_longest_path_levels",
    "transitivity",
    "rich_club",
    "contract_graph",
    "wl_fingerprints",
    "wl_label_histogram",
    "degree_quantiles",
    "vertex_features",
    "simrank",
    "degree_relabel",
    "relabel_locality",
    "trustrank_fixed",
    "spam_mass",
    "influence_spread",
    "bowtie_decomposition",
    "condensation",
    "densest_subgraph",
    "partition_assign",
    "partition_quality",
    "hyperball_harmonic",
    "reach_from",
]
