from .components import (
    component_evolution,
    connected_components,
    label_propagation,
    seeded_label_spreading,
    threshold_profile,
)
from .decayed_indegree import DecayedIndegree, DistributedDecayedIndegree
from .static_degree import static_indegree, static_negative_beta
from .static_pagerank import (
    pagerank_convergence,
    personalized_pagerank,
    static_pagerank,
)
from .harmonic import harmonic_centrality
from .hits import hits
from .betweenness import betweenness_from_pivots
from .bfs import bfs_distances, eccentricity
from .kcore import core_number, k_core, k_truss, onion_decomposition
from .link_prediction import link_prediction_scores
from .community import modularity
from .feature_prop import khop_feature_propagation
from .wl import wl_histogram, wl_refinement
from .splits import temporal_edge_split
from .richclub import rich_club
from .densest import densest_subgraph
from .backbone import disparity_backbone, disparity_scores, strength_disparity
from .persistence import edge_persistence
from .robustness import attack_robustness, random_failure
from .bipartite import bipartite_projection, butterfly_count
from .bridges import articulation_points, bridges, two_edge_components
from .anf import anf_reach, fm_node_sketches
from .bowtie import bowtie_decomposition
from .coloring import greedy_coloring
from .nullmodel import config_model_stats, katz_index
from .timeseries import activity_autocorr, activity_changepoint, daily_anomalies
from .msf import minimum_spanning_forest
from .motifs import temporal_motifs
from .scc import strongly_connected_components
from .neighborhood import (
    collective_influence,
    neighborhood_overlap,
    square_census,
)
from .walk_corpus import random_walks, walk_cooccurrence
from .temporal_katz import TemporalKatz, TruncatedTemporalKatz
from .temporal_katz_distributed import (
    DistributedTemporalKatz,
    DistributedTruncatedTemporalKatz,
    attach_closure_components,
)
from .temporal_pagerank_distributed import DistributedTemporalPageRank
from .triangles import (
    attribute_assortativity,
    reciprocity_latency,
    degree_assortativity,
    local_clustering,
    triangle_count,
)

__all__ = [
    "TemporalKatz",
    "TruncatedTemporalKatz",
    "DistributedTemporalKatz",
    "DistributedTruncatedTemporalKatz",
    "attach_closure_components",
    "DistributedTemporalPageRank",
    "DecayedIndegree",
    "DistributedDecayedIndegree",
    "static_indegree",
    "static_negative_beta",
    "static_pagerank",
    "harmonic_centrality",
    "hits",
    "connected_components",
    "label_propagation",
    "triangle_count",
    "personalized_pagerank",
    "bfs_distances",
    "eccentricity",
    "betweenness_from_pivots",
    "core_number",
    "k_core",
    "onion_decomposition",
    "k_truss",
    "link_prediction_scores",
    "strongly_connected_components",
    "temporal_motifs",
    "modularity",
    "khop_feature_propagation",
    "wl_refinement",
    "wl_histogram",
    "temporal_edge_split",
    "rich_club",
    "component_evolution",
    "densest_subgraph",
    "disparity_backbone",
    "disparity_scores",
    "strength_disparity",
    "threshold_profile",
    "edge_persistence",
    "attack_robustness",
    "random_failure",
    "butterfly_count",
    "bipartite_projection",
    "bridges",
    "articulation_points",
    "two_edge_components",
    "activity_autocorr",
    "activity_changepoint",
    "anf_reach",
    "daily_anomalies",
    "config_model_stats",
    "greedy_coloring",
    "katz_index",
    "fm_node_sketches",
    "bowtie_decomposition",
    "pagerank_convergence",
    "attribute_assortativity",
    "minimum_spanning_forest",
    "random_walks",
    "walk_cooccurrence",
    "reciprocity_latency",
    "degree_assortativity",
    "local_clustering",
    "collective_influence",
    "neighborhood_overlap",
    "square_census",
]
