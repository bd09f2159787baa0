from pagerank_spark.graph.components import (
    aggregate_messages,
    connected_components,
    shortest_paths,
    triangle_count,
)
from pagerank_spark.graph.loop import Pins, VertexLoop
from pagerank_spark.graph.pagerank import (
    PageRankResult,
    compare_teleports,
    degrees,
    pagerank,
    top_k,
    vertices,
)

__all__ = [
    "PageRankResult",
    "Pins",
    "VertexLoop",
    "aggregate_messages",
    "connected_components",
    "shortest_paths",
    "triangle_count",
    "compare_teleports",
    "degrees",
    "pagerank",
    "top_k",
    "vertices",
]
