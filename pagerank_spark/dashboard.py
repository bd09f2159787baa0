"""Interactive-tier analogue of the reference's Streamlit app (V1-V5).

The reference (``streamlit-pagerank.py:232-381``) wires five UI
surfaces over the same pipeline the batch CLI runs: a teleport-β
slider (V1, :236), file upload with row count + CSV download link
(V2, :249-263), a graphviz digraph of the top-20 induced subgraph
(V3, :321-346), bar/scatter charts of all scores (V4, :348-362), and
a score boxplot (V5, :364-373).

This module ships the same capability as a *data* contract plus a thin
optional UI driver:

- ``build_dashboard_payload`` computes every artifact those five
  surfaces render — all as bounded driver-side values backed by
  scale-safe plans (TakeOrdered top-k, semi-join induced subgraph,
  single-pass quantiles). The chart series is explicitly bounded:
  plotting *every* score, as the reference does, is a driver OOM at
  100 TB, so the payload carries the top-``chart_limit`` scores and the
  full distribution as quantiles (which is what a boxplot needs anyway).
- ``to_dot`` renders the bounded subgraph as graphviz DOT source
  (``graph.edge(str(src), str(dst))`` per edge, :343) without requiring
  the graphviz package.
- ``run_streamlit_app`` is the optional UI entry point, gated behind an
  import-try (streamlit is not a library dependency).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pagerank_spark.graph.loop import Pins
from pagerank_spark.graph.pagerank import pagerank, top_k
from pagerank_spark.io import csv_download_payload, read_edge_list
from pagerank_spark.operators.relational import (
    induced_subgraph,
    score_quantiles,
)


@dataclass
class DashboardPayload:
    """Everything the five reference UI surfaces render, bounded."""

    n_edges: int  # V2: row count after upload
    top: list[tuple[int, float]]  # V1/V4: top-k (page, score)
    subgraph_edges: list[tuple[int, int]]  # V3: top-k induced subgraph
    dot: str  # V3: graphviz DOT source
    svg: str  # V3: rendered subgraph (built-in circular layout)
    chart_scores: list[tuple[int, float]]  # V4: bounded bar/scatter series
    box_stats: dict[str, float]  # V5: quantiles + whisker bounds
    download_b64: str  # V2: base64 CSV of the top-k table
    iterations: int


def to_dot(edges: list[tuple[int, int]], name: str = "pagerank") -> str:
    """Graphviz DOT source for a bounded edge list (reference
    ``graphviz.Digraph`` + ``graph.edge`` per row,
    ``streamlit-pagerank.py:339-346``). Pure string building — no
    graphviz dependency; feed to ``st.graphviz_chart`` or ``dot -Tpng``.
    """
    lines = [f"digraph {name} {{"]
    lines += [f'  "{s}" -> "{d}"' for s, d in edges]
    lines.append("}")
    return "\n".join(lines)


def render_subgraph_svg(
    edges: list[tuple[int, int]],
    scores: dict[int, float] | None = None,
    size: int = 640,
) -> str:
    """Render a bounded subgraph to SVG with a deterministic circular
    layout — the in-environment substitute for the reference's
    ``dot -Tpdf`` render step (``streamlit-pagerank.py:339-346``; this
    container has no graphviz binary, so the DOT source from
    ``to_dot`` ships alongside this self-contained renderer rather
    than a spawned process). Nodes sit on a circle ordered by
    descending score (then id); node radius scales with the square
    root of the score share; edges draw as arrowed lines. Pure string
    building over the ALREADY-BOUNDED top-k subgraph (≤ k² edges) —
    never distributed work.
    """
    sc = scores or {}
    nodes = sorted(
        {n for e in edges for n in e}, key=lambda n: (-sc.get(n, 0.0), n)
    )
    if not nodes:
        return (
            f'<svg xmlns="http://www.w3.org/2000/svg" width="{size}" '
            f'height="{size}"/>'
        )
    import math

    c = size / 2.0
    ring = c - 60.0
    pos = {
        n: (
            c + ring * math.cos(2 * math.pi * i / len(nodes) - math.pi / 2),
            c + ring * math.sin(2 * math.pi * i / len(nodes) - math.pi / 2),
        )
        for i, n in enumerate(nodes)
    }
    smax = max((sc.get(n, 0.0) for n in nodes), default=0.0)
    out = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{size}" '
        f'height="{size}" viewBox="0 0 {size} {size}">',
        '<defs><marker id="arrow" viewBox="0 0 10 10" refX="9" refY="5" '
        'markerWidth="6" markerHeight="6" orient="auto-start-reverse">'
        '<path d="M 0 0 L 10 5 L 0 10 z"/></marker></defs>',
    ]
    for s, d in sorted(set(edges)):
        (x1, y1), (x2, y2) = pos[s], pos[d]
        out.append(
            f'<line x1="{x1:.1f}" y1="{y1:.1f}" x2="{x2:.1f}" '
            f'y2="{y2:.1f}" stroke="black" stroke-width="1" '
            f'marker-end="url(#arrow)"/>'
        )
    for n in nodes:
        x, y = pos[n]
        r = 8.0 + (
            22.0 * math.sqrt(sc.get(n, 0.0) / smax) if smax > 0 else 0.0
        )
        out.append(
            f'<circle cx="{x:.1f}" cy="{y:.1f}" r="{r:.1f}" '
            f'fill="#9ecae1" stroke="#3182bd"/>'
        )
        out.append(
            f'<text x="{x:.1f}" y="{y:.1f}" text-anchor="middle" '
            f'dominant-baseline="central" font-size="11">{n}</text>'
        )
    out.append("</svg>")
    return "\n".join(out)


def build_dashboard_payload(
    spark: SparkSession,
    edge_path: str,
    beta: float = 0.85,
    frac: float = 1.0,
    k: int = 20,
    chart_limit: int = 1000,
    edges: DataFrame | None = None,
) -> DashboardPayload:
    """Compute the V1-V5 artifacts for one (β, frac, k) parameter set.

    ``edges`` overrides ``edge_path`` when the caller already has an
    edge DataFrame (the upload path). Every driver-side value is
    bounded: k rows of top scores, k-induced subgraph (≤k² edges),
    ``chart_limit`` chart points, 5 box statistics.
    """
    if edges is None:
        edges = read_edge_list(spark, edge_path, sample_fraction=frac)
    edges = edges.persist()
    # try/finally: the dashboard rebuilds the payload on every slider
    # change — a failed build (bad upload, killed job) must not pin an
    # edge cache per attempt for the session lifetime.
    try:
        return _build_payload_body(spark, edges, beta, k, chart_limit)
    finally:
        edges.unpersist()


def _build_payload_body(
    spark: SparkSession,
    edges: DataFrame,
    beta: float,
    k: int,
    chart_limit: int,
) -> DashboardPayload:
    n_edges = edges.count()

    res = pagerank(edges, beta=beta)
    try:
        top_df = top_k(res.ranks, k)
        top_rows = [(r["page"], r["score"]) for r in top_df.collect()]

        sub = induced_subgraph(
            edges, top_df.select(F.col("page").alias("node"))
        ).distinct()
        sub_edges = sorted(
            (r["src"], r["dst"]) for r in sub.collect()
        )

        chart = [
            (r["page"], r["score"])
            for r in top_k(res.ranks, chart_limit).collect()
        ]

        q = score_quantiles(
            res.ranks, "rank", probs=(0.25, 0.5, 0.75)
        ).collect()[0]
        lo, hi = res.ranks.agg(
            F.min("rank").alias("lo"), F.max("rank").alias("hi")
        ).collect()[0]
        box = {
            "min": lo,
            "p25": q["p25"],
            "p50": q["p50"],
            "p75": q["p75"],
            "max": hi,
        }

        return DashboardPayload(
            n_edges=n_edges,
            top=top_rows,
            subgraph_edges=sub_edges,
            dot=to_dot(sub_edges),
            svg=render_subgraph_svg(sub_edges, dict(top_rows)),
            chart_scores=chart,
            box_stats=box,
            download_b64=csv_download_payload(top_df),
            iterations=res.iterations,
        )
    finally:
        Pins().release(res.ranks)


def run_streamlit_app(edge_path: str) -> None:  # pragma: no cover
    """Optional thin UI: sliders → ``build_dashboard_payload`` → charts.

    Mirrors ``streamlit-pagerank.py:232-381`` surface-for-surface.
    Requires the ``streamlit`` package (not a dependency of this
    library); the data layer above is fully tested without it.
    """
    try:
        import streamlit as st
    except ImportError as exc:
        raise ImportError(
            "streamlit is not installed; use build_dashboard_payload() "
            "for the data artifacts, or pip install streamlit for the UI"
        ) from exc

    from pagerank_spark.session import get_spark

    st.title("PageRank dashboard")
    beta = st.slider("teleport (β)", 0.0, 1.0, 0.85)  # V1
    frac = st.slider("sample fraction", 0.0, 1.0, 1.0)
    k = st.slider("top-k", 5, 100, 20)
    if st.button("run"):
        spark = get_spark(app_name="pagerank-dashboard")
        p = build_dashboard_payload(
            spark, edge_path, beta=beta, frac=frac, k=k
        )
        st.write(f"{p.n_edges} edges, converged in {p.iterations} iters")
        st.markdown(
            f'<a href="data:file/csv;base64,{p.download_b64}" '
            f'download="top.csv">download top-{k} CSV</a>',
            unsafe_allow_html=True,
        )  # V2
        st.graphviz_chart(p.dot)  # V3
        # V3 fallback: the self-contained render, shown alongside —
        # graphviz_chart needs the dot binary on some backends
        st.markdown(p.svg, unsafe_allow_html=True)
        st.bar_chart({str(pg): sc for pg, sc in p.chart_scores[:50]})  # V4
        st.write(p.box_stats)  # V5
