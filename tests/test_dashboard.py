"""Dashboard payload = the reference streamlit app's five surfaces
(V1-V5) as bounded, scale-safe data artifacts."""

from __future__ import annotations

import base64

import pytest

from pagerank_spark.dashboard import build_dashboard_payload, to_dot


_EDGES = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (5, 1), (2, 4)]


@pytest.fixture(scope="module")
def edge_path(tmp_path_factory):
    path = tmp_path_factory.mktemp("dash") / "edges.txt"
    path.write_text("".join(f"{s}\t{d}\n" for s, d in _EDGES))
    return str(path)


@pytest.fixture(scope="module")
def payload(spark, edge_path):
    return build_dashboard_payload(spark, edge_path, k=3, chart_limit=4)


def test_subgraph_reads_no_checkpoint(spark, edge_path, monkeypatch):
    """The induced subgraph joins the edges with the k-node set built
    from the collected top rows, so its plan reads neither the ranks
    nor the loop checkpoint behind them; the payload is the one the
    ranks-fed subgraph produced."""
    import pagerank_spark.dashboard as dash
    from pagerank_spark.operators.relational import induced_subgraph

    plans = []

    def spy(edges, nodes):
        sub = induced_subgraph(edges, nodes)
        plans.append(sub._jdf.queryExecution().optimizedPlan().toString())
        return sub

    monkeypatch.setattr(dash, "induced_subgraph", spy)
    p = dash.build_dashboard_payload(spark, edge_path, k=3, chart_limit=4)
    assert len(plans) == 1 and "LogicalRDD" not in plans[0]
    assert [page for page, _ in p.top] == [1, 3, 2]
    assert p.subgraph_edges == [(1, 2), (1, 3), (2, 3), (3, 1)]
    assert [page for page, _ in p.chart_scores] == [1, 3, 2, 4]
    assert (p.n_edges, p.iterations) == (7, 23)


def test_payload_counts_and_topk(payload):
    assert payload.n_edges == 7
    assert len(payload.top) == 3
    assert payload.iterations > 0
    # scores descending
    scores = [s for _, s in payload.top]
    assert scores == sorted(scores, reverse=True)


def test_subgraph_edges_within_topk(payload):
    members = {p for p, _ in payload.top}
    for s, d in payload.subgraph_edges:
        assert s in members and d in members


def test_dot_renders_every_subgraph_edge(payload):
    assert payload.dot.startswith("digraph")
    for s, d in payload.subgraph_edges:
        assert f'"{s}" -> "{d}"' in payload.dot


def test_chart_series_bounded(payload):
    assert len(payload.chart_scores) <= 4


def test_box_stats_ordered(payload):
    b = payload.box_stats
    assert b["min"] <= b["p25"] <= b["p50"] <= b["p75"] <= b["max"]


def test_download_decodes_to_csv(payload):
    text = base64.b64decode(payload.download_b64).decode()
    lines = text.strip().splitlines()
    assert lines[0] == "page,score"
    assert len(lines) == 1 + len(payload.top)


def test_to_dot_empty():
    assert to_dot([]) == "digraph pagerank {\n}"


def test_render_subgraph_svg_well_formed_and_complete():
    import xml.etree.ElementTree as ET

    from pagerank_spark.dashboard import render_subgraph_svg

    edges = [(1, 2), (2, 3), (3, 1), (1, 3)]
    scores = {1: 0.5, 2: 0.3, 3: 0.2}
    svg = render_subgraph_svg(edges, scores)
    root = ET.fromstring(svg)  # parses => well-formed XML
    ns = "{http://www.w3.org/2000/svg}"
    texts = {t.text for t in root.iter(f"{ns}text")}
    assert texts == {"1", "2", "3"}
    lines = list(root.iter(f"{ns}line"))
    assert len(lines) == 4
    circles = list(root.iter(f"{ns}circle"))
    assert len(circles) == 3
    # highest-score node draws the biggest circle
    radii = sorted(float(c.get("r")) for c in circles)
    assert radii[-1] > radii[0]
    # deterministic: same input -> same bytes
    assert svg == render_subgraph_svg(edges, scores)
    # empty graph stays well-formed
    ET.fromstring(render_subgraph_svg([]))


def test_payload_carries_svg(spark):
    from pagerank_spark.dashboard import build_dashboard_payload

    p = build_dashboard_payload(
        spark, "/root/testdata/sf0.001/__nonexistent__", k=5,
        edges=spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1)], "src long, dst long"
        ),
    )
    assert p.svg.startswith("<svg") and "</svg>" in p.svg
    assert p.dot.startswith("digraph")


def test_run_streamlit_app_executes_headless(spark, tmp_path, monkeypatch):
    """Execute the ACTUAL streamlit driver end-to-end against a
    faithful headless stand-in (the streaming tier's RocksDB-protocol
    precedent: when the env lacks the package, substitute the minimal
    API surface and run the real code). The stub answers the three
    sliders with their defaults and presses the run button, so
    run_streamlit_app really computes a payload and renders all five
    surfaces; the test asserts every surface was fed."""
    import sys
    import types

    calls = {"write": [], "markdown": [], "graphviz": [], "bar": []}
    stub = types.ModuleType("streamlit")
    stub.title = lambda *a, **k: None
    stub.slider = lambda label, lo, hi, default, *a, **k: default
    stub.button = lambda *a, **k: True
    stub.write = lambda *a, **k: calls["write"].append(a)
    stub.markdown = lambda *a, **k: calls["markdown"].append(a)
    stub.graphviz_chart = lambda *a, **k: calls["graphviz"].append(a)
    stub.bar_chart = lambda *a, **k: calls["bar"].append(a)
    monkeypatch.setitem(sys.modules, "streamlit", stub)

    edge_path = str(tmp_path / "edges.txt")
    with open(edge_path, "w") as f:
        f.write("1\t2\n2\t3\n3\t1\n1\t3\n")

    from pagerank_spark.dashboard import run_streamlit_app

    run_streamlit_app(edge_path)

    assert any("converged" in str(a) for a in calls["write"])  # V1 text
    assert any("base64" in str(a) or "download" in str(a)
               for a in calls["markdown"])                     # V2 link
    assert calls["graphviz"] and calls["graphviz"][0][0].startswith(
        "digraph"
    )                                                          # V3
    assert calls["bar"] and isinstance(calls["bar"][0][0], dict)  # V4
    assert any(isinstance(a[0], dict) and "p50" in a[0]
               for a in calls["write"])                        # V5 box
