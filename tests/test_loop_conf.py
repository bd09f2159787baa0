"""Small-loop conf decisions (``graph/loop.py`` ``loop_conf``).

The iterative operators run their loops with AQE off and a loop-sized
``spark.sql.shuffle.partitions``. These tests record both confs at each
loop's per-round hook (``VertexLoop.advance``, or ``VertexLoop.truncate``
for HITS), so a refactor that moves a flip, or drops it, fails here.
The conftest session runs AQE on with 8 shuffle partitions; a small
graph's loop runs at the floor of 4, and no hash exchange in a round's
plan is wider than that (state built before the conf scope would join
back at the session's width every round).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pagerank_spark.graph.loop import Pins, VertexLoop, loop_conf
from tests.round_plans import record_round_plans


def _confs(spark) -> tuple[str, str]:
    return (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


def _small_graph(spark):
    return spark.range(20).select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") * 7 + 3, F.lit(20)).alias("dst"),
    )


def _pagerank(edges, tune):
    from pagerank_spark.graph.pagerank import pagerank

    Pins().release(pagerank(edges, max_iterations=3, tune_aqe=tune).ranks)


def _hits(edges, tune):
    from pagerank_spark.graph.pagerank import hits

    Pins().release(hits(edges, max_iterations=3))


def _katz(edges, tune):
    from pagerank_spark.graph.pagerank import katz_centrality

    Pins().release(katz_centrality(edges, max_iterations=3, mode="loop"))


def _cc(edges, tune):
    from pagerank_spark.graph.components import connected_components

    connected_components(edges, tune=tune).count()


@pytest.mark.parametrize(
    "run, hook, tune",
    [
        (_pagerank, "advance", True),
        (_pagerank, "advance", False),
        (_hits, "truncate", True),
        (_katz, "advance", True),
        (_cc, "advance", True),
        (_cc, "advance", False),
    ],
    ids=[
        "pagerank", "pagerank-untuned", "hits", "katz", "cc", "cc-untuned",
    ],
)
def test_loop_runs_under_decided_confs(spark, monkeypatch, run, hook, tune):
    session = _confs(spark)
    rounds = record_round_plans(monkeypatch, spark)
    seen: list[tuple[str, str]] = []
    original = getattr(VertexLoop, hook)

    def recording(self, *args, **kwargs):
        seen.append(_confs(spark))
        return original(self, *args, **kwargs)

    monkeypatch.setattr(VertexLoop, hook, recording)
    run(_small_graph(spark), tune)
    assert seen
    expected = ("false", "4") if tune else session
    assert set(seen) == {expected}
    assert _confs(spark) == session
    assert [f["wide"] for f in rounds if f["wide"]] == []


@pytest.mark.parametrize(
    "size, kwargs",
    [(11, {"limit": 10}), (None, {}), (1, {"enabled": False})],
    ids=["above-limit", "unknown-size", "disabled"],
)
def test_loop_conf_untuned_leaves_confs(spark, size, kwargs):
    session = _confs(spark)
    with loop_conf(spark, size, **kwargs) as parts:
        assert _confs(spark) == session
        assert parts == int(session[1])
    assert _confs(spark) == session


def test_loop_conf_sizes_and_restores(spark):
    session = _confs(spark)
    # ceil(10 / 2) = 5 partitions: above the floor, below the session's 8
    with loop_conf(spark, 10, limit=10, per_part=2) as parts:
        assert parts == 5
        assert _confs(spark) == ("false", "5")
    assert _confs(spark) == session
