"""Small-loop conf decisions (``graph/loop.py`` ``loop_conf``).

The iterative operators run their loops with AQE off and a loop-sized
``spark.sql.shuffle.partitions``, on a clone of the caller's session.
These tests look at both sessions from each loop's per-round hook
(``VertexLoop.advance``; ``Pins.truncate`` for HITS and node2vec;
``Pins.hold`` for the trainer), so a refactor that moves the confs, drops them or writes
them on the caller's session fails here. The conftest session runs AQE
on with 8 shuffle partitions; a small graph's loop runs at the floor
of 4, and no hash exchange in a round's plan is wider than that (state
built before the conf scope would join back at the session's width
every round).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pagerank_spark.graph.loop import Pins, VertexLoop, loop_conf
from tests.round_plans import record_round_plans

TZ_KEY = "spark.sql.session.timeZone"


def _confs(spark) -> tuple[str, str]:
    return (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


def _plans_adaptive(spark) -> bool:
    q = spark.range(10).groupBy((F.col("id") % 3).alias("k")).count()
    plan = q._jdf.queryExecution().executedPlan()
    return plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"


def _small_graph(spark):
    return spark.range(20).select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") * 7 + 3, F.lit(20)).alias("dst"),
    )


def _pagerank(edges):
    from pagerank_spark.graph.pagerank import pagerank

    Pins().release(pagerank(edges, max_iterations=3).ranks)


def _hits(edges):
    from pagerank_spark.graph.pagerank import hits

    Pins().release(hits(edges, max_iterations=3))


def _katz(edges):
    from pagerank_spark.graph.pagerank import katz_centrality

    Pins().release(katz_centrality(edges, max_iterations=3, mode="loop"))


def _cc(edges):
    from pagerank_spark.graph.components import connected_components

    Pins().release(connected_components(edges))


def _logreg(edges):
    from pagerank_spark.operators.classifier import logreg_train

    feats = edges.select(
        F.col("src").alias("doc_id"),
        (F.col("dst") % 3).alias("feature_index"),
        F.lit(1.0).alias("feature_value"),
    )
    labels = edges.select(
        F.col("src").alias("doc_id"), (F.col("src") % 2).alias("y")
    )
    logreg_train(feats, labels, rounds=2).weights.collect()


def _node2vec(edges):
    from pagerank_spark.graph.walks import node2vec_walks

    Pins().release(node2vec_walks(edges, steps=2))


@pytest.mark.parametrize(
    "run, hook",
    [
        (_pagerank, "advance"),
        (_hits, "truncate"),
        (_katz, "advance"),
        (_cc, "advance"),
        (_logreg, "hold"),
        (_node2vec, "truncate"),
    ],
    ids=["pagerank", "hits", "katz", "cc", "logreg", "node2vec"],
)
def test_loop_runs_under_decided_confs(spark, monkeypatch, run, hook):
    """Each round runs on its own session at the loop's confs, while
    the caller's session keeps its own pair and plans adaptive. The
    trainer's hook is the hold of its co-partitioned pins, its one
    owner call inside the loop scope."""
    session = _confs(spark)
    seen: list[tuple] = []
    owner = VertexLoop if hook == "advance" else Pins
    original = getattr(owner, hook)

    def recording(self, df, *args, **kwargs):
        seen.append(
            (_confs(df.sparkSession), _confs(spark), _plans_adaptive(spark))
        )
        return original(self, df, *args, **kwargs)

    monkeypatch.setattr(owner, hook, recording)
    # after the hook, so the plan recorder wraps it
    rounds = record_round_plans(monkeypatch)
    run(_small_graph(spark))
    assert seen
    assert set(seen) == {(("false", "4"), session, True)}
    assert _confs(spark) == session
    assert [f["wide"] for f in rounds if f["wide"]] == []


def test_loop_session_keeps_callers_runtime_confs(spark, monkeypatch):
    """A runtime conf the caller set is the one the loop's session
    reads: the loop runs on a clone of the caller's session, not on a
    fresh one."""
    seen: list[str] = []
    original = VertexLoop.advance

    def recording(self, df, *args, **kwargs):
        seen.append(df.sparkSession.conf.get(TZ_KEY))
        return original(self, df, *args, **kwargs)

    monkeypatch.setattr(VertexLoop, "advance", recording)
    before = spark.conf.get(TZ_KEY)
    spark.conf.set(TZ_KEY, "America/Los_Angeles")
    try:
        _pagerank(_small_graph(spark))
    finally:
        spark.conf.set(TZ_KEY, before)
    assert seen and set(seen) == {"America/Los_Angeles"}


def _exchange_widths(df) -> list[int]:
    """The hash-exchange widths of an aggregation over ``df``, read
    from the initial plan of its ``AdaptiveSparkPlan`` (asserted)."""
    q = df.groupBy((F.hash(*df.columns) % 3).alias("__g")).count()
    plan = q._jdf.queryExecution().executedPlan()
    assert plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    widths, todo = [], [plan.executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "Exchange":
            widths.append(node.outputPartitioning().numPartitions())
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return widths


def test_results_plan_on_the_callers_session(spark):
    """What a loop returns is the caller's frame again: a query over
    it plans adaptive at the caller's partition count."""
    from pagerank_spark.graph.components import connected_components
    from pagerank_spark.graph.pagerank import compare_teleports, pagerank

    parts = int(_confs(spark)[1])
    edges = _small_graph(spark)
    for out in (
        pagerank(edges, max_iterations=3).ranks,
        connected_components(edges),
        compare_teleports(edges, betas=(0.8, 0.85), k=5, max_iterations=2),
    ):
        assert out.sparkSession is spark
        assert _exchange_widths(out) == [parts]
        Pins().release(out)


def test_no_clone_bridge_runs_untuned(spark, monkeypatch):
    """Without the clone bridge (Spark Connect, API drift) the loop runs
    on the caller's session at its own confs, writes none of them, and
    computes the same ranks."""
    from pagerank_spark.graph import loop as loop_module
    from pagerank_spark.graph.pagerank import pagerank

    def ranks(res):
        out = {r["node"]: r["rank"] for r in res.ranks.collect()}
        Pins().release(res.ranks)
        return out

    session = _confs(spark)
    tuned = ranks(pagerank(_small_graph(spark), max_iterations=5))
    seen: list[tuple[str, str]] = []
    original = VertexLoop.advance

    def recording(self, df, *args, **kwargs):
        seen.append(_confs(df.sparkSession))
        return original(self, df, *args, **kwargs)

    def no_bridge(*args):
        raise RuntimeError("no clone bridge")

    monkeypatch.setattr(VertexLoop, "advance", recording)
    monkeypatch.setattr(loop_module, "conf_session", no_bridge)
    plain = ranks(pagerank(_small_graph(spark), max_iterations=5))
    assert seen and set(seen) == {session}
    assert _confs(spark) == session
    assert plain.keys() == tuned.keys()
    for node, rank in tuned.items():
        assert plain[node] == pytest.approx(rank, abs=1e-12)


@pytest.mark.parametrize(
    "size, kwargs",
    [(11, {"limit": 10}), (None, {})],
    ids=["above-limit", "unknown-size"],
)
def test_loop_conf_untuned_leaves_confs(spark, size, kwargs):
    session = _confs(spark)
    df = spark.range(3)
    with loop_conf(size, df, **kwargs) as (scope, moved):
        assert scope.spark is spark and moved is df
        assert scope.parts == int(session[1])
    assert _confs(spark) == session


def test_loop_conf_sizes_and_restores(spark):
    """Below the gate the scope runs on a sized clone; the caller's
    session reads its own confs throughout, and ``out`` moves a frame
    back onto it."""
    session = _confs(spark)
    # ceil(10 / 2) = 5 partitions: above the floor, below the session's 8
    with loop_conf(10, spark.range(3), limit=10, per_part=2) as (
        scope,
        moved,
    ):
        assert scope.parts == 5
        assert _confs(scope.spark) == ("false", "5")
        assert moved.sparkSession is scope.spark
        assert _confs(spark) == session
        back = scope.out(moved.select((F.col("id") * 2).alias("x")))
    assert back.sparkSession is spark
    assert sorted(r["x"] for r in back.collect()) == [0, 2, 4]
    assert _confs(spark) == session
