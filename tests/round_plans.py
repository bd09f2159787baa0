"""Facts about the physical plan of every vertex-loop round.

``record_round_plans`` wraps ``VertexLoop.advance`` and
``VertexLoop.truncate`` (the per-round hooks: HITS truncates each
half-step, the other loops advance) so each call records the facts of
the plan the round is about to run, under the confs of the round's own
session.
An edge cache is an ``InMemoryTableScan`` leaf with both ``src`` and
``dst`` columns; no loop's vertex state has both.
"""

from __future__ import annotations

from pagerank_spark.graph.loop import PARTS_KEY, VertexLoop


def _children(node) -> list:
    out, it = [], node.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _walk(node, stop: str | None = None):
    """``node`` and its descendants, not descending below ``stop``
    nodes (they are yielded, their subtrees are not)."""
    yield node
    if node.nodeName() == stop:
        return
    for child in _children(node):
        yield from _walk(child, stop)


def _is_edge_cache(node) -> bool:
    if node.nodeName() != "InMemoryTableScan":
        return False
    names, it = set(), node.output().iterator()
    while it.hasNext():
        names.add(it.next().name())
    return {"src", "dst"} <= names


def plan_facts(plan, parts: int) -> dict:
    """``joins``: the join operators; ``edge_broadcast``: a
    BroadcastExchange carries edge-cache rows (reaches an edge cache
    without crossing a shuffle); ``state_broadcast``: a hashed
    BroadcastExchange carries no edge rows; ``wide``: the widths of
    hash exchanges wider than ``parts``."""
    facts = {
        "joins": set(),
        "edge_broadcast": False,
        "state_broadcast": False,
        "wide": [],
    }
    for node in _walk(plan):
        name = node.nodeName()
        if name.endswith("Join"):
            facts["joins"].add(name)
        elif name == "BroadcastExchange":
            below = list(_walk(node, stop="Exchange"))[1:]
            if any(_is_edge_cache(n) for n in below):
                facts["edge_broadcast"] = True
            elif "Hashed" in node.mode().getClass().getSimpleName():
                facts["state_broadcast"] = True
        elif name == "Exchange":
            part = node.outputPartitioning()
            if (
                part.getClass().getSimpleName() == "HashPartitioning"
                and part.numPartitions() > parts
            ):
                facts["wide"].append(part.numPartitions())
    return facts


def record_round_plans(monkeypatch) -> list[dict]:
    """Patch the round hooks; the returned list fills with one
    ``plan_facts`` record per hook call."""
    rounds: list[dict] = []
    for hook in ("advance", "truncate"):
        original = getattr(VertexLoop, hook)

        def recording(self, df, *args, _original=original, **kwargs):
            plan = df._jdf.queryExecution().executedPlan()
            parts = int(df.sparkSession.conf.get(PARTS_KEY))
            rounds.append(plan_facts(plan, parts))
            return _original(self, df, *args, **kwargs)

        monkeypatch.setattr(VertexLoop, hook, recording)
    return rounds
