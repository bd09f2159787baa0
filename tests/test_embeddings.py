"""ppmi_svd_embeddings / svd_topk vs NumPy's exact SVD.

The factorization must (a) converge to the true top singular
subspace of the sparse relation (NumPy oracle, dense), (b) emit
embeddings whose geometry reflects the co-occurrence structure
(cluster test), and (c) plug straight into the ANN tier
(embedding_vectors → ann_topk_bruteforce).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pagerank_spark.graph.embeddings import (
    embedding_vectors,
    ppmi_svd_embeddings,
    svd_topk,
)
from pagerank_spark.graph.loop import Pins

# a fixed 6×5 positive matrix whose three row-blocks have strongly
# separated scales (σ ≈ 12 / 5.5 / 2.6): power iteration's angle error
# decays as (λ_next/λ_k)^t, so a clustered spectrum would never reach
# per-element tolerance in finitely many rounds
M_ROWS = [
    [8.0, 2.0, 1.0, 0.0, 0.4],
    [7.0, 2.4, 0.8, 0.2, 0.0],
    [0.2, 3.0, 2.8, 0.0, 0.3],
    [0.1, 2.9, 3.1, 0.2, 0.1],
    [0.0, 0.1, 0.2, 1.3, 1.2],
    [0.3, 0.0, 0.1, 1.3, 1.4],
]


def _relation(spark):
    rows = [
        (i, j, v)
        for i, row in enumerate(M_ROWS)
        for j, v in enumerate(row)
        if v > 0
    ]
    return spark.createDataFrame(
        rows, "center long, context long, ppmi double"
    )


@pytest.fixture(scope="module")
def svd40(spark):
    """``svd_topk(_relation, rank=2, iterations=40)`` as ``(rows,
    lams)``, run once for the tests that check that same result."""
    v, lams = svd_topk(_relation(spark), rank=2, iterations=40)
    try:
        return v.collect(), lams
    finally:
        Pins().release(v)


def test_svd_topk_matches_numpy(svd40):
    """40 power rounds on a gapped 6×5 matrix: singular values within
    1e-6 of NumPy's, right singular vectors aligned to |cos| > 1-1e-6
    (sign is iteration-determined, so compare up to sign)."""
    m = np.array(M_ROWS)
    _, s_np, vh_np = np.linalg.svd(m)
    rows, lams = svd40
    for k in range(2):
        assert math.sqrt(lams[k]) == pytest.approx(s_np[k], abs=1e-6)
        vk = np.zeros(5)
        for r in rows:
            if r["component"] == k:
                vk[r["node"]] = r["x"]
        cos = abs(float(vk @ vh_np[k])) / (np.linalg.norm(vk) or 1.0)
        assert cos > 1 - 1e-6
    # vectors are unit-norm and mutually orthogonal (deflation works)
    v0 = np.zeros(5)
    v1 = np.zeros(5)
    for r in rows:
        (v0 if r["component"] == 0 else v1)[r["node"]] = r["x"]
    assert np.linalg.norm(v0) == pytest.approx(1.0, abs=1e-6)
    assert abs(float(v0 @ v1)) < 1e-6


def test_svd_topk_validation(spark):
    with pytest.raises(ValueError):
        svd_topk(_relation(spark), rank=0)
    with pytest.raises(ValueError):
        svd_topk(_relation(spark), rank=1, iterations=0)
    empty = spark.createDataFrame(
        [], "center long, context long, ppmi double"
    )
    with pytest.raises(ValueError, match="no positive entries"):
        svd_topk(empty, rank=1)


def test_embeddings_match_numpy_usigma_half(spark):
    """ppmi_svd_embeddings = U·Σ^½ rows (up to per-component sign):
    check every (node, dim) value against the NumPy factors."""
    m = np.array(M_ROWS)
    u_np, s_np, _ = np.linalg.svd(m)
    emb = ppmi_svd_embeddings(_relation(spark), rank=2, iterations=40)
    try:
        got = {(r["node"], r["dim"]): r["value"] for r in emb.collect()}
    finally:
        Pins().release(emb)
    for k in range(2):
        want = u_np[:, k] * math.sqrt(s_np[k])
        have = np.array([got[(i, k)] for i in range(6)])
        sign = 1.0 if float(want @ have) >= 0 else -1.0
        assert np.allclose(have, sign * want, atol=1e-5)


def test_embedding_geometry_separates_clusters(spark):
    """Two co-occurrence blocks → same-block nodes must be closer in
    embedding space than cross-block nodes (cosine)."""
    pairs = []
    for block in ([0, 1, 2], [10, 11, 12]):
        for a in block:
            for b in block:
                if a != b:
                    pairs.append((a, b, 5.0))
    pairs.append((2, 10, 0.5))  # one weak bridge
    ppmi = spark.createDataFrame(
        pairs, "center long, context long, ppmi double"
    )
    emb = ppmi_svd_embeddings(ppmi, rank=2, iterations=30)
    try:
        vecs = {
            r["node"]: r["embedding"]
            for r in embedding_vectors(emb).collect()
        }
    finally:
        Pins().release(emb)

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(
            sum(x * x for x in b)
        )
        return num / den if den else 0.0

    within = cos(vecs[0], vecs[1])
    across = cos(vecs[0], vecs[11])
    assert within > across + 0.1


def test_embedding_vectors_feed_ann(spark):
    """The long→array pivot is directly consumable by the ANN tier."""
    from pagerank_spark.operators.similarity import ann_topk_bruteforce

    emb = ppmi_svd_embeddings(_relation(spark), rank=2, iterations=10)
    try:
        vecs = embedding_vectors(emb).withColumnRenamed(
            "node", "vec_id"
        )
        q = vecs.where(F.col("vec_id") == 0)
        out = ann_topk_bruteforce(vecs, q, k=3)
        assert out.count() == 3
    finally:
        Pins().release(emb)


def _hash60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _sgns_init_np(nodes, tag, dim):
    return {
        (n, j): ((_hash60(f"{tag}{n}/{j}") % 2001) - 1000) / 10000.0
        for n in nodes
        for j in range(dim)
    }


def _numpy_sgns(examples, dim, rounds, lr):
    """Trusted full-batch SGNS reference: same hash init, same
    simultaneous update, same per-round 9dp rounding discipline."""
    cs = sorted({c for c, _, _, _ in examples})
    ws = sorted({w for _, w, _, _ in examples})
    u = _sgns_init_np(cs, "sgnsU=", dim)
    v = _sgns_init_np(ws, "sgnsV=", dim)
    mass = sum(m for *_, m in examples)
    for _ in range(rounds):
        gu = {k: 0.0 for k in u}
        gv = {k: 0.0 for k in v}
        for c, w, label, m in examples:
            s = sum(u[(c, j)] * v[(w, j)] for j in range(dim))
            g = (1.0 / (1.0 + math.exp(-s)) - label) * m
            for j in range(dim):
                gu[(c, j)] += g * v[(w, j)]
                gv[(w, j)] += g * u[(c, j)]
        u = {
            k: round(u[k] - lr * gu[k] / mass, 9) for k in u
        }
        v = {
            k: round(v[k] - lr * gv[k] / mass, 9) for k in v
        }
    return u, v


def test_sgns_train_matches_numpy(spark):
    """3 full-batch rounds on a hand-built pair+negative relation must
    reproduce the pure-Python reference trajectory exactly at the 9dp
    per-round rounding (collision draws dropped, negatives weighted by
    the pair's cnt, simultaneous update)."""
    from pagerank_spark.graph.embeddings import sgns_train

    pairs = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1), (2, 3, 2), (3, 1, 4), (2, 1, 1)],
        "center long, context long, cnt long",
    )
    negs = spark.createDataFrame(
        [
            (1, 2, 0, 3, False),
            (1, 2, 1, 2, True),   # collision: dropped
            (1, 3, 0, 1, False),
            (2, 3, 0, 1, False),
            (3, 1, 0, 2, False),
            (3, 1, 1, 3, False),
            (2, 1, 0, 1, True),   # collision: dropped
        ],
        "center long, context long, slot int, negative long,"
        " is_collision boolean",
    )
    res = sgns_train(pairs, negs, dim=3, rounds=3, lr=0.5)
    try:
        got_u = {
            (r["node"], r["dim"]): r["value"] for r in res.u.collect()
        }
        got_v = {
            (r["node"], r["dim"]): r["value"] for r in res.v.collect()
        }
    finally:
        pass  # localCheckpoint state, nothing to unpersist

    # the aggregated example relation the operator trains on
    raw = [
        (1, 2, 1.0, 3.0), (1, 3, 1.0, 1.0), (2, 3, 1.0, 2.0),
        (3, 1, 1.0, 4.0), (2, 1, 1.0, 1.0),
        # non-collision negatives, weighted by the pair's cnt
        (1, 3, 0.0, 3.0),   # from pair (1,2) cnt=3
        (1, 1, 0.0, 1.0),   # from pair (1,3) cnt=1
        (2, 1, 0.0, 2.0),   # from pair (2,3) cnt=2
        (3, 2, 0.0, 4.0),   # from pair (3,1) slot0 cnt=4
        (3, 3, 0.0, 4.0),   # from pair (3,1) slot1 cnt=4
    ]
    agg = {}
    for c, w, label, m in raw:
        agg[(c, w, label)] = agg.get((c, w, label), 0.0) + m
    examples = [(c, w, lab, m) for (c, w, lab), m in agg.items()]
    ref_u, ref_v = _numpy_sgns(examples, dim=3, rounds=3, lr=0.5)
    assert set(got_u) == set(ref_u) and set(got_v) == set(ref_v)
    for k in ref_u:
        assert got_u[k] == pytest.approx(ref_u[k], abs=2e-9), k
    for k in ref_v:
        assert got_v[k] == pytest.approx(ref_v[k], abs=2e-9), k
    assert res.example_mass == pytest.approx(sum(m for *_, m in examples))


def test_sgns_pulls_positives_above_negatives(spark):
    """Training signal sanity on a bipartite-ish corpus: after enough
    rounds, mean sigmoid(u·v) over positive cells must exceed the mean
    over sampled negative cells — the objective is actually descending."""
    from pagerank_spark.graph.embeddings import sgns_train
    from pagerank_spark.graph.walks import negative_samples

    rows = []
    for a in range(8):
        for b in range(8, 12):
            if (a + b) % 3 != 0:
                rows.append((a, b, 1 + (a * b) % 4))
    pairs = spark.createDataFrame(
        rows, "center long, context long, cnt long"
    )
    negs = negative_samples(pairs, k=2)
    # lr/rounds sized offline against the pure-Python reference:
    # (10, 20) reaches pos≈0.63 vs neg≈0.38; lr=50 diverges
    res = sgns_train(pairs, negs, dim=4, rounds=20, lr=10.0)
    u = {
        (r["node"], r["dim"]): r["value"] for r in res.u.collect()
    }
    v = {
        (r["node"], r["dim"]): r["value"] for r in res.v.collect()
    }

    def sig(c, w):
        s = sum(u[(c, j)] * v[(w, j)] for j in range(4))
        return 1.0 / (1.0 + math.exp(-s))

    pos = [sig(c, w) for c, w, _ in rows]
    neg_rows = [
        (r["center"], r["negative"])
        for r in negs.where(~F.col("is_collision")).collect()
    ]
    neg = [sig(c, w) for c, w in neg_rows]
    assert sum(pos) / len(pos) > sum(neg) / len(neg) + 0.1


def test_sgns_validation(spark):
    from pagerank_spark.graph.embeddings import sgns_train

    pairs = spark.createDataFrame(
        [(1, 2, 1)], "center long, context long, cnt long"
    )
    with pytest.raises(ValueError, match="dim"):
        sgns_train(pairs, dim=0)
    with pytest.raises(ValueError, match="rounds"):
        sgns_train(pairs, rounds=0)


def test_checkpoint_reset_stats_caps_join_size_estimate(spark):
    """Regression pin for the SGNS round-cost blowup: a plain eager
    localCheckpoint preserves the pre-checkpoint plan's sizeInBytes
    (originStats), and the size-only estimator multiplies child sizes
    through every join — so in a loop where two evolving relations
    join each other the estimate's DIGIT count doubles per round and
    the planner drowns in BigInteger arithmetic (~round 11, x3-4 wall
    per round measured). checkpoint_reset_stats must return the same
    rows/schema but with the estimate RESET to a round-independent
    constant."""
    from pagerank_spark.graph.loop import checkpoint_reset_stats

    a = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "node long, value double"
    )
    b = spark.createDataFrame(
        [(1, 3.0), (2, 4.0)], "node long, value double"
    )

    def size_of(df):
        return int(
            str(
                df._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes()
            )
        )

    # two join rounds through plain checkpoints: estimate compounds
    plain = a.localCheckpoint(eager=True)
    reset = checkpoint_reset_stats(a)
    for _ in range(2):
        nxt = plain.join(
            b.withColumnRenamed("value", "v2"), on="node"
        ).select("node", (F.col("value") * F.col("v2")).alias("value"))
        plain = nxt.localCheckpoint(eager=True)
        nxt_r = reset.join(
            b.withColumnRenamed("value", "v2"), on="node"
        ).select("node", (F.col("value") * F.col("v2")).alias("value"))
        reset = checkpoint_reset_stats(nxt_r)

    cap = size_of(reset)
    assert size_of(plain) > cap  # plain compounds past the reset cap
    # reset stays at the round-independent default for one more round
    more = checkpoint_reset_stats(
        reset.join(
            b.withColumnRenamed("value", "v2"), on="node"
        ).select("node", (F.col("value") * F.col("v2")).alias("value"))
    )
    assert size_of(more) == cap
    # and the data itself is untouched
    assert sorted(r["value"] for r in reset.collect()) == [9.0, 32.0]


def test_svd_delta_stopping_matches_fixed_rounds(spark, svd40):
    """delta=0.0 stops a component when two consecutive 9dp-rounded
    iterates are identical — an exact fixed point, so any LONGER
    fixed-round run returns bit-identical vectors. Pins: early stop
    actually triggers, per-component counts are reported, and the
    delta result equals the full fixed-round result exactly."""
    from pagerank_spark.graph.embeddings import svd_topk

    m = _relation(spark)  # gapped spectrum: 9dp fixed point < 40 rounds

    out: list = []
    v_delta, lams_delta = svd_topk(
        m, rank=2, iterations=40, delta=0.0, iterations_out=out
    )
    rows_fixed, lams_fixed = svd40  # svd_topk(m, rank=2, iterations=40)
    try:
        assert len(out) == 2
        assert all(1 <= k <= 40 for k in out)
        assert any(k < 40 for k in out), out  # the stop fired
        got = {
            (r["node"], r["component"]): r["x"] for r in v_delta.collect()
        }
        ref = {(r["node"], r["component"]): r["x"] for r in rows_fixed}
        assert got == ref  # bit-identical trajectories
        for a, b in zip(lams_delta, lams_fixed):
            assert a == pytest.approx(b, rel=1e-12)
    finally:
        Pins().release(v_delta)


def test_sgns_warm_start_continuation_exact(spark):
    """Full-batch determinism makes warm-start continuation exact:
    rounds=1 then init-continued rounds=1 must be bit-identical to
    rounds=2 on the same example relation."""
    from pagerank_spark.graph.embeddings import sgns_train

    pairs = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1), (2, 3, 2), (3, 1, 4), (2, 1, 1)],
        "center long, context long, cnt long",
    )
    negs = spark.createDataFrame(
        [(1, 2, 0, 3, False), (1, 3, 0, 1, False),
         (2, 3, 0, 1, False), (3, 1, 0, 2, False)],
        "center long, context long, slot int, negative long,"
        " is_collision boolean",
    )
    full = sgns_train(pairs, negs, dim=3, rounds=2, lr=0.5)
    step1 = sgns_train(pairs, negs, dim=3, rounds=1, lr=0.5)
    cont = sgns_train(
        pairs, negs, dim=3, rounds=1, lr=0.5,
        init=(step1.u, step1.v),
    )

    def as_map(df):
        return {(r["node"], r["dim"]): r["value"] for r in df.collect()}

    assert as_map(cont.u) == as_map(full.u)
    assert as_map(cont.v) == as_map(full.v)


def test_sgns_warm_start_grows_vocab_preserves_prior(spark):
    """Incremental ingest: a second batch with NEW vocabulary
    hash-inits the new nodes, keeps training the shared ones, and
    leaves prior nodes ABSENT from the batch untouched."""
    from pagerank_spark.graph.embeddings import _sgns_init, sgns_train

    negs0 = spark.createDataFrame(
        [(1, 2, 0, 3, False)],
        "center long, context long, slot int, negative long,"
        " is_collision boolean",
    )
    first = sgns_train(
        spark.createDataFrame(
            [(1, 2, 2), (9, 2, 1)], "center long, context long, cnt long"
        ),
        negs0, dim=2, rounds=1, lr=0.5,
    )
    prior_u = {
        (r["node"], r["dim"]): r["value"] for r in first.u.collect()
    }
    # second batch: center 1 continues, center 5 is new, center 9 absent
    second = sgns_train(
        spark.createDataFrame(
            [(1, 2, 1), (5, 2, 4)], "center long, context long, cnt long"
        ),
        spark.createDataFrame(
            [(5, 2, 0, 1, False)],
            "center long, context long, slot int, negative long,"
            " is_collision boolean",
        ),
        dim=2, rounds=1, lr=0.5, init=(first.u, first.v),
    )
    got_u = {
        (r["node"], r["dim"]): r["value"] for r in second.u.collect()
    }
    assert {n for n, _ in got_u} == {1, 5, 9}
    # absent node 9: no gradient, vectors persist exactly
    for d in range(2):
        assert got_u[(9, d)] == prior_u[(9, d)]
    # shared node 1: trained on (started from prior, moved)
    assert any(got_u[(1, d)] != prior_u[(1, d)] for d in range(2))
    # new node 5: started from the hash init, moved by its gradient
    fresh5 = {
        (r["node"], r["dim"]): r["value"]
        for r in _sgns_init(
            spark.createDataFrame([(5,)], "node long"), "sgnsU=", 2
        ).collect()
    }
    assert any(got_u[(5, d)] != fresh5[(5, d)] for d in range(2))
