"""Seeded benchmark inputs and their oracles (NumPy and pandas only, no Spark).

- ``rmat_edges``: R-MAT power-law edge list (Chakrabarti, Zhan and
  Faloutsos, SDM 2004) with a=0.57, b=c=0.19, d=0.05 and vertex ids
  permuted, so hubs are not the low ids.
- ``pagerank_oracle``: the reference's PageRank semantics on a bag of
  edges: every edge occurrence contributes, the mass of dangling
  vertices is spread uniformly, and the loop stops at the first
  iteration whose L1 change is at most ``delta``.
- ``write_tpch``: the seven TPC-H-shaped parquet tables the ``query_mix``
  queries read, with the schemas and value domains of the sf0.1 fixtures.
"""

from __future__ import annotations

import os

import numpy as np

RMAT_PROBS = (0.57, 0.19, 0.19, 0.05)


def rmat_edges(scale: int, n_edges: int, seed: int) -> np.ndarray:
    """``(n_edges, 2)`` int64 array of R-MAT edges over ``2**scale`` ids.

    Duplicate edges and self-loops are kept: the workload is a bag of
    edges, as PageRank's default ``edge_semantics="bag"`` reads it.
    """
    rng = np.random.default_rng(seed)
    src = np.zeros(n_edges, dtype=np.int64)
    dst = np.zeros(n_edges, dtype=np.int64)
    cum = np.cumsum(RMAT_PROBS)
    for bit in range(scale):
        quad = np.searchsorted(cum, rng.random(n_edges), side="right")
        src |= (quad >> 1).astype(np.int64) << bit
        dst |= (quad & 1).astype(np.int64) << bit
    perm = rng.permutation(1 << scale).astype(np.int64)
    return np.stack([perm[src], perm[dst]], axis=1)


def write_tsv(edges: np.ndarray, path: str) -> None:
    """Tab-separated ``src\\tdst`` lines, the reference's edge-list format."""
    import pandas as pd

    pd.DataFrame(edges).to_csv(path, sep="\t", header=False, index=False)


def pagerank_oracle(
    edges: np.ndarray, beta: float, delta: float
) -> tuple[np.ndarray, np.ndarray, int]:
    """Return ``(nodes, ranks, iterations)`` over every vertex that
    appears in ``edges``; ``ranks`` sums to 1. Like ``pagerank()``, it
    stops after at most 200 iterations."""
    nodes, idx = np.unique(edges, return_inverse=True)
    idx = idx.reshape(edges.shape)
    src, dst = idx[:, 0], idx[:, 1]
    n = len(nodes)
    deg = np.bincount(src, minlength=n).astype(np.float64)
    has_out = deg > 0
    rank = np.full(n, 1.0 / n)
    for iteration in range(1, 201):
        m = rank[has_out].sum()
        share = np.zeros(n)
        share[has_out] = beta * rank[has_out] / deg[has_out]
        new = np.bincount(dst, weights=share[src], minlength=n)
        new += (1.0 - beta) / n + beta * (1.0 - m) / n
        l1 = np.abs(new - rank).sum()
        rank = new
        if l1 <= delta:
            break
    return nodes, rank, iteration


# -- TPC-H-shaped tables ------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "hot", "large", "red", "small", "ring", "bolt", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def write_tpch(out_dir: str, seed: int) -> None:
    """Write ``{region,nation,customer,supplier,part,orders,lineitem}.parquet``
    under ``out_dir`` at the row counts of the sf0.1 fixtures: 15k
    customers, 1k suppliers, 20k parts, 150k orders and 600k line items."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord = 15_000, 1_000, 20_000, 150_000
    n_line = 4 * n_ord
    day0 = np.datetime64("1995-01-01", "us")
    us_per_day = np.timedelta64(86_400_000_000, "us")

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def keyed_names(prefix, n):
        return [f"{prefix}#{i:09d}" for i in range(n)]

    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": keyed_names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": keyed_names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(
                    np.array(PART_WORDS)[rng.integers(0, 5, n_part)], " "
                ),
                np.array(PART_WORDS)[rng.integers(5, 8, n_part)],
            ),
            "p_brand": np.char.add(
                "Brand#", rng.integers(1, 26, n_part).astype(str)
            ),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 2),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": day0 + rng.integers(0, 2405, n_ord) * us_per_day,
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": day0 + rng.integers(1, 2499, n_line) * us_per_day,
        }),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
