"""Command-line pipeline mirroring the reference's ``python pageRank.py``.

Reference UX parity (``pageRank.py:181-194`` / ``streamlit-pagerank.py``
knobs): load a whitespace edge list (optionally a seeded sample), report
duplicate edges (report only — the reference never drops them,
``pageRank.py:59-63``), run PageRank to convergence printing the
per-iteration L1 (``pageRank.py:142``), and write the top-k as
``[page] [score]`` lines plus an optional CSV dump of the edge table
(``pageRank.py:40-41``) and a β comparison sweep (README-only
``compare_teleports``).

Usage::

    python -m pagerank_spark.cli EDGES.txt [--beta 0.85] [--delta 1e-5]
        [--frac 1.0] [--top 100] [--output result.txt]
        [--csv-dump edges_csv_dir] [--compare-teleports]
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("edges", help="whitespace/tab-separated edge-list file")
    ap.add_argument("--beta", type=float, default=0.85)
    ap.add_argument("--delta", type=float, default=1e-5)
    ap.add_argument("--frac", type=float, default=1.0,
                    help="seeded dev-time sample fraction (X5 knob)")
    ap.add_argument("--top", type=int, default=100)
    ap.add_argument("--output", default="result.txt")
    ap.add_argument("--csv-dump", default=None,
                    help="also dump the edge table as CSV to this dir (K1)")
    ap.add_argument("--compare-teleports", action="store_true",
                    help="run the β∈{0.80,0.85,0.90} positional sweep (G5)")
    args = ap.parse_args(argv)

    from pagerank_spark.graph import compare_teleports, pagerank, top_k
    from pagerank_spark.graph.loop import Pins
    from pagerank_spark.io import read_edge_list, write_csv, write_result_text
    from pagerank_spark.operators.relational import duplicate_rows_report
    from pagerank_spark.session import get_spark

    # A caller-supplied session (tests) is reused and left running; a
    # CLI-owned session is stopped on exit.
    own_session = spark is None
    if own_session:
        spark = get_spark(app_name="pagerank-cli")
        spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()

    edges = read_edge_list(spark, args.edges, sample_fraction=args.frac)
    with Pins() as pins:
        # Loop-invariant input, scanned by the dup report and three
        # times in PageRank setup — persist the single text scan.
        edges = pins.hold(edges)
        if args.csv_dump:
            write_csv(edges, args.csv_dump, single_file=True)

        dupes = duplicate_rows_report(edges, ["src", "dst"]).collect()
        print(f"duplicate edges: {len(dupes)}")
        for r in dupes[:20]:
            print(f"  ({r['src']}, {r['dst']}) x{r['n_occurrences']}")

        res = pagerank(edges, beta=args.beta, delta=args.delta)
        pins.adopt(res.ranks)
        for i, l1 in enumerate(res.l1_trajectory, 1):
            print(f"iteration {i}: L1 = {l1:.12g}")
        print(f"converged in {res.iterations} iterations")

        write_result_text(top_k(res.ranks, args.top), args.output, k=args.top)
        print(f"top-{args.top} written to {args.output}")

        if args.compare_teleports:
            sweep = compare_teleports(edges, k=min(args.top, 100))
            sweep = pins.adopt(sweep).collect()
            n_match = sum(1 for r in sweep if r["all_match"])
            print(f"compare_teleports: {n_match}/{len(sweep)} positions agree "
                  f"across betas")

    print(f"total time: {time.perf_counter() - t0:.3f}s")
    if own_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
