#!/usr/bin/env python3
"""Closed-loop benchmark of the PageRank pipeline and the query surface.

    python3 perfbench/run.py --workload pagerank_ref --seed 1 --seconds 16 --trace 0

Run from the repository root. One client in one process drives
``local[<cpus>]``; each op runs only after the previous one finished.
Inputs are generated from ``--seed`` under ``.bench_build/`` before any
clock starts, and every op is checked against an oracle after its clock
stops. The last stdout line is one JSON object: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a run that
alternates untraced and traced ops. ``LAYERS.md`` maps each per-layer
metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))

# Knobs the program reads whose setting would change what is measured.
REFUSED_ENV = (
    "SPARK_PR_AB", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM",
)
SETUP_REPEATS = 3
BETA, DELTA, TOP = 0.85, 1e-5, 100
AQE_KEY = "spark.sql.adaptive.enabled"
PARTS_KEY = "spark.sql.shuffle.partitions"
PHASES = ("io", "pagerank.setup", "loop", "pagerank.finalize", "io.write")
# The TPC-H-shaped entries with DuckDB twins. q217 is left out: its
# ROUND(SUM(double), 4) depends on summation order at sf0.1 (one of 175
# rows differs from DuckDB in the fourth decimal on the sf0.1 fixture).
MIX_QUERIES = (
    "q11", "q12", "q18", "q49", "q74", "q75", "q209", "q210", "q211",
    "q212", "q213", "q214", "q216", "q218",
)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class PageRankPipeline:
    """One op: ``read_edge_list(TSV).persist()`` + count, ``pagerank()``,
    ``write_result_text(top_k(ranks, 100))``, on a seeded R-MAT graph."""

    def __init__(self, work: str, seed: int, scale: int, n_edges: int):
        import inputs

        edges = inputs.rmat_edges(scale, n_edges, seed)
        self.tsv = os.path.join(work, "edges.tsv")
        self.out = os.path.join(work, "result.txt")
        inputs.write_tsv(edges, self.tsv)
        nodes, ranks, self.iterations = inputs.pagerank_oracle(
            edges, BETA, DELTA
        )
        order = sorted(range(len(nodes)), key=lambda i: (-ranks[i], nodes[i]))
        self.top = [(int(nodes[i]), float(ranks[i])) for i in order[:TOP]]
        self.info = {
            "scale": scale, "edges": int(n_edges), "vertices": len(nodes),
            "oracle_iterations": self.iterations,
        }

    cycle = 1  # ops in one pass over the workload's inputs

    def prepare(self, spark) -> list[str]:
        return []

    def run_op(self, spark, tr):
        """Run one op; returns its wall time and a function that checks its
        output and returns the failed checks."""
        from pagerank_spark.graph import pagerank, top_k
        from pagerank_spark.io import read_edge_list, write_result_text

        phase = tr.phase if tr else lambda *a: nullcontext()
        before = (spark.conf.get(AQE_KEY), spark.conf.get(PARTS_KEY))
        t0 = time.perf_counter()
        with phase("io.read_edge_list", "io"):
            edges = read_edge_list(spark, self.tsv).persist()
            edges.count()
        with phase("pagerank", "pagerank.setup"):
            res = pagerank(edges, beta=BETA, delta=DELTA)
        with phase("io.write_result_text", "io.write"):
            write_result_text(top_k(res.ranks, TOP), self.out, TOP)
        wall = time.perf_counter() - t0
        self.info.update(strategy=res.strategy, iterations=res.iterations)
        if tr:
            tr.iterations = res.iterations
        return wall, lambda: self._check(spark, res, before, edges)

    def _check(self, spark, res, before, edges) -> list[str]:
        from pyspark.sql import functions as F

        bad = []
        if res.iterations != self.iterations:
            bad.append(f"iterations {res.iterations} != {self.iterations}")
        got = []
        with open(self.out) as f:
            for line in f:
                page, score = line.split()
                got.append((int(page[1:-1]), float(score[1:-1])))
        if [p for p, _ in got] != [p for p, _ in self.top]:
            bad.append("top-100 page order differs from the oracle")
        elif any(abs(s - t) > 1e-9 for (_, s), (_, t) in zip(got, self.top)):
            bad.append("a top-100 score differs from the oracle by > 1e-9")
        total = res.ranks.agg(F.sum("rank")).collect()[0][0]
        if abs(total - 1.0) > 1e-9:
            bad.append(f"ranks sum to {total!r}")
        after = (spark.conf.get(AQE_KEY), spark.conf.get(PARTS_KEY))
        if after != before:
            bad.append(f"session conf {before} left as {after}")
        res.ranks.unpersist()
        edges.unpersist()
        return bad


class QueryMix:
    """One op: one ``collect()`` of a declared TPC-H-shaped query, cycling
    through ``MIX_QUERIES`` on seeded sf0.1 tables."""

    def __init__(self, work: str, seed: int):
        import __spark_entry__ as entry
        import inputs

        self.sf_dir = os.path.join(work, "tpch")
        inputs.write_tpch(self.sf_dir, seed)
        declared, oracles = entry.queries(), entry.oracle_sql()
        self.queries = {}
        for short in MIX_QUERIES:
            (name,) = [n for n in declared if n.split("_")[0] == short]
            self.queries[name] = (declared[name], oracles[name])
        self.names = list(self.queries)
        self.cycle = len(self.names)
        self.next = 0
        self.hashes: dict[str, str] = {}
        self.pending: list[tuple] = []  # set-up results, checked by prepare
        self.info = {"queries": len(self.names)}

    def prepare(self, spark) -> list[str]:
        """Verify each query against its DuckDB twin, once, untimed; then
        check the set-up ops' results against the verified values. A query
        that differs from its twin has no verified value, so its timed ops
        fail too."""
        import duckdb
        import parity

        bad = []
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        for name, (fn, sql) in self.queries.items():
            rec = parity.compare_one(spark, con, fn, sql, self.sf_dir)
            if rec["hash_match"]:
                self.hashes[name] = rec["spark_hash"]
            else:
                self.hashes[name] = None
                bad.append(f"{name} differs from DuckDB: {rec['err']}")
        con.close()
        self.next = 0
        return bad + [b for p in self.pending for b in self._check(*p)]

    def run_op(self, spark, tr):
        name = self.names[self.next]
        self.next = (self.next + 1) % len(self.names)
        fn = self.queries[name][0]
        phase = tr.phase if tr else lambda *a: nullcontext()
        t0 = time.perf_counter()
        with phase("entry." + name, "entry"):
            df = fn(spark, self.sf_dir)
            rows = df.collect()
        wall = time.perf_counter() - t0
        return wall, lambda: self._check(name, df.columns, rows)

    def _check(self, name, columns, rows) -> list[str]:
        import pandas as pd
        import parity

        if not self.hashes:
            self.pending.append((name, columns, rows))
            return []
        pdf = parity._normalize(
            pd.DataFrame([tuple(r) for r in rows], columns=columns)
        )
        if parity._value_hash(pdf) != self.hashes[name]:
            return [f"{name} result differs from its verified value"]
        return []


WORKLOADS = {
    "pagerank_ref": lambda work, seed: PageRankPipeline(work, seed, 13, 103_689),
    "pagerank_rmat": lambda work, seed: PageRankPipeline(
        work, seed, 19, 1_000_000
    ),
    "query_mix": QueryMix,
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _pin_environment(work: str) -> int:
    for key in REFUSED_ENV:
        if key in os.environ:
            _fail(f"refusing to run with {key} set")
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # PerfDisableSharedMem: keep the JVM's perf counters off /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    )
    return cpus


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.wl = None

    def session(self) -> float:
        from pagerank_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def setup(self) -> tuple[list[float], list[float], list[str]]:
        """``SETUP_REPEATS`` times: a fresh session plus one warm-up op.
        Returns the set-up times, the ``get_spark`` times and any failed
        checks of the warm-up ops."""
        setups, sessions, bad = [], [], []
        for i in range(SETUP_REPEATS):
            if i:
                self.spark.stop()
            t0 = time.perf_counter()
            sessions.append(self.session())
            _, verify = self.wl.run_op(self.spark, None)
            setups.append(time.perf_counter() - t0)
            bad += verify()
        return setups, sessions, bad

    def measure(self, traced: bool):
        """Ops until ``--seconds`` of op time have run (whole query cycles
        for ``query_mix``). With ``traced``, half the ops are traced."""
        import layers

        store = layers.StatusStore(self.spark) if traced else None
        cycle = self.wl.cycle
        block = cycle * 2 if traced else cycle
        plain, traced_ops, failed = [], [], []
        spent, n = 0.0, 0
        while spent < self.args.seconds or n % block:
            tr = None
            # every other op, shifted by one each cycle so that each query
            # of the mix is traced in every other cycle
            if traced and (n // cycle + n % cycle) % 2:
                tr = layers.OpTrace(self.spark, store, n)
            t0 = time.perf_counter()
            try:
                with tr.open() if tr else nullcontext():
                    wall, verify = self.wl.run_op(self.spark, tr)
                if tr:
                    tr.wall = wall
                    tr.spark = tr.spark_records(wall)
                bad = verify()
            except Exception as exc:  # an op failure is counted, not fatal
                wall = time.perf_counter() - t0
                bad = [f"{type(exc).__name__}: {exc}"]
            n += 1
            spent += wall
            if bad:
                failed.append(bad)
                print(f"perfbench: op {n} failed: {bad}", file=sys.stderr)
            elif tr:
                traced_ops.append(tr)
            else:
                plain.append(wall)
        return plain, traced_ops, failed, n, spent


def end_to_end(setups, walls, spent) -> dict:
    return {
        "setup_s": (statistics.median(setups), "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "ops_per_s": (len(walls) / spent, "1/s"),
    }


def op_layers(t) -> dict[str, float]:
    """Layer values of one traced op; layers it did not use read 0."""
    import layers

    def span(name):
        a, b = t.spans.get(name, (0.0, 0.0))
        return b - a

    out = {
        "trace.unattributed_s": t.wall - sum(b - a for a, b in t.spans.values()),
        "io.read_edge_list_s": span("io.read_edge_list"),
        "io.write_result_text_s": span("io.write_result_text"),
        "pagerank.setup_s": 0.0, "pagerank.finalize_s": 0.0,
        "pagerank.iterations": 0, "loop.span_s": 0.0, "loop.advances": 0,
        "loop.first_advance_s": 0.0,
    }
    if t.advances:
        (first0, first1), last1 = t.advances[0], t.advances[-1][1]
        call0, call1 = t.spans["pagerank"]
        out.update({
            "pagerank.setup_s": first0 - call0,
            "pagerank.finalize_s": call1 - last1,
            "pagerank.iterations": t.iterations,
            "loop.span_s": last1 - first0,
            "loop.advances": len(t.advances),
            "loop.first_advance_s": first1 - first0,
        })
    for field in layers.SPARK_FIELDS:
        out[f"spark.{field}"] = t.spark["total"][field]
    for phase in PHASES:
        for field in layers.PHASE_FIELDS:
            out[f"spark.{phase}.{field}"] = t.spark.get(phase, {}).get(field, 0.0)
    for short in MIX_QUERIES:
        out[f"entry.{short}_s"] = sum(
            b - a for name, (a, b) in t.spans.items()
            if name.startswith(f"entry.{short}_")
        )
    return out


def _unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MiB"), ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(bench, sessions, plain, traced) -> dict:
    import layers

    med = statistics.median
    walls = [t.wall for t in traced]
    values = {
        "session.get_spark_s": med(sessions),
        "jvm.peak_rss_mb": layers.jvm_peak_rss_mb(bench.spark),
        "trace.untraced_op_p50_s": med(plain),
        "trace.traced_op_p50_s": med(walls),
        "trace.overhead_pct": 100.0 * (med(walls) / med(plain) - 1.0),
    }
    per_op = [op_layers(t) for t in traced]
    for key in per_op[0]:
        if key.startswith("entry."):  # each query's own ops only
            vals = [v[key] for v in per_op if v[key]]
            values[key] = med(vals) if vals else 0.0
        else:
            values[key] = med([v[key] for v in per_op])
    adv = [b - a for t in traced for a, b in t.advances]
    values["loop.advance_p50_s"] = med(adv) if adv else 0.0
    values["loop.advance_p90_s"] = quantile(adv, 0.9) if adv else 0.0
    return {k: (v, _unit(k)) for k, v in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("pagerank_spark", "__spark_entry__.py", "parity.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _fail(f"{need} not found: run from the repository root")
    sys.path[:0] = [ROOT, BENCH_DIR]
    work = os.path.join(
        ROOT, ".bench_build", f"perfbench-{args.workload}-{os.getpid()}"
    )
    os.makedirs(work)
    bench = Bench(args, work)
    try:
        cpus = _pin_environment(work)
        bench.wl = WORKLOADS[args.workload](work, args.seed)
        setups, sessions, warm_bad = bench.setup()
        warm_bad += bench.wl.prepare(bench.spark)
        plain, traced, failed, attempted, spent = bench.measure(bool(args.trace))
        if args.trace:
            metrics = per_layer(bench, sessions, plain, traced)
        else:
            metrics = end_to_end(setups, plain, spent)
        sc = bench.spark.sparkContext
        info = {
            "workload": args.workload, "seed": args.seed, "cpus": cpus,
            "master": sc.master, "default_parallelism": sc.defaultParallelism,
            "pyspark": sc.version, "ops": attempted,
            "fail_ratio": len(failed) / attempted,
            "setup_each_s": [round(x, 3) for x in setups],
            "op_walls_s": [round(x, 3) for x in plain],
            "op_p90_s": round(quantile(plain, 0.9), 4), **bench.wl.info,
        }
    finally:
        _shutdown(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench info " + json.dumps(info, sort_keys=True))
    for name, (value, unit) in metrics.items():
        print(f"perfbench {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": not failed and not warm_bad,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _shutdown(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
