#!/usr/bin/env python
"""Round parity artifact: every declared query vs its DuckDB twin.

The external driver's correctness harness verifies only the first 50
declared queries; this runner applies the SAME comparison (row count,
column set, value-exact match after sorting columns by name and rows by
value) to the FULL ``queries()`` surface and writes ``PARITY_r{N}.json``
with the driver's per-query record shape::

    {"rows_match": bool, "schema_match": bool, "hash_match": bool,
     "spark_rows": int, "oracle_rows": int|None, "err": str|None}

so the beyond-window queries (q51+) carry committed, machine-readable
evidence instead of only a pytest exit code. Queries with no declared
oracle record ``err="no_oracle"`` with their row count (the driver's
weak rows-only gate).

Usage: ``python parity.py [--sf-dir DIR] [--round N] [--out PATH]``
Defaults: sf0.01 fixtures, round inferred from the newest
``CORRECTNESS_r*.json`` in the repo, output ``PARITY_r{N}.json``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib.util
import json
import os
import re
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.abspath(__file__))
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _infer_round() -> int:
    """Parity's own artifact round when --round is not passed: newest
    CORRECTNESS + 1 (the driver writes CORRECTNESS at round START, so
    this is the CURRENT round for the whole round's duration — and a
    re-close within the same round OVERWRITES its own artifact instead
    of minting a phantom next round, which a newest-parity+1 rule would
    do). `make close-round ROUND=N` passes --round explicitly; bench.py
    uses the different newest-PARITY rule because its artifact names a
    round already CLOSED by a committed parity file."""
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 0


def source_digest(repo: str = REPO) -> str:
    """Content digest of the engine source the parity artifact proves:
    every ``pagerank_spark/**/*.py`` plus ``__spark_entry__.py``,
    hashed by (relative path, file sha) in sorted order. Recorded in
    the artifact and recomputed by the freshness gate
    (``tests/test_oracle_parity.py``) so a source edit AFTER the last
    parity run is detectable regardless of commit/dirty-tree dances —
    r11 verdict #2: commit 47d7d29 rewrote the PNG decoder after the
    close-round parity run and shipped uncovered by the committed
    artifact."""
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(repo, "pagerank_spark", "**", "*.py"),
                  recursive=True)
    ) + [os.path.join(repo, "__spark_entry__.py")]
    for path in files:
        rel = os.path.relpath(path, repo)
        with open(path, "rb") as f:
            fh = hashlib.sha256(f.read()).hexdigest()
        h.update(f"{rel}:{fh}\n".encode())
    return h.hexdigest()[:16]


def sources_dirty(repo: str = REPO) -> bool | None:
    """Whether the files ``source_digest`` hashes differ from git HEAD
    (edited, added or deleted): the artifact then proves a tree that
    no commit holds yet — the usual state when parity is refreshed
    before the commit that carries it. None when git is unavailable."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "-C", repo, "status", "--porcelain", "--",
             "pagerank_spark/*.py", "__spark_entry__.py"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return bool(out.stdout.strip())
    except Exception:
        return None


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return pdf.reset_index(drop=True)


def _value_hash(pdf: pd.DataFrame) -> str:
    """Stable digest of the normalized values (dtype-insensitive: ints
    render without decimal point whether int64 or float-free)."""
    h = hashlib.sha256()
    h.update(",".join(pdf.columns).encode())
    for row in pdf.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()[:16]


def compare_one(spark, con, fn, sql, sf_dir):
    rec = {
        "rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": None, "oracle_rows": None, "err": None,
    }
    spark_pdf = fn(spark, sf_dir).toPandas()
    rec["spark_rows"] = int(len(spark_pdf))
    if sql is None:
        rec["err"] = "no_oracle"
        return rec
    oracle_pdf = con.execute(sql).fetchdf()
    rec["oracle_rows"] = int(len(oracle_pdf))
    rec["rows_match"] = len(spark_pdf) == len(oracle_pdf)
    rec["schema_match"] = sorted(spark_pdf.columns) == sorted(
        oracle_pdf.columns
    )
    if rec["rows_match"] and rec["schema_match"]:
        s, o = _normalize(spark_pdf), _normalize(oracle_pdf)
        try:
            pd.testing.assert_frame_equal(
                s, o, check_dtype=False, check_exact=True
            )
            rec["hash_match"] = True
        except AssertionError as exc:
            rec["hash_match"] = False
            rec["err"] = f"value_mismatch: {str(exc).splitlines()[-1][:200]}"
        rec["spark_hash"] = _value_hash(s)
    else:
        rec["hash_match"] = False
        rec["err"] = "rows" if not rec["rows_match"] else "schema"
    return rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01"
    ))
    ap.add_argument("--round", type=int, default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", default=None,
                    help="comma-separated query-name substrings")
    args = ap.parse_args(argv)
    rnd = args.round if args.round is not None else _infer_round()
    out_path = args.out or os.path.join(REPO, f"PARITY_r{rnd}.json")

    sys.path.insert(0, REPO)
    entry = _load_entry()
    queries, oracles = entry.queries(), entry.oracle_sql()
    names = sorted(queries)
    if args.only:
        keys = args.only.split(",")
        names = [n for n in names if any(k in n for k in keys)]

    from pagerank_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    t0 = time.time()
    results = {}
    for name in names:
        try:
            results[name] = compare_one(
                spark, con, queries[name], oracles.get(name), args.sf_dir
            )
        except Exception as exc:  # record, keep going — artifact over abort
            results[name] = {
                "rows_match": False, "schema_match": None,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None,
                "err": f"{type(exc).__name__}: {str(exc)[:200]}",
            }
        r = results[name]
        status = (
            "no_oracle" if r["err"] == "no_oracle"
            else "PASS" if r["hash_match"] else f"FAIL({r['err']})"
        )
        print(f"{name}: {status}", flush=True)

    green = sum(1 for r in results.values() if r["hash_match"])
    no_oracle = sum(
        1 for r in results.values() if r["err"] == "no_oracle"
    )
    fails = len(results) - green - no_oracle
    summary = {
        "round": rnd,
        "sf_dir": args.sf_dir,
        "n_queries": len(results),
        "hash_green": green,
        "rows_only": no_oracle,
        "failed": fails,
        "elapsed_sec": round(time.time() - t0, 1),
        # freshness provenance (r11 verdict #2): the exact source this
        # artifact proves, checkable without git archaeology
        "source_digest": source_digest(),
        "dirty": sources_dirty(),
    }
    with open(out_path, "w") as f:
        json.dump({"summary": summary, "queries": results}, f, indent=1)
    print(json.dumps(summary))
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
