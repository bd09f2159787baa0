"""Driver-style oracle parity: every queries() entry vs its DuckDB twin.

Mirrors the external correctness gate: run the Spark query and the
oracle SQL on the same parquet fixtures, sort columns by name and rows
by value, and require exact equality (floats are pre-rounded on both
sides by the queries themselves, so exact comparison is the contract).
Each case also holds the query's plan to the blanket plan-quality gate
before running it.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import sys

import duckdb
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
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


ENTRY = _load_entry()
QUERIES = ENTRY.queries()
ORACLES = ENTRY.oracle_sql()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return pdf.reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity(spark, ddb, name):
    df = QUERIES[name](spark, SF_DIR)
    # Blanket plan-quality gate over the full declared surface, on the
    # plan this case then runs: no CartesianProduct (unbounded pair
    # blow-up) and no BatchEvalPython (row-at-a-time Python UDF) — the
    # two plan nodes never acceptable at 100 TB. Arrow-batched Python
    # (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas) stays
    # allowed where declared; BroadcastNestedLoopJoin is not gated
    # here because two queries use it deliberately (q28's exact-ANN
    # contract, q94's banded theta join) and their own plan tests in
    # test_plans.py pin that choice.
    p = plan(df)
    marks = [m for m in ("CartesianProduct", "BatchEvalPython") if m in p]
    assert not marks, f"{name}: plan has {marks}"
    spark_pdf = df.toPandas()
    if name not in ORACLES:
        assert spark_pdf is not None  # rows-only check (driver's weak gate)
        return
    oracle_pdf = ddb.execute(ORACLES[name]).fetchdf()

    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs oracle {len(oracle_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} vs "
        f"{sorted(oracle_pdf.columns)}"
    )
    s, o = _normalize(spark_pdf), _normalize(oracle_pdf)
    pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)


def test_entry_smoke(spark):
    df = ENTRY.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"page", "score"}


def test_parity_artifact_covers_all_declared():
    """Closing gate (round-6 verdict #2): the newest committed
    PARITY_r*.json must cover every declared queries() entry and be
    all hash-green — declaring a query after the last parity refresh
    ships unproven code (that's exactly how the q176 bug escaped)."""
    import glob
    import json
    import re

    paths = glob.glob(os.path.join(REPO, "PARITY_r*.json"))
    assert paths, "no parity artifact committed"
    newest = max(
        paths, key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1))
    )
    art = json.load(open(newest))
    declared = set(QUERIES)
    covered = set(art["queries"])
    missing = sorted(declared - covered)
    assert not missing, (
        f"{os.path.basename(newest)} missing {len(missing)} declared "
        f"queries: {missing[:10]} — rerun parity.py before closing"
    )
    not_green = sorted(
        k
        for k, v in art["queries"].items()
        if k in declared
        and not (v.get("hash_match") or v.get("err") == "no_oracle")
    )
    assert not not_green, f"parity artifact not hash-green for: {not_green}"


def test_parity_artifact_fresh_vs_source():
    """Freshness gate (round-11 verdict #2): the newest PARITY_r*.json
    must have been produced from the CURRENT engine source — commit
    47d7d29 rewrote the PNG decoder AFTER the round-11 close parity run
    and shipped uncovered by the committed artifact, which the coverage
    gate above cannot see (the query NAMES were unchanged).

    The artifact records ``source_digest`` (content hash of every
    ``pagerank_spark/**/*.py`` + ``__spark_entry__.py`` at parity time);
    this test recomputes it against the working tree. Enforced only
    under ``SPARK_GRAFT_ENFORCE_FRESHNESS=1`` (set by ``make gate`` /
    ``make close-round``): mid-round the source is SUPPOSED to be ahead
    of the last artifact, so an always-on check would redden every
    in-progress pytest run by design."""
    import glob
    import json
    import re

    if os.environ.get("SPARK_GRAFT_ENFORCE_FRESHNESS") != "1":
        pytest.skip("freshness enforced only at close (make gate)")

    sys.path.insert(0, REPO)
    from parity import source_digest

    paths = glob.glob(os.path.join(REPO, "PARITY_r*.json"))
    assert paths, "no parity artifact committed"
    newest = max(
        paths, key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1))
    )
    summary = json.load(open(newest))["summary"]
    recorded = summary.get("source_digest")
    assert recorded, (
        f"{os.path.basename(newest)} predates freshness provenance — "
        "rerun parity.py (it now records source_digest)"
    )
    current = source_digest()
    assert current == recorded, (
        f"engine source changed after {os.path.basename(newest)} was "
        f"produced (digest {current} vs recorded {recorded}) — rerun "
        "`make close-round` so the committed artifact covers HEAD"
    )
