"""applyInPandasWithState: multi-batch state must converge to the batch fold."""

from __future__ import annotations

import os

import pytest

from pagerank_spark.io import load_table
from pagerank_spark.streaming import read_event_stream
from pagerank_spark.streaming.stateful import (
    running_user_stats_batch,
    running_user_stats_stream,
)
from tests.stream_wait import process_all_available

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def event_dir(spark, tmp_path):
    out = str(tmp_path / "events_state")
    load_table(spark, SF_DIR, "events").repartition(3).write.parquet(out)
    return out


def test_batch_twin_matches_sql_aggregate(spark, event_dir):
    from pyspark.sql import functions as F

    batch = spark.read.parquet(event_dir)
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["first_ep"], r["last_ep"])
        for r in running_user_stats_batch(batch).collect()
    }
    want = {
        r["user_id"]: (
            r["n"],
            r["s"],
            r["lo"],
            r["hi"],
        )
        for r in batch.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
            F.min(F.unix_timestamp("ts")).alias("lo"),
            F.max(F.unix_timestamp("ts")).alias("hi"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert got[u][2:] == want[u][2:]
        assert got[u][1] == pytest.approx(want[u][1], abs=1e-6)


def test_stateful_stream_converges_to_batch(spark, event_dir):
    batch_stats = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["first_ep"], r["last_ep"])
        for r in running_user_stats_batch(spark.read.parquet(event_dir)).collect()
    }

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    q = (
        running_user_stats_stream(stream)
        .writeStream.format("memory")
        .queryName("user_state_test")
        .outputMode("update")
        .start()
    )
    try:
        process_all_available(q)
        rows = spark.sql("SELECT * FROM user_state_test").collect()
    finally:
        q.stop()

    # The memory sink accumulates one update per (user, micro-batch);
    # the LAST update per user is the converged state == the batch fold.
    final = {}
    for r in rows:  # sink rows arrive in batch order
        final[r["user_id"]] = (
            r["n_events"], r["sum_value"], r["first_ep"], r["last_ep"]
        )
    # updates are monotone in n_events: keep the max instead of trusting order
    for r in rows:
        if r["n_events"] >= final[r["user_id"]][0]:
            final[r["user_id"]] = (
                r["n_events"], r["sum_value"], r["first_ep"], r["last_ep"]
            )

    assert set(final) == set(batch_stats)
    for u, want in batch_stats.items():
        got = final[u]
        assert got[0] == want[0]
        assert got[2:] == want[2:]
        assert got[1] == pytest.approx(want[1], abs=1e-6)
