"""Structured Streaming: the streaming query must equal its batch twin.

Spark's contract — a streaming query is the batch query incrementalized —
is verified directly: feed the fixture events through a file-source
stream (one file per micro-batch) into the windowed aggregation, and
compare the memory-sink result with ``tumbling_window_agg`` on the same
rows as a batch DataFrame.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pagerank_spark.io import load_table
from pagerank_spark.streaming import (
    read_event_stream,
    run_stream_to_memory,
    sessionize,
    sessionize_stream_agg,
    sliding_window_agg,
    tumbling_window_agg,
)
from tests.stream_wait import process_all_available

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def event_dir(spark, tmp_path):
    """Fixture events as a 3-file parquet dir, files TIME-ORDERED.

    Update-mode streams drop rows older than the watermark, so the
    micro-batches must arrive in event-time order (like a real ingest
    pipeline) — a random split would make most of every later file
    "late". Files are written sequentially so modification times (and
    paths) increase with event time.
    """
    import glob
    import shutil
    import time

    out = tmp_path / "events_stream"
    out.mkdir()
    events = load_table(spark, SF_DIR, "events").cache()
    # unix_timestamp works for TIMESTAMP and TIMESTAMP_NTZ alike (the
    # fixtures' parquet ts reads as NTZ, which cannot cast to double).
    b1, b2 = events.selectExpr(
        "percentile(unix_timestamp(ts), array(0.33, 0.66))"
    ).collect()[0][0]
    ep = F.unix_timestamp(F.col("ts"))
    slices = [
        events.where(ep < b1),
        events.where((ep >= b1) & (ep < b2)),
        events.where(ep >= b2),
    ]
    for i, sl in enumerate(slices):
        stage = tmp_path / f"stage_{i}"
        sl.coalesce(1).write.parquet(str(stage))
        part = glob.glob(str(stage / "part-*.parquet"))[0]
        shutil.move(part, str(out / f"batch_{i}.parquet"))
        time.sleep(1.1)
    events.unpersist()
    return str(out)


def _final_per_key(spark, table):
    """Update-mode memory sink: last emission per key = max n_events."""
    rows = spark.sql(
        f"SELECT window_id, event_type, max(n_events) AS n_events, "
        f"max_by(sum_value, n_events) AS sum_value FROM {table} "
        f"GROUP BY window_id, event_type"
    ).collect()
    return {
        (r["window_id"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in rows
    }


def test_stream_matches_batch_twin(spark, event_dir):
    batch = spark.read.parquet(event_dir)
    expected = {
        (r["window_id"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_window_agg(batch).collect()
    }

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    q = run_stream_to_memory(stream, "stream_tumbling_test")
    try:
        process_all_available(q)
        got = _final_per_key(spark, "stream_tumbling_test")
    finally:
        q.stop()

    assert got == expected
    assert len(got) > 0


def test_sliding_windows_overlap(spark):
    events = load_table(spark, SF_DIR, "events")
    slid = sliding_window_agg(events, window="1 hour", slide="30 minutes")
    tumb = tumbling_window_agg(events)
    # Every event lands in 2 sliding windows → total sliding counts are
    # exactly double the tumbling counts.
    n_slid = slid.agg(F.sum("n_events")).collect()[0][0]
    n_tumb = tumb.agg(F.sum("n_events")).collect()[0][0]
    assert n_slid == 2 * n_tumb


def test_sessionize_agrees_with_native_session_window(spark):
    # The lag+running-sum plan (oracle-checkable) and Spark's native
    # merging session_window must produce identical sessions.
    events = load_table(spark, SF_DIR, "events")
    lag_based = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in sessionize(events).collect()
    }
    native = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in sessionize_stream_agg(events).collect()
    }
    assert lag_based == native
    assert len(lag_based) > 0


def test_watermark_bounds_state(spark, event_dir):
    # Update mode + watermark must actually EVICT finalized windows from
    # the state store: with 3 time-ordered micro-batches spanning ~30
    # days and a 1-hour watermark, the final batch's state must hold far
    # fewer windows than were emitted in total, and rows must have been
    # removed along the way.
    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    q = run_stream_to_memory(stream, "stream_watermark_test", watermark="1 hour")
    try:
        process_all_available(q)
        emitted = spark.sql(
            "SELECT count(DISTINCT window_id, event_type) AS n "
            "FROM stream_watermark_test"
        ).collect()[0]["n"]
        ops = [p["stateOperators"][0] for p in q.recentProgress
               if p["stateOperators"]]
        removed = sum(op.get("numRowsRemoved", 0) for op in ops)
        final_state = ops[-1]["numRowsTotal"]
    finally:
        q.stop()
    assert removed > 0
    assert final_state < emitted


def test_dedup_stream_drops_in_watermark_duplicates(spark, tmp_path):
    from pagerank_spark.streaming import dedup_stream

    # The same 1000 events written twice → two micro-batches of exact
    # duplicates well inside the watermark.
    src = load_table(spark, SF_DIR, "events").limit(1000).cache()
    out = str(tmp_path / "dup_stream")
    src.coalesce(1).write.mode("append").parquet(out)
    src.coalesce(1).write.mode("append").parquet(out)

    from pagerank_spark.streaming import read_event_stream

    stream = read_event_stream(spark, out, max_files_per_trigger=1)
    deduped = dedup_stream(stream, ["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .start()
    )
    try:
        process_all_available(q)
        got = spark.sql(
            "SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d "
            "FROM dedup_stream_test"
        ).collect()[0]
    finally:
        q.stop()
    src.unpersist()

    assert got["n"] == got["d"] == 1000


def test_stream_stream_interval_join_matches_batch_twin(spark, event_dir):
    from pagerank_spark.operators.relational import interval_join
    from pagerank_spark.streaming import stream_stream_interval_join

    batch = spark.read.parquet(event_dir)
    clicks_b = batch.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views_b = batch.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    expected = {
        (r["event_id"], r["r_ts"], r["value"])
        for r in interval_join(
            clicks_b, views_b, on=["user_id"], interval_seconds=3600
        ).collect()
    }

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    clicks_s = stream.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views_s = stream.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    joined = stream_stream_interval_join(
        clicks_s, views_s, on="user_id", interval="1 hour", watermark="2 hours"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("append")
        .start()
    )
    try:
        process_all_available(q)
        got = {
            (r["event_id"], r["r_ts"], r["r_value"])
            for r in spark.sql("SELECT * FROM ss_join_test").collect()
        }
    finally:
        q.stop()

    assert got == expected
    assert len(got) > 0


def test_foreachbatch_parquet_sink(spark, event_dir, tmp_path):
    from pagerank_spark.streaming import stream_to_parquet_foreachbatch

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    agg = tumbling_window_agg(stream.withWatermark("ts", "2 hours"))
    out = str(tmp_path / "fb_out")
    ckpt = str(tmp_path / "fb_ckpt")
    q = stream_to_parquet_foreachbatch(agg, out, ckpt)
    try:
        process_all_available(q)
    finally:
        q.stop()

    written = spark.read.parquet(out)
    # 3 micro-batches → batch_id partitions exist; per key the row from
    # the highest batch_id is the final aggregate, which must match the
    # batch twin (same reasoning as the update-mode memory sink).
    assert written.select("batch_id").distinct().count() >= 2
    final = {
        (r["window_id"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql(
            f"SELECT window_id, event_type, max(n_events) AS n_events, "
            f"max_by(sum_value, n_events) AS sum_value "
            f"FROM parquet.`{out}` GROUP BY window_id, event_type"
        ).collect()
    }
    batch = spark.read.parquet(event_dir)
    expected = {
        (r["window_id"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_window_agg(batch).collect()
    }
    assert final == expected


def test_stream_static_enrichment_matches_batch_join(spark, event_dir):
    """enrich_stream: every micro-batch row is enriched by the static
    dimension exactly as a batch join would — identical multiset of
    (event_id, tier) pairs, nulls preserved for unmatched left rows."""
    from pagerank_spark.streaming import enrich_stream, read_event_stream

    batch = spark.read.parquet(event_dir)
    dim = (
        batch.select((F.col("user_id") % 3).alias("user_mod"))
        .distinct()
        .where(F.col("user_mod") < 2)  # leave mod==2 unmatched
        .withColumn("tier", F.concat(F.lit("T"), F.col("user_mod")))
    )

    expected = sorted(
        (r["event_id"], r["tier"])
        for r in batch.withColumn("user_mod", F.col("user_id") % 3)
        .join(dim, on=["user_mod"], how="left")
        .select("event_id", "tier")
        .collect()
    )

    stream = read_event_stream(spark, event_dir).withColumn(
        "user_mod", F.col("user_id") % 3
    )
    q = (
        enrich_stream(stream, dim, on=["user_mod"])
        .select("event_id", "tier")
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .start()
    )
    try:
        process_all_available(q)
        got = sorted(
            (r["event_id"], r["tier"])
            for r in spark.sql("SELECT * FROM enrich_test").collect()
        )
    finally:
        q.stop()

    assert got == expected
    assert any(t is None for _, t in got)  # unmatched rows survive as null


def test_enrich_stream_rejects_right_join(spark, event_dir):
    from pagerank_spark.streaming import enrich_stream, read_event_stream

    stream = read_event_stream(spark, event_dir)
    dim = spark.range(3).withColumnRenamed("id", "user_id")
    try:
        enrich_stream(stream, dim, on=["user_id"], how="full")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_stream_upsert_into_versioned_table(spark, event_dir, tmp_path):
    """foreachBatch -> upsert merge: the final table snapshot holds the
    LAST emitted value per key (= the batch aggregate), and earlier
    snapshots time-travel through the batch history."""
    from pagerank_spark import table as T
    from pagerank_spark.streaming import (
        read_event_stream,
        stream_upsert_to_table,
        tumbling_window_agg,
    )

    root = str(tmp_path / "tbl")
    batch = spark.read.parquet(event_dir)
    expected = {
        (r["window_id"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_window_agg(batch).collect()
    }

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    agg = tumbling_window_agg(stream.withWatermark("ts", "2 hours"))
    q = stream_upsert_to_table(
        agg, root, str(tmp_path / "ckpt"), keys=["window_id", "event_type"]
    )
    try:
        process_all_available(q)
    finally:
        q.stop()

    got = {
        (r["window_id"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in T.read_table(spark, root).collect()
    }
    assert got == expected
    # multiple snapshots accumulated (one per non-empty batch)
    assert len(T.list_versions(root)) >= 2
    # the first snapshot has no more keys than the final one
    first = T.read_table(spark, root, version=0).count()
    assert first <= len(got)


def test_curate_stream_matches_batch(spark, tmp_path):
    """Ingest-time curation (scrub -> gopher gate -> table MERGE): the
    streamed result table equals the batch curation of the full corpus,
    and PII never reaches the table."""
    from pagerank_spark import table as T
    from pagerank_spark.streaming import (
        curate_documents,
        curate_stream_to_table,
    )

    base = "words and more words " * 8  # 32 words, passes min_words=20
    rows = [
        (1, base + "mail me at a.person@example.com please"),
        (2, "too short to pass"),
        (3, base + "call +1 555 123 4567 now"),
        (4, None),
        (5, base),
    ]
    src = str(tmp_path / "docs")
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    # Two time-ordered files so the stream sees >= 2 micro-batches.
    df.where("doc_id <= 2").coalesce(1).write.parquet(src)
    df.where("doc_id > 2").coalesce(1).write.mode("append").parquet(src)

    expected = {
        r["doc_id"]: (r["text"], r["n_emails"], r["n_phones"])
        for r in curate_documents(df, min_words=20).collect()
    }
    assert set(expected) == {1, 3, 5}
    assert "a.person" not in expected[1][0] and expected[1][1] == 1
    assert "555" not in expected[3][0] and expected[3][2] == 1

    stream = spark.readStream.schema("doc_id LONG, text STRING").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    root = str(tmp_path / "tbl")
    q = curate_stream_to_table(
        stream, root, str(tmp_path / "ckpt"), min_words=20
    )
    try:
        process_all_available(q)
    finally:
        q.stop()

    got = {
        r["doc_id"]: (r["text"], r["n_emails"], r["n_phones"])
        for r in T.read_table(spark, root).collect()
    }
    assert got == expected


def test_cms_stream_matches_batch_sketch(spark, tmp_path):
    """foreachBatch additive CMS merge: after streaming all files, the
    table holds exactly the sketch a single batch build produces
    (cell-wise linearity), stays bounded, and records the last applied
    batch id in the same snapshot."""
    from pagerank_spark import table as T
    from pagerank_spark.operators.sketch import cms_build, cms_estimate
    from pagerank_spark.streaming import cms_stream_to_table

    src = tmp_path / "toks"
    src.mkdir()
    rows = [(f"k{i % 37}",) for i in range(3000)]
    df = spark.createDataFrame(rows, "key string")
    # several files -> several micro-batches at one file per trigger
    df.repartition(4).write.mode("overwrite").parquet(str(src))

    root = str(tmp_path / "cms_tbl")
    stream = spark.readStream.schema("key string").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    q = cms_stream_to_table(
        stream, root, str(tmp_path / "ckpt"), key_col="key", width=64,
        depth=4,
    )
    try:
        process_all_available(q)
    finally:
        q.stop()

    state = T.read_table(spark, root)
    cells = {
        (r["d"], r["pos"]): r["cnt"]
        for r in state.where("d >= 0").collect()
    }
    expect = {
        (r["d"], r["pos"]): r["cnt"]
        for r in cms_build(df, "key", width=64, depth=4).collect()
    }
    assert cells == expect
    assert len(cells) <= 4 * 64
    # meta row: last applied batch id, committed atomically with cells
    meta = state.where("d = -1").collect()
    assert len(meta) == 1 and meta[0]["cnt"] >= 1
    # the streamed sketch answers point queries like the batch one
    est = {
        r["k"]: r["cms_est"]
        for r in cms_estimate(
            spark.createDataFrame([("k0",), ("k5",)], ["k"]),
            "k",
            state.where("d >= 0"),
            width=64,
            depth=4,
        ).collect()
    }
    exact = 3000 // 37 + (1 if 0 < 3000 % 37 else 0)
    assert est["k0"] >= exact


def test_stream_stream_left_outer_interval_join(spark, event_dir):
    """Outer stream-stream semantics: the matched rows equal the inner
    join, and unmatched left rows ARRIVE with NULL right columns once
    the watermark passes their eligibility window — never a duplicate,
    never a row the batch left join wouldn't produce."""
    from pagerank_spark.streaming import stream_stream_interval_join

    batch = spark.read.parquet(event_dir)
    clicks_b = batch.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views_b = batch.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    # batch left-join twin
    r = views_b.select(
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    cond = (
        (clicks_b["user_id"] == r["r_user_id"])
        & (r["r_ts"] >= clicks_b["ts"] - F.expr("INTERVAL 1 HOUR"))
        & (r["r_ts"] <= clicks_b["ts"])
    )
    twin = clicks_b.join(r, on=cond, how="left").drop("r_user_id")
    expected_matched = {
        (x["event_id"], x["r_ts"], x["r_value"])
        for x in twin.collect()
        if x["r_ts"] is not None
    }
    unmatched_ids = {
        x["event_id"] for x in twin.collect() if x["r_ts"] is None
    }

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    clicks_s = stream.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views_s = stream.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    joined = stream_stream_interval_join(
        clicks_s, views_s, on="user_id", interval="1 hour",
        watermark="2 hours", how="left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_louter_test")
        .outputMode("append")
        .start()
    )
    try:
        process_all_available(q)
        rows = spark.sql("SELECT * FROM ss_louter_test").collect()
    finally:
        q.stop()

    got_matched = {
        (x["event_id"], x["r_ts"], x["r_value"])
        for x in rows
        if x["r_ts"] is not None
    }
    got_null_ids = [x["event_id"] for x in rows if x["r_ts"] is None]
    assert got_matched == expected_matched and len(got_matched) > 0
    # every emitted NULL row is a genuinely unmatched left, at most once
    assert set(got_null_ids) <= unmatched_ids
    assert len(got_null_ids) == len(set(got_null_ids))


def test_ahash_stream_matches_batch(spark, tmp_path):
    """Ingest-time image fingerprinting: ahash_image (mapInPandas REAL
    decode) runs unchanged on a file stream, and the streamed hashes
    equal the batch hashes — the shape a multimodal ingest pipeline
    uses to fingerprint images as they land."""
    from pagerank_spark.operators.multimodal import (
        ahash_image,
        synthesize_ppm_variant_media,
    )

    ids = spark.createDataFrame(
        [(i * 10, (i * 10) // 40, i % 4) for i in range(8)],
        "media_id LONG, grp LONG, variant LONG",
    )
    media = synthesize_ppm_variant_media(ids)
    src = str(tmp_path / "media")
    media.where("media_id < 40").coalesce(1).write.parquet(src)
    media.where("media_id >= 40").coalesce(1).write.mode("append").parquet(
        src
    )

    expected = {
        r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in ahash_image(spark.read.parquet(src)).collect()
    }
    assert len(expected) == 8

    stream = spark.readStream.schema(
        "media_id LONG, payload BINARY"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        ahash_image(stream)
        .writeStream.format("memory")
        .queryName("ahash_stream")
        .outputMode("append")
        .start()
    )
    try:
        process_all_available(q)
    finally:
        q.stop()
    got = {
        r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in spark.sql("SELECT * FROM ahash_stream").collect()
    }
    assert got == expected


def test_session_window_merges_at_exactly_gap_distance(spark):
    """Pin the native operator's boundary rule the q238 oracle depends
    on: an event at exactly gap distance from the previous one MERGES
    (the session window's end is inclusive), matching the lag plan's
    strict diff > gap boundary."""
    df = spark.createDataFrame(
        [(1, 0), (1, 1800), (1, 3601)], "user_id INT, ep LONG"
    ).select("user_id", F.timestamp_seconds("ep").alias("ts"))
    out = (
        df.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .count()
        .collect()
    )
    # 0 and 1800 merge; 3601 is 1801s past 1800 -> its own session
    assert sorted(r["count"] for r in out) == [1, 2]


def test_session_stream_matches_batch_twin(spark, event_dir):
    """The watermarked streaming session_window aggregation (append
    mode — the only mode Spark permits for merging windows) emits
    exactly the batch sessionize_stream_agg sessions (which q238
    hashes against the lag-algebra oracle), minus only the tail
    sessions the final watermark never finalized — the merging-window
    analogue of test_stream_matches_batch_twin. Every emitted row is
    final, so values must match the batch twin EXACTLY, and every
    batch session ending comfortably before the watermark cutoff must
    have been emitted."""
    from pagerank_spark.streaming import (
        run_session_stream_to_memory,
        sessionize,
    )

    batch = spark.read.parquet(event_dir)
    expected = {
        (r["user_id"], r["session_start"]): (
            r["n_events"], r["sum_value"], r["session_end"],
        )
        for r in sessionize(batch, gap="30 minutes").collect()
    }
    max_ep = batch.selectExpr(
        "max(unix_timestamp(ts))"
    ).collect()[0][0]

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    q = run_session_stream_to_memory(
        stream, "stream_session_test", watermark="1 hour"
    )
    try:
        process_all_available(q)
        rows = spark.sql(
            "SELECT user_id, session_start, n_events, sum_value "
            "FROM stream_session_test"
        ).collect()
    finally:
        q.stop()
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in rows
    }
    # append emits each session at most once
    assert len(got) == len(rows)
    # every emitted session is final and equals its batch twin
    for key, (n, s) in got.items():
        assert key in expected, key
        assert expected[key][:2] == (n, s), key
    # completeness: any batch session whose window end (last event +
    # gap) lies well before the final watermark (max ts - 1h, with an
    # extra hour of slack against boundary semantics) must be emitted
    cutoff = max_ep - 2 * 3600 - 1800
    must_emit = {
        k for k, (_, _, end) in expected.items() if end + 1800 < cutoff
    }
    assert must_emit <= set(got), sorted(must_emit - set(got))[:5]
    assert len(got) > 100


def test_hll_stream_matches_batch_registers(spark, tmp_path):
    """Streaming HLL rollup (round 11): after streaming all files the
    table holds EXACTLY the registers a single batch build produces
    (max-merge monoid), stays bounded per group, and the folded
    estimates match the batch fold."""
    from pagerank_spark import table as T
    from pagerank_spark.operators.sketch import (
        hll_grouped_estimate,
        hll_grouped_registers,
    )
    from pagerank_spark.streaming import hll_stream_to_table

    src = tmp_path / "ev"
    src.mkdir()
    rows = [(f"g{i % 3}", i * 31 % 501) for i in range(4000)]
    df = spark.createDataFrame(rows, "g string, k long")
    df.repartition(4).write.mode("overwrite").parquet(str(src))

    stream = spark.readStream.schema("g string, k long").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    root = str(tmp_path / "hll_tbl")
    q = hll_stream_to_table(
        stream, root, str(tmp_path / "ckpt"), key_col="k",
        group_cols=["g"],
    )
    try:
        process_all_available(q)
    finally:
        q.stop()

    state = T.read_table(spark, root)
    got = {(r["g"], r["bucket"]): r["max_rho"] for r in state.collect()}
    want = {
        (r["g"], r["bucket"]): r["max_rho"]
        for r in hll_grouped_registers(df, "k", ["g"]).collect()
    }
    assert got == want
    import collections

    per_group = collections.Counter(g for g, _ in got)
    assert all(n <= 256 for n in per_group.values())
    est_stream = {
        r["g"]: r["hll_estimate"]
        for r in hll_grouped_estimate(state, ["g"]).collect()
    }
    est_batch = {
        r["g"]: r["hll_estimate"]
        for r in hll_grouped_estimate(
            hll_grouped_registers(df, "k", ["g"]), ["g"]
        ).collect()
    }
    assert est_stream == est_batch


def test_stream_wait_fails_one_test_on_a_hang():
    # A drain that never returns stops its query and fails only the
    # calling test; an error raised by the drain reaches the test.
    import threading

    class Hung:
        name = "hung"

        def __init__(self):
            self.stopped = threading.Event()

        def processAllAvailable(self):
            self.stopped.wait()

        def stop(self):
            self.stopped.set()

    class Broken(Hung):
        def processAllAvailable(self):
            raise RuntimeError("boom")

    q = Hung()
    with pytest.raises(pytest.fail.Exception, match="did not drain"):
        process_all_available(q, timeout=0.2)
    assert q.stopped.is_set()
    with pytest.raises(RuntimeError, match="boom"):
        process_all_available(Broken(), timeout=5)
