"""transformWithStateInPandas: typed state must converge to the batch fold."""

from __future__ import annotations

import os

import pytest

from pagerank_spark.io import load_table
from pagerank_spark.streaming import read_event_stream
from pagerank_spark.streaming.stateful2 import (
    HAS_TWS,
    HAS_TWS_RUNTIME,
    ROCKSDB_PROVIDER,
    ensure_state_runtime,
    user_profile_batch,
    user_profile_stream,
)
from tests.stream_wait import process_all_available

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not HAS_TWS, reason="transformWithStateInPandas requires Spark >= 4.0"
)


@pytest.fixture()
def event_dir(spark, tmp_path):
    out = str(tmp_path / "events_tws")
    load_table(spark, SF_DIR, "events").repartition(3).write.parquet(out)
    return out


def _as_dict(rows):
    return {
        r["user_id"]: (
            r["n_events"], r["sum_value"], r["top_values"], r["type_counts"]
        )
        for r in rows
    }


def test_batch_twin_matches_sql(spark, event_dir):
    from pyspark.sql import functions as F

    batch = spark.read.parquet(event_dir)
    got = _as_dict(user_profile_batch(batch).collect())
    want = {
        r["user_id"]: (r["n"], r["s"])
        for r in batch.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert got[u][1] == pytest.approx(want[u][1], abs=1e-6)
        # top_values holds at most TOP_K formatted values, sorted desc
        vals = [float(x) for x in got[u][2].split(",") if x]
        assert vals == sorted(vals, reverse=True)
        assert len(vals) <= 3


@pytest.mark.skipif(
    not HAS_TWS_RUNTIME,
    reason="typed-state API client needs google.protobuf (not in this env)",
)
def test_tws_stream_converges_to_batch(spark, event_dir):
    batch_profiles = _as_dict(
        user_profile_batch(spark.read.parquet(event_dir)).collect()
    )

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, ROCKSDB_PROVIDER)
    try:
        stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
        q = (
            user_profile_stream(stream)
            .writeStream.format("memory")
            .queryName("tws_profile_test")
            .outputMode("update")
            .start()
        )
        try:
            process_all_available(q)
            rows = spark.sql("SELECT * FROM tws_profile_test").collect()
        finally:
            q.stop()
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)

    # One update per (user, micro-batch); the row with the max n_events
    # per user is the converged profile == the batch fold.
    final = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] >= cur[0]:
            final[r["user_id"]] = (
                r["n_events"], r["sum_value"], r["top_values"], r["type_counts"]
            )

    assert set(final) == set(batch_profiles)
    for u, want in batch_profiles.items():
        got = final[u]
        assert got[0] == want[0]
        assert got[1] == pytest.approx(want[1], abs=1e-2)
        assert got[2] == want[2]
        assert got[3] == want[3]


def test_tws_full_state_api_surface(spark, tmp_path):
    """Exercise EVERY typed-state protocol path the wire shim covers
    against the real JVM state server: ValueState with TTL, ListState
    put/appendValue/appendList/clear, MapState updateValue/getValue/
    containsKey/keys/values/iterator/removeKey, and deleteIfExists.
    The asserts run INSIDE the worker; any protocol break surfaces as
    a stream failure."""
    import pandas as _pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor as _SP,
    )

    class ApiExercise(_SP):
        def init(self, handle):
            # TTL value state: exercises StateCallCommand.ttl.durationMs
            self._v = handle.getValueState("v", "n BIGINT", ttlDurationMs=3_600_000)
            self._l = handle.getListState("l", "x BIGINT")
            self._m = handle.getMapState("m", "k STRING", "c BIGINT")
            handle.deleteIfExists("ghost_state")

        def handleInputRows(self, key, rows, timerValues):
            n = sum(len(pdf) for pdf in rows)
            prev = int(self._v.get()[0]) if self._v.exists() else 0
            self._v.update((prev + n,))

            # ListState: put -> appendValue -> appendList -> read -> clear
            self._l.put([(1,), (2,)])
            self._l.appendValue((3,))
            self._l.appendList([(4,), (5,)])
            lst = [int(t[0]) for t in self._l.get()]
            assert lst == [1, 2, 3, 4, 5], lst
            self._l.clear()
            assert not self._l.exists()

            # MapState: full accessor set
            self._m.updateValue(("a",), (10,))
            self._m.updateValue(("b",), (20,))
            assert self._m.containsKey(("a",))
            assert not self._m.containsKey(("zz",))
            assert int(self._m.getValue(("b",))[0]) == 20
            ks = sorted(k[0] for k in self._m.keys())
            vs = sorted(int(v[0]) for v in self._m.values())
            assert ks == ["a", "b"] and vs == [10, 20], (ks, vs)
            it = {k[0]: int(v[0]) for k, v in self._m.iterator()}
            assert it == {"a": 10, "b": 20}, it
            self._m.removeKey(("a",))
            assert not self._m.containsKey(("a",))

            yield _pd.DataFrame(
                {"user_id": [int(key[0])], "n_events": [prev + n]}
            )

        def close(self):
            pass

    events = load_table(spark, SF_DIR, "events").limit(200)
    src = str(tmp_path / "api_events")
    events.repartition(2).write.parquet(src)

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, ROCKSDB_PROVIDER)
    try:
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        q = (
            stream.groupBy("user_id")
            .transformWithStateInPandas(
                ensure_state_runtime(ApiExercise()),
                outputStructType="user_id BIGINT, n_events BIGINT",
                outputMode="Update",
                timeMode="ProcessingTime",
            )
            .writeStream.format("memory")
            .queryName("tws_api_exercise")
            .outputMode("update")
            .start()
        )
        want = {
            r["user_id"]: r["n"]
            for r in spark.read.parquet(src).groupBy("user_id").count()
            .withColumnRenamed("count", "n").collect()
        }

        def _final():
            acc = {}
            for r in spark.sql("SELECT * FROM tws_api_exercise").collect():
                acc[r["user_id"]] = max(
                    acc.get(r["user_id"], 0), r["n_events"]
                )
            return acc

        try:
            # TTL state (ProcessingTime time mode) schedules endless
            # "cleaning up state" maintenance triggers, so
            # processAllAvailable never returns — poll the sink until
            # the per-user counts converge to the batch fold instead.
            import time as _time

            deadline = _time.time() + 120
            final = _final()
            while final != want and _time.time() < deadline:
                _time.sleep(2)
                final = _final()
        finally:
            q.stop()
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)

    assert final == want


def test_tws_timer_flush_on_inactivity(spark, tmp_path):
    """Processing-time timers end-to-end: counts are emitted ONLY from
    handleExpiredTimer after the inactivity timeout, with the previous
    timer deleted on every re-arm (one live timer per key, asserted
    in-worker via listTimers)."""
    from pagerank_spark.streaming.stateful2 import (
        user_event_count_flush_stream,
    )

    events = load_table(spark, SF_DIR, "events").limit(120)
    src = str(tmp_path / "timer_events")
    events.repartition(2).write.parquet(src)
    want = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(src).groupBy("user_id").count()
        .withColumnRenamed("count", "n").collect()
    }

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, ROCKSDB_PROVIDER)
    try:
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        q = (
            user_event_count_flush_stream(stream, timeout_ms=1_500)
            .writeStream.format("memory")
            .queryName("tws_timer_flush")
            .outputMode("append")
            .start()
        )
        try:
            import time as _time

            # flushes appear only after the inactivity timeout; poll
            # (timer maintenance triggers keep the stream active, so
            # processAllAvailable would never return)
            deadline = _time.time() + 120
            got = {}
            while got != want and _time.time() < deadline:
                _time.sleep(2)
                got = {
                    r["user_id"]: r["n_events"]
                    for r in spark.sql(
                        "SELECT * FROM tws_timer_flush"
                    ).collect()
                }
        finally:
            q.stop()
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)

    assert got == want


def test_tws_event_time_timers_and_watermark(spark, tmp_path):
    """EVENT-TIME timers through the shim: timeMode='EventTime' makes
    the worker fetch the watermark over the wire (GetWatermark path)
    each batch; timers registered just past the current watermark fire
    when a later batch advances it. Counts are emitted from BOTH input
    handling and timer expiry (tagged), so convergence is assertable
    AND at least one timer-emitted row proves expiry delivery."""
    import pandas as _pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor as _SP,
    )

    class EventTimeCounter(_SP):
        def init(self, handle):
            self._handle = handle
            self._n = handle.getValueState("n", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n = sum(len(pdf) for pdf in rows)
            prev = int(self._n.get()[0]) if self._n.exists() else 0
            self._n.update((prev + n,))
            wm = timerValues.getCurrentWatermarkInMs()
            if wm > 0:
                self._handle.registerTimer(wm + 1)
            yield _pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_events": [prev + n],
                    "src": ["input"],
                }
            )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            assert expiredTimerInfo.getExpiryTimeInMs() > 0
            if self._n.exists():
                yield _pd.DataFrame(
                    {
                        "user_id": [int(key[0])],
                        "n_events": [int(self._n.get()[0])],
                        "src": ["timer"],
                    }
                )

        def close(self):
            pass

    # Time-ordered micro-batches: a 0-second watermark drops any row
    # older than the max event time already seen, so each file slice
    # must cover a disjoint, increasing ts range (slices written
    # sequentially — the file source replays oldest-modified first).
    import time as _time

    from pyspark.sql import functions as F

    events = load_table(spark, SF_DIR, "events").limit(150).cache()
    qrow = events.select(
        F.expr("percentile(unix_micros(CAST(ts AS TIMESTAMP)), array(0.34, 0.67))").alias("q")
    ).collect()[0]["q"]
    qs = [
        events.sparkSession.createDataFrame(
            [(int(v),)], "us LONG"
        ).select(F.timestamp_micros(F.col("us")).cast("timestamp_ntz").alias("t"))
        .collect()[0]["t"]
        for v in qrow
    ]
    src = str(tmp_path / "et_events")
    slices = [
        events.where(F.col("ts") <= qs[0]),
        events.where((F.col("ts") > qs[0]) & (F.col("ts") <= qs[1])),
        events.where(F.col("ts") > qs[1]),
    ]
    for sl in slices:
        sl.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct file modification seconds
    events.unpersist()
    want = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(src).groupBy("user_id").count()
        .withColumnRenamed("count", "n").collect()
    }

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, ROCKSDB_PROVIDER)
    try:
        stream = read_event_stream(
            spark, src, max_files_per_trigger=1
        ).withWatermark("ts", "0 seconds")
        q = (
            stream.groupBy("user_id")
            .transformWithStateInPandas(
                ensure_state_runtime(EventTimeCounter()),
                outputStructType=(
                    "user_id BIGINT, n_events BIGINT, src STRING"
                ),
                outputMode="Update",
                timeMode="EventTime",
            )
            .writeStream.format("memory")
            .queryName("tws_event_time")
            .outputMode("update")
            .start()
        )
        try:
            process_all_available(q)
            rows = spark.sql("SELECT * FROM tws_event_time").collect()
        finally:
            q.stop()
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)

    final = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0), r["n_events"])
    assert final == want
    assert any(r["src"] == "timer" for r in rows), "no timer ever fired"
