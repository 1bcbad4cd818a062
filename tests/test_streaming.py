"""Streaming semantics: windows in batch mode + a real Structured
Streaming run (file source → memory sink, Trigger.AvailableNow)."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from benthos_spark.sources.generate import generate, generate_stream
from benthos_spark.streaming import (dedupe_within_watermark, session_agg,
                                     stateful_counter, tumbling_window_agg)


def _events(spark):
    rows = [("u1", "2024-01-01 00:00:10", 1.0),
            ("u1", "2024-01-01 00:03:00", 2.0),
            ("u1", "2024-01-01 01:00:00", 4.0),   # new session (>30m gap)
            ("u2", "2024-01-01 00:04:59", 8.0)]
    return spark.createDataFrame(rows, "user STRING, ts STRING, v DOUBLE") \
        .withColumn("ts", F.to_timestamp("ts"))


def test_tumbling_window_batch(spark):
    out = tumbling_window_agg(_events(spark), "ts", "5 minutes", ["user"],
                              [F.sum("v").alias("total")])
    got = {(r.user, str(r.window.start)): r.total for r in out.collect()}
    assert got[("u1", "2024-01-01 00:00:00")] == 3.0
    assert got[("u1", "2024-01-01 01:00:00")] == 4.0
    assert got[("u2", "2024-01-01 00:00:00")] == 8.0


def test_session_window_gap(spark):
    out = session_agg(_events(spark), "ts", "30 minutes", ["user"],
                      [F.count("*").alias("n")])
    got = sorted((r.user, r.n) for r in out.collect())
    assert got == [("u1", 1), ("u1", 2), ("u2", 1)]


def test_stateful_counter_batch(spark):
    out = stateful_counter(_events(spark), "user")
    got = {r.user: r["count"] for r in out.collect()}
    assert got == {"u1": 3, "u2": 1}


def test_generate_bounded(spark):
    df = generate(spark, 10, {"sq": F.col("id") * F.col("id")})
    assert df.count() == 10
    assert df.filter("id = 3").collect()[0].sq == 9


def test_streaming_end_to_end(spark):
    """file stream → tumbling window agg with watermark → memory sink.
    Exercises the real incremental engine (not batch): watermark wiring,
    state store, AvailableNow trigger draining the source."""
    src = tempfile.mkdtemp(prefix="bs_stream_src")
    ckpt = tempfile.mkdtemp(prefix="bs_stream_ckpt")
    try:
        _events(spark).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            "user STRING, ts TIMESTAMP, v DOUBLE").parquet(src)
        agg = tumbling_window_agg(stream, "ts", "5 minutes", ["user"],
                                  [F.sum("v").alias("total")],
                                  watermark="10 minutes")
        q = (agg.writeStream.format("memory").queryName("win_test")
             .outputMode("complete").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r.user, str(r.window.start)): r.total
               for r in spark.sql("SELECT * FROM win_test").collect()}
        assert got[("u1", "2024-01-01 00:00:00")] == 3.0
        assert got[("u2", "2024-01-01 00:00:00")] == 8.0
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_dedupe_within_watermark(spark):
    """Streaming dedupe (reference dedupe + cache TTL) drops the
    duplicate key inside the watermark horizon."""
    src = tempfile.mkdtemp(prefix="bs_dedupe_src")
    ckpt = tempfile.mkdtemp(prefix="bs_dedupe_ckpt")
    try:
        rows = [("k1", "2024-01-01 00:00:00"), ("k1", "2024-01-01 00:00:30"),
                ("k2", "2024-01-01 00:01:00")]
        df = spark.createDataFrame(rows, "k STRING, ts STRING") \
            .withColumn("ts", F.to_timestamp("ts"))
        df.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema("k STRING, ts TIMESTAMP").parquet(src)
        deduped = dedupe_within_watermark(stream, ["k"], "ts", "10 minutes")
        q = (deduped.writeStream.format("memory").queryName("dedupe_test")
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(r.k for r in
                     spark.sql("SELECT k FROM dedupe_test").collect())
        assert got == ["k1", "k2"]
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_generate_stream_is_streaming(spark):
    df = generate_stream(spark, 5)
    assert df.isStreaming


def test_replay_parquet_equals_batch(spark):
    """Replay harness: a bounded parquet table replayed through the
    incremental engine equals the batch aggregation (the §2.5 oracle
    bridge), for both a directory source and a single-file symlink."""
    import os
    from benthos_spark.streaming import replay_parquet, tumbling_window_agg

    src = tempfile.mkdtemp(prefix="bs_replay_t_src")
    try:
        # one part file so the single-file shim below can't land on an
        # empty partition's output
        _events(spark).coalesce(1).write.mode("overwrite").parquet(src)

        def xf(s):
            return tumbling_window_agg(
                s.withColumn("ts", F.col("ts").cast("timestamp")),
                "ts", "5 minutes", ["user"],
                [F.sum("v").alias("total")], watermark="10 minutes")

        streamed = {(r.user, str(r.window.start)): r.total
                    for r in replay_parquet(spark, src, xf,
                                            output_mode="complete").collect()}
        batch = {(r.user, str(r.window.start)): r.total
                 for r in xf(_events(spark)).collect()}
        assert streamed == batch and len(batch) >= 3
        # single-file path goes through the symlink-dir shim
        part = next(os.path.join(src, f) for f in os.listdir(src)
                    if f.endswith(".parquet"))
        single = replay_parquet(spark, part, xf, output_mode="complete")
        assert single.count() >= 1
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_replay_partial_start_cleans_up(spark, tmp_path, monkeypatch):
    """When one drain of a concurrent start raises, the drains that did
    start are stopped and their checkpoint/source dirs and the shared
    temp root are removed before the error propagates."""
    import time

    import pytest

    from benthos_spark.streaming import replay_parquet_many

    root = tmp_path / "replay_tmp"
    root.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_REPLAY_TMP", str(root))
    src = str(tmp_path / "events")
    _events(spark).coalesce(1).write.parquet(src)

    def slow(s):
        # keeps a started sibling draining while the failing start
        # propagates, so only an explicit stop ends it
        def sleep_rows(batches):
            for pdf in batches:
                time.sleep(60)
                yield pdf
        return s.mapInPandas(sleep_rows, s.schema)

    def boom(s):
        raise ValueError("transform failed at start")

    with pytest.raises(ValueError, match="transform failed at start"):
        replay_parquet_many(spark, [(src, slow, "append"),
                                    (src, boom, "append"),
                                    (src, slow, "append")])
    assert spark.streams.active == []
    assert list(root.iterdir()) == []
